"""Seeded generator for the vaccination CSV inputs of the benchmark.

Writes per-country CSV files in the source layouts the ETL harmonizes
(the reference spellings of ``ColumnMappings.columnMap``, unmapped extra
columns, embedded ``|H|`` sentinel rows), a ``manifest.json`` of the
counts a correct ``Pipeline.run`` must produce, and a ``requests.json``
plan of country-view requests with their expected row counts.

The expected counts are derived from how the rows were generated, never
from the program under test:

* every Open_Date shape is either one the parser accepts or one it
  rejects for a known reason (its always-invalid ISO quirk included);
* a small share of rows has a blank name or id: the validator drops
  those rows without quarantining them when their date is valid, so the
  manifest counts them as ``dropped``;
* customers repeat with skewed counts across files of different
  countries, and each customer's occurrences have distinct open dates,
  so the latest-consultation dedup of the country views has exactly one
  winner per customer and the per-country view sizes are exact.
"""

import datetime
import json
import os
import random

COUNTRIES = ["IND", "AUS", "USA", "NZL", "CAN", "GBR"]

# Source layouts, in the reference column spellings. A and B carry no
# country column (the country comes from the file name); C and D do.
LAYOUTS = {
    "A": ["ID", "Name", "DOB", "VaccinationType", "VaccinationDate", "Free or Paid"],
    "B": ["Unique ID", "Patient Name", "Vaccine Type", "Date of Birth",
          "Date of Vaccination"],
    "C": ["ID", "Name", "VaccinationType", "VaccinationDate", "Doctor", "State",
          "Country", "Consultation Date", "Post Code"],
    "D": ["Unique ID", "Patient Name", "Vaccine Type", "Date of Birth",
          "Date of Vaccination", "Doctor Name", "State/Province", "Country Name",
          "Last Consulted Date", "Postal Code", "Batch No"],
}

# Canonical role of each source column (None: unmapped extra column).
ROLE = {
    "ID": "id", "Unique ID": "id", "Name": "name", "Patient Name": "name",
    "VaccinationType": "vac", "Vaccine Type": "vac",
    "VaccinationDate": "open", "Date of Vaccination": "open",
    "DOB": "dob", "Date of Birth": "dob", "Doctor": "dr", "Doctor Name": "dr",
    "State": "state", "State/Province": "state", "Country": "country",
    "Country Name": "country", "Consultation Date": "consul",
    "Last Consulted Date": "consul", "Post Code": "post", "Postal Code": "post",
}

EXPECTED_HEADER = ("|H|Customer_Name|Customer_Id|Open_Date|Last_Consulted_Date|"
                   "Vaccination_Id|Dr_Name|State|Country|DOB|Is_Active")

# Invalid Open_Date shapes: (format callback, quarantine reason class).
# The reason class is the Validation_Error message up to its first colon;
# "Unable to parse date" messages quote the value, so they are cut there.
INVALID_SHAPES = [
    (lambda d: "", "Empty date string"),
    (lambda d: d.strftime("%Y-%m-%d"), "Invalid month"),       # ISO: always invalid
    (lambda d: "13/%02d/%d" % (d.day, d.year), "Invalid month"),
    (lambda d: "%02d/00/%d" % (d.month, d.year), "Invalid day"),
    (lambda d: "02/30/%d" % d.year, "Invalid day"),
    (lambda d: "%02d/%02d/1850" % (d.month, d.day), "Invalid year"),
    (lambda d: "%d/%d" % (d.month, d.day), "Unable to parse date"),     # < 6 digits
    (lambda d: "02/29/1900", "Unable to parse date"),          # %4 leap quirk
    (lambda d: "NULL", "Unable to parse date"),
]


def valid_shape(rng, d):
    """A date spelling the parser accepts as ``d`` (month-first)."""
    k = rng.randrange(4)
    if k == 0:
        return d.strftime("%m/%d/%Y")
    if k == 1:
        return d.strftime("%m-%d-%Y")
    if k == 2:
        return d.strftime("%m%d%Y")          # 8 digits, or 7 after float parsing
    return "%d%02d%d" % (d.month, d.day, d.year)


WORKLOADS = {
    # files, rows per file, layouts used, invalid Open_Date share
    "etl_bulk": dict(files=8, rows_per_file=12000, layouts="ABCD", invalid=0.02),
    "etl_many_files": dict(files=240, rows_per_file=50, layouts="ABCD", invalid=0.30),
    "views_read": dict(files=4, rows_per_file=12000, layouts="ABCD", invalid=0.02),
}
BLANK_SHARE = 0.01        # share of rows with a blank Name or ID
SENTINEL_SHARE = 0.3      # files of layouts C/D that start with a |H| row
REQUESTS = 5000
SCAN_SHARE = 0.1          # share of view requests that scan a whole country view
ZIPF_S = 1.1

DAY0 = datetime.date(2020, 1, 1)


def _repeats(rng):
    """Skewed repeat count of one customer: Pareto tail, capped at 40."""
    return min(40, int(rng.paretovariate(1.2)))


def generate(workload, seed, out_dir):
    spec = WORKLOADS[workload]
    rng = random.Random("%s/%d" % (workload, seed))
    n_rows = spec["files"] * spec["rows_per_file"]

    # Customers with skewed repeat counts; occurrence k of a customer gets
    # an open date in its own 25-day slot, so open dates never tie.
    occ = []
    cust = 0
    while len(occ) < n_rows:
        reps = _repeats(rng)
        for k in range(reps):
            occ.append((cust, k))
        cust += 1
    occ = occ[:n_rows]
    rng.shuffle(occ)

    files = []
    for i in range(spec["files"]):
        layout = spec["layouts"][i % len(spec["layouts"])]
        country = COUNTRIES[rng.randrange(len(COUNTRIES))]
        files.append(("%s_%s_%05d.csv" % (country, layout, i), layout, country))

    csv_dir = os.path.join(out_dir, "csv")
    os.makedirs(csv_dir, exist_ok=True)
    expected_reasons = {}
    valid_rows = 0
    dropped = 0
    quarantined = 0
    kept = {}          # customer id -> list of (sort key, country) in the warehouse
    input_bytes = 0
    per = spec["rows_per_file"]
    # Exact counts, so the shares are the same for every seed: invalid
    # Open_Date rows, blank name/id rows among the valid-date rows (the
    # dropped ones) and among the invalid-date rows (quarantined).
    invalid_rows = set(rng.sample(range(n_rows), round(spec["invalid"] * n_rows)))
    blank_rows = set(rng.sample([i for i in range(n_rows) if i not in invalid_rows],
                                round(BLANK_SHARE * n_rows)))
    blank_rows |= set(rng.sample(sorted(invalid_rows),
                                 round(BLANK_SHARE * len(invalid_rows))))
    for fi, (fname, layout, file_country) in enumerate(files):
        cols = LAYOUTS[layout]
        lines = [",".join(cols)]
        if layout in "CD" and rng.random() < SENTINEL_SHARE:
            sentinel = EXPECTED_HEADER if rng.random() < 0.5 else "|H|Name|Id|Date"
            lines.append(",".join([sentinel] + [""] * (len(cols) - 1)))
        for row_idx in range(fi * per, (fi + 1) * per):
            cust, k = occ[row_idx]
            open_d = DAY0 + datetime.timedelta(days=25 * k + rng.randrange(25))
            values = {
                "id": "C%07d" % cust,
                "name": "Name%d" % cust,
                "vac": rng.choice(["ABC", "XYZ", "LMN", "EFG"]),
                "dr": "Dr%d" % rng.randrange(300),
                "state": "S%d" % rng.randrange(40),
                "post": "%05d" % rng.randrange(100000),
            }
            if row_idx in blank_rows:
                values["name" if rng.random() < 0.5 else "id"] = ""
            if row_idx in invalid_rows:
                fmt, reason = INVALID_SHAPES[rng.randrange(len(INVALID_SHAPES))]
                values["open"] = fmt(open_d)
            else:
                reason = None
                values["open"] = valid_shape(rng, open_d)
            dob = datetime.date(1940 + rng.randrange(65), 1 + rng.randrange(12),
                                1 + rng.randrange(28))
            values["dob"] = "NULL" if rng.random() < 0.05 else dob.strftime("%m/%d/%Y")
            consul = None
            if rng.random() < 0.8:
                consul = open_d + datetime.timedelta(days=3)
                values["consul"] = valid_shape(rng, consul)
            else:
                values["consul"] = ""
            country = file_country
            if "country" in (ROLE.get(c) for c in cols):
                country = COUNTRIES[rng.randrange(len(COUNTRIES))]
                values["country"] = country
            if layout not in "CD":
                consul = None            # layouts A/B carry no consultation date
            row = []
            for c in cols:
                role = ROLE.get(c)
                if role is None:
                    row.append(rng.choice(["F", "P"]) if c == "Free or Paid"
                               else "B%d" % rng.randrange(1000))
                else:
                    row.append(values.get(role, ""))
            lines.append(",".join(row))

            if reason is not None:
                quarantined += 1
                expected_reasons[reason] = expected_reasons.get(reason, 0) + 1
            elif values["name"] == "" or values["id"] == "":
                dropped += 1
            else:
                valid_rows += 1
                # view dedup order: CONSUL_DT desc nulls last, OPEN_DT desc
                key = (consul is not None, consul or DAY0, open_d)
                kept.setdefault(values["id"], []).append((key, country))
        data = ("\n".join(lines) + "\n").encode("utf-8")
        input_bytes += len(data)
        with open(os.path.join(csv_dir, fname), "wb") as f:
            f.write(data)

    view_rows = {}
    winner = {}
    for cid, rows in kept.items():
        country = max(rows)[1]
        winner[cid] = country
        view_rows[country] = view_rows.get(country, 0) + 1
    countries = sorted({c for rows in kept.values() for _, c in rows})

    manifest = {
        "workload": workload,
        "seed": seed,
        "files": len(files),
        "layouts": len({layout for _, layout, _ in files}),
        "input_rows": n_rows,
        "input_bytes": input_bytes,
        "expected": {
            "valid": valid_rows,
            "quarantined": quarantined,
            "quarantine_by_reason": expected_reasons,
            "dropped": dropped,
            "countries": countries,
            "view_rows": view_rows,
        },
    }

    # Closed-loop request plan: Zipf-skewed one-customer lookups in the view
    # of a country the customer was seen in, plus whole-view scans.
    ids = sorted(kept)
    rng.shuffle(ids)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(ids))]
    picks = rng.choices(range(len(ids)), weights=weights, k=REQUESTS)
    requests = []
    for p in picks:
        if rng.random() < SCAN_SHARE:
            c = rng.choice(countries)
            requests.append({"kind": "scan", "country": c, "rows": view_rows[c]})
        else:
            cid = ids[p]
            c = rng.choice(kept[cid])[1]
            requests.append({"kind": "lookup", "country": c, "customer": cid,
                             "rows": 1 if winner[cid] == c else 0})

    with open(os.path.join(out_dir, "requests.json"), "w") as f:
        json.dump(requests, f)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
