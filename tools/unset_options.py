#!/usr/bin/env python3
"""List the options of the program that no caller sets, and the defaults
that no caller leaves out.

An option is a default parameter of a `def`, or a defaulted field of a
class or case-class constructor, declared under src/main/scala. An option
is set when some call site under src/, perfbench/src or tools/ passes a
value for it, either by name (`f(x, sep = ";")`, `rules.copy(sep = ";")`)
or by position (`f(x, ";")`).

Matching is by name and deliberately generous, so a doubtful call counts
as setting the option: `Owner.f(...)` matches only `f` declared in
`Owner`, while `f(...)` and `expr.f(...)` match every `f`. A listed option
is therefore one that no call can reach. Deployment settings (connection
properties, input globs, paths) are kept on purpose and listed in ALLOWED.

The second list holds the defaults that every matched call passes a value
for: no call relies on the default, so it can go. Here the generous
matching errs the other way: any matched call that leaves the value out,
or does not apply the parameter list at all, keeps the default.

Usage: python3 tools/unset_options.py [repo_root]
Prints one line per listed option, then each list's count outside its
allow-list. Exits 0 always; the counts are the result.
"""
import os
import re
import sys

ROOT = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                       os.path.join(os.path.dirname(__file__), ".."))
DECL_DIRS = ["src/main/scala"]
CALL_DIRS = ["src", "perfbench/src", "tools"]

# (owner, def or class name, parameter): deployment settings a caller
# supplies per environment, kept as options even when no caller in the
# repo sets them.
ALLOWED = {
    ("Warehouse", "writeJdbc", "properties"),
    ("Warehouse", "readJdbc", "properties"),
    ("WarcIngest", "readRecords", "glob"),
}

# Defaults every matched call passes a value for, kept on purpose.
ALLOWED_NEVER_OMITTED = set()

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
KEYWORDS = {
    "if", "while", "for", "match", "catch", "return", "yield", "def",
    "class", "object", "trait", "new", "with", "extends", "case", "else",
    "try", "throw", "val", "var", "lazy", "import", "package", "type",
}


def blank(src):
    """Replace comments and the contents of string and char literals by
    spaces, keeping every offset and newline, so the scanner below sees
    only code. An interpolated string keeps its `${...}` splices, which
    may hold calls."""
    out = list(src)
    i, n = 0, len(src)

    def wipe(a, b):
        for j in range(a, b):
            if out[j] != "\n":
                out[j] = " "

    def string_end(start, triple, interp):
        # returns the offset just past the closing quote; wipes text but
        # leaves interpolation splices intact
        q = '"""' if triple else '"'
        j = start
        while j < n:
            if triple and src.startswith(q, j):
                while j + 3 < n and src[j + 3] == '"':  # """" closes last
                    j += 1
                return j + 3
            if not triple and src[j] == "\\":
                out[j] = " "
                if j + 1 < n and out[j + 1] != "\n":
                    out[j + 1] = " "
                j += 2
                continue
            if not triple and src[j] == '"':
                return j + 1
            if interp and src.startswith("${", j):
                depth, k = 1, j + 2
                while k < n and depth:
                    if src[k] == "{":
                        depth += 1
                    elif src[k] == "}":
                        depth -= 1
                    elif src[k] == '"':
                        k = string_end(k + 1, False, False) - 1
                    k += 1
                j = k
                continue
            if interp and src[j] == "$" and j + 1 < n and src[j + 1] == "$":
                out[j] = out[j + 1] = " "
                j += 2
                continue
            if out[j] != "\n":
                out[j] = " "
            j += 1
        return n

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            wipe(i, j)
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            wipe(i, j)
            i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            triple = src.startswith('"""', i)
            i = string_end(i + (3 if triple else 1), triple, interp)
        elif c == "'" and i + 2 < n:
            m = re.match(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'", src[i:i + 8])
            if m:
                wipe(i + 1, i + len(m.group(0)) - 1)
                i += len(m.group(0))
            else:
                i += 1
        else:
            i += 1
    return "".join(out)


def group_end(code, i):
    """`code[i]` opens a bracket; return the offset past its match."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack, j = [pairs[code[i]]], i + 1
    while j < len(code) and stack:
        c = code[j]
        if c in pairs:
            stack.append(pairs[c])
        elif c in ")]}":
            stack.pop()
        j += 1
    return j


def split_top(text):
    """Split an argument or parameter list body on top-level commas."""
    parts, depth, start = [], 0, 0
    for j, c in enumerate(text):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(text[start:j])
            start = j
            start += 1
    parts.append(text[start:])
    return [p for p in parts if p.strip()]


def top_eq(text):
    """Offset of the first top-level `=` that is an assignment (not `==`,
    `=>`, `<=`, `>=`, `!=`), or -1."""
    depth = 0
    for j, c in enumerate(text):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            prev = text[j - 1] if j else ""
            nxt = text[j + 1] if j + 1 < len(text) else ""
            if nxt in "=>" or prev in "=<>!:+-*/%&|^~":
                continue
            return j
    return -1


def skip_ws(code, i):
    while i < len(code) and code[i] in " \t\r\n":
        i += 1
    return i


def param_lists(code, i):
    """Parse the consecutive `(...)` groups starting at `code[i]` (after
    optional type parameters); return [(start, body)] and the end offset."""
    i = skip_ws(code, i)
    if i < len(code) and code[i] == "[":
        i = skip_ws(code, group_end(code, i))
    lists = []
    while i < len(code) and code[i] == "(":
        e = group_end(code, i)
        lists.append((i + 1, code[i + 1:e - 1]))
        i = skip_ws(code, e)
    return lists, i


def owners(code):
    """[(start, end, name)] brace spans of objects, classes and traits."""
    spans = []
    for m in re.finditer(r"\b(object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)", code):
        j = m.end()
        # the body is the first `{` before a newline-separated new decl;
        # constructor lists and `extends` clauses may come first
        while j < len(code):
            c = code[j]
            if c in "([":
                j = group_end(code, j)
                continue
            if c == "{":
                spans.append((j, group_end(code, j), m.group(2)))
                break
            if re.match(r"(object|class|trait|def|val)\b", code[j:j + 7]) \
                    and code[j - 1] in " \n":
                break
            j += 1
    return spans


def owner_at(spans, pos):
    best = None
    for s, e, name in spans:
        if s <= pos < e and (best is None or s > best[0]):
            best = (s, e, name)
    return best[2] if best else None


def scala_files(dirs):
    for d in dirs:
        base = os.path.join(ROOT, d)
        for dp, _, fs in os.walk(base):
            if "/target" in dp or "/.bench_build" in dp:
                continue
            for f in sorted(fs):
                if f.endswith(".scala"):
                    yield os.path.join(dp, f)


def declarations():
    decls = []
    owner_names = set()
    for path in scala_files(DECL_DIRS):
        src = open(path, encoding="utf-8").read()
        code = blank(src)
        spans = owners(code)
        owner_names.update(name for _, _, name in spans)
        for m in re.finditer(
                r"\b(def|class)\s+([A-Za-z_][A-Za-z0-9_]*|[^\s\w(\[]+)", code):
            kind, name = m.groups()
            j = m.end()
            if kind == "class":
                owner_names.add(name)
                # skip `private` / `protected` constructor modifiers
                j = skip_ws(code, j)
                if code[j] == "[":
                    j = group_end(code, j)
                mm = re.match(r"\s*(private|protected)(\[[^\]]*\])?", code[j:])
                if mm:
                    j += mm.end()
            lists, _ = param_lists(code, j)
            owner = owner_at(spans, m.start())
            for li, (start, body) in enumerate(lists):
                for pi, p in enumerate(split_top(body)):
                    eq = top_eq(p)
                    if eq < 0:
                        continue
                    pm = re.match(
                        r"\s*(?:@\w+\s+)*(?:(?:implicit|override|private|protected|final|val|var)\s+)*"
                        r"([A-Za-z_][A-Za-z0-9_]*)\s*:", p)
                    if not pm:
                        continue
                    at = start + body.find(p)
                    line = code.count("\n", 0, at) + 1
                    decls.append({
                        "path": os.path.relpath(path, ROOT), "line": line,
                        "owner": owner, "name": name, "kind": kind,
                        "list": li, "pos": pi, "param": pm.group(1),
                        "default": " ".join(src[at + eq + 1:at + len(p)].split()),
                    })
    return decls, owner_names


def calls():
    """Yield (qualifier, name, [(positional count, named set)])."""
    for path in scala_files(CALL_DIRS):
        code = blank(open(path, encoding="utf-8").read())
        for m in IDENT.finditer(code):
            name = m.group(0)
            if name in KEYWORDS:
                continue
            j = skip_ws(code, m.end())
            if j >= len(code) or code[j] not in "([":
                continue
            # the declaration keyword or qualifier sits just before the name
            before = code[max(0, m.start() - 200):m.start()].rstrip()
            if re.search(r"\b(def|class|trait|object|val|var|case\s+class|type)$", before):
                continue
            qual = None
            if before.endswith("."):
                qm = re.search(r"([A-Za-z_][A-Za-z0-9_]*)\s*$", before[:-1])
                qual = qm.group(1) if qm else None
                if qual == "this":
                    qual = None
            lists, _ = param_lists(code, j)
            if not lists:
                continue
            out = []
            for _, body in lists:
                named, positional = set(), 0
                for a in split_top(body):
                    am = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*$", a[:max(top_eq(a), 0)])
                    if top_eq(a) >= 0 and am:
                        named.add(am.group(1))
                    else:
                        positional += 1
                out.append((positional, named))
            yield qual, name, out


def main():
    decls, owner_names = declarations()
    by_name = {}
    for d in decls:
        by_name.setdefault(d["name"], []).append(d)
    fields = {}
    for d in decls:
        if d["kind"] == "class":
            fields.setdefault(d["param"], []).append(d)
    used, omitted = set(), set()
    for qual, name, lists in calls():
        if name == "copy":
            for _, named in lists[:1]:
                for p in named:
                    for d in fields.get(p, []):
                        used.add(id(d))
            continue
        for d in by_name.get(name, []):
            if qual and qual in owner_names and qual != d["owner"]:
                continue
            if d["list"] < len(lists):
                positional, named = lists[d["list"]]
                if positional > d["pos"] or d["param"] in named:
                    used.add(id(d))
                    continue
            omitted.add(id(d))
    unset = [d for d in decls if id(d) not in used]
    # a default is needed only where some call leaves its value out
    unneeded = [d for d in decls if id(d) in used and id(d) not in omitted]
    report("unset", unset, ALLOWED)
    report("never omitted", unneeded, ALLOWED_NEVER_OMITTED)
    print(f"{len(decls)} options declared")


def report(what, found, allow):
    allowed = [d for d in found
               if (d["owner"], d["name"], d["param"]) in allow]
    counted = [d for d in found if d not in allowed]
    for d in counted:
        print(f'{what}: {d["path"]}:{d["line"]}: {d["owner"]}.{d["name"]} '
              f'{d["param"]} = {d["default"]}')
    for d in allowed:
        print(f'{what}, allowed: {d["path"]}:{d["line"]}: '
              f'{d["owner"]}.{d["name"]} {d["param"]}')
    print(f"{len(found)} {what}, {len(allowed)} allowed, "
          f"{len(counted)} {what} outside the allow-list")


if __name__ == "__main__":
    main()
