package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness-surface contract (README "Correctness contract"): every
  * query the driver runs is gated. Concretely:
  *
  *   1. every `oracleSql` key names a real query (no dangling oracles
  *      silently skipped by the driver);
  *   2. every query either carries a DuckDB oracle, or is an
  *      approximate-by-design headline that ships BOTH an exact oracled
  *      sibling/recall spec AND an empty-relation `*_verify` property
  *      oracle — so no new no-oracle query can land unnoticed;
  *   3. the no-oracle set is pinned exactly: growing it is a conscious,
  *      reviewed act (update the list here AND ship the `_verify`
  *      sibling), never a side effect.
  */
class OracleContractSpec extends AnyFunSuite {

  // Since round 14 the no-oracle set is EMPTY: every formerly rows-only
  // headliner now carries a value oracle, by one of two mechanisms
  // (documented at the round-14 block in SparkEntry.oracleSql):
  //   (a) exact-regime pins — merge-order-invariant sketches sized so
  //       the fixture sits in their exact regime (collision-free CMS,
  //       k-complete KMV, small-range-exact HLL, full-recall minhash
  //       banding, the SQL-replayable DOULION coin, the bounded-unroll
  //       k-core peel);
  //   (b) contract frames — where the row set is engine-internal
  //       (k-means cells, MG decrement schedules, GK/KLL compactions,
  //       learned BPE merges), the gated query emits enumerable keys +
  //       exact side values + the guarantee as a boolean/violation
  //       count, keeping the approximate machinery in the measured plan
  //       while its raw output stays on the operator API.
  private val approximateByDesign = Set.empty[String]

  test("every oracleSql key names an implemented query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("every query is driver-gated: an oracle, or _verify + exact sibling") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle === approximateByDesign,
      "the no-oracle set changed — since round 14 EVERY query carries a " +
        "value oracle (exact-regime pin or contract frame; see the " +
        "round-14 block in SparkEntry.oracleSql). A new approximate " +
        "query must ship one of those two shapes, not a rows-only " +
        s"entry. Unexpected: ${noOracle -- approximateByDesign}; " +
        s"missing: ${approximateByDesign -- noOracle}")
    approximateByDesign.foreach { q =>
      assert(SparkEntry.queries.contains(s"${q}_verify"),
        s"$q lacks its ${q}_verify property sibling in queries")
      assert(SparkEntry.oracleSql.contains(s"${q}_verify"),
        s"${q}_verify lacks its empty-relation oracle")
    }
  }

  test("every query name is bound exactly twice in source (query + oracle)") {
    // A Scala Map literal silently keeps the LAST binding for a
    // duplicated key — round 17 found the sliding-window chunk query
    // and its oracle SHADOWED out of the whole correctness sweep by a
    // second `q_text_chunks` pair (dead since round 15, invisible at
    // runtime because both halves vanished consistently). This is the
    // source-level guard the runtime key-set checks above cannot be:
    // every `"q_*" ->` binding must appear exactly twice — once in the
    // queries map, once in the oracle map.
    // Scan EVERY main-source file: since the round-18 split the maps
    // live in per-family registry files, and a pair duplicated ACROSS
    // files would last-win in the ++ composition exactly as it did in
    // one literal (the composition-size guards in SparkEntry catch
    // same-map cross-file duplicates; this catches a full shadowed PAIR,
    // which those cannot).
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Files
      .walk(java.nio.file.Path.of("src/main/scala"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(java.nio.file.Files.readString)
      .mkString("\n")
    val names = "\"(q_[a-z0-9_]+)\" ->".r
      .findAllMatchIn(src).map(_.group(1)).toSeq
    val bad = names.groupBy(identity).view.mapValues(_.size)
      .filter(_._2 != 2).toMap
    assert(bad.isEmpty,
      s"query names not bound exactly twice (queries map + oracle map) — " +
        s"a count of 4 means a silently shadowed duplicate pair: $bad")
  }

  test("no oracle surfaces a HUGEINT result column (driver-hash type drift)") {
    // DuckDB widens integer SUMs (plain, windowed, via CTE) to HUGEINT;
    // Spark has no INT128, and the driver canonicalizes HUGEINT differently
    // from BIGINT — so a value-identical result still hash-mismatches
    // (round-8: q_rate_anomalies / q_stream_anomalies / q_text_entropy).
    // Shell out to tools/lint_oracle_types.py, which DESCRIBEs every oracle
    // in DuckDB (no data scanned) and fails on HUGEINT/UHUGEINT columns.
    import scala.sys.process._
    val sfDir = new java.io.File("/root/testdata/sf0.001")
    assume(sfDir.isDirectory, "testdata unavailable — lint not runnable here")
    val quiet = ProcessLogger(_ => ())
    val duckOk = scala.util.Try(
      Seq("python3", "-c", "import duckdb").!(quiet) == 0).getOrElse(false)
    assume(duckOk, "python3+duckdb unavailable — lint not runnable here")
    val json = java.nio.file.Files.createTempFile("oracle_sql", ".json")
    java.nio.file.Files.writeString(json, Verify.oracleJson)
    val out = new StringBuilder
    val code = Seq("python3", "tools/lint_oracle_types.py",
        sfDir.getPath, json.toString)
      .!(ProcessLogger(l => out.append(l).append('\n')))
    java.nio.file.Files.deleteIfExists(json)
    assert(code == 0, s"oracle type lint failed:\n$out")
  }

  test("every *_verify property oracle is an empty relation") {
    val verifies = SparkEntry.oracleSql.filter(_._1.endsWith("_verify"))
    assert(verifies.nonEmpty)
    verifies.foreach { case (name, sql) =>
      assert(sql.toUpperCase.contains("WHERE FALSE"),
        s"$name: a *_verify oracle must be the empty relation (violations-only contract)")
    }
  }

  test("every oracle text is non-null and non-blank") {
    // registries share oracle texts through defs and lazy vals; a strict
    // val read from another registry while that object is still
    // initializing would arrive here as null
    val blank = SparkEntry.oracleSql.collect {
      case (name, sql) if sql == null || sql.trim.isEmpty => name
    }
    assert(blank.isEmpty, s"null or blank oracle text: ${blank.toSeq.sorted.mkString(", ")}")
  }
}
