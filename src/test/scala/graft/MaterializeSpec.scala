package graft

import org.apache.spark.SparkException

/** The engine's one materialization policy ([[Materialize]]) under a lost
  * checkpoint block, and a source guard that keeps it the only one. */
class MaterializeSpec extends SparkSpec {

  /** Materialize a small frame, then drop every block persisted since —
    * what an executor loss does to executor-local checkpoint blocks —
    * through the public API only. Returns the frame and how many RDDs
    * were dropped. */
  private def materializeThenDropBlocks(): (org.apache.spark.sql.DataFrame, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = Materialize(spark.range(0, 200, 1, 4).toDF("id")
      .selectExpr("id", "id * 7 % 13 AS v"))
    val dropped = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    dropped.values.foreach(_.unpersist(blocking = true))
    (df, dropped.size)
  }

  private val expected = (0L until 200L).map(i => (i, i * 7 % 13)).toSet

  test("release drops a local checkpoint's blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = Materialize(spark.range(0, 200, 1, 4).toDF("id"))
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held.nonEmpty, "the local checkpoint persisted no RDD")
    Materialize.release(df)
    assert((sc.getPersistentRDDs.keySet & held).isEmpty)
  }

  test("lost local checkpoint block: re-reading fails loudly, never returns rows") {
    val (df, nDropped) = materializeThenDropBlocks()
    assert(nDropped > 0, "no checkpoint block was dropped — the check is vacuous")
    val err = intercept[SparkException](df.collect())
    assert(err.getMessage.contains("Checkpoint block"), err.getMessage)
  }

  test("lost blocks under a checkpoint dir: re-reading returns the original rows") {
    val dir = java.nio.file.Files.createTempDirectory("materialize-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val (df, _) = materializeThenDropBlocks()
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  /** Lines (1-based) of Scala source that call `.localCheckpoint(`,
    * `.checkpoint(`, `.persist(` or `.cache()` in code: string literals and
    * comments are blanked first, keeping their line breaks. */
  private def materializeCalls(src: String): Seq[Int] = {
    val noise = """(?s)"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*.*?\*/""".r
    val code = noise.replaceAllIn(src, m =>
      scala.util.matching.Regex.quoteReplacement(m.matched.filter(_ == '\n')))
    val call = """\.(localCheckpoint\(|checkpoint\(|persist\(|cache\(\))""".r
    code.split("\n", -1).toSeq.zipWithIndex
      .collect { case (line, n) if call.findFirstIn(line).isDefined => n + 1 }
  }

  test("guard predicate: sees a call in code, not in a comment or a string") {
    val src = Seq(
      "val a = df.localCheckpoint()",
      "// df.checkpoint()",
      "/** df.localCheckpoint() */ val b = 1",
      "val s = \"df.checkpoint()\"",
      "/* df.checkpoint()",
      "   */ val c = \"a/*\"; df.checkpoint(eager = true)",
      "val d = df.persist(StorageLevel.MEMORY_AND_DISK)",
      "val e = df.cache()",
      "df.unpersist(); spark.catalog.cacheTable(t); val f = df.cached()",
      "// df.cache()").mkString("\n")
    assert(materializeCalls(src) == Seq(1, 6, 7, 8))
  }

  test("guard: only Materialize.scala checkpoints a frame directly") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = for {
      f <- scalaFiles(root) if f.getName != "Materialize.scala"
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      line <- materializeCalls(src)
    } yield s"${f.getPath}:$line"
    assert(offenders.isEmpty,
      s"materialize through graft.Materialize, not directly: ${offenders.mkString(", ")}")
  }
}
