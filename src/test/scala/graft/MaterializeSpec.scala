package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** The engine's one materialization policy ([[Materialize]]) under a lost
  * checkpoint block, and source guards that keep it, the stream drivers,
  * the scratch-path policy ([[Scratch]]) and the query-metrics listener
  * ([[QueryMetrics]]) the only ones. */
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
    // an eager checkpoint, and a lazy one that nothing has read yet
    for (checkpoint <- Seq(Materialize.apply[Row] _, Materialize.onFirstRead[Row] _)) {
      val before = sc.getPersistentRDDs.keySet
      val df = checkpoint(spark.range(0, 200, 1, 4).toDF("id"))
      val held = sc.getPersistentRDDs.keySet -- before
      assert(held.nonEmpty, "the local checkpoint persisted no RDD")
      Materialize.release(df)
      assert((sc.getPersistentRDDs.keySet & held).isEmpty)
    }
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

  test("release logs no 'cannot be recomputed' warning") {
    val df = Materialize(spark.range(0, 200, 1, 4).toDF("id"))
    val logged = warnings(Materialize.release(df))
    assert(!logged.exists(_.contains("cannot be recomputed")), logged.mkString("\n"))
    // the capture is live: Spark's own unpersist of a local checkpoint warns
    val rdd = spark.sparkContext.parallelize(1 to 10, 2).localCheckpoint()
    rdd.count()
    assert(warnings(rdd.unpersist(blocking = true))
      .exists(_.contains("cannot be recomputed")), "the log capture saw nothing")
  }

  test("onFirstRead runs no job; its first read fills it, later reads are one stage") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val counts = spark.range(0, 200, 1, 4).toDF("id")
      .groupBy(col("id") % 10).count()
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsIn { df = Materialize.onFirstRead(counts) } == 0)
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held.size == 1)
    // the aggregate's shuffle map stage and the filling result stage, then the leaf
    assert(jobStagesIn(assert(df.collect().map(_.getLong(1)).sum == 200)) == Seq(2))
    assert(jobStagesIn(assert(df.filter(col("count") === 20).collect().length == 10)) == Seq(1))
    Materialize.release(df)
    assert((sc.getPersistentRDDs.keySet & held).isEmpty)
  }

  test("onFirstRead leaves the session's adaptive-execution setting as it was") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getAll.get(key)
    def lazyFrame() = Materialize.release(Materialize.onFirstRead(spark.range(4).toDF("id")))
    try {
      spark.conf.unset(key)
      lazyFrame()
      assert(spark.conf.getAll.get(key).isEmpty)
      spark.conf.set(key, "true")
      lazyFrame()
      assert(spark.conf.getAll.get(key).contains("true"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The messages of the WARN-or-worse events logged while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("materialize-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val ctx = LoggerContext.getContext(false)
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  /** The code of a Scala source, one entry per line: comments and string
    * literals are blanked, keeping their line breaks. The code inside an
    * interpolated string's `${...}` stays visible. A plain literal of word
    * characters only (`"memory"`) is kept: it can hold no call, and a
    * pattern may name it as an argument. */
  private def codeLines(src: String): Seq[String] = {
    val out = new StringBuilder
    var i = 0
    def at(s: String): Boolean = src.startsWith(s, i)
    // the line breaks of the skipped text src(from until i)
    def skipped(from: Int): Unit = out ++= src.substring(from, i).filter(_ == '\n')
    val charLiteral = """'(?:\\.|[^\\'\n])'""".r

    // code up to the end, or up to (not past) the `}` closing an interpolation
    def code(closing: Boolean): Unit = {
      var depth = 0
      while (i < src.length && !(closing && depth == 0 && src(i) == '}')) {
        val from = i
        if (at("//")) {
          while (i < src.length && src(i) != '\n') i += 1
          skipped(from)
        } else if (at("/*")) {
          var nesting = 1
          i += 2
          while (nesting > 0 && i < src.length) {
            if (at("/*")) { nesting += 1; i += 2 }
            else if (at("*/")) { nesting -= 1; i += 2 }
            else i += 1
          }
          skipped(from)
        } else if (src(i) == '"') stringLiteral()
        else if (src(i) == '\'' &&
            charLiteral.findPrefixOf(src.subSequence(i, (i + 4) min src.length)).isDefined) {
          i += (if (src(i + 1) == '\\') 4 else 3)
        } else {
          if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
          out += src(i)
          i += 1
        }
      }
    }

    // a string literal, from its opening quote to past its closing one
    def stringLiteral(): Unit = {
      val interpolated = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
      val triple = at("\"\"\"")
      val start = i
      var from = i
      i += (if (triple) 3 else 1)
      var open = true
      while (open && i < src.length) {
        if (triple && at("\"\"\"")) {
          while (at("\"\"\"\"")) i += 1
          i += 3
          open = false
        } else if (!triple && src(i) == '"') { i += 1; open = false }
        else if (!triple && src(i) == '\n') open = false
        else if (interpolated && at("$$")) i += 2
        else if (interpolated && at("${")) {
          i += 2
          skipped(from)
          code(closing = true)
          i = (i + 1) min src.length
          from = i
        } else if (!triple && src(i) == '\\') i += 2
        else i += 1
      }
      i = i min src.length
      if (!interpolated && src.substring(start, i).matches("\"\\w*\"")) out ++= src.substring(start, i)
      else skipped(from)
    }

    code(closing = false)
    out.toString.split("\n", -1).toSeq
  }

  /** Lines (1-based) of Scala source whose code matches `call`. */
  private def callLines(src: String, call: scala.util.matching.Regex): Seq[Int] =
    codeLines(src).zipWithIndex
      .collect { case (line, n) if call.findFirstIn(line).isDefined => n + 1 }

  private val materializeCall =
    """\.(localCheckpoint\(|checkpoint\(|persist\(|cache\(\)|cacheTable\()""".r
  private val streamDriverCall =
    """processAllAvailable\(|\.foreachBatch|format\("memory"\)""".r
  private val scratchCall =
    """System\.getProperty\(|ProcessHandle\.|"_SUCCESS"""".r
  private val listenerCall =
    """(?:extends|new) (?:org\.apache\.spark\.scheduler\.)?SparkListener(?:Interface)?\b|addSparkListener\(""".r

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
      "// df.cache()",
      "try q.processAllAvailable() finally q.stop()",
      "df.writeStream.foreachBatch { (b: DataFrame, _: Long) => () }",
      "df.writeStream.format(\"memory\").queryName(n).start()",
      "val tmp = System.getProperty(\"java.io.tmpdir\")",
      "val mine = ProcessHandle.current().pid()",
      "val marker = new java.io.File(out, \"_SUCCESS\")",
      "val dir = s\"${System.getProperty(\"java.io.tmpdir\")}/x\"",
      "val q = '\"'; val g = df.cache()",
      "val sql = s\"\"\"SELECT ${n}",
      "  df.cache() \"\"\"",
      "class T extends SparkListener; sc.addSparkListener(new T) // new SparkListener").mkString("\n")
    assert(callLines(src, materializeCall) == Seq(1, 6, 7, 8, 9, 18))
    assert(callLines(src, streamDriverCall) == Seq(11, 12, 13))
    assert(callLines(src, scratchCall) == Seq(14, 15, 16, 17))
    assert(callLines(src, listenerCall) == Seq(21))
  }

  private val mainRoot = new java.io.File("src/main/scala")

  private def mainSources(): Seq[(java.io.File, String)] = {
    assert(mainRoot.isDirectory, s"run from the project root: ${mainRoot.getAbsolutePath}")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    scalaFiles(mainRoot).map(f =>
      f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("guard: only Materialize.scala checkpoints a frame directly") {
    val offenders = for {
      (f, src) <- mainSources() if f.getName != "Materialize.scala"
      line <- callLines(src, materializeCall)
    } yield s"${f.getPath}:$line"
    assert(offenders.isEmpty,
      s"materialize through graft.Materialize, not directly: ${offenders.mkString(", ")}")
  }

  test("guard: only StreamingIngest's drivers run a stream to its end") {
    val (ingest, others) = mainSources().partition(_._1.getName == "StreamingIngest.scala")
    val offenders = for {
      (f, src) <- others
      line <- callLines(src, streamDriverCall)
    } yield s"${f.getPath}:$line"
    assert(offenders.isEmpty,
      s"drive a stream through graft.streaming.StreamingIngest: ${offenders.mkString(", ")}")
    // inside it, a foreachBatch belongs to the bounded driver or to one of
    // the two open-ended checkpointed queries
    val src = ingest.map(_._2).headOption.getOrElse(fail("StreamingIngest.scala not found"))
    val code = codeLines(src)
    val member = """^  (?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
    val owners = callLines(src, """\.foreachBatch""".r).map { line =>
      code.take(line).reverseIterator
        .flatMap(l => member.findFirstMatchIn(l).map(_.group(1))).nextOption()
        .getOrElse(s"line $line")
    }
    assert(owners.nonEmpty, "no foreachBatch found: the check is vacuous")
    assert(owners.toSet.subsetOf(Set("eachBatch", "streamingEtl", "streamUpsertToWarehouse")),
      s"foreachBatch outside eachBatch: ${owners.mkString(", ")}")
  }

  test("guard: only Scratch.scala names scratch paths and their owners") {
    val (scratch, others) =
      mainSources().partition(_._1 == new java.io.File(mainRoot, "graft/Scratch.scala"))
    assert(scratch.exists { case (_, src) => callLines(src, scratchCall).nonEmpty },
      "graft/Scratch.scala has none of the guarded calls: the check is vacuous")
    val offenders = for {
      (f, src) <- others
      line <- callLines(src, scratchCall)
    } yield s"${f.getPath}:$line"
    assert(offenders.isEmpty,
      s"name scratch paths through graft.Scratch: ${offenders.mkString(", ")}")
  }

  test("guard: only QueryMetrics.scala attaches a Spark listener") {
    val (metrics, others) =
      mainSources().partition(_._1 == new java.io.File(mainRoot, "graft/QueryMetrics.scala"))
    assert(metrics.exists { case (_, src) => callLines(src, listenerCall).nonEmpty },
      "graft/QueryMetrics.scala has none of the guarded calls: the check is vacuous")
    val offenders = for {
      (f, src) <- others
      line <- callLines(src, listenerCall)
    } yield s"${f.getPath}:$line"
    assert(offenders.isEmpty,
      s"measure Spark work through graft.QueryMetrics: ${offenders.mkString(", ")}")
  }

  test("guard: every String case conversion in src/main/scala names its locale") {
    // a no-argument toLowerCase/toUpperCase takes the JVM default locale
    val defaultCase = """\.to(?:Lower|Upper)Case\b(?!\s*\()|\.to(?:Lower|Upper)Case\s*\(\s*\)""".r
    val probe = Seq(
      "val a = s.toLowerCase",
      "val b = names.map(_.toUpperCase)",
      "val c = s.trim.toLowerCase().split(\" \")",
      "val d = s.toLowerCase(Locale.ROOT)",
      "val e = Character.toLowerCase(ch)",
      "// s.toUpperCase").mkString("\n")
    assert(callLines(probe, defaultCase) == Seq(1, 2, 3))
    val offenders = for {
      (f, src) <- mainSources()
      line <- callLines(src, defaultCase)
    } yield s"${f.getPath}:$line"
    assert(offenders.isEmpty,
      s"pass Locale.ROOT to every String case conversion: ${offenders.mkString(", ")}")
  }

  test("guard: SparkEntry is composition only: no registry imports it, no operator names it") {
    val wildcard = """import\s+(?:graft\.)?SparkEntry\._""".r
    // a word-only literal stays visible to callLines: skip a quoted name
    val named = """(?<!")\bSparkEntry\b(?!")""".r
    // the wildcard spelled apart, so a text search of the sources finds
    // no import of it, not even in this probe
    val all = "._"
    val probe = Seq(
      s"import SparkEntry$all",
      s"import graft.SparkEntry$all",
      s"// import SparkEntry$all",
      "val n = graft.SparkEntry.queries.size",
      "val s = \"SparkEntry\"").mkString("\n")
    assert(callLines(probe, wildcard) == Seq(1, 2))
    assert(callLines(probe, named) == Seq(1, 2, 4))
    val operators = new java.io.File(mainRoot, "graft/operators")
    assert(operators.isDirectory, s"no operators dir: ${operators.getAbsolutePath}")
    val offenders = for {
      (f, src) <- mainSources()
      inOperators = f.getPath.startsWith(operators.getPath + java.io.File.separator)
      line <- callLines(src, if (inOperators) named else wildcard)
    } yield s"${f.getPath}:$line"
    assert(offenders.isEmpty,
      s"keep a helper in the registry or operator that owns it, not on SparkEntry: " +
        offenders.mkString(", "))
  }
}
