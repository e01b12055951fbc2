// Per-job and per-stage profile of one or more declared queries, through
// graft.QueryMetrics: each named query runs once to warm up and once
// measured; the measured pass prints its job table (id, wall ms, stages,
// tasks, description) and its six slowest stages. ASCII only
// (spark-shell -i reads the script in the platform charset).
// Usage:
//   PROFILE_QUERIES=q_dedup_minhash,q_corpus_pipeline \
//   PROFILE_SF_DIR=/root/testdata/sf0.01 \
//   /opt/spark/bin/spark-shell --master local[4] \
//     --conf spark.sql.shuffle.partitions=4 \
//     --conf spark.sql.session.timeZone=UTC \
//     --conf spark.sql.legacy.parquet.nanosAsLong=true \
//     --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes \
//     -i tools/profile.scala
val dir = sys.env.getOrElse("PROFILE_SF_DIR", "/root/testdata/sf0.1")
val qnames = sys.env.getOrElse("PROFILE_QUERIES", "q_curate_multimodal")
  .split(",").toSeq

def noop(df: org.apache.spark.sql.DataFrame): Unit =
  df.write.format("noop").mode("overwrite").save()
def dropTempViews(): Unit = spark.catalog.listTables().collect()
  .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
def secondsOf(body: => Unit): Double = {
  val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
}

// warm the session once
try spark.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().count()
catch { case _: Throwable => }

for (name <- qnames) {
  val fn = graft.SparkEntry.queries(name)
  val warm = secondsOf(noop(fn(spark, dir)))
  dropTempViews()
  val (dt, report) = graft.QueryMetrics.measure(spark)(secondsOf(noop(fn(spark, dir))))
  println(s"===== $name measured pass: " + f"$dt%.2f s (warm pass $warm%.2f s)")
  report.jobs.foreach { j =>
    println(f"JOB ${j.id}%4d ${j.wallMs}%6d ms stages=${j.stages}%2d tasks=${j.tasks}%4d " +
      j.description.replace('\n', ' ').take(90))
  }
  println(f"== ${report.jobs.size} jobs, ${report.jobs.map(_.wallMs).sum} ms total job time")
  report.stages.sortBy(-_.wallMs).take(6).foreach { s =>
    println(f"STAGE ${s.id}%4d ${s.wallMs}%6d ms tasks=${s.tasks}%4d  " + s.name.take(100))
  }
  dropTempViews()
}
System.exit(0)
