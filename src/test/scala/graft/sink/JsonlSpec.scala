package graft.sink

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

class JsonlSpec extends SparkSpec {
  import spark.implicits._

  test("writeShards: one file per shard dir, rows sorted, exact lines") {
    val out = tempDir("graft_jsonl_spec")
    val df = Seq((3L, "c"), (0L, "a"), (5L, "b"), (2L, "d"))
      .toDF("id", "s")
    Jsonl.writeShards(df, out, Seq(col("id"), col("s")),
      shardKey = col("id"), sortCol = col("id"), nShards = 2)
    // exactly one data file per shard directory
    for (b <- 0 to 1) {
      val files = new java.io.File(s"$out/shard=$b").listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(files.length === 1, s"shard $b must be one file")
    }
    // within-shard order and exact to_json rendering
    val s0 = scala.io.Source.fromFile(
      new java.io.File(s"$out/shard=0").listFiles()
        .filter(_.getName.startsWith("part-")).head)
    val lines0 = try s0.getLines().toList finally s0.close()
    assert(lines0 === List("""{"id":0,"s":"a"}""", """{"id":2,"s":"d"}"""))
    // read-back recovers shard from the directory layout
    val back = Jsonl.readShards(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(back.length === 4)
    assert(back.count(_._1 == 1L) === 2) // ids 3, 5
  }

  test("readJsonl: malformed lines survive as corrupt records, clean rows parse") {
    val src = tempDir("graft_jsonl_dirty")
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "a.jsonl"),
      ("""{"id":1,"v":"ok"}""" + "\n" + """{"id":2,"v":"trunc""" + "\n" +
        """not json at all""" + "\n" + """{"id":4,"v":"fine"}""").getBytes)
    val schema = new StructType().add("id", "long").add("v", "string")
    val got = Jsonl.readJsonl(spark, src, schema)
      .orderBy(coalesce(col("id"), lit(99L)), col("_corrupt_record"))
      .collect()
    assert(got.length === 4)
    assert(got(0).getLong(0) === 1L && got(0).isNullAt(2))
    assert(got(1).getLong(0) === 4L && got(1).isNullAt(2))
    // the two malformed lines: all fields null, raw preserved verbatim
    val bad = got.drop(2).map(_.getString(2)).toSet
    assert(bad === Set("""{"id":2,"v":"trunc""", "not json at all"))
    assert(got.drop(2).forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }
}
