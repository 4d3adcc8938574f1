package graft

import java.nio.file.Files

import org.apache.spark.sql.types.LongType

import graft.index.IndexCatalog
import graft.serve.Api
import graft.tables.ServedParquet

/** The served-parquet schema memo never hands out a stale schema: a
  * rebuilt artifact is read with its new columns, the cache-clear route
  * empties the memo, and sessions with different parquet conf infer
  * their own. */
class ServedParquetSpec extends SparkSpec {

  test("rebuilt artifact after IndexCatalog.invalidate: the new schema and rows come back") {
    import spark.implicits._
    // a data-dir key of its own, so the artifact path is fresh every run
    val dataDir = Files.createTempDirectory("graft-memo-key").toString
    val name = "memo_probe"
    def build(df: org.apache.spark.sql.DataFrame) =
      IndexCatalog.ensure(spark, dataDir, name) { p =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$p/t")
      }
    val p1 = build(Seq((1L, "a"), (2L, "b")).toDF("id", "old_col"))
    val first = ServedParquet.read(spark, s"$p1/t")
    assert(first.columns.toSeq == Seq("id", "old_col"))
    assert(ServedParquet.memoized(spark).contains(s"$p1/t"))

    IndexCatalog.invalidate(dataDir, name)
    assert(!ServedParquet.memoized(spark).contains(s"$p1/t"))
    val p2 = build(Seq((3L, 30.0, "x")).toDF("id", "new_score", "new_tag"))
    assert(p2 == p1) // same artifact path, rebuilt in place
    val second = ServedParquet.read(spark, s"$p2/t")
    assert(second.columns.toSeq == Seq("id", "new_score", "new_tag"))
    assert(second.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSeq == Seq((3L, 30.0, "x")))
    IndexCatalog.invalidate(dataDir, name)
  }

  test("invalidation drops only paths at or under the artifact root") {
    val root = Files.createTempDirectory("graft-memo-prefix").toString
    import spark.implicits._
    for (d <- Seq("a/t", "a_v2/t")) {
      Seq(1L).toDF("id").write.mode("overwrite").parquet(s"$root/$d")
      ServedParquet.read(spark, s"$root/$d")
    }
    ServedParquet.invalidateUnder(s"$root/a")
    val left = ServedParquet.memoized(spark)
    assert(!left.contains(s"$root/a/t") && left.contains(s"$root/a_v2/t"), left)
  }

  test("DELETE /api/search/cache empties the memo") {
    val r = Api.handle(spark, Sf0001, "/api/query",
      Map("q" -> "spark join", "mode" -> "hybrid", "count" -> "3"))
    assert(r.status == 200, r.body)
    assert(ServedParquet.memoized(spark).nonEmpty)
    val clear = Api.handle(spark, Sf0001, "/api/search/cache", Map.empty)
    assert(clear.status == 200, clear.body)
    assert(ServedParquet.memoized(spark).isEmpty)
  }

  test("a session with a different nanosAsLong setting infers its own schema") {
    // one TIMESTAMP(NANOS) column, written with parquet-mr directly
    // (Spark itself never writes nanosecond timestamps)
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-memo-nanos").toString + "/ev"
    val schema = MessageTypeParser.parseMessageType(
      "message ev { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L))
    finally w.close()

    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val asLong = ServedParquet.read(spark, dir)
    assert(asLong.schema("ts").dataType == LongType)
    assert(asLong.collect().map(_.getLong(0)).toSeq == Seq(1700000000123456789L))
    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    // without the flag Spark refuses the column: the other session runs
    // its own inference instead of being handed this session's schema
    val refused = intercept[org.apache.spark.sql.AnalysisException](
      ServedParquet.read(other, dir))
    assert(refused.getCondition == "PARQUET_TYPE_ILLEGAL", refused.getMessage)
    assert(!ServedParquet.memoized(other).contains(dir))
    assert(ServedParquet.read(spark, dir).schema("ts").dataType == LongType)
  }
}
