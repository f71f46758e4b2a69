package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.sinks.{PkTableSink, TxLog}

/** D30: lake-table schema evolution — a widening commit adds columns
  * (older rows read null, the ADD COLUMN default), narrowing commits
  * are refused loudly, and the widened schema survives compaction and
  * the change feed. */
class SchemaEvolveSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    TestTmp.dir("evolve").toString + "/t"

  test("widening commit: new column null on old rows, merged on touched keys") {
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root,
      Seq((1L, 1L, "a", false), (2L, 1L, "b", false)).toDF("id", "ver", "v", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    // the upstream source grew a column (Debezium schema drift):
    // commit carries (id, ver, v, region, del)
    PkTableSink.mergeTx(spark, root,
      Seq((2L, 2L, "b2", "emea", false), (3L, 1L, "c", "apac", false))
        .toDF("id", "ver", "v", "region", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val out = PkTableSink.readTx(spark, root, spark.emptyDataFrame)
      .select(col("id"), col("v"), col("region"))
      .as[(Long, String, Option[String])].collect().toSet
    assert(out == Set((1L, "a", None), (2L, "b2", Some("emea")), (3L, "c", Some("apac"))),
      s"widened read wrong: $out")
    // manifest records the widened column set in order
    val cols = TxLog.current(spark, root).get.meta("cols")
    assert(cols == "id,ver,v,region", s"manifest cols: $cols")
  }

  test("narrowing commit is refused; the schema check names the missing column") {
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root,
      Seq((1L, 1L, "a", "x", false)).toDF("id", "ver", "v", "extra", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val e = intercept[IllegalArgumentException] {
      PkTableSink.mergeTx(spark, root,
        Seq((1L, 2L, "a2", false)).toDF("id", "ver", "v", "del"),
        Seq("id"), Seq("ver"), "del", writer = "w")
    }
    assert(e.getMessage.contains("extra") && e.getMessage.contains("never narrow"),
      s"unhelpful refusal: ${e.getMessage}")
  }

  test("widened schema survives compaction and flows through the change feed") {
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root,
      (0L until 50L).map(i => (i, 1L, s"v$i", false)).toDF("id", "ver", "v", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val v1 = TxLog.current(spark, root).get.version
    PkTableSink.mergeTx(spark, root,
      Seq((7L, 2L, "v7b", 99L, false)).toDF("id", "ver", "v", "score", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    // change feed across the widening boundary: the touched key shows
    // as an update carrying the new column
    val feed = PkTableSink.readTxChanges(spark, root, v1,
        TxLog.current(spark, root).get.version)
      .select(col("id"), col("_change_type"), col("score"))
      .as[(Long, String, Option[Long])].collect().toSet
    assert(feed == Set((7L, "update", Some(99L))), s"feed: $feed")
    PkTableSink.compactTx(spark, root, writer = "w")
    val post = PkTableSink.readTx(spark, root, spark.emptyDataFrame)
    assert(post.columns.contains("score"))
    assert(post.where(col("score").isNotNull).count() == 1)
    assert(post.count() == 50)
    // and a further commit against the compacted table still needs ALL
    // widened columns
    val e = intercept[IllegalArgumentException] {
      PkTableSink.mergeTx(spark, root,
        Seq((8L, 2L, "v8b", false)).toDF("id", "ver", "v", "del"),
        Seq("id"), Seq("ver"), "del", writer = "w")
    }
    assert(e.getMessage.contains("score"))
  }

  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"$what schema:\n${got.schema}\nvs\n${want.schema}")
    assert(got.collect().toSet == want.collect().toSet, s"$what rows differ")
  }

  test("pruned reads of a widened table keep every layer's columns") {
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root,
      (0L until 50L).map(i => (i, 1L, s"v$i", false)).toDF("id", "ver", "v", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    PkTableSink.mergeTx(spark, root,
      Seq((100L, 1L, "n", "emea", false), (101L, 1L, "m", "apac", false))
        .toDF("id", "ver", "v", "region", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val all = PkTableSink.readTx(spark, root, spark.emptyDataFrame)
    assert(all.columns.toSeq == Seq("id", "ver", "v", "region"))
    def range(lo: Long, hi: Long) = all.where(col("id").between(lo, hi))
    assertSame("range over both layers",
      PkTableSink.readTxRange(spark, root, spark.emptyDataFrame, 40L, 100L), range(40L, 100L))
    // zone pruning keeps only the base: the delta's column must survive
    assertSame("base-only range",
      PkTableSink.readTxRange(spark, root, spark.emptyDataFrame, 10L, 20L), range(10L, 20L))
    assertSame("base-only point",
      PkTableSink.readTxPointOn(spark, root, spark.emptyDataFrame, "id", "20"),
      all.where(col("id") === 20L))
    assertSame("empty range",
      PkTableSink.readTxRange(spark, root, spark.emptyDataFrame, 500L, 600L), range(500L, 600L))
  }

  test("a column committed as int, later as long, reads back as long") {
    val root = freshRoot()
    PkTableSink.mergeTx(spark, root,
      (0L until 20L).map(i => (i, 1L, i.toInt, false)).toDF("id", "ver", "score", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    PkTableSink.mergeTx(spark, root,
      Seq((5L, 2L, 5000000000L, false), (30L, 1L, 7L, false)).toDF("id", "ver", "score", "del"),
      Seq("id"), Seq("ver"), "del", writer = "w")
    val want = (0L until 20L).map(i => i -> i).toMap + (5L -> 5000000000L) + (30L -> 7L)
    def scores(df: DataFrame) = {
      assert(df.schema("score").dataType == LongType, s"score widened to long: ${df.schema}")
      df.select(col("id"), col("score")).as[(Long, Long)].collect().toMap
    }
    assert(scores(PkTableSink.readTx(spark, root, spark.emptyDataFrame)) == want)
    assert(scores(PkTableSink.readTxRange(spark, root, spark.emptyDataFrame, 0L, 30L)) == want)
    assert(scores(PkTableSink.readTxPointOn(spark, root, spark.emptyDataFrame, "id", "5")) ==
      Map(5L -> 5000000000L))
    PkTableSink.compactTx(spark, root, writer = "w")
    assert(scores(PkTableSink.readTx(spark, root, spark.emptyDataFrame)) == want)
  }
}
