package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import graft.sinks.{PkTableSink, TxLog}

/** The r18 schema cache must be INVISIBLE: a cached read is the same
  * relation (schema and rows) a bare `spark.read.parquet` resolves,
  * including on partitioned dirs (IvfIndex vector deltas), and the
  * one in-place rewrite the bench does (the scaling replica) can drop
  * its entries. Tx writers prime it from the footer they already open,
  * so merge-on-read runs no schema-inference job. */
class SchemaCacheSpec extends SparkSpec {
  import spark.implicits._

  /** (result, Spark jobs `body` ran). Jobs are told apart by job group;
    * a marker job after `body` flushes the listener queue, which
    * delivers events to a listener in order. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"schc-${System.nanoTime}"
    val marker = s"$group-end"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = body
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(groups.contains(marker), "listener never saw the marker job")
      (out, groups.toArray.count(_ == group))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("cached read equals inferred read: schema, nullability, rows") {
    val dir = TestTmp.dir("schc").toString + "/t"
    Seq((1L, "a", Some(2.5)), (2L, "b", None))
      .toDF("id", "s", "v").write.parquet(dir)
    val first = SchemaCache.read(spark, dir)      // populates
    val again = SchemaCache.read(spark, dir)      // served from cache
    val bare = spark.read.parquet(dir)
    assert(again.schema == bare.schema, "cached schema must equal inference")
    assert(first.schema == bare.schema)
    assert(again.orderBy("id").collect().toSeq ==
      bare.orderBy("id").collect().toSeq)
  }

  test("partitioned dir (IvfIndex delta shape) round-trips through the cache") {
    val dir = TestTmp.dir("schc").toString + "/p"
    Seq((1L, 0), (2L, 1), (3L, 1)).toDF("id", "cell")
      .write.partitionBy("cell").parquet(dir)
    SchemaCache.read(spark, dir) // populate
    val cached = SchemaCache.read(spark, dir)
    val bare = spark.read.parquet(dir)
    assert(cached.schema == bare.schema)
    assert(cached.select(col("id"), col("cell").cast("long"))
      .orderBy("id").collect().toSeq ==
      bare.select(col("id"), col("cell").cast("long"))
        .orderBy("id").collect().toSeq)
  }

  test("invalidatePrefix drops entries so a rewritten replica re-infers") {
    val dir = TestTmp.dir("schc").toString + "/r"
    Seq((1L, "x")).toDF("id", "a").write.parquet(dir)
    SchemaCache.read(spark, dir) // cache the 2-column schema
    Seq((1L, "x", 9L)).toDF("id", "a", "b")
      .write.mode("overwrite").parquet(dir) // widened rewrite in place
    SchemaCache.invalidatePrefix(dir)
    val re = SchemaCache.read(spark, dir)
    assert(re.columns.toSeq == Seq("id", "a", "b"),
      "post-invalidation read must see the rewritten schema")
  }

  test("Tx writers prime each dir from its footer: job-free, equal to inference") {
    val lake = TestTmp.dir("schc").toString
    val root = s"$lake/t"
    def commit(df: DataFrame) =
      PkTableSink.mergeTx(spark, root, df, Seq("id"), Seq("ver"), "del", writer = "w")
    commit(Seq((1L, 1L, "a", false), (2L, 1L, "b", false)).toDF("id", "ver", "v", "del"))
    commit(Seq((2L, 2L, "b2", false)).toDF("id", "ver", "v", "del"))
    commit(Seq((3L, 1L, "c", 2.5, false)).toDF("id", "ver", "v", "score", "del")) // widens
    val m = TxLog.current(spark, root).get
    PkTableSink.compactTx(spark, root, writer = "w")
    val compacted = TxLog.current(spark, root).get.dataDir
    val note = new MetadataBuilder().putString("comment", "kept").build()
    val staged = PkTableSink.stageTableBatch(spark, s"$lake/g", "s",
      PkTableSink.TableBatch(Seq((1L, 1L, false)).toDF("k", "ver", "del")
        .withColumn("note", lit("x").as("note", note)),
        Seq("k"), Seq("ver"), "del", preCompacted = true), writer = "w")
    PkTableSink.mergeTxGroup(spark, s"$lake/g", Map.empty, writer = "w", staged = Seq(staged))
    val dirs = (m.dataDir +: m.deltas) ++ Seq(compacted, staged.dir)
    assert(dirs.size == 5)
    dirs.foreach { d =>
      val (primed, jobs) = jobsOf(SchemaCache.schemaOf(spark, d))
      assert(jobs == 0, s"$d was not primed at commit")
      assert(primed == spark.read.parquet(d).schema, s"$d: primed schema differs from inference")
    }
    assert(SchemaCache.schemaOf(spark, staged.dir)("note").metadata == note)
  }

  test("a point read runs the same number of Spark jobs at 1 and at 8 deltas") {
    val root = TestTmp.dir("schc").toString + "/pt"
    def commit(rows: (Long, Long, String, Boolean)*) =
      PkTableSink.mergeTx(spark, root, rows.toDF("id", "ver", "v", "del"),
        Seq("id"), Seq("ver"), "del", writer = "w")
    commit((0L until 100L).map(i => (i, 1L, s"v$i", false)): _*)
    def pointRead() = jobsOf(PkTableSink.readTxPointOn(spark, root, spark.emptyDataFrame,
      "id", "7").select(col("v")).as[String].collect().toSeq)
    commit((7L, 2L, "d1", false), (200L, 1L, "x", false))
    val (at1, jobs1) = pointRead()
    (2 to 8).foreach(i => commit((7L, i + 1L, s"d$i", false), (200L + i, 1L, "x", false)))
    assert(TxLog.current(spark, root).get.deltas.size == 8)
    val (at8, jobs8) = pointRead()
    assert(at1 == Seq("d1") && at8 == Seq("d8"))
    assert(jobs1 == jobs8, s"point-read jobs grew with deltas: $jobs1 at 1, $jobs8 at 8")
  }
}
