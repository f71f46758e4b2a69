package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.cdc.Envelope
import graft.sinks.{PkTableSink, TxLog}

/** Writes beside reads on one Primary Key table: each op is one
  * envelope batch through `Envelope.unwrap` into `PkTableSink.mergeTx`
  * (default arguments, so it auto-compacts every 32 deltas). Every 8th
  * delta and each compaction are followed by one point read on a seeded
  * key, so point reads see stacks of 0, 8, 16 and 24 deltas; the 16th
  * delta and each compaction also by one range read. Every read is
  * checked against a driver-side replay of the changelog. */
final class CdcUpsert(run: Run) extends Workload(run) {
  private val keySpace = if (a.tiny) 2000L else 20000L
  private val batchRows = if (a.tiny) 200 else 1000
  private val rangeWidth = keySpace / 100
  /** Batch 0 is the base load; the rest are ~60/30/10 changelogs. A
    * 32-commit cycle takes 13 s or more on 4 cores, so this runs out
    * only for a program several times faster. */
  private val maxBatches = if (a.tiny) 12 else 2 + 32 * (1 + a.seconds.toInt / 4)
  private val payload = StructType(Seq(StructField("id", LongType),
    StructField("seq", LongType), StructField("value", DoubleType)))

  private var logs: IndexedSeq[IndexedSeq[Gen.Change]] = _
  private var envs: IndexedSeq[IndexedSeq[String]] = _
  private var root: String = _
  private var replay: Gen.Replay = _
  private var nextBatch = 0
  private var deltas = 0
  /** In a corrupted run the replay skips this delete (self-test). */
  private var skipSeq = -1L

  def generate(): Unit = {
    val base = (0L until keySpace).map(k => Gen.Change(k, "c", k, Gen.roll(s"${a.seed}:base:$k") % 100000))
    logs = base +: (1 until maxBatches).map(i =>
      Gen.changes(a.seed, "cdc", keySpace + (i - 1).toLong * batchRows, batchRows, keySpace, 100000))
    envs = Gen.envelopes(spark, logs)
    if (a.corrupt) {
      // a delete in the first timed batch of a base-loaded key that no
      // other change touches: dropping it from the replay must show
      val touched = logs.drop(1).flatten.groupBy(_.key).view.mapValues(_.size).toMap
      skipSeq = logs(2).filter(c => c.op == "d" && touched(c.key) == 1).head.seq
    }
  }

  private def schemaOf: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], payload)

  private def rowsOf(rs: Array[Row]): Set[(Long, Long, Double)] =
    rs.map(r => (r.getAs[Long]("id"), r.getAs[Long]("seq"), r.getAs[Double]("value"))).toSet

  private def expected(keep: Gen.Change => Boolean): Set[(Long, Long, Double)] =
    replay.live.valuesIterator.filter(keep).map(c => (c.key, c.seq, c.value / 100.0)).toSet

  /** One commit; with `reads`, then a point read, and a range read too
    * when the stack is empty or 16 deltas deep. */
  private def step(i: Int, reads: Boolean): Unit = {
    require(i < maxBatches, "changelog exhausted: raise maxBatches")
    val compacts = deltas + 1 >= 32
    // compacting commits are always traced: there is one per cycle
    val (op, traced) = run.op() match { case (o, t) => (o, t || (compacts && run.tracer != null)) }
    if (traced) run.span(traced, "sinks.manifest", op)(TxLog.current(spark, root))
    val (res, ms) = run.timed {
      val df = spark.createDataset(envs(i))(Encoders.STRING).toDF("json")
      var rows = Envelope.unwrap(df, col("json"), payload)
        .select(col("id"), col("seq"), col("value"), (col("__deleted") === "true").as("del"))
      if (traced) rows = run.span(traced, "cdc.unwrap", op)(rows.localCheckpoint(true))
      run.span(traced, if (compacts) "sinks.compact" else "sinks.commit", op)(
        PkTableSink.mergeTx(spark, root, rows, Seq("id"), Seq("seq"), "del", writer = "bench"))
    }
    deltas = if (compacts) 0 else deltas + 1
    logs(i).foreach(c => if (c.seq != skipSeq) replay(c))
    run.record(Op("commit", ms, res.isDefined, traced, logs(i).size,
      Map("compacted" -> compacts)))
    if (reads) read(i)
  }

  private def read(i: Int): Unit = {
    // every read is traced: there are only a few per cycle
    val (op, traced) = run.op() match { case (o, _) => (o, run.tracer != null) }
    val key = Gen.roll(s"${a.seed}:point:$i") % keySpace
    val (pt, pms) = run.timed(run.span(traced, "sinks.point_read", op)(
      PkTableSink.readTxPointOn(spark, root, schemaOf, "id", key.toString).collect()))
    run.record(Op("point", pms, pt.exists(r => rowsOf(r) == expected(_.key == key)), traced,
      info = Map("deltas" -> deltas)))

    if (traced) {
      val (_, kept, total) = PkTableSink.pointPruneStatsOn(spark, root, "id", key.toString)
      pointKept += kept.size.toDouble / math.max(1, total)
    }
    if (a.tiny || deltas % 16 == 0) {
      val lo = Gen.roll(s"${a.seed}:range:$i") % keySpace
      val hi = lo + rangeWidth
      val (rg, rms) = run.timed(run.span(traced, "sinks.range_read", op)(
        PkTableSink.readTxRange(spark, root, schemaOf, lo, hi).collect()))
      run.record(Op("range", rms, rg.exists(r => rowsOf(r) == expected(c => c.key >= lo && c.key <= hi)),
        traced, info = Map("deltas" -> deltas)))
      if (traced) {
        val (kept, total) = PkTableSink.pruneStats(spark, root, lo, hi)
        rangeKept += kept.size.toDouble / math.max(1, total)
      }
    }
  }
  private val pointKept = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val rangeKept = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(i: Int): Unit = {
    root = s"${a.work}/lake/cdc$i"
    replay = new Gen.Replay
    deltas = -1 // the base load creates the table; it is not a delta
    step(0, reads = true)
    step(1, reads = true)
    nextBatch = 2
  }

  /** Commits until the time is up and the current 32-delta compaction
    * cycle has ended, so every run covers whole cycles. Reads follow
    * only some commits: a point read costs about two Spark jobs per
    * outstanding delta (a range read one), so a read after every
    * commit would not fit the run. */
  def measure(t0: Long): Unit = {
    var done = 0
    def more =
      if (a.tiny) nextBatch < maxBatches && run.elapsed(t0) < a.seconds
      else run.elapsed(t0) < a.seconds || done == 0 || deltas != 0
    while (more) {
      step(nextBatch, reads = a.tiny || deltas % 8 == 7)
      if (deltas == 0) done += 1
      nextBatch += 1
    }
    run.info("commits") = nextBatch - 2
    run.info("compactions") = done
  }

  def check(): Unit = {
    val (all, ms) = run.timed(PkTableSink.readTx(spark, root, schemaOf).collect())
    run.record(Op("final_read", ms, all.exists(r => rowsOf(r) == expected(_ => true)), traced = false))
  }

  def layers(): Unit = {
    val L = run.layers
    val commits = run.tracer.closed("sinks.commit")
    val compacts = run.tracer.closed("sinks.compact")
    L("sinks.commit.jobs") = Stats.median(commits.map(_.work.jobs.toDouble))
    L("sinks.commit.driver_ms") = Stats.median(commits.map(Tracer.driverMs))
    L("sinks.commit.write_bytes") = Stats.median(commits.map(_.writeBytes.toDouble))
    L("sinks.compact.count") = run.ops.count(o => o.kind == "commit" && o.info("compacted") == true)
    L("sinks.compact.ms") = Stats.median(compacts.map(_.ms))
    L("sinks.compact.jobs") = Stats.median(compacts.map(_.work.jobs.toDouble))
    L("sinks.compact.write_bytes") = Stats.median(compacts.map(_.writeBytes.toDouble))
    L("sinks.manifest.ms") = med("sinks.manifest")(_.ms)
    for (r <- Seq("point_read", "range_read")) {
      val ss = run.tracer.closed(s"sinks.$r")
      L(s"sinks.$r.jobs") = Stats.median(ss.map(_.work.jobs.toDouble))
      L(s"sinks.$r.driver_ms") = Stats.median(ss.map(Tracer.driverMs))
      L(s"sinks.$r.read_bytes") = Stats.median(ss.map(_.readBytes.toDouble))
    }
    L("sinks.point_read.files_kept_ratio") = Stats.mean(pointKept.toSeq)
    L("sinks.range_read.files_kept_ratio") = Stats.mean(rangeKept.toSeq)
    L("sinks.deltas_at_read") = Stats.mean(run.ops.filter(_.kind == "point")
      .map(_.info("deltas").asInstanceOf[Int].toDouble).toSeq)
    val unwrap = run.tracer.closed("cdc.unwrap")
    L("cdc.unwrap.ms_per_krow") = Stats.median(unwrap.map(_.ms / (batchRows / 1000.0)))
  }
}
