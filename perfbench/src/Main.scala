package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed client call. `ok` is false when it threw or its result
  * disagreed with the benchmark's own replay; such calls are counted
  * as failed and left out of the latency samples. */
final case class Op(kind: String, ms: Double, ok: Boolean, traced: Boolean,
                    rows: Long = 0, info: Map[String, Any] = Map.empty)

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      sfDir: String, work: String, out: String, cpus: Int,
                      tiny: Boolean, corrupt: Boolean)

/** Shared state of one run: the session (re-created by each set-up),
  * the op log, the tracer, and the per-layer figures. */
final class Run(val a: Args) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  val ops = mutable.ArrayBuffer.empty[Op]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** False during set-up: its ops are checked but not recorded. */
  var measuring = false
  private var nextOp = 0L

  def newSession(): Unit = {
    if (spark != null) spark.stop()
    spark = graft.GraftSession.ready(graft.GraftSession.builder(
        master = s"local[${a.cpus}]", shufflePartitions = a.cpus, maxPartitionBytes = "4m")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
  }

  /** Op ids: the traced run traces every other op, and times the rest
    * bare, so the two halves give the tracing overhead. */
  def op(): (Long, Boolean) = { nextOp += 1; (nextOp, tracer != null && nextOp % 2 == 0) }

  def record(o: Op): Unit =
    if (measuring) ops += o
    else require(o.ok, s"set-up op ${o.kind} failed")

  def span[T](traced: Boolean, name: String, op: Long)(f: => T): T =
    if (traced) tracer.span(name, op)(f) else f

  /** Run `f` as a timed op; an exception marks it failed. */
  def timed[T](f: => T): (Option[T], Double) = {
    val t0 = System.nanoTime()
    val r = try Some(f) catch { case e: Exception =>
      System.err.println(s"[perfbench] op failed: $e"); None }
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Main {
  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("sf"), m("work"), m("out"), m("cpus").toInt,
      m.get("tiny").contains("1"), m.get("corrupt").contains("1"))
  }

  /** Seconds for a fixed FNV loop. */
  private def fnvLoopSec(): Double = {
    val t0 = System.nanoTime()
    var acc = 1469598103934665603L
    var i = 0
    while (i < 200000000) { acc = (acc ^ i) * 1099511628211L; i += 1 }
    if (acc == 42L) System.err.println("cpu probe sentinel")
    (System.nanoTime() - t0) / 1e9
  }

  /** Same method as `graft.Bench`'s CPU probe: best of three runs of
    * the loop after one JIT warm-up run, in seconds. */
  private def cpuProbeSec(): Double = {
    fnvLoopSec()
    (1 to 3).map(_ => fnvLoopSec()).min
  }

  /** The loop on `n` threads at once; the slowest thread's seconds. A
    * busy host slows this more than the one-thread probe, as it does
    * the parallel stages of the workloads. */
  private def parallelProbeSec(n: Int): Double = {
    val secs = new Array[Double](n)
    val ts = (0 until n).map(k => new Thread(() => secs(k) = fnvLoopSec()))
    ts.foreach(_.start()); ts.foreach(_.join())
    secs.max
  }

  /** Same method as `graft.Bench`'s disk probe: MiB/s writing and
    * syncing 256 MiB, here inside the benchmark's work directory. */
  private def ioProbeMbps(dir: String): Double = {
    val f = java.io.File.createTempFile("ioprobe", ".bin", new java.io.File(dir))
    try {
      val buf = new Array[Byte](1 << 20)
      val t0 = System.nanoTime()
      val out = new java.io.FileOutputStream(f)
      try {
        var i = 0
        while (i < 256) { out.write(buf); i += 1 }
        out.getFD.sync()
      } finally out.close()
      256.0 / ((System.nanoTime() - t0) / 1e9)
    } finally { f.delete(); () }
  }

  /** MiB in use in every JVM memory pool, heap and non-heap, right after
    * a full collection: what the program still holds (caches, sessions,
    * generated classes). The process RSS and the pools' peaks follow
    * how much heap G1 chose to fill before collecting instead. */
  private def liveMemMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.map(_.getUsage).filter(_ != null)
      .map(_.getUsed).sum / 1048576.0
  }

  /** (steal, total) jiffies of all CPUs so far: the time the hypervisor
    * gave this machine's virtual CPUs to someone else. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (v.length > 7) v(7) else 0L, v.sum)
      } finally f.close()
    } catch { case _: Exception => (0L, 0L) }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val run = new Run(a)
    val workload: Workload = a.workload match {
      case "cdc_upsert"  => new CdcUpsert(run)
      case "query_serve" => new QueryServe(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    run.newSession()
    workload.generate()
    // set-up runs twice, each time from a fresh session, and the runner
    // reports the median: the first pays for a cold JIT, the second not
    val setups = (0 until 2).map { i =>
      val t0 = System.nanoTime()
      run.newSession()
      workload.setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    val cpuProbe = cpuProbeSec()
    val parallelProbe = parallelProbeSec(a.cpus)
    val ioProbe = try ioProbeMbps(a.work) catch { case _: Exception => -1.0 }
    if (a.trace) run.tracer = new Tracer(run.spark.sparkContext)
    run.measuring = true
    val gc0 = Tracer.gcMs()
    val (steal0, jiffies0) = cpuJiffies()
    val t0 = System.nanoTime()
    workload.measure(t0)
    val wallS = run.elapsed(t0)
    val gcMs = Tracer.gcMs() - gc0
    val (steal1, jiffies1) = cpuJiffies()
    val liveMb = liveMemMb()
    val timedOps = math.max(1, run.ops.size)
    // the timed loop's own Spark work, before the final check adds to it
    if (a.trace) run.tracer.drain()
    val (busyMs, jobs) = if (a.trace) (run.tracer.all.runMs, run.tracer.all.jobs) else (0L, 0L)
    workload.check()
    run.measuring = false
    if (a.trace) {
      run.tracer.drain()
      workload.layers()
      run.layers("spark.busy_ratio") = busyMs / (wallS * 1000 * a.cpus)
      run.layers("spark.gc_ms") = gcMs.toDouble / timedOps
      run.layers("spark.jobs_per_op") = jobs.toDouble / timedOps
      run.info("traced_ops") = run.ops.count(_.traced)
    }
    val out = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "machine" -> Map(
        "nproc" -> a.cpus, "cpus_setting" -> run.spark.sparkContext.master,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean
          .getInputArguments.asScala.toSeq,
        "cpu_probe_sec" -> cpuProbe, "parallel_cpu_probe_sec" -> parallelProbe,
        "io_probe_mbps" -> ioProbe,
        "steal_ratio" -> (steal1 - steal0).toDouble / math.max(1L, jiffies1 - jiffies0)),
      "setup_s" -> setups, "wall_s" -> wallS, "live_mem_mb" -> liveMb,
      "ops" -> run.ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok,
        "traced" -> o.traced, "rows" -> o.rows) ++ o.info).toSeq,
      "layers" -> run.layers.toMap, "info" -> run.info.toMap)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), mapper.writeValueAsString(out))
    if (a.trace) java.nio.file.Files.writeString(
      java.nio.file.Paths.get(a.out.stripSuffix(".json") + ".spans.json"),
      mapper.writeValueAsString(run.tracer.dump()))
    run.spark.stop()
  }
}

/** A workload: inputs made from the seed before timing, a set-up that
  * leaves a fresh session warm, a closed timed loop with one client,
  * and a final correctness check. */
abstract class Workload(val run: Run) {
  def generate(): Unit
  def setup(i: Int): Unit
  def measure(t0: Long): Unit
  def check(): Unit
  def layers(): Unit

  protected def a: Args = run.a
  protected def spark: SparkSession = run.spark

  /** Median of `f` over the traced spans named `name`. */
  protected def med(name: String)(f: Span => Double): Double =
    Stats.median(run.tracer.closed(name).map(f))
}
