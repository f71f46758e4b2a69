package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: filled on the listener-bus
  * thread, read only after [[Tracer.drain]]. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    jobSpans ++= o.jobSpans
  }
}

/** One traced call: the public function it wraps (`name`), the op it
  * belongs to, its caller span, and what it cost. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Long,
                 val startMs: Long, val startNs: Long) {
  var endMs = 0L; var endNs = 0L
  var readBytes = 0L; var writeBytes = 0L
  val work = new Work
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. A span sets its id as the Spark job group
  * (a local property, which `graft.Par` threads and Spark's own
  * threads inherit), so a [[SparkListener]] can charge every job,
  * stage and task to the innermost open span. Read and write bytes
  * are deltas of the Hadoop `FileSystem` statistics: the workloads
  * are closed loops with one client, so at most one op is in flight. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Span, Int)]()
  private var open: List[Span] = Nil
  /** Work of every task, traced or not (for the busy ratio). */
  val all = new Work

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val s = if (g == null) null else byGroup.get(g)
      if (s != null) {
        s.work.jobs += 1
        jobSpan.put(e.jobId, (s, s.work.jobSpans.size))
        e.stageIds.foreach(id => stageSpan.put(id, s))
        s.work.jobSpans += ((e.time, Long.MaxValue))
      }
      all.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val si = jobSpan.remove(e.jobId)
      if (si != null) {
        val (s, i) = si
        s.work.jobSpans(i) = (s.work.jobSpans(i)._1, e.time)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stageSpan.get(e.stageInfo.stageId)
      if (s != null) s.work.stages += 1
      all.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      def charge(w: Work): Unit = {
        w.tasks += 1
        if (m != null) {
          w.runMs += m.executorRunTime
          w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      val s = stageSpan.get(e.stageId)
      if (s != null) charge(s.work)
      charge(all)
    }
  }
  sc.addSparkListener(listener)

  /** Run `f` as span `name` of op `op`, nested in the open span. */
  def span[T](name: String, op: Long)(f: => T): T = {
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, name, parent, op, System.currentTimeMillis(), System.nanoTime())
    spans += s
    val group = s"perfbench-${s.id}"
    byGroup.put(group, s)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val (r0, w0) = Tracer.ioBytes()
    sc.setLocalProperty("spark.jobGroup.id", group)
    open = s :: open
    try f
    finally {
      open = open.tail
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      val (r1, w1) = Tracer.ioBytes()
      s.readBytes = r1 - r0; s.writeBytes = w1 - w0
    }
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Finished spans named `name`, each with its descendants' Spark
    * work folded in (call after [[drain]]). */
  def closed(name: String): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def fold(s: Span, into: Work): Unit = {
      into.add(s.work); kids.getOrElse(s.id, Nil).foreach(fold(_, into))
    }
    spans.filter(_.name == name).toSeq.map { s =>
      val out = new Span(s.id, s.name, s.parent, s.op, s.startMs, s.startNs)
      out.endMs = s.endMs; out.endNs = s.endNs
      out.readBytes = s.readBytes; out.writeBytes = s.writeBytes
      fold(s, out.work); out
    }
  }

  /** Spans as JSON-ready maps, for the trace file. */
  def dump(): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "ms" -> s.ms, "jobs" -> s.work.jobs,
      "stages" -> s.work.stages, "tasks" -> s.work.tasks,
      "read_bytes" -> s.readBytes, "write_bytes" -> s.writeBytes)
  }
}

object Tracer {
  /** (bytes read, bytes written) across every Hadoop file system. */
  def ioBytes(): (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** A span's wall time not covered by any of its Spark jobs: the
    * driver-side protocol work (manifests, listings, sidecars). */
  def driverMs(s: Span): Double = {
    val lo = s.startMs; val hi = math.max(s.endMs, lo)
    val iv = s.work.jobSpans.map { case (a, b) =>
      (math.max(a, lo), math.min(if (b == Long.MaxValue) hi else b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.ms - covered)
  }

  /** Total JVM garbage-collection time so far, driver and executors. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}
