package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{GarbageCollectorMXBean, ManagementFactory}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a graft layer, made by the benchmark's client
  * thread. `cycle` is the closed-loop cycle it belongs to (-1 outside the
  * timed phase); `extra` holds the layer's own counts. */
final class Span(val id: Long, val layer: String, val op: String, val cycle: Int,
    val t0Ms: Long, val t0Ns: Long, val cpu0Ns: Long) {
  var t1Ms: Long = 0L
  var t1Ns: Long = 0L
  var cpu1Ns: Long = 0L
  /** The call threw. */
  var failed: Boolean = false
  val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def wallS: Double = (t1Ns - t0Ns) / 1e9
  /** CPU seconds the whole process used during the call. */
  def cpuS: Double = (cpu1Ns - cpu0Ns) / 1e9
}

/** Spans around every call the benchmark makes into graft, plus — when
  * tracing — the Spark executions and jobs that ran inside each. Jobs carry
  * the open span's id as a local property; query-planning phases are
  * matched to spans by time. Everything is kept in memory and written out
  * once at the end. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  import Tracer._
  private val ids = new AtomicLong(0)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  var cycle: Int = -1
  private val SpanProp = "perfbench.span"

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  /** analysis + optimization + planning intervals of each query execution */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Long)]]()
  private val events = new AtomicLong

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(-1L)
      val j = new Job(e.jobId, sp, e.time, e.stageIds)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
      events.incrementAndGet(); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
      events.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          j.bytesRead.addAndGet(m.inputMetrics.bytesRead)
          j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          j.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
      events.incrementAndGet(); ()
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(name: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      plans.add(Seq("analysis", "optimization", "planning").flatMap(ph.get)
        .map(s => (s.startTimeMs, s.endTimeMs)))
      events.incrementAndGet(); ()
    }
    override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = record(name, qe)
    override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
      record(name, qe)
  }

  if (traced) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  /** Time `body` as one call into `layer`. A call that throws is recorded
    * too, marked `failed`, so it counts as an attempted op. */
  def span[A](layer: String, op: String)(body: => A): (A, Span) = {
    val s = new Span(ids.incrementAndGet(), layer, op, cycle, System.currentTimeMillis(),
      System.nanoTime(), Jvm.cpuNs)
    if (traced) spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
    s.failed = true
    try {
      val r = body
      s.failed = false
      (r, s)
    } finally {
      s.t1Ns = System.nanoTime(); s.t1Ms = System.currentTimeMillis(); s.cpu1Ns = Jvm.cpuNs
      spans += s
      if (traced) spark.sparkContext.setLocalProperty(SpanProp, null)
    }
  }

  /** Wait until the asynchronous listener bus has delivered every event:
    * every started job has ended and no event arrived for a while. */
  def drain(): Unit = if (traced) {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = events.get()
      val open = jobs.values.asScala.exists(_.t1 < 0)
      if (n == last && !open) quiet += 1 else quiet = 0
      last = n
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def clip(iv: (Long, Long), s: Span): (Long, Long) =
    (math.max(iv._1, s.t0Ms), math.min(iv._2, s.t1Ms))

  /** Spark work attributed to each span: jobs by the span-id property (by
    * start time when a job carries none), planning intervals by time. */
  def attribute(): Map[Long, Attributed] = {
    val bySpan = jobs.values.asScala.toSeq.groupBy(_.span)
    val sorted = spans.sortBy(_.t0Ms).toIndexedSeq
    def at(t: Long): Option[Span] = sorted.find(s => s.t0Ms <= t && t <= s.t1Ms)
    val orphans = bySpan.getOrElse(-1L, Nil).flatMap(j => at(j.t0).map(_.id -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val planIv = plans.asScala.toSeq.flatten
    sorted.map { s =>
      val js = bySpan.getOrElse(s.id, Nil) ++ orphans.getOrElse(s.id, Nil)
      val pl = planIv.map(clip(_, s)).filter(i => i._2 > i._1)
      s.id -> Attributed(js, pl)
    }.toMap
  }

  /** Per-layer split over the spans of cycles `[0, cycles)`, summed and
    * divided by `cycles` (values are per cycle). */
  def layerSplit(cycles: Int): mutable.LinkedHashMap[String, Double] = {
    val att = attribute()
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    spans.filter(s => s.cycle >= 0 && s.cycle < cycles).foreach { s =>
      val a = att(s.id)
      val wall = s.t1Ms - s.t0Ms
      val execIv = a.jobs.map(j => clip((j.t0, if (j.t1 < 0) s.t1Ms else j.t1), s))
      val plan = union(a.plan); val exec = union(execIv)
      val busy = union(a.plan ++ execIv)
      val L = s.layer
      add(s"$L.wall_ms", (s.t1Ns - s.t0Ns) / 1e6)
      add(s"$L.plan_ms", plan.toDouble); add(s"$L.exec_ms", exec.toDouble)
      add(s"$L.gap_ms", math.max(0L, wall - busy).toDouble)
      add(s"$L.jobs", a.jobs.size.toDouble)
      add(s"$L.tasks", a.jobs.map(_.tasks.get).sum.toDouble)
      add(s"$L.bytes_read", a.jobs.map(_.bytesRead.get).sum.toDouble)
      add(s"$L.shuffle_bytes", a.jobs.map(_.shuffleBytes.get).sum.toDouble)
      add(s"$L.bytes_written", a.jobs.map(_.bytesWritten.get).sum.toDouble)
      s.extra.foreach { case (k, v) => add(s"$L.$k", v) }
    }
    out.keys.toSeq.foreach(k => out(k) = out(k) / cycles)
    out
  }

  /** Spans to `file`, one JSON object a line: every layer call, and under
    * it (when traced) its query executions' planning and its jobs. Times
    * are epoch milliseconds; `self_ms` is the span minus its children. */
  def writeSpans(file: File): Unit = {
    val att = if (traced) attribute() else Map.empty[Long, Attributed]
    val w = new PrintWriter(file, "UTF-8")
    try {
      var child = 0L
      spans.foreach { s =>
        val a = att.getOrElse(s.id, Attributed(Nil, Nil))
        val kids = a.plan.map(("plan", _, 0)) ++
          a.jobs.map(j => ("job", clip((j.t0, if (j.t1 < 0) s.t1Ms else j.t1), s), j.id))
        val self = (s.t1Ms - s.t0Ms) - union(kids.map(_._2))
        w.println(s"""{"id":"s${s.id}","name":"${s.layer}:${s.op}","cycle":${s.cycle},""" +
          s""""start":${s.t0Ms},"end":${s.t1Ms},"parent":null,"self_ms":$self}""")
        kids.foreach { case (kind, (a0, a1), jid) =>
          child += 1
          val nm = if (kind == "job") s"job $jid" else "plan"
          w.println(s"""{"id":"c$child","name":"$nm","start":$a0,"end":$a1,""" +
            s""""parent":"s${s.id}"}""")
        }
      }
    } finally w.close()
  }
}

object Tracer {
  /** One Spark job and the task metrics of its stages. */
  final class Job(val id: Int, val span: Long, val t0: Long, val stages: Seq[Int]) {
    @volatile var t1: Long = -1L
    val tasks = new AtomicLong; val bytesRead = new AtomicLong
    val shuffleBytes = new AtomicLong; val bytesWritten = new AtomicLong
  }
  /** The jobs and planning intervals that ran inside one span. */
  final case class Attributed(jobs: Seq[Job], plan: Seq[(Long, Long)])
}

/** JVM-level samples: GC totals and live heap after collection. */
object Jvm {
  private val gcs: Seq[GarbageCollectorMXBean] =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time used by the whole process so far, ns. */
  def cpuNs: Long = os.getProcessCpuTime

  /** (collections, collection milliseconds) so far. */
  def gc: (Long, Long) =
    (gcs.map(g => math.max(0L, g.getCollectionCount)).sum,
      gcs.map(g => math.max(0L, g.getCollectionTime)).sum)

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Heap each pool held right after its most recent collection, summed, MB.
    * Passive: the timed phase never forces a collection, because a full GC
    * after every cycle made G1 resize the heap differently from run to run
    * (13 vs 27 young collections per cycle on one seed) and whole runs
    * ~25% slower. */
  def collectedHeapMb: Double =
    heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Heap in use right after a forced full collection, MB — only outside
    * the timed phase. It collects twice, the second time after Spark's
    * ContextCleaner has had a moment to drop the broadcasts and shuffles the
    * first one found unreachable. */
  def liveHeapMb: Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
