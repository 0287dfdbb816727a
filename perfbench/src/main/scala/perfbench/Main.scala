package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload cow_ingest|mor_serve|query_mix --seed N --seconds S
  *      --trace 0|1 --work DIR --out FILE
  * }}}
  *
  * Set-up runs `SetupReps` times from scratch (the last copy is used), then
  * `Warmup` untimed cycles, then closed-loop cycles — each issued when the
  * previous one returns — until `--seconds` have passed, at least the
  * workload's `minCycles` have run and the cycle count is a whole number of
  * its `period`. Answers are checked against the reference model after the
  * loop. The result goes to `--out` as JSON; the spans go next to it.
  */
object Main {
  val SetupReps = 3
  /** Untimed cycles before the timed phase. After one, the next cycle
    * still ran 15-35% slow (JIT warm-up); after two, ~10%. A third did not
    * narrow the spread across runs, which the host sets. */
  val Warmup = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, out: File)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("out")))
  }

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = graft.core.GraftSession.tune(
        SparkSession.builder().master(s"local[$cpus]").appName("perfbench"), cpus)
      .withExtensions(new graft.sql.GraftExtensions)
      .config("spark.sql.catalog.gc", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.gc.warehouse", new File(work, "catalog").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val spark = session(a.work)
    val ctx = new Ctx(spark, new Tracer(spark, a.trace), a.seed, a.work, a.seconds)
    val w: Workload = a.workload match {
      case "cow_ingest" => new CowIngest(ctx)
      case "mor_serve" => new MorServe(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val json = try run(ctx, w, a) finally spark.stop()
    val pw = new PrintWriter(a.out, "UTF-8")
    try pw.println(json) finally pw.close()
  }

  private def run(ctx: Ctx, w: Workload, a: Args): String = {
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime(); w.setup(rep); (System.nanoTime() - t0) / 1e9
    }
    (0 until Warmup).foreach(_ => w.cycle())
    val heap = mutable.ArrayBuffer(Jvm.collectedHeapMb)
    val gc0 = Jvm.gc
    var gcK = gc0
    var cycles = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var stop = false
    while (!stop) {
      ctx.tracer.cycle = cycles
      try w.cycle()
      catch {
        case e: Exception =>
          ctx.fail(s"cycle $cycles threw ${e.getClass.getName}: ${e.getMessage}")
          stop = true
      }
      cycles += 1
      if (cycles == w.minCycles) gcK = Jvm.gc
      heap += Jvm.collectedHeapMb
      stop ||= !w.hasNext || elapsed > 4.0 * a.seconds ||
        (elapsed >= a.seconds && cycles >= w.minCycles && cycles % w.period == 0)
    }
    val runS = elapsed
    ctx.tracer.cycle = -1
    if (cycles < w.minCycles) gcK = Jvm.gc
    heap += Jvm.liveHeapMb
    ctx.tracer.drain()
    val traceCycles = math.max(1, math.min(w.minCycles, cycles))
    val split = if (a.trace) ctx.tracer.layerSplit(traceCycles) else null
    ctx.tracer.writeSpans(new File(a.out.getParentFile,
      s"spans-${a.workload}-${a.seed}-trace${if (a.trace) 1 else 0}.jsonl"))
    try w.check()
    catch { case e: Exception => ctx.fail(s"check threw ${e.getClass.getName}: ${e.getMessage}") }

    val ops = ctx.tracer.spans.filter(_.cycle >= 0)
    // A cycle's latency is the time spent inside its graft calls. The
    // periodic compaction is maintenance between cycles: it has its own
    // latency and counts in write_amp, and leaving it out keeps the cycle
    // median from landing on whichever normal cycle ran slowest.
    val cycleSpans = ops.filter(_.layer != "lake.compact").groupBy(_.cycle).values.toSeq
    val cycleS = cycleSpans.map(_.map(_.wallS).sum)
    val cycleCpuS = cycleSpans.map(_.map(_.cpuS).sum)
    val attempted = ops.size.toLong
    val failed = ctx.failures.size.toLong
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = Stats.p50("cycle_p50_s", cycleS) +:
      Stats.p50("cycle_cpu_p50_s", cycleCpuS) +: w.report(runS, Stats.median(setupS),
      heap.max, if (attempted == 0) 1.0 else failed.toDouble / attempted)
    if (a.trace) {
      val cyc = traceCycles.toDouble
      val gcd = (gcK._1 - gc0._1, gcK._2 - gc0._2)
      Layers.all.foreach { case (name, unit) =>
        metrics(name) = (Layers.value(split, name), unit)
      }
      metrics("jvm.gc_count") = (gcd._1 / cyc, "count")
      metrics("jvm.gc_ms") = (gcd._2 / cyc, "ms")
    }
    Json.result(failed == 0 && attempted > 0, attempted, failed, metrics.toSeq, report,
      ctx.failures.toSeq, cycleS, setupS)
  }
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val work: File, val seconds: Int) {
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  def fail(msg: String): Unit = { failures += msg; System.err.println(s"perfbench: FAIL $msg") }
  def conf: org.apache.hadoop.conf.Configuration = spark.sessionState.newHadoopConf()
}

/** One end-to-end metric of the report: value, unit, and for latencies the
  * sample count and the percentile used. */
final case class Reported(name: String, value: Double, unit: String, n: Int = 0,
    pct: Double = 0)

trait Workload {
  /** Cycles that always run; the per-layer split averages over them. */
  def minCycles: Int
  /** The timed phase ends on a multiple of this many cycles. */
  def period: Int = 1
  def setup(rep: Int): Unit
  def cycle(): Unit
  def hasNext: Boolean
  def check(): Unit
  def report(runS: Double, setupS: Double, heapMb: Double, failRate: Double): Seq[Reported]
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples beyond it
    * (p50 when there are too few samples for any). */
  def tailPct(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)

  def p50(name: String, xs: Seq[Double]): Reported =
    Reported(name, median(xs), "s", xs.size, 50)

  def tail(name: String, xs: Seq[Double]): Reported = {
    val p = tailPct(xs.size)
    Reported(name, quantile(xs, p / 100), "s", xs.size, p)
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))], report: Seq[Reported],
      failures: Seq[String], cycles: Seq[Double], setups: Seq[Double]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString(",")
    val rep = report.map { r =>
      val extra = if (r.n > 0) s""","n":${r.n},"pct":${num(r.pct)}""" else ""
      s"${str(r.name)}:{\"value\":${num(r.value)},\"unit\":${str(r.unit)}$extra}"
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms},""" +
      s""""report":{$rep},"failures":[${failures.take(20).map(str).mkString(",")}],""" +
      s""""cycles_s":[${cycles.map(num).mkString(",")}],""" +
      s""""setups_s":[${setups.map(num).mkString(",")}]}"""
  }
}

/** The per-layer metrics of a traced run, in `BENCHMARK.json` order. Every
  * layer reports the same split; a layer a workload does not call reads 0. */
object Layers {
  private val split = Seq("wall_ms" -> "ms", "plan_ms" -> "ms", "exec_ms" -> "ms",
    "gap_ms" -> "ms", "jobs" -> "count", "tasks" -> "count", "bytes_read" -> "bytes",
    "shuffle_bytes" -> "bytes", "bytes_written" -> "bytes")

  private val extras: Seq[(String, Seq[(String, String)])] = Seq(
    "cdc" -> Seq("rows_in" -> "count", "dup_rows" -> "count"),
    "lake.upsert" -> Seq("files_added" -> "count", "files_removed" -> "count",
      "log_files_added" -> "count", "passthrough_ratio" -> "ratio"),
    "lake.changes" -> Seq("rows_out" -> "count", "bytes_read_per_row_out" -> "bytes/row"),
    "lake.mv_refresh" -> Seq("rows_out" -> "count"),
    "lake.read" -> Seq("logs_merged" -> "count", "bytes_read_ratio" -> "ratio"),
    "lake.compact" -> Seq("bytes_rewritten" -> "bytes", "logs_folded" -> "count"),
    "lake.commitlog" -> Seq("versions" -> "count",
      "checkpoints" -> "count", "log_bytes" -> "bytes", "live_files" -> "count"),
    "sql" -> Seq("mv_rewrite_hits" -> "count", "metadata_only_hits" -> "count",
      "bytes_read_ratio" -> "ratio"))

  /** (name, unit) of every per-layer metric except the `jvm` pair. */
  val all: Seq[(String, String)] = extras.flatMap { case (layer, ex) =>
    (split ++ ex).map { case (m, u) => s"$layer.$m" -> u }
  }

  /** Ratios are taken over the summed numerator and denominator. */
  private val ratios = Map(
    "lake.upsert.passthrough_ratio" -> ("lake.upsert.passthrough_rows", "lake.upsert.rows_written"),
    "lake.changes.bytes_read_per_row_out" -> ("lake.changes.bytes_read", "lake.changes.rows_out"),
    "lake.read.bytes_read_ratio" -> ("lake.read.bytes_read", "lake.read.live_bytes"),
    "sql.bytes_read_ratio" -> ("sql.bytes_read", "sql.live_bytes"))

  def value(split: collection.Map[String, Double], name: String): Double =
    ratios.get(name) match {
      case Some((num, den)) =>
        val d = split.getOrElse(den, 0.0)
        if (d == 0) 0.0 else split.getOrElse(num, 0.0) / d
      case None => split.getOrElse(name, 0.0)
    }
}
