package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

import graft.cdc.Normalize
import graft.lake.{Commit, CommitLog, FileAction, LakeTable, MaterializedView, MvAgg, TableSpec}
import graft.sources.AvroSource
import graft.sql.GraftMvRewrite

/** What the three workloads share: the generator's landed batches, the
  * commit-log probe at the start of every cycle, and latencies by op. */
abstract class Common(c: Ctx) extends Workload {
  protected val Days = 32
  protected var dir: File = _
  protected var path: String = _

  /** Timed-phase latencies by op name, in cycle order. */
  protected def lat(op: String): Seq[Double] =
    c.tracer.spans.filter(s => s.cycle >= 0 && s.op == op).map(_.wallS).toSeq

  protected def fresh(name: String, rep: Int): Unit = {
    dir = new File(c.work, s"$name/r$rep")
    dir.mkdirs()
    path = new File(dir, "table").getAbsolutePath
  }

  protected def writeBatches(gen: Gen, n: Int): Seq[(Batch, File)] =
    (0 until n).map { b =>
      val bt = gen.nextBatch()
      val f = new File(dir, f"landing/batch-$b%05d/part-00000.avro")
      f.getParentFile.mkdirs()
      gen.writeAvro(bt, f, backfill = false, syncSeed = b + 1)
      (bt, f)
    }

  protected def readBatch(f: File): DataFrame =
    Normalize.ingest(AvroSource.read(c.spark, f.getParentFile.getAbsolutePath))

  protected def fullLoad(gen: Gen, spec: TableSpec): LakeTable = {
    val full = new File(dir, "landing/full")
    gen.writeFullLoad(full, files = 4)
    LakeTable.create(c.spark, path, spec,
      Normalize.ingest(AvroSource.read(c.spark, full.getAbsolutePath)), bulkInsert = true)
  }

  protected def latestCommit: Commit = {
    val conf = c.conf
    CommitLog.read(path, CommitLog.latestVersion(path, conf).get, conf)
  }

  /** Open the table and resolve its snapshot, as any op does first. */
  protected def load(): (LakeTable, Seq[FileAction]) = {
    val ((t, live), s) = c.tracer.span("lake.commitlog", "load") {
      val t = LakeTable.load(c.spark, path)
      (t, CommitLog.liveFiles(path, None, c.conf))
    }
    val conf = c.conf
    val logDir = CommitLog.logDir(path)
    val fs = logDir.getFileSystem(conf)
    var logBytes = 0L
    val it = fs.listFiles(logDir, true)
    while (it.hasNext) logBytes += it.next().getLen
    s.extra("versions") = CommitLog.listVersions(path, conf).size
    s.extra("checkpoints") = CommitLog.listCheckpoints(path, conf).size
    s.extra("log_bytes") = logBytes.toDouble
    s.extra("live_files") = live.size
    (t, live)
  }

  /** Run `text` through `spark.sql` as one `sql` call and return its rows
    * rendered `a|b|c`, sorted. Records whether the plan read an MV's state
    * (`mvPath`) or only commit-log metadata (no leaf but a local relation). */
  protected def sqlCall(cls: String, text: String, mvPath: String,
      liveBytes: Double): Seq[String] = {
    val ((rows, plan), s) = c.tracer.span("sql", cls) {
      val df = c.spark.sql(text)
      (df.collect(), df.queryExecution.optimizedPlan)
    }
    val state = new File(mvPath, "state").getAbsolutePath
    val mvHit = plan.collect { case l: LogicalRelation => l.relation }.exists {
      case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toUri.getPath.startsWith(state))
      case _ => false
    }
    s.extra("live_bytes") = liveBytes
    s.extra("mv_rewrite_hits") = if (mvHit) 1 else 0
    s.extra("metadata_only_hits") =
      if (plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) 1 else 0
    rows.map(_.toSeq.mkString("|")).toSeq.sorted
  }

  /** Table rows as the model renders them, sorted by key. */
  protected def tableRows(df: DataFrame): Array[Model.Row] =
    df.select(col("pk_id"), col("name"), col("value"), col("updated_at"), col("created_at"),
        col("source_metadata.is_deleted")).collect()
      .map(r => Model.Row(r.getInt(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4),
        r.getBoolean(5)))
      .sortBy(_.pk)

  protected def checkState(what: String, got: Array[Model.Row], want: Model): Unit = {
    val exp = want.rows.toArray
    if (got.length != exp.length) c.fail(s"$what: ${got.length} rows, model has ${exp.length}")
    else got.zip(exp).find { case (g, e) => g != e }.foreach { case (g, e) =>
      c.fail(s"$what: row $g, model has $e")
    }
  }
}

/** CDC batches applied to a keyed table: read+normalize+upsert per cycle. */
abstract class Ingest(c: Ctx, stream: Int, mor: Boolean) extends Common(c) {
  protected val Keys = 20000
  protected val Events = 500
  protected var batches: IndexedSeq[(Batch, File)] = IndexedSeq.empty
  protected var next = 0
  protected var table: LakeTable = _
  // timed-phase totals
  protected var applied = 0L
  protected var bytesAdded = 0L
  protected var bytesLanded = 0L
  protected val applyS: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  protected def name: String
  protected def spec: TableSpec =
    TableSpec("pk_id", "updated_at", partition = Some("created_at"), mor = mor)
  def hasNext: Boolean = next < batches.size

  def setup(rep: Int): Unit = {
    fresh(name, rep)
    val gen = new Gen(c.seed, stream, Keys, Days, Events)
    table = fullLoad(gen, spec)
    // a cycle takes seconds, so this many batches outlast any timed phase
    batches = writeBatches(gen, Main.Warmup + 2 * minCycles + c.seconds).toIndexedSeq
    next = 0
  }

  protected def timed: Boolean = c.tracer.cycle >= 0

  /** Apply the next landed batch; returns its index. */
  protected def applyNext(t: LakeTable): Int = {
    val b = next
    next += 1
    val (bt, f) = batches(b)
    val (df, cs) = c.tracer.span("cdc", "read+normalize")(readBatch(f))
    cs.extra("rows_in") = bt.size
    cs.extra("dup_rows") = bt.dups
    val (_, us) = c.tracer.span("lake.upsert", "upsert")(t.upsert(df))
    val cm = latestCommit
    val written = cm.add.map(_.rows).sum
    us.extra("files_added") = cm.add.count(!_.log)
    us.extra("files_removed") = cm.remove.size
    us.extra("log_files_added") = cm.add.count(_.log)
    us.extra("rows_written") = written
    us.extra("passthrough_rows") = math.max(0L, written - bt.inserts - bt.updates)
    if (timed) {
      applyS += cs.wallS + us.wallS
      applied += bt.size
      bytesAdded += cm.add.map(_.bytes).sum
      bytesLanded += f.length
    }
    b
  }

  protected def replay(): Gen = new Gen(c.seed, stream, Keys, Days, Events)

  protected def ingestReport(runS: Double, setupS: Double, heapMb: Double,
      failRate: Double): Seq[Reported] = Seq(
    Reported("setup_s", setupS, "s"),
    Reported("run_s", runS, "s"),
    Stats.p50("apply_p50_s", applyS.toSeq),
    Reported("ingest_rows_per_s", applied / applyS.sum, "rows/s"),
    Reported("write_amp", bytesAdded.toDouble / bytesLanded, "ratio"),
    Reported("live_heap_peak_mb", heapMb, "MB"),
    Reported("op_failure_rate", failRate, "ratio"))
}

/** `cow_ingest`: upsert + change feed + MV refresh on a CoW table, then the
  * SQL reads the refresh makes cheap: the MV-answerable aggregate, over the
  * catalog table and over a `format("graft")` view of it, and the
  * commit-log-only COUNT/MIN/MAX. */
final class CowIngest(c: Ctx) extends Ingest(c, 1, mor = false) {
  protected def name = "cow_ingest"
  def minCycles = 2
  private var mv: MaterializedView = _
  private var tableName: String = _
  private var viewName: String = _
  // (batch, query class, rows) recorded in the loop, checked after it
  private val answers = mutable.ArrayBuffer.empty[(Int, String, Seq[String])]

  override def setup(rep: Int): Unit = {
    super.setup(rep)
    GraftMvRewrite.clear()
    mv = MaterializedView.create(c.spark, new File(dir, "mv").getAbsolutePath, table,
      Seq("name"), Seq(MvAgg("n", "count", "*"), MvAgg("s", "sum", "value")))
    GraftMvRewrite.register(mv.path)
    tableName = s"gc.default.cow_r$rep"
    c.spark.sql(s"CREATE TABLE $tableName USING graft LOCATION '$path'")
    // the same table as a `format("graft")` relation, which the MV rewrite
    // matches by path (the catalog table above is not rewritten at HEAD)
    viewName = s"cow_view_r$rep"
    c.spark.read.format("graft").load(path).createOrReplaceTempView(viewName)
    answers.clear()
  }

  def cycle(): Unit = {
    val (t, live) = load()
    val prev = t.latestVersion
    val b = applyNext(t)
    val (rows, ss) = c.tracer.span("lake.changes", "changes") {
      t.changes(prev).groupBy("_change_type").count().collect()
    }
    val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val bt = batches(b)._1
    val want = Map("insert" -> bt.inserts.toLong, "update_postimage" -> bt.updates.toLong)
    if (got != want) c.fail(s"batch $b change feed $got, generator counts $want")
    ss.extra("rows_out") = got.values.sum
    val (_, ms) = c.tracer.span("lake.mv_refresh", "refresh")(mv.refresh())
    val st = mv.state.path
    val conf = c.conf
    ms.extra("rows_out") =
      CommitLog.read(st, CommitLog.latestVersion(st, conf).get, conf).add.map(_.rows).sum
    val liveBytes = live.map(_.bytes).sum.toDouble
    Seq("mv" -> tableName, "mv_view" -> viewName).foreach { case (op, from) =>
      answers += ((b, "mv", sqlCall(op,
        s"SELECT name, count(*) AS n, sum(value) AS s FROM $from GROUP BY name",
        mv.path, liveBytes)))
    }
    answers += ((b, "meta", sqlCall("meta",
      s"SELECT count(*), min(pk_id), max(pk_id) FROM $tableName", mv.path, liveBytes)))
  }

  def check(): Unit = {
    val gen = replay()
    val byBatch = answers.groupBy(_._1)
    (0 until next).foreach { b =>
      gen.nextBatch()
      val rows = gen.model.rows.toSeq
      byBatch.getOrElse(b, Nil).foreach { case (_, cls, got) =>
        val want = if (cls == "mv") {
          rows.groupBy(_.name).map { case (n, rs) => s"$n|${rs.size}|${rs.map(_.value.toLong).sum}" }
            .toSeq.sorted
        } else Seq(s"${rows.size}|${rows.map(_.pk).min}|${rows.map(_.pk).max}")
        if (got != want) c.fail(s"cow_ingest batch $b sql $cls: got $got, model has $want")
      }
    }
    val t = LakeTable.load(c.spark, path)
    checkState("cow_ingest final table", tableRows(t.read()), gen.model)
    val view = mv.read().select("name", "n", "s").collect().map(_.toSeq).toSet
    val recompute = t.read().groupBy("name").agg(count(lit(1)), sum("value"))
      .collect().map(_.toSeq).toSet
    if (view != recompute) c.fail(s"MV has ${view.size} groups that differ from a recompute")
  }

  def report(runS: Double, setupS: Double, heapMb: Double, failRate: Double): Seq[Reported] =
    ingestReport(runS, setupS, heapMb, failRate) ++ Seq(
      Stats.p50("cdf_read_p50_s", lat("changes")),
      Stats.p50("mv_refresh_p50_s", lat("refresh")))
}

/** `mor_serve`: MoR upserts, each followed by a fixed read set; an explicit
  * compaction every `CompactEvery` batches. */
final class MorServe(c: Ctx) extends Ingest(c, 2, mor = true) {
  protected def name = "mor_serve"
  private val CompactEvery = 2
  private val Lookups = 2
  /** The last warm-up batch compacts, then every `CompactEvery`-th timed one. */
  private def compactsAfter(b: Int): Boolean = (b - Main.Warmup + 1) % CompactEvery == 0
  def minCycles = CompactEvery
  override def period = CompactEvery
  // (batch, op, answer) recorded in the loop, checked after it
  private val answers = mutable.ArrayBuffer.empty[(Int, String, Seq[String])]

  override def setup(rep: Int): Unit = { super.setup(rep); answers.clear() }

  private def lookupKeys(b: Int): Seq[Int] = {
    val rnd = new java.util.SplittableRandom(c.seed * 7919L + b)
    val maxKey = Keys + (b + 1) * (Events * 15 / 100)
    (0 until Lookups).map(i =>
      if (i % 2 == 0) 1 + rnd.nextInt(maxKey) // anywhere
      else maxKey - rnd.nextInt(Keys / Days)) // the newest day
  }

  def cycle(): Unit = {
    val (t, _) = load()
    val b = applyNext(t)
    val live = CommitLog.liveFiles(path, None, c.conf)
    def readExtras(s: Span): Unit = {
      s.extra("logs_merged") = live.count(_.log)
      s.extra("live_bytes") = live.map(_.bytes).sum.toDouble
    }
    val (rt, rs) = c.tracer.span("lake.read", "realtime_agg") {
      t.realtime().agg(count(lit(1)), sum("value"),
        sum(when(col("source_metadata.is_deleted"), 1L).otherwise(0L))).collect()
    }
    readExtras(rs)
    answers += ((b, "rt", rt.head.toSeq.map(String.valueOf)))
    val (ro, os) = c.tracer.span("lake.read", "ro_agg") {
      t.readOptimized().agg(count(lit(1)), sum("value")).collect()
    }
    readExtras(os)
    answers += ((b, "ro", ro.head.toSeq.map(String.valueOf)))
    lookupKeys(b).foreach { k =>
      val (rows, ls) = c.tracer.span("lake.read", "lookup") {
        t.readWhere(Seq(EqualTo("pk_id", k))).filter(col("pk_id") === k)
          .select("value", "updated_at", "source_metadata.is_deleted").collect()
      }
      readExtras(ls)
      answers += ((b, s"key $k", rows.map(_.toSeq.mkString(",")).toSeq))
    }
    if (compactsAfter(b)) {
      val logs = live.filter(_.log).map(_.path).toSet
      val (_, cs) = c.tracer.span("lake.compact", "compact")(t.compact())
      val cm = latestCommit
      cs.extra("bytes_rewritten") = cm.add.map(_.bytes).sum.toDouble
      cs.extra("logs_folded") = cm.remove.count(logs.contains)
      if (timed) bytesAdded += cm.add.map(_.bytes).sum
    }
  }

  def check(): Unit = {
    val gen = replay()
    var ro = gen.model.copy()
    val byBatch = answers.groupBy(_._1)
    (0 until next).foreach { b =>
      val bt = gen.nextBatch()
      (0 until bt.size).filter(bt.kind(_) == Gen.Insert).foreach { i =>
        ro.apply(bt.pk(i), bt.name(i), bt.value(i), bt.updated(i), bt.created(i), false)
      }
      val m = gen.model
      val (n, s, d) = m.totals
      val (rn, rsum, _) = ro.totals
      byBatch.getOrElse(b, Nil).foreach { case (_, op, got) =>
        val want = op match {
          case "rt" => Seq(n, s, d).map(_.toString)
          case "ro" => Seq(rn, rsum).map(_.toString)
          case key =>
            val k = key.stripPrefix("key ").toInt
            if (!m.exists(k)) Nil
            else Seq(s"${m.value(k)},${m.updated(k)},${m.isDeleted(k)}")
        }
        if (got != want) c.fail(s"mor_serve batch $b $op: got $got, model has $want")
      }
      if (compactsAfter(b)) ro = m.copy()
    }
    checkState("mor_serve final table",
      tableRows(LakeTable.load(c.spark, path).read()), gen.model)
  }

  def report(runS: Double, setupS: Double, heapMb: Double, failRate: Double): Seq[Reported] = {
    val lookups = lat("lookup")
    ingestReport(runS, setupS, heapMb, failRate) ++ Seq(
      Stats.p50("snapshot_read_p50_s", lat("realtime_agg")),
      Stats.p50("point_lookup_p50_s", lookups),
      Stats.tail("point_lookup_tail_s", lookups),
      Stats.p50("compact_p50_s", lat("compact")))
  }
}

/** `query_mix`: read-only SQL rounds over a CoW table with history, stats,
  * a bloom column and a registered MV. */
final class QueryMix(c: Ctx) extends Common(c) {
  import QueryMix.Answer
  private val Keys = 20000
  private val Churn = 2
  private val ChurnEvents = 500
  /** metadata-only commits after the churn, enough to reach a checkpoint */
  private val PolicyCommits = CommitLog.CHECKPOINT_INTERVAL - Churn - 1
  def minCycles = 3
  def hasNext = true
  private var gen: Gen = _
  private var tableName: String = _
  private var mvPath: String = _
  /** table version after each churn batch */
  private var versions: IndexedSeq[Long] = IndexedSeq.empty
  private var round = 0
  private val answers = mutable.ArrayBuffer.empty[Answer]

  def setup(rep: Int): Unit = {
    fresh("query_mix", rep)
    GraftMvRewrite.clear()
    gen = new Gen(c.seed, 3, Keys, Days, ChurnEvents)
    val t = fullLoad(gen, TableSpec("pk_id", "updated_at", partition = Some("created_at"),
      statsColumns = Seq("updated_at"), bloomColumns = Seq("uuid")))
    versions = writeBatches(gen, Churn).map { case (_, f) =>
      t.upsert(readBatch(f)); t.latestVersion
    }.toIndexedSeq
    t.analyze(Seq("pk_id", "name", "value", "updated_at", "created_at"))
    (1 to PolicyCommits).foreach(i => t.setProperties(Map("bloomBitsPerKey" -> s"${9 + i}")))
    mvPath = new File(dir, "mv").getAbsolutePath
    MaterializedView.create(c.spark, mvPath, t, Seq("name"),
      Seq(MvAgg("n", "count", "*"), MvAgg("s", "sum", "value")))
    GraftMvRewrite.register(mvPath)
    tableName = s"gc.default.cdc_r$rep"
    c.spark.sql(s"CREATE TABLE $tableName USING graft LOCATION '$path'")
    round = 0
    answers.clear()
  }

  /** One round's queries: (class, SQL with `{t}` for the table, as-of
    * version or -1 for the latest). */
  private def queries(r: Int): Seq[(String, String, Long)] = {
    val rnd = new java.util.SplittableRandom(c.seed * 104729L + r)
    val m = gen.model
    def key(): Int = { var k = 0; while (!m.exists(k)) k = 1 + rnd.nextInt(m.keyLimit); k }
    val lookups = Seq.fill(2)(key()).map(k => ("lookup",
      s"SELECT pk_id, name, value, updated_at FROM {t} WHERE pk_id = $k", -1L))
    val u = { val k = key(); Gen.uuidOf(k, m.updated(k)) }
    val d = rnd.nextInt(Days - 4)
    val asOf = versions(rnd.nextInt(Churn))
    val v1 = rnd.nextInt(Churn - 1)
    val v2 = v1 + 1 + rnd.nextInt(Churn - 1 - v1)
    lookups ++ Seq(
      ("bloom", s"SELECT pk_id, value FROM {t} WHERE uuid = '$u'", -1L),
      ("range", s"SELECT count(*), sum(value) FROM {t} WHERE created_at >= " +
        s"${Gen.dayStart(d)} AND created_at < ${Gen.dayStart(d + 4)}", -1L),
      ("meta", "SELECT count(*), min(pk_id), max(pk_id) FROM {t}", -1L),
      ("mv", "SELECT name, count(*) AS n, sum(value) AS s FROM {t} GROUP BY name", -1L),
      ("full", "SELECT count(*), sum(value), max(updated_at - created_at) FROM {t}", -1L),
      ("asof", "SELECT count(*), sum(value) FROM {t}", asOf),
      ("cdf", "SELECT _change_type, count(*) FROM table_changes('" + path +
        s"', ${versions(v1)}, ${versions(v2)}) GROUP BY _change_type", -1L))
  }

  def cycle(): Unit = {
    val (_, live) = load()
    val liveBytes = live.map(_.bytes).sum.toDouble
    queries(round).foreach { case (cls, sql, asOf) =>
      val text = sql.replace("{t}",
        if (asOf < 0) tableName else s"$tableName VERSION AS OF $asOf")
      answers += Answer(cls, sql, asOf, sqlCall(cls, text, mvPath, liveBytes))
    }
    round += 1
  }

  /** Every answer against the same SQL over plain Spark tables built from
    * the reference model at the answer's version. */
  def check(): Unit = {
    val g = new Gen(c.seed, 3, Keys, Days, ChurnEvents)
    val states = mutable.ArrayBuffer(g.model.copy()) // after 0..Churn batches
    (0 until Churn).foreach { _ => g.nextBatch(); states += g.model.copy() }
    def stateAt(v: Long): Int = if (v < 0) Churn else versions.count(_ <= v)
    import c.spark.implicits._
    val views = mutable.Map.empty[Int, String]
    def view(s: Int): String = views.getOrElseUpdate(s, {
      val m = states(s)
      val df = m.rows.map(r => (r.pk, r.name, r.value, r.updated, r.created,
        Gen.uuidOf(r.pk, r.updated))).toSeq
        .toDF("pk_id", "name", "value", "updated_at", "created_at", "uuid").cache()
      df.createOrReplaceTempView(s"ref_$s")
      s"ref_$s"
    })
    val expected = mutable.Map.empty[(String, Long), Seq[String]]
    answers.foreach { a =>
      val want = expected.getOrElseUpdate((a.sql, a.asOf), a.cls match {
        case "cdf" =>
          val v = a.sql.split("', ")(1).takeWhile(_ != ')').split(", ").map(_.trim.toLong)
          val (m1, m2) = (states(stateAt(v(0))), states(stateAt(v(1))))
          val ins = (0 until m2.keyLimit).count(k => m2.exists(k) && !m1.exists(k))
          val upd = (0 until m2.keyLimit).count(k =>
            m1.exists(k) && m2.exists(k) && m1.updated(k) != m2.updated(k))
          Seq(s"insert|$ins", s"update_postimage|$upd").filterNot(_.endsWith("|0")).sorted
        case _ =>
          c.spark.sql(a.sql.replace("{t}", view(stateAt(a.asOf)))).collect()
            .map(_.toSeq.mkString("|")).toSeq.sorted
      })
      if (a.rows != want) c.fail(s"query_mix ${a.cls} `${a.sql}`: got ${a.rows}, " +
        s"plain Spark has $want")
    }
    views.values.foreach(v => c.spark.catalog.dropTempView(v))
  }

  def report(runS: Double, setupS: Double, heapMb: Double, failRate: Double): Seq[Reported] = {
    val all = c.tracer.spans.filter(s => s.cycle >= 0 && s.layer == "sql").map(_.wallS).toSeq
    val lookups = lat("lookup")
    Seq(
      Reported("setup_s", setupS, "s"),
      Reported("run_s", runS, "s"),
      Stats.p50("snapshot_read_p50_s", lat("full")),
      Stats.p50("point_lookup_p50_s", lookups),
      Stats.tail("point_lookup_tail_s", lookups),
      Stats.p50("query_p50_s", all),
      Stats.tail("query_tail_s", all),
      Reported("live_heap_peak_mb", heapMb, "MB"),
      Reported("op_failure_rate", failRate, "ratio"))
  }
}

object QueryMix {
  private final case class Answer(cls: String, sql: String, asOf: Long, rows: Seq[String])
}
