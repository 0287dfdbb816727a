package perfbench

import java.io.{File, FileOutputStream}
import java.util.UUID

import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** One generated CDC batch, as primitive columns in file order (shuffled
  * relative to event time). `kind`: 0 insert, 1 update, 2 delete. */
final case class Batch(pk: Array[Int], name: Array[Short], value: Array[Int],
    updated: Array[Long], created: Array[Long], kind: Array[Byte],
    /** distinct new keys */
    inserts: Int,
    /** distinct pre-existing keys changed (updates and tombstones) */
    updates: Int,
    /** extra events for a key already in the batch (latest one wins) */
    dups: Int,
    /** first event's log position; events are numbered in time order */
    logPos0: Long) {
  def size: Int = pk.length
}

/** Seeded Datastream CDC generator for the showcase table
  * (`pk_id, name, value, updated_at, created_at`, FIXTURES.md §2).
  *
  * The full load has keys `1..nKeys`, key `k` created on day
  * `(k-1)*days/nKeys`, so `created_at` sits on `days` day boundaries. Each
  * batch of `batchEvents` events is ~80% updates skewed to the most recent
  * days, ~15% inserts into the newest day and ~5% tombstones; ~10% of the
  * updated keys get a second, later event in the same batch. Every event
  * takes the next second of a global clock as its `updated_at`, so no two
  * events of a key tie. A tombstoned key never changes again.
  *
  * The generator's own state is the [[Model]] after every batch it has
  * produced; replaying a seed reproduces it exactly.
  */
final class Gen(seed: Long, stream: Int, val nKeys: Int, val days: Int,
    val batchEvents: Int) {
  import Gen._

  private val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)
  val model = new Model(nKeys + 1)
  private var maxKey = nKeys
  private var clock = dayStart(days)
  private var logPos = 0L

  (1 to nKeys).foreach { k =>
    val created = dayStart(((k - 1).toLong * days / nKeys).toInt)
    model.apply(k, rnd.nextInt(Model.names.size), rnd.nextInt(1000),
      created + rnd.nextInt(86400), created, deleted = false)
  }

  private def keyInDay(d: Int): Int = {
    val lo = (d.toLong * nKeys / days).toInt + 1
    val hi = ((d + 1).toLong * nKeys / days).toInt
    val extra = if (d == days - 1) maxKey - nKeys else 0
    val r = rnd.nextInt(hi - lo + 1 + extra)
    if (r <= hi - lo) lo + r else nKeys + 1 + (r - (hi - lo + 1))
  }

  /** A live key not yet touched by this batch, days drawn from an
    * exponential with a mean of `Skew` days back from the newest. */
  private def pickExisting(touched: java.util.BitSet): Int = {
    var k = -1
    while (k < 0) {
      val back = math.min(days - 1, (-math.log(1 - rnd.nextDouble()) * Skew).toInt)
      val c = keyInDay(days - 1 - back)
      if (!model.isDeleted(c) && !touched.get(c)) k = c
    }
    touched.set(k)
    k
  }

  def nextBatch(): Batch = {
    val nIns = batchEvents * 15 / 100
    val nDel = batchEvents * 5 / 100
    val nUpd = batchEvents - nIns - nDel
    val nDup = nUpd / 11 // ~10% of the updated keys get a second event
    val nUpdKeys = nUpd - nDup
    val n = batchEvents
    val pk = new Array[Int](n); val name = new Array[Short](n)
    val value = new Array[Int](n); val upd = new Array[Long](n)
    val cre = new Array[Long](n); val kind = new Array[Byte](n)
    val touched = new java.util.BitSet(maxKey + nIns + 1)
    var i = 0
    def emit(k: Int, nm: Int, v: Int, created: Long, kd: Byte): Unit = {
      clock += 1
      pk(i) = k; name(i) = nm.toShort; value(i) = v; upd(i) = clock
      cre(i) = created; kind(i) = kd
      model.apply(k, nm, v, clock, created, deleted = kd == Delete)
      i += 1
    }
    val updKeys = Array.fill(nUpdKeys)(pickExisting(touched))
    val delKeys = Array.fill(nDel)(pickExisting(touched))
    def updateOf(k: Int): Unit = {
      val nm = if (rnd.nextInt(5) == 0) rnd.nextInt(Model.names.size) else model.name(k)
      emit(k, nm, rnd.nextInt(1000), model.created(k), Update)
    }
    updKeys.foreach(updateOf)
    (0 until nDup).foreach(j => updateOf(updKeys(j * 7 % nUpdKeys)))
    (0 until nIns).foreach { _ =>
      maxKey += 1
      emit(maxKey, rnd.nextInt(Model.names.size), rnd.nextInt(1000), dayStart(days - 1), Insert)
    }
    delKeys.foreach(k => emit(k, model.name(k), model.value(k), model.created(k), Delete))
    // file order is shuffled relative to event time
    val order = (0 until n).toArray
    var j = n - 1
    while (j > 0) {
      val r = rnd.nextInt(j + 1); val t = order(j); order(j) = order(r); order(r) = t; j -= 1
    }
    val b = Batch(order.map(pk), order.map(name), order.map(value), order.map(upd),
      order.map(cre), order.map(kind), nIns, nUpdKeys + nDel, nDup, logPos)
    logPos += n
    b
  }

  /** The full load as backfill INSERT events, `files` Avro files in `dir`. */
  def writeFullLoad(dir: File, files: Int): Unit = {
    dir.mkdirs()
    val keys = (1 to nKeys).toArray
    val per = (nKeys + files - 1) / files
    keys.grouped(per).zipWithIndex.foreach { case (ks, f) =>
      val b = Batch(ks, ks.map(k => model.name(k).toShort), ks.map(model.value),
        ks.map(model.updated), ks.map(model.created), ks.map(_ => Insert), ks.length, 0, 0, 0L)
      writeAvro(b, new File(dir, f"part-$f%05d.avro"), backfill = true, syncSeed = f)
    }
  }

  /** Write `b` as one Datastream-envelope Avro file. The sync marker is
    * derived from the seed, so equal seeds give byte-identical files. */
  def writeAvro(b: Batch, file: File, backfill: Boolean, syncSeed: Int): Unit = {
    val sync = new Array[Byte](16)
    new java.util.Random(seed * 31 + stream * 7919L + syncSeed).nextBytes(sync)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](EnvelopeAvro))
    val out = new FileOutputStream(file)
    w.create(EnvelopeAvro, out, sync)
    try {
      val sortKeyT = EnvelopeAvro.getField("sort_keys").schema.getElementType
      val metaT = EnvelopeAvro.getField("source_metadata").schema
      val payT = EnvelopeAvro.getField("payload").schema
      val method = if (backfill) "mysql-backfill-fulldump" else "mysql-cdc-binlog"
      (0 until b.size).foreach { i =>
        val pos = if (backfill) 0L else b.logPos0 + i
        val readMicros = (if (backfill) clock0 else b.updated(i) + 5) * Micros
        val sk = new GenericData.Record(sortKeyT)
        sk.put("member0", "mysql-bin.000001"); sk.put("member1", pos)
        val meta = new GenericData.Record(metaT)
        meta.put("table", "hudi_delta_test"); meta.put("database", "demo")
        meta.put("primary_keys", java.util.List.of("pk_id"))
        meta.put("log_file", if (backfill) null else "mysql-bin.000001")
        meta.put("log_position", pos)
        meta.put("change_type", b.kind(i) match {
          case Insert => "INSERT"; case Update => "UPDATE-INSERT"; case _ => "DELETE"
        })
        meta.put("is_deleted", b.kind(i) == Delete)
        val pay = new GenericData.Record(payT)
        pay.put("pk_id", b.pk(i)); pay.put("name", Model.names(b.name(i)))
        pay.put("value", b.value(i)); pay.put("updated_at", b.updated(i) * Micros)
        pay.put("created_at", b.created(i) * Micros)
        val r = new GenericData.Record(EnvelopeAvro)
        r.put("uuid", uuidOf(b.pk(i), b.updated(i)))
        r.put("read_timestamp", readMicros)
        r.put("source_timestamp", b.updated(i) * Micros)
        r.put("object", "demo_hudi_delta_test"); r.put("read_method", method)
        r.put("stream_name", "projects/111/locations/us-central1/streams/demo-stream")
        r.put("schema_key", "demo_schema")
        r.put("sort_keys", java.util.List.of(sk))
        r.put("source_metadata", meta); r.put("payload", pay)
        w.append(r)
      }
    } finally w.close()
  }

  private val clock0 = dayStart(days)
}

object Gen {
  val Insert: Byte = 0
  val Update: Byte = 1
  val Delete: Byte = 2
  private val Skew = 2.0
  private val Micros = 1000000L
  /** 2023-01-01T00:00:00Z, the first day partition. */
  val Epoch0 = 1672531200L

  def dayStart(d: Int): Long = Epoch0 + d * 86400L

  /** Event id of the row version `(pk, updated)`. */
  def uuidOf(pk: Int, updated: Long): String =
    UUID.nameUUIDFromBytes(s"$pk:$updated".getBytes("UTF-8")).toString

  private def ts: String =
    """{"type":"long","logicalType":"timestamp-micros"}"""
  private def opt(t: String): String = s"""["null",$t]"""

  /** The Datastream envelope (FIXTURES.md §2) as an Avro record schema. */
  val EnvelopeAvro: AvroSchema = new AvroSchema.Parser().parse(
    s"""{"type":"record","name":"envelope","fields":[
       |{"name":"uuid","type":"string"},
       |{"name":"read_timestamp","type":$ts},
       |{"name":"source_timestamp","type":$ts},
       |{"name":"object","type":"string"},
       |{"name":"read_method","type":"string"},
       |{"name":"stream_name","type":"string"},
       |{"name":"schema_key","type":"string"},
       |{"name":"sort_keys","type":{"type":"array","items":{"type":"record",
       |  "name":"sort_key","fields":[{"name":"member0","type":"string"},
       |  {"name":"member1","type":"long"}]}}},
       |{"name":"source_metadata","type":{"type":"record","name":"source_metadata",
       |  "fields":[{"name":"table","type":"string"},{"name":"database","type":"string"},
       |  {"name":"primary_keys","type":{"type":"array","items":"string"}},
       |  {"name":"log_file","type":${opt("\"string\"")}},
       |  {"name":"log_position","type":"long"},
       |  {"name":"change_type","type":"string"},
       |  {"name":"is_deleted","type":"boolean"}]}},
       |{"name":"payload","type":{"type":"record","name":"payload","fields":[
       |  {"name":"pk_id","type":"int"},{"name":"name","type":"string"},
       |  {"name":"value","type":"int"},{"name":"updated_at","type":$ts},
       |  {"name":"created_at","type":$ts}]}}
       |]}""".stripMargin)
}
