package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def batchFiles(seed: Long, n: Int): Seq[Array[Byte]] = {
    val dir = Files.createTempDirectory("perfbench_gen").toFile
    val gen = new Gen(seed, stream = 1, nKeys = 2000, days = 64, batchEvents = 400)
    val full = new File(dir, "full")
    gen.writeFullLoad(full, files = 2)
    val batches = (0 until n).map { b =>
      val f = new File(dir, s"batch-$b.avro")
      gen.writeAvro(gen.nextBatch(), f, backfill = false, syncSeed = b + 1)
      f
    }
    (full.listFiles().sortBy(_.getName).toSeq ++ batches).map(f => Files.readAllBytes(f.toPath))
  }

  test("the same seed gives byte-identical batch files; another seed does not") {
    val a = batchFiles(7, 3)
    val b = batchFiles(7, 3)
    val c = batchFiles(8, 3)
    assert(a.size == 5)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
    a.zip(c).foreach { case (x, y) => assert(!java.util.Arrays.equals(x, y)) }
  }

  test("a batch mixes updates, inserts, tombstones and in-batch duplicates as counted") {
    val gen = new Gen(3, stream = 2, nKeys = 5000, days = 64, batchEvents = 1000)
    val before = gen.model.copy()
    val b = gen.nextBatch()
    assert(b.size == 1000)
    assert(b.kind.count(_ == Gen.Insert) == b.inserts && b.inserts == 150)
    assert(b.kind.count(_ == Gen.Delete) == 50)
    val keys = b.pk.toSeq
    assert(keys.size - keys.distinct.size == b.dups && b.dups > 0)
    // every pre-existing key touched counts once as an update
    assert(keys.distinct.count(before.exists) == b.updates)
    // no two events of a key tie on updated_at, and file order is not time order
    assert(b.pk.indices.groupBy(b.pk(_)).values.forall(ix => ix.map(b.updated(_)).distinct.size == ix.size))
    assert(!b.updated.toSeq.sliding(2).forall { case Seq(x, y) => x < y })
    // updates lean to the newest days
    val newest = Gen.dayStart(63)
    val recent = b.pk.indices.count(i => b.kind(i) == Gen.Update && b.created(i) >= newest - 7 * 86400L)
    assert(recent > b.kind.count(_ == Gen.Update) / 2)
  }

  test("batch files decode as Datastream envelopes") {
    val dir = Files.createTempDirectory("perfbench_avro").toFile
    val gen = new Gen(1, stream = 1, nKeys = 1000, days = 64, batchEvents = 200)
    val f = new File(dir, "b.avro")
    val b = gen.nextBatch()
    gen.writeAvro(b, f, backfill = false, syncSeed = 1)
    val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
    try {
      val recs = Iterator.continually(r).takeWhile(_.hasNext).map(_.next()).toSeq
      assert(recs.size == 200)
      val first = recs.head
      val pay = first.get("payload").asInstanceOf[GenericRecord]
      assert(pay.get("pk_id") == b.pk(0))
      assert(pay.get("updated_at") == b.updated(0) * 1000000L)
      val meta = first.get("source_metadata").asInstanceOf[GenericRecord]
      assert(meta.get("is_deleted") == (b.kind(0) == Gen.Delete))
      assert(first.get("uuid").toString == Gen.uuidOf(b.pk(0), b.updated(0)))
    } finally r.close()
  }

  test("replaying the showcase fixtures through the model gives the golden state") {
    def ts(s: String) = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val m = new Model(8)
    def put(pk: Int, name: String, v: Int, upd: String, cre: String, del: Boolean) =
      m.apply(pk, Model.nameId(name), v, ts(upd), ts(cre), del)
    // FIXTURES.md §3: backfill
    put(1, "apple", 10, "2023-01-12 04:01:18", "2023-01-12 04:01:18", del = false)
    put(2, "samsung", 20, "2023-01-12 04:01:18", "2023-01-12 04:01:18", del = false)
    put(3, "dell", 30, "2023-01-12 04:01:18", "2023-01-12 04:01:18", del = false)
    put(4, "motorola", 40, "2023-01-12 04:01:20", "2023-01-12 04:01:20", del = false)
    // FIXTURES.md §4: binlog batch; the DELETE ties on updated_at and wins
    put(5, "htc", 50, "2023-01-12 04:10:38", "2023-01-12 04:10:38", del = false)
    put(2, "samsung", 201, "2023-01-12 04:10:46", "2023-01-12 04:01:18", del = false)
    put(3, "dell", 30, "2023-01-12 04:01:18", "2023-01-12 04:01:18", del = true)
    // FIXTURES.md §5
    val golden = Seq((1, "apple", 10, false), (2, "samsung", 201, false), (3, "dell", 30, true),
      (4, "motorola", 40, false), (5, "htc", 50, false))
    assert(m.rows.map(r => (r.pk, r.name, r.value, r.deleted)).toSeq == golden)
    assert(m.totals == ((5L, 331L, 1L)))
    // an older event never wins
    assert(!put(2, "samsung", 7, "2023-01-12 04:10:45", "2023-01-12 04:01:18", del = false))
    assert(m.value(2) == 201)
  }
}
