package perfbench

/** Reference model of a keyed CDC table: latest-wins on the precombine
  * field (`updated_at`), the incoming row winning ties (Hudi
  * `DefaultHoodieRecordPayload` semantics), tombstones kept as rows with
  * `is_deleted = true` (the reference never applies deletes).
  *
  * State is primitive per-key arrays indexed by `pk_id`, so the model adds
  * a few MB to the heap at most and is never touched inside a timed span.
  * Names are ids into [[Model.names]].
  */
final class Model private (
    private var nameOf: Array[Short],
    private var valueOf: Array[Int],
    private var updatedOf: Array[Long],
    private var createdOf: Array[Long],
    private var stateOf: Array[Byte]) {

  def this(capacity: Int) = this(new Array[Short](capacity), new Array[Int](capacity),
    new Array[Long](capacity), new Array[Long](capacity), new Array[Byte](capacity))

  /** One past the largest key ever applied. */
  var keyLimit: Int = 0

  private def ensure(pk: Int): Unit = if (pk >= stateOf.length) {
    val n = math.max(pk + 1, stateOf.length * 2)
    nameOf = java.util.Arrays.copyOf(nameOf, n)
    valueOf = java.util.Arrays.copyOf(valueOf, n)
    updatedOf = java.util.Arrays.copyOf(updatedOf, n)
    createdOf = java.util.Arrays.copyOf(createdOf, n)
    stateOf = java.util.Arrays.copyOf(stateOf, n)
  }

  /** Apply one change event; false when an existing row with a greater
    * `updated` wins. */
  def apply(pk: Int, name: Int, value: Int, updated: Long, created: Long,
      deleted: Boolean): Boolean = {
    ensure(pk)
    if (stateOf(pk) != Model.Absent && updatedOf(pk) > updated) false
    else {
      nameOf(pk) = name.toShort; valueOf(pk) = value
      updatedOf(pk) = updated; createdOf(pk) = created
      stateOf(pk) = if (deleted) Model.Deleted else Model.Live
      keyLimit = math.max(keyLimit, pk + 1)
      true
    }
  }

  def exists(pk: Int): Boolean = pk < keyLimit && stateOf(pk) != Model.Absent
  def isDeleted(pk: Int): Boolean = pk < keyLimit && stateOf(pk) == Model.Deleted
  def name(pk: Int): Int = nameOf(pk)
  def value(pk: Int): Int = valueOf(pk)
  def updated(pk: Int): Long = updatedOf(pk)
  def created(pk: Int): Long = createdOf(pk)

  def copy(): Model = {
    val m = new Model(nameOf.clone(), valueOf.clone(), updatedOf.clone(),
      createdOf.clone(), stateOf.clone())
    m.keyLimit = keyLimit
    m
  }

  /** Table row of `pk` in the form the benchmark compares:
    * `(pk_id, name, value, updated_at, created_at, is_deleted)`. */
  def row(pk: Int): Model.Row =
    Model.Row(pk, Model.names(nameOf(pk)), valueOf(pk), updatedOf(pk), createdOf(pk),
      stateOf(pk) == Model.Deleted)

  def rows: Iterator[Model.Row] = (0 until keyLimit).iterator.filter(exists).map(row)

  /** `(row count, sum(value), tombstone rows)`. */
  def totals: (Long, Long, Long) = {
    var n = 0L; var s = 0L; var d = 0L
    var pk = 0
    while (pk < keyLimit) {
      if (stateOf(pk) != Model.Absent) {
        n += 1; s += valueOf(pk); if (stateOf(pk) == Model.Deleted) d += 1
      }
      pk += 1
    }
    (n, s, d)
  }
}

object Model {
  private val Absent: Byte = 0
  private val Live: Byte = 1
  private val Deleted: Byte = 2

  case class Row(pk: Int, name: String, value: Int, updated: Long, created: Long,
      deleted: Boolean)

  /** Name vocabulary: the reference showcase's five rows first
    * (FIXTURES.md §3-4), so the fixtures replay through the same ids. */
  val names: IndexedSeq[String] = IndexedSeq("apple", "samsung", "dell", "motorola", "htc",
    "lenovo", "asus", "acer", "sony", "nokia", "xiaomi", "oppo", "vivo", "huawei",
    "google", "microsoft", "lg", "panasonic", "philips", "sharp", "toshiba", "fujitsu",
    "hp", "ibm", "intel", "amd", "nvidia", "qualcomm", "broadcom", "cisco", "oracle",
    "sap", "adobe", "canon", "nikon", "ricoh", "epson", "brother", "xerox", "kodak",
    "garmin", "fitbit", "bose", "jbl", "logitech", "razer", "corsair", "zotac")
  val nameId: Map[String, Int] = names.zipWithIndex.toMap
}
