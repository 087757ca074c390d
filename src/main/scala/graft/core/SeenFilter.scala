package graft.core

import org.apache.spark.util.sketch.BloomFilter

/** The URL-seen prefilter behind the submit merge (north star: a
  * partitioned CUCKOO filter with a BLOOM fallback). One instance per
  * frontier bucket, persisted as a sidecar file in the snapshot
  * manifest. Semantics contract: may-contain answers only — the exact
  * anti-join stays authoritative, so any filter state that remains a
  * SUPERSET of the bucket's url_hashes is correct.
  *
  * - Cuckoo (default): supports deletion (manual ops keep it tight) and
  *   ~0.01% fp at 4×16-bit slots. `put` can fail at capacity — the
  *   engine then rebuilds THAT bucket's filter as a bloom from the
  *   bucket's parquet (the source of truth): the literal bloom fallback.
  * - Bloom: Spark's sketch; inserts never fail, deletes are no-ops
  *   (stays a superset — still correct, just looser).
  */
sealed trait SeenFilter extends Serializable {
  /** false ⇒ filter at capacity and key NOT recorded (fall back). The
    * filter itself remains VALID after a failed put — every previously
    * recorded key still answers may-contain (the cuckoo rolls its kick
    * path back) — so callers may keep using it for lookups while they
    * arrange the fallback.
    */
  def put(key: String): Boolean
  def mightContain(key: String): Boolean
  /** Best-effort delete; bloom cannot and returns false. */
  def remove(key: String): Boolean
  def serialize(): Array[Byte]
  /** Deep copy (serialize round-trip): lets a task fold new keys without
    * mutating a shared cached instance, so task RETRIES are idempotent.
    */
  def copyFilter(): SeenFilter = SeenFilter.deserialize(serialize())
}

final class CuckooSeenFilter(val cf: CuckooFilter) extends SeenFilter {
  def put(key: String): Boolean = cf.put(key)
  def mightContain(key: String): Boolean = cf.mightContain(key)
  def remove(key: String): Boolean = cf.remove(key)
  def serialize(): Array[Byte] = {
    val body = cf.serialize()
    val out = new Array[Byte](body.length + 1)
    out(0) = 'C'
    System.arraycopy(body, 0, out, 1, body.length)
    out
  }
}

final class BloomSeenFilter(val bf: BloomFilter) extends SeenFilter {
  def put(key: String): Boolean = { bf.putString(key); true }
  def mightContain(key: String): Boolean = bf.mightContainString(key)
  def remove(key: String): Boolean = false
  def serialize(): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write('B'.toInt)
    bf.writeTo(bos)
    bos.toByteArray
  }
}

object SeenFilter {
  val KindCuckoo = "cuckoo"
  val KindBloom = "bloom"

  def create(kind: String, expectedItems: Long, fpp: Double): SeenFilter =
    kind match {
      case KindBloom => new BloomSeenFilter(BloomFilter.create(expectedItems, fpp))
      case _         => new CuckooSeenFilter(CuckooFilter.create(expectedItems))
    }

  def deserialize(bytes: Array[Byte]): SeenFilter = bytes(0) match {
    case 'C' => new CuckooSeenFilter(
      CuckooFilter.deserialize(java.util.Arrays.copyOfRange(bytes, 1, bytes.length)))
    case 'B' => new BloomSeenFilter(BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes, 1, bytes.length - 1)))
    case k => sys.error(s"unknown seen-filter format byte $k")
  }

  /** Build a filter over `keys`, preferring `kind`; a cuckoo that hits
    * capacity mid-build falls back to a bloom over the SAME key set (the
    * keys consumed so far are buffered for exactly this replay).
    */
  def build(kind: String, expectedItems: Long, fpp: Double,
      keys: Iterator[String]): SeenFilter = {
    var f = create(kind, expectedItems, fpp)
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    var degradedToBloom = f.isInstanceOf[BloomSeenFilter]
    keys.foreach { k =>
      if (!degradedToBloom) seen += k
      if (!f.put(k)) {
        // bloom fallback: replay everything consumed so far
        val bf = create(KindBloom,
          math.max(expectedItems, seen.size * 2L), fpp)
        seen.foreach(bf.put)
        seen.clear()
        f = bf
        degradedToBloom = true
      }
    }
    f
  }
}
