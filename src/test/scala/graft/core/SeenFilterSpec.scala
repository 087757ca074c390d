package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Cuckoo filter + SeenFilter abstraction (north star: partitioned
  * cuckoo seen-set with bloom fallback).
  */
class SeenFilterSpec extends AnyFunSuite {

  private def keys(n: Int, salt: String): Seq[String] =
    (0 until n).map(i => UrlNormalizer.sha256Hex(s"$salt-$i"))

  test("cuckoo: no false negatives; false-positive rate near spec") {
    val cf = CuckooFilter.create(10000)
    val in = keys(10000, "in")
    in.foreach(k => assert(cf.put(k)))
    assert(in.forall(cf.mightContain), "no false negatives")
    val out = keys(20000, "out")
    val fp = out.count(cf.mightContain)
    // spec fp ≈ 2*4/2^16 = 0.012%; allow generous slack
    assert(fp < 20, s"false positives: $fp / 20000")
  }

  test("cuckoo: deletion removes inserted keys, leaves others intact") {
    val cf = CuckooFilter.create(4000)
    val keep = keys(2000, "keep")
    val drop = keys(2000, "drop")
    (keep ++ drop).foreach(k => assert(cf.put(k)))
    drop.foreach(k => assert(cf.remove(k)))
    assert(keep.forall(cf.mightContain), "kept keys survive deletes")
    val stillThere = drop.count(cf.mightContain)
    assert(stillThere < 5, s"deleted keys still reported: $stillThere")
    assert(cf.size == 2000)
    assert(!cf.remove(UrlNormalizer.sha256Hex("never-inserted-xyz")))
  }

  test("cuckoo: deterministic — identical inserts, identical bytes") {
    def mk() = {
      val c = CuckooFilter.create(5000)
      keys(4000, "det").foreach(c.put)
      c
    }
    assert(java.util.Arrays.equals(mk().serialize(), mk().serialize()))
  }

  test("serialize round-trips for cuckoo and bloom") {
    val ks = keys(500, "rt")
    for (kind <- Seq(SeenFilter.KindCuckoo, SeenFilter.KindBloom)) {
      val f = SeenFilter.create(kind, 1000, 0.03)
      ks.foreach(f.put)
      val g = SeenFilter.deserialize(f.serialize())
      assert(ks.forall(g.mightContain), s"$kind round-trip")
    }
  }

  test("build: cuckoo at capacity falls back to a bloom over the SAME keys") {
    val ks = keys(2000, "fb")
    val f = SeenFilter.build(SeenFilter.KindCuckoo, expectedItems = 16,
      fpp = 0.03, ks.iterator)
    assert(f.isInstanceOf[BloomSeenFilter], "fell back to bloom")
    assert(ks.forall(f.mightContain), "superset preserved across fallback")
    // ample capacity → stays cuckoo
    val g = SeenFilter.build(SeenFilter.KindCuckoo, 4000, 0.03, ks.iterator)
    assert(g.isInstanceOf[CuckooSeenFilter])
    assert(ks.forall(g.mightContain))
  }

  test("failed put rolls back: previously inserted keys never go missing") {
    // tiny table, overfill until put fails; the may-contain superset
    // contract must hold for every key that WAS inserted (regression: the
    // kick loop used to strand the last displaced victim outside the table)
    val cf = CuckooFilter.create(64)
    val inserted = scala.collection.mutable.ArrayBuffer.empty[String]
    var failures = 0
    keys(4000, "ovf").foreach { k =>
      if (cf.put(k)) inserted += k else failures += 1
    }
    assert(failures > 0, "test must drive the filter past capacity")
    assert(inserted.forall(cf.mightContain),
      "no inserted key may answer definitely-unseen after failed puts")
    assert(cf.size == inserted.size, "failed puts must not change size")
    // the filter stays usable: deletes of inserted keys still succeed
    assert(cf.remove(inserted.head))
  }

  test("non-hex keys hash through md5 (general-string support)") {
    val cf = CuckooFilter.create(100)
    assert(cf.put("https://example.org/plain-url"))
    assert(cf.mightContain("https://example.org/plain-url"))
    assert(!cf.mightContain("https://example.org/other-url"))
  }
}
