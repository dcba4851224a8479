package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The engine's one Long-keyed table: dense ids in insertion order that
  * survive growth, linear probes that wrap, keys with bit 63 set (packed
  * hashes and FNV name keys share the key space), and reuse after clear.
  */
class LongIndexSpec extends AnyFunSuite {

  test("ids are dense, in insertion order, and stable across growth") {
    val idx = new LongIndex(4)
    val keys = (1 to 200).map(i => i.toLong * 1000003L)
    val ids = keys.map(idx.getOrAdd)
    assert(ids == keys.indices)
    assert(idx.size == 200)
    assert(keys.map(idx.get) == keys.indices) // after several doublings
    assert(keys.map(idx.getOrAdd) == keys.indices) // re-adding adds nothing
    assert(idx.size == 200)
    assert(idx.get(7L) == -1)
  }

  test("a probe that starts in the last slot wraps to the front") {
    val cap = 16
    val last = Iterator.from(1).map(_.toLong).filter(k => (LongIndex.hash(k) & (cap - 1)) == cap - 1)
      .take(3).toList
    val idx = new LongIndex(cap)
    last.foreach(idx.getOrAdd)
    assert(last.map(idx.get) == Seq(0, 1, 2))
    // a missing key hashing to the same slot walks the wrapped run and stops
    val absent = Iterator.from(last.last.toInt + 1).map(_.toLong)
      .filter(k => (LongIndex.hash(k) & (cap - 1)) == cap - 1).next()
    assert(idx.get(absent) == -1)
  }

  test("keys with bit 63 set: a packed 13-char hash beside an FNV name key") {
    val packed = TagHash.of("foreignObject")
    assert(packed < 0L, "foreignObject packs into bit 63")
    val fnvKey = NameKey.of("emu-clause")
    val bytes = "EMU-Clause".getBytes("UTF-8")
    assert(NameKey.of(TagHash.Empty, bytes, 0, bytes.length) == fnvKey) // ASCII case folds
    assert(fnvKey < 0L && fnvKey != packed)
    assert(NameKey.of("foreignobject") == TagHash.of("foreignobject"))
    val idx = new LongIndex
    assert(idx.getOrAdd(packed) == 0)
    assert(idx.getOrAdd(fnvKey) == 1)
    assert(idx.get(packed) == 0 && idx.get(fnvKey) == 1)
    assert(idx.get(packed & Long.MaxValue) == -1)
    assertThrows[IllegalArgumentException](idx.getOrAdd(0L))
    assert(idx.get(0L) == -1)
  }

  test("clear drops every key and restarts ids at 0") {
    val idx = new LongIndex(4)
    (1L to 50L).foreach(idx.getOrAdd)
    idx.clear()
    assert(idx.size == 0)
    assert((1L to 50L).forall(idx.get(_) == -1))
    assert(idx.getOrAdd(42L) == 0)
    assert(idx.getOrAdd(7L) == 1)
    assert(idx.get(42L) == 0)
  }
}
