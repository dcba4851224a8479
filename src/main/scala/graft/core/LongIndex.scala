package graft.core

/** Map from non-zero `Long` keys to dense `Int` ids `0, 1, 2, ...` in
  * insertion order: the one open-addressed table behind the engine's
  * tag-name lookups (the lexer's attr-need policy, the selector VM's
  * entry buckets and open-name counts, the rewriter's name interning).
  *
  * Power-of-two capacity, linear probing, load kept at or under 1/3, so
  * a miss, the common case for entry dispatch, stops within a couple of
  * slots. 0 marks an empty slot and is not a valid key. Ids stay stable
  * when the table grows (only keys are rehashed), so callers keep their
  * payload in arrays indexed by id and may cache an id across inserts.
  */
final class LongIndex(initialCapacity: Int = 16) {
  require(initialCapacity >= 4 && Integer.bitCount(initialCapacity) == 1,
    s"capacity must be a power of two >= 4: $initialCapacity")

  private var keys = new Array[Long](initialCapacity)
  private var ids = new Array[Int](initialCapacity)
  private var n = 0

  /** Number of keys; the next new key gets this id. */
  def size: Int = n

  /** Id of `key`, or -1 when absent. */
  def get(key: Long): Int = {
    val i = slot(key)
    if (keys(i) == 0L) -1 else ids(i)
  }

  /** Id of `key`, adding it with id [[size]] when absent. */
  def getOrAdd(key: Long): Int = {
    require(key != 0L, "0 is the empty-slot marker, not a key")
    val i = slot(key)
    if (keys(i) != 0L) ids(i)
    else {
      keys(i) = key; ids(i) = n
      n += 1
      if (n * 3 > keys.length) grow()
      n - 1
    }
  }

  /** Drop every key; ids restart at 0. */
  def clear(): Unit = if (n > 0) {
    java.util.Arrays.fill(keys, 0L)
    n = 0
  }

  /** The slot holding `key`, or the empty slot that ends its probe. */
  private def slot(key: Long): Int = {
    val mask = keys.length - 1
    var i = LongIndex.hash(key) & mask
    while (keys(i) != 0L && keys(i) != key) i = (i + 1) & mask
    i
  }

  private def grow(): Unit = {
    val ok = keys; val oi = ids
    keys = new Array[Long](ok.length * 2)
    ids = new Array[Int](ok.length * 2)
    var j = 0
    while (j < ok.length) {
      if (ok(j) != 0L) { val i = slot(ok(j)); keys(i) = ok(j); ids(i) = oi(j) }
      j += 1
    }
  }
}

object LongIndex {
  /** Slot hash of a key (Fibonacci multiply, high word folded in); mask
    * the low bits for a power-of-two table.
    */
  @inline def hash(key: Long): Int = java.lang.Long.hashCode(key * 0x9e3779b97f4a7c15L)
}
