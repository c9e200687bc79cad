package graft.operators

/** Minimal open-addressing set of primitive longs (linear probing,
  * power-of-two capacity) for the one-task kernels' hot paths: ~8 B
  * per slot at ≤75% load, where a boxed HashSet costs ~48 B plus one
  * allocation per entry (measured: q133's 10× ScaleTrial candidate
  * dedup read 145 s with a boxed set, ~8 s with this one; q131's
  * distinct counts would need GBs near its 5M-row threshold). 0L is
  * the empty-slot sentinel, so a live 0 is tracked out-of-band. */
private[graft] final class LongSet(initialCap: Int) {
  private var cap = Integer.highestOneBit(math.max(initialCap, 16) * 2)
  private var table = new Array[Long](cap)
  private var n = 0
  private var hasZero = false

  /** Adds `k`; true iff it was not in the set yet. */
  def add(k: Long): Boolean = {
    if (k == 0L) { val fresh = !hasZero; hasZero = true; return fresh }
    // long arithmetic: at n≈536M, n*4 overflows Int and the growth
    // check would silently stop firing
    if (n.toLong * 4 >= cap.toLong * 3) grow()
    var i = (scala.util.hashing.byteswap64(k) & (cap - 1)).toInt
    while (true) {
      val cur = table(i)
      if (cur == 0L) { table(i) = k; n += 1; return true }
      if (cur == k) return false
      i = (i + 1) & (cap - 1)
    }
    false
  }

  def size: Long = n.toLong + (if (hasZero) 1L else 0L)

  private def grow(): Unit = {
    val old = table
    cap <<= 1
    table = new Array[Long](cap)
    n = 0
    old.foreach(k => if (k != 0L) add(k))
  }
}
