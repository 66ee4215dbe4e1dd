package graft.functions

/** Bounded max-heap of the k smallest doubles seen so far. Array-backed
  * binary heap, `arr(0)` is the current k-th smallest once full. */
final class KthHeap(val k: Int) extends Serializable {
  val arr = new Array[Double](k)
  var n = 0

  def insert(v: Double): Unit = {
    if (n < k) {
      arr(n) = v; n += 1
      // sift up
      var i = n - 1
      while (i > 0 && arr((i - 1) / 2) < arr(i)) {
        val p = (i - 1) / 2
        val t = arr(p); arr(p) = arr(i); arr(i) = t
        i = p
      }
    } else if (v < arr(0)) {
      arr(0) = v
      // sift down
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = 2 * i + 2
        var m = i
        if (l < n && arr(l) > arr(m)) m = l
        if (r < n && arr(r) > arr(m)) m = r
        if (m == i) done = true
        else { val t = arr(m); arr(m) = arr(i); arr(i) = t; i = m }
      }
    }
  }
}
