package perfbench

/** Plain single-threaded reference implementations the engine's outputs are
  * checked against. Graphs are CSR arrays over ids 0..n-1. */
object Reference {

  final class Csr(val n: Int, val offsets: Array[Int], val targets: Array[Int]) {
    def degree(v: Int): Int = offsets(v + 1) - offsets(v)
  }

  def csr(n: Int, src: Array[Int], dst: Array[Int]): Csr = {
    val offsets = new Array[Int](n + 1)
    src.foreach(s => offsets(s + 1) += 1)
    var i = 0
    while (i < n) { offsets(i + 1) += offsets(i); i += 1 }
    val fill = offsets.clone()
    val targets = new Array[Int](src.length)
    i = 0
    while (i < src.length) { targets(fill(src(i))) = dst(i); fill(src(i)) += 1; i += 1 }
    new Csr(n, offsets, targets)
  }

  /** (src << 32 | dst) keys to sorted, deduplicated (src, dst) arrays. */
  def unpack(keys: Array[Long]): (Array[Int], Array[Int]) = {
    java.util.Arrays.sort(keys)
    val uniq = if (keys.isEmpty) keys
      else keys.head +: keys.iterator.sliding(2).collect { case Seq(a, b) if a != b => b }.toArray
    (uniq.map(k => (k >>> 32).toInt), uniq.map(k => (k & 0xffffffffL).toInt))
  }

  /** Both directions, self-loops dropped, deduplicated. */
  def symmetric(src: Array[Int], dst: Array[Int]): (Array[Int], Array[Int]) = {
    val keep = src.indices.filter(i => src(i) != dst(i))
    unpack(keep.flatMap(i => Seq((src(i).toLong << 32) | dst(i), (dst(i).toLong << 32) | src(i))).toArray)
  }

  /** The reference's `pagerank_3f` recurrence in FP64: sinks drop out (no
    * redistribution), stop when sum |r_new - r| <= tol. */
  def pagerank(g: Csr, damping: Double, tol: Double, maxIter: Int): (Array[Double], Int) = {
    val n = g.n
    val teleport = (1.0 - damping) / n
    var r = Array.fill(n)(1.0 / n)
    var iter = 0
    var rdiff = Double.MaxValue
    while (iter < maxIter && rdiff > tol) {
      val next = Array.fill(n)(teleport)
      var u = 0
      while (u < n) {
        val d = g.degree(u)
        if (d > 0) {
          val c = r(u) * damping / d
          var k = g.offsets(u)
          while (k < g.offsets(u + 1)) { next(g.targets(k)) += c; k += 1 }
        }
        u += 1
      }
      rdiff = 0.0
      u = 0
      while (u < n) { rdiff += math.abs(next(u) - r(u)); u += 1 }
      r = next
      iter += 1
    }
    (r, iter)
  }

  /** Min-label connected components (union-find). */
  def components(g: Csr): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var a = x
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    for (u <- 0 until g.n; k <- g.offsets(u) until g.offsets(u + 1)) {
      val a = find(u); val b = find(g.targets(k))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(g.n)(v => find(v).toLong)
  }

  /** Synchronous mode label propagation: each round every vertex with
    * neighbors takes the most frequent neighbor label, ties to the smallest;
    * stops after a round that changes nothing. Returns (labels, rounds). */
  def labelPropagation(g: Csr, maxIter: Int): (Array[Long], Int) = {
    var labels = Array.tabulate(g.n)(_.toLong)
    var iter = 0
    var changed = true
    val counts = new java.util.HashMap[Long, Integer]()
    while (changed && iter < maxIter) {
      val next = labels.clone()
      changed = false
      var v = 0
      while (v < g.n) {
        if (g.degree(v) > 0) {
          counts.clear()
          var k = g.offsets(v)
          while (k < g.offsets(v + 1)) { counts.merge(labels(g.targets(k)), 1, (a, b) => a + b); k += 1 }
          var best = Long.MaxValue
          var bestC = 0
          counts.forEach { (l, c) =>
            if (c > bestC || (c == bestC && l < best)) { best = l; bestC = c }
          }
          if (best != labels(v)) changed = true
          next(v) = best
        }
        v += 1
      }
      labels = next
      iter += 1
    }
    (labels, iter)
  }

  /** Triangles, each counted once at its (degree, id)-lowest corner. */
  def triangles(g: Csr): Long = {
    def before(a: Int, b: Int) =
      g.degree(a) < g.degree(b) || (g.degree(a) == g.degree(b) && a < b)
    val out = Array.tabulate(g.n) { u =>
      (g.offsets(u) until g.offsets(u + 1)).map(g.targets).filter(before(u, _)).toArray
    }
    val mark = new Array[Int](g.n)
    java.util.Arrays.fill(mark, -1)
    var total = 0L
    for (u <- 0 until g.n) {
      out(u).foreach(v => mark(v) = u)
      for (v <- out(u); w <- out(v)) if (mark(w) == u) total += 1
    }
    total
  }
}
