package graft.ext

/** The driver-side Lloyd (k-means) loop behind the IVF coarse quantizer
  * ([[Similarity.ivfFit]]) and the product-quantizer codebooks
  * ([[ProductQuant.pqFit]], [[ProductQuant.pqFitIvf]]). Deterministic,
  * no RNG: evenly spaced init over the (hash-ordered) points, first-index
  * tie-breaks, an empty cell keeps its previous centroid, and the loop
  * stops once no centroid moves. Primitive `while` loops throughout: the
  * fit runs once per `knn_pq` query.
  */
private[ext] object Lloyd {

  /** Index of the centroid nearest `p` in squared L2; the first wins ties. */
  def nearest(p: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0
      var j = 0
      while (j < p.length) { val t = p(j) - centroids(c)(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** `k` centroids over `pts` (all of one dimension, at least `k` of
    * them) after at most `maxIter` rounds. */
  def fit(pts: Array[Array[Double]], k: Int,
          maxIter: Int): Array[Array[Double]] = {
    val dim = pts(0).length
    var centroids = Array.tabulate(k)(i =>
      pts((i.toLong * pts.length / k).toInt).clone())
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        val best = nearest(p, centroids)
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      val next = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c) // empty cell: keep previous centroid
        else sums(c).map(_ / counts(c))
      }
      moved = (0 until k).exists(c =>
        !java.util.Arrays.equals(next(c), centroids(c)))
      centroids = next
      iter += 1
    }
    centroids
  }
}
