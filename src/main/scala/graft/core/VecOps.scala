package graft.core

/**
 * Small dense-vector helpers + distance measures.
 *
 * Mirrors the semantics of flink-ml's EuclideanDistanceMeasure /
 * CosineDistanceMeasure as used by the reference
 * (cn/swust/algorithms/fcm/FCM.java:527-553,
 * cn/swust/algorithms/canopy/Canopy.java:386-391).
 * spark.ml's BLAS is private[ml], so these are hand-rolled; all loops are
 * over primitive arrays (no boxing) and safe to call per-row in hot paths.
 */
object VecOps {

  /** y += a * x (flink-ml BLAS.axpy analog). */
  def axpy(a: Double, x: Array[Double], y: Array[Double]): Unit = {
    var i = 0
    while (i < x.length) { y(i) += a * x(i); i += 1 }
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def norm2(a: Array[Double]): Double = math.sqrt(dot(a, a))

  def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Index of the centroid nearest to the vector at `x(off)`, by squared
    * Euclidean distance summed left to right over the centroid's
    * dimensions; a tie goes to the lowest index. A NaN distance orders
    * above every number and equals another NaN, as in Spark SQL and
    * DuckDB, so this is the first-min of `KMeansDet.assignExpr`'s CASE
    * chain: a row whose distances are all NaN lands in cluster 0. */
  def nearest(x: Array[Double], off: Int, centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.NaN
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      var s = 0.0; var j = 0
      while (j < c.length) { val t = x(off + j) - c(j); s += t * t; j += 1 }
      if (s < bestD || (java.lang.Double.isNaN(bestD) && !java.lang.Double.isNaN(s))) {
        best = i; bestD = s
      }
      i += 1
    }
    best
  }

  def euclidean(a: Array[Double], b: Array[Double]): Double = math.sqrt(sqDist(a, b))

  /** Cosine distance 1 - cos(a,b); 0-norm inputs yield NaN like the reference. */
  def cosine(a: Array[Double], b: Array[Double]): Double =
    1.0 - dot(a, b) / (norm2(a) * norm2(b))

  def distance(measure: String)(a: Array[Double], b: Array[Double]): Double = measure match {
    case "euclidean" => euclidean(a, b)
    case "cosine"    => cosine(a, b)
    case m => throw new IllegalArgumentException(s"unknown distanceMeasure: $m")
  }

  def scal(a: Double, x: Array[Double]): Array[Double] = {
    val r = new Array[Double](x.length)
    var i = 0
    while (i < x.length) { r(i) = a * x(i); i += 1 }
    r
  }
}
