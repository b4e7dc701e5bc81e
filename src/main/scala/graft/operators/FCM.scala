package graft.operators

import graft.core._
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import scala.util.hashing.MurmurHash3

/**
 * Fuzzy c-means clustering, re-expressed Spark-first.
 *
 * Reference semantics (cn/swust/algorithms/fcm/FCM.java):
 *  - init: k random centroids sampled from the data (FCM.java:71), initial
 *    memberships ~ symmetric Dirichlet(1) (FCM.java:555-563 — unseeded
 *    there; seeded here, an intentional determinism upgrade);
 *  - per round: centroid_k = sum_i(u_ik^m * x_i) / sum_i(u_ik^m)
 *    (FCM.java:474-503,242-260), memberships recomputed from the new
 *    centroids as u_ik = 1 / sum_j (d_ik/d_jk)^(2/(m-1)) with the 1e-10
 *    zero-distance guard (FCM.java:527-553);
 *  - stop when max |delta u| <= TOL or maxIter (FCM.java:288-341).
 *
 * Spark architecture: memberships are a pure function of the centroids
 * (except the random epoch-0 matrix, which we regenerate deterministically
 * from a per-point hash), so NO per-row membership state is cached or
 * shuffled — each round is one step of [[CentroidFit]]'s driver loop with
 * broadcast (prev, curr) centroid pairs, accumulating
 * (sum u^m, sum u^m x, max |delta u|) in primitive arrays.
 */
class FCM(override val uid: String) extends Estimator[FCMModel]
    with FCMParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("fcm"))

  private var initialCentroids: Option[Array[Array[Double]]] = None
  /** Seed fit with explicit centroids (e.g. Canopy centers — canopy
    * pre-clustering feeding FCM is the intended composition of the two
    * reference operators); overrides k and random sampling. */
  def setInitialCentroids(value: Array[Array[Double]]): this.type = {
    initialCentroids = Some(value); set(k, value.length); this
  }

  /** Column whose md5 hash orders the deterministic init sample; empty
    * (default) keeps the Dirichlet random-init path. */
  def setInitIdCol(value: String): this.type = set(initIdCol, value)

  def setK(value: Int): this.type = set(k, value)
  def setM(value: Double): this.type = set(m, value)
  def setTol(value: Double): this.type = set(tol, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setSeed(value: Long): this.type = set(seed, value)
  def setDistanceMeasure(value: String): this.type = set(distanceMeasure, value)
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)

  override def fit(ds: Dataset[_]): FCMModel = {
    val df = ds.toDF()
    import df.sparkSession.implicits._
    val features = Features.asArray(df, $(featuresCol))
    // The hash-sample init behaves like explicit centroids: epoch-0
    // memberships derive from them.
    val explicit = initialCentroids.orElse(
      if ($(initIdCol).isEmpty) None
      else Some(CentroidFit.hashSample(df, $(initIdCol), features, $(k))))
    // Random init: the epoch-0 state is the content-hash-keyed Dirichlet
    // membership matrix (already partition-independent) and the starting
    // centroids are never consulted, so one row stands in for them — it
    // sets the dimension, and its absence means the input is empty.
    val init = CentroidFit.start("FCM", $(k),
      explicit.getOrElse(df.select(features).as[Array[Double]].head(1)))
    val k0 = $(k); val m0 = $(m); val tol0 = $(tol); val seed0 = $(seed)
    val measure = $(distanceMeasure)
    val explicitInit = explicit.isDefined
    val dims = init(0).length
    // State: (prev, curr) centroids. One pass per round: membership under
    // curr (epoch i) and prev (epoch i-1, or the regenerated Dirichlet
    // init), accumulating the centroid update and max |delta u| exactly as
    // FCM.java:422-503 does across tasks. With an explicit init the epoch-0
    // memberships come from the provided centroids (so Canopy seeding
    // shapes the fit); the Dirichlet rows are the random-init path,
    // matching FCM.java:74-81.
    val (_, centroids) = CentroidFit.run(CentroidFit.blocks(df.select(features), dims, "FCM"),
      (null: Array[Array[Double]], init), $(maxIter),
      (new Array[Double](k0), Array.fill(k0)(new Array[Double](dims)), -1.0))(
      seqOp = { case ((prev, curr), iter, (cs, pc, d0), (n, flat)) =>
        // per-block scratch: row + distance/membership buffers
        val p = new Array[Double](dims)
        val dis = new Array[Double](k0)
        val uC = new Array[Double](k0)
        val uP = new Array[Double](k0)
        var d = d0
        var r = 0
        while (r < n) {
          System.arraycopy(flat, r * dims, p, 0, dims)
          val uCurr =
            if (iter == 0 && !explicitInit) FCM.dirichletRow(p, k0, seed0)
            else { FCM.membershipInto(p, curr, measure, m0, dis, uC); uC }
          if (iter > 0) {
            val uPrev =
              if (iter == 1 && !explicitInit) FCM.dirichletRow(p, k0, seed0)
              else { FCM.membershipInto(p, prev, measure, m0, dis, uP); uP }
            var i = 0
            while (i < k0) {
              val t = math.abs(uCurr(i) - uPrev(i)); if (t > d) d = t; i += 1
            }
          }
          var i = 0
          while (i < k0) {
            val u = uCurr(i)
            val um = if (m0 == 2.0) u * u else math.pow(u, m0)
            cs(i) += um
            VecOps.axpy(um, p, pc(i))
            i += 1
          }
          r += 1
        }
        (cs, pc, d)
      },
      combOp = { case ((cs1, pc1, d1), (cs2, pc2, d2)) =>
        var i = 0
        while (i < k0) { cs1(i) += cs2(i); VecOps.axpy(1.0, pc2(i), pc1(i)); i += 1 }
        (cs1, pc1, math.max(d1, d2))
      })(
      step = { case ((_, curr), (sums, contrib, delta), iter) =>
        val next = Array.tabulate(k0) { i =>
          if (sums(i) == 0.0) curr(i) else VecOps.scal(1.0 / sums(i), contrib(i))
        }
        ((curr, next), iter > 0 && delta >= 0 && delta <= tol0)
      })
    copyValues(new FCMModel(Identifiable.randomUID("fcmModel"))
      .setCentroids(centroids)).setParent(this)
  }

  override def transformSchema(schema: StructType): StructType =
    schema.add($(predictionCol), IntegerType, nullable = false)

  override def copy(extra: ParamMap): FCM = defaultCopy(extra)
}

trait FCMParams extends HasFeaturesCol with HasPredictionCol with HasMaxIter
    with HasSeed with HasDistanceMeasure {
  /** Number of clusters (FCMModelParams.java:11-16, default 3). */
  final val k: IntParam =
    new IntParam(this, "k", "number of clusters", ParamValidators.gt(1))
  setDefault(k -> 3)
  final def getK: Int = $(k)

  /** Fuzziness exponent (FCMModelParams.java:18-24, default 2.0). */
  final val m: DoubleParam =
    new DoubleParam(this, "m", "fuzziness exponent (>1)", ParamValidators.gt(1.0))
  setDefault(m -> 2.0)
  final def getM: Double = $(m)

  /** Convergence tolerance on max |delta membership| (FCMModelParams.java:26-30). */
  final val tol: DoubleParam =
    new DoubleParam(this, "tol", "convergence tolerance", ParamValidators.gtEq(0.0))
  setDefault(tol -> 1e-4)
  final def getTol: Double = $(tol)

  /** Deterministic init: when non-empty, the k initial centroids are the
    * rows with the SMALLEST 60-bit md5 of this column (ties by the column
    * value) — partition-independent and replayable by any engine, unlike
    * an RDD sample. Capability extension over the reference's unseeded
    * selectRandomCentroids (FCM.java:71). */
  final val initIdCol: Param[String] =
    new Param[String](this, "initIdCol",
      "id column for the deterministic hash-sample init; '' = random init")
  setDefault(initIdCol -> "")
  final def getInitIdCol: String = $(initIdCol)
}

object FCM extends DefaultParamsReadable[FCM] {

  /** u_ik = 1 / sum_j (d_ik/d_jk)^(2/(m-1)), 1e-10 guard (FCM.java:527-553). */
  def membership(point: Array[Double], centroids: Array[Array[Double]],
                 measure: String, m: Double): Array[Double] = {
    val k = centroids.length
    val u = new Array[Double](k)
    membershipInto(point, centroids, measure, m, new Array[Double](k), u)
    u
  }

  /** Hot-path membership: algebraically equal to the reference's
    * u_i = 1/Σ_j (d_i/d_j)^(2/(m-1)) (FCM.java:527-553) but O(k) instead
    * of O(k²) — u_i = (d_i/dmin)^-p / Σ_j (d_j/dmin)^-p. Normalizing by
    * the min distance keeps every pow argument ≥ 1, so nothing overflows
    * even as m → 1. Euclidean runs inlined on SQUARED distances (the ratio
    * exponent halves, so the m=2 default needs no pow and no sqrt) with
    * caller-provided scratch — no per-row allocation, no virtual dispatch. */
  private[operators] def membershipInto(
      point: Array[Double], centroids: Array[Array[Double]], measure: String,
      m: Double, dis: Array[Double], u: Array[Double]): Unit = {
    val k = centroids.length
    var dmin = Double.MaxValue
    var i = 0
    if (measure == "euclidean") {
      while (i < k) {
        val c = centroids(i)
        var s = 0.0
        var j = 0
        while (j < c.length) { val t = point(j) - c(j); s += t * t; j += 1 }
        if (s == 0.0) s = 1e-20 // (1e-10)^2 — the reference's zero guard, squared
        dis(i) = s
        if (s < dmin) dmin = s
        i += 1
      }
    } else {
      val dist = VecOps.distance(measure) _
      while (i < k) {
        var d = dist(point, centroids(i))
        if (d == 0.0) d = 1e-10
        d = d * d
        dis(i) = d
        if (d < dmin) dmin = d
        i += 1
      }
    }
    val exp = 1.0 / (m - 1.0) // (2/(m-1)) / 2: dis holds squared distances
    var s = 0.0
    i = 0
    while (i < k) {
      val r = dmin / dis(i) // in (0, 1]
      val w = if (exp == 1.0) r else math.pow(r, exp)
      u(i) = w; s += w
      i += 1
    }
    i = 0
    while (i < k) { u(i) /= s; i += 1 }
  }

  /** Symmetric Dirichlet(1) row keyed by a per-point hash — deterministic
    * across partitionings (upgrade over the unseeded FCM.java:555-563). */
  private[operators] def dirichletRow(point: Array[Double], k: Int, seed: Long): Array[Double] = {
    val h = MurmurHash3.orderedHash(point.toSeq, (seed ^ (seed >>> 32)).toInt)
    val rng = new java.util.Random(seed * 31 + h)
    // alpha=1 symmetric Dirichlet == normalized Exp(1) draws.
    val e = Array.fill(k)(-math.log(1.0 - rng.nextDouble()))
    val s = e.sum
    e.map(_ / s)
  }
}

/**
 * FCM predictor: argmax membership == nearest centroid (membership is
 * monotone-decreasing in distance), appended as an int prediction column
 * (FCMModel.java:74-143). Centroids ride a broadcast variable; the scoring
 * UDF runs over primitive arrays.
 */
class FCMModel(override val uid: String) extends Model[FCMModel]
    with FCMParams with CentroidModel {

  def this() = this(Identifiable.randomUID("fcmModel"))

  def setFeaturesColM(value: String): this.type = set(featuresCol, value)

  /** Per-row membership vector for a dataset — computed on demand instead
    * of being packed into one driver-side object like FCMModelData's
    * membershipMatrix (untenable at scale; the reference's own predictor
    * only ever uses the centroids, FCMModel.java:126-127). */
  def membershipMatrix(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val bc = df.sparkSession.sparkContext.broadcast(centroids)
    val measure = $(distanceMeasure); val fuzz = $(m)
    val uUdf = udf { (p: Seq[Double]) =>
      FCM.membership(p.toArray, bc.value, measure, fuzz)
    }
    df.withColumn("membership", uUdf(Features.asArray(df, $(featuresCol))))
  }

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val bc = df.sparkSession.sparkContext.broadcast(centroids)
    val measure = $(distanceMeasure)
    val predictUdf = udf { (p: Seq[Double]) =>
      val arr = p.toArray
      val cs = bc.value
      val dist = VecOps.distance(measure) _
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < cs.length) {
        val d = dist(arr, cs(i))
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }
    df.withColumn($(predictionCol), predictUdf(Features.asArray(df, $(featuresCol))))
  }

  override def transformSchema(schema: StructType): StructType =
    schema.add($(predictionCol), IntegerType, nullable = false)

  override def copy(extra: ParamMap): FCMModel =
    copyValues(new FCMModel(uid).setCentroids(centroids), extra).setParent(parent)
}

object FCMModel {
  def load(spark: SparkSession, path: String): FCMModel =
    new FCMModel(Identifiable.randomUID("fcmModel"))
      .setCentroids(CentroidModel.load(spark, path))
}
