package graft.operators

import graft.core._
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructType}

/**
 * Lloyd's k-means with ENGINE-REPRODUCIBLE determinism — the property
 * spark.ml's stock `clustering.KMeans` does not give you: k-means|| init
 * is seeded-random over partition layout, and its per-round double
 * reductions are partitioning-order-dependent, so two runs of the same
 * pipeline on differently-laid-out input produce different models. For a
 * training-data pipeline that must be replayable (and auditable against
 * an independent engine), this variant pins both sources of divergence:
 *
 *  - init: the k rows with the smallest 60-bit md5 of an id column
 *    (ties by id) — partition-independent, planned as a distributed
 *    TakeOrderedAndProject, and replayable by any engine with md5 (the
 *    same convention as FCM.setInitIdCol / Sampling.hashSample);
 *  - per round: new centroid = per-dimension decimal-scale-12 sum divided
 *    by the member count. Fixed-point addition is exact and associative,
 *    so the reduction order (Spark's aggregation tree, DuckDB's serial
 *    scan) cannot perturb the mean; scale 12 stays inside a double's
 *    17-digit shortest decimal representation so both engines round the
 *    cast identically (see Similarity.labelCentroids). Every round's
 *    centroids are therefore bit-identical across engines and across
 *    partitionings, which makes the whole ITERATIVE fit hash-exactly
 *    verifiable — not just spec-tested.
 *
 * Spark architecture ([[CentroidFit]]'s driver loop, shared with FCM —
 * one treeAggregate per round over cached flat blocks): features are quantized
 * ONCE at cache build to scale-12 unscaled longs with Spark's own
 * double->decimal(18,12) cast semantics (|x| < 1e6 enforced there —
 * per-row BigDecimal allocation inside the loop is what an earlier
 * DataFrame-aggregate formulation spent most of its time on), and each
 * round accumulates them into per-cluster 128-bit sums — the same
 * arithmetic DuckDB's own decimal sum uses — at primitive-long speed.
 * Per-round cost is one scan of the cached blocks; the driver holds
 * O(k*d) state, and nothing shuffles. Assignment inside the fit
 * ([[graft.core.VecOps.nearest]]) mirrors the predict expression's
 * text-order double arithmetic exactly (left-to-right squared-distance
 * accumulation, first-min tie-break to the LOWEST cluster index); an
 * empty cluster keeps its previous centroid.
 */

/** Thrown by [[KMeansDet.quantize12]] when a feature value is non-finite
  * or outside the exact scale-12 range. A DISTINCT type (not a bare
  * IllegalArgumentException) so callers that rewrap range errors with
  * operator-specific advice (the covariance moment loop) cannot
  * accidentally relabel an unrelated IAE as a magnitude problem. */
final class FeatureRangeException(msg: String)
  extends IllegalArgumentException(msg)

class KMeansDet(override val uid: String) extends Estimator[KMeansDetModel]
    with KMeansDetParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("kmeansdet"))

  private var initialCentroids: Option[Array[Array[Double]]] = None
  /** Seed fit with explicit centroids (e.g. Canopy centers); overrides k
    * and the hash-sample init. */
  def setInitialCentroids(value: Array[Array[Double]]): this.type = {
    initialCentroids = Some(value); set(k, value.length); this
  }

  def setK(value: Int): this.type = set(k, value)
  def setTol(value: Double): this.type = set(tol, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setInitIdCol(value: String): this.type = set(initIdCol, value)
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)

  override def fit(ds: Dataset[_]): KMeansDetModel = {
    val df = ds.toDF()
    require(initialCentroids.isDefined || $(initIdCol).nonEmpty,
      "KMeansDet needs setInitialCentroids or setInitIdCol — determinism " +
        "is the point of this estimator; there is no random-init path.")
    val features = Features.asArray(df, $(featuresCol))
    val init = CentroidFit.start("KMeansDet", $(k), initialCentroids.getOrElse(
      CentroidFit.hashSample(df, $(initIdCol), features, $(k))))
    val k0 = $(k); val tol0 = $(tol)
    val dim = init(0).length
    val blocks = CentroidFit.blocks(df.select(features), dim, "KMeansDet")
      .map { case (n, raw) => (n, raw, KMeansDet.quantizeAll(raw)) }
    val centroids = CentroidFit.run(blocks, init, $(maxIter),
      (new Array[Long](k0), new Array[Long](k0 * dim), new Array[Long](k0 * dim)))(
      seqOp = { case (cc, _, acc @ (cnt, hi, lo), (n, raw, q)) =>
        var r = 0
        while (r < n) {
          val base = r * dim
          val best = VecOps.nearest(raw, base, cc)
          cnt(best) += 1
          val ob = best * dim
          var j = 0
          while (j < dim) {
            KMeansDet.add128(hi, lo, ob + j, q(base + j)); j += 1
          }
          r += 1
        }
        acc
      },
      combOp = { case ((cnt1, hi1, lo1), (cnt2, hi2, lo2)) =>
        var i = 0
        while (i < k0) { cnt1(i) += cnt2(i); i += 1 }
        var idx = 0
        while (idx < k0 * dim) {
          val a = lo1(idx); val b = lo2(idx)
          val nlo = a + b
          hi1(idx) += hi2(idx) + (((a & b) | ((a | b) & ~nlo)) >>> 63)
          lo1(idx) = nlo
          idx += 1
        }
        (cnt1, hi1, lo1)
      })(
      step = { case (curr, (cnt, hi, lo), _) =>
        val next = curr.map(_.clone())
        var i = 0
        while (i < k0) {
          if (cnt(i) != 0L) {
            var j = 0
            while (j < dim) {
              next(i)(j) =
                KMeansDet.mean128(hi(i * dim + j), lo(i * dim + j), cnt(i))
              j += 1
            }
          }
          i += 1
        }
        var delta = 0.0
        i = 0
        while (i < curr.length) {
          var j = 0
          while (j < dim) {
            val t = math.abs(next(i)(j) - curr(i)(j)); if (t > delta) delta = t
            j += 1
          }
          i += 1
        }
        (next, delta <= tol0)
      })
    copyValues(new KMeansDetModel(Identifiable.randomUID("kmeansdetModel"))
      .setCentroids(centroids)).setParent(this)
  }

  override def transformSchema(schema: StructType): StructType = {
    require(!schema.fieldNames.contains($(predictionCol)),
      s"output column ${$(predictionCol)} already exists")
    schema.add($(predictionCol), IntegerType, nullable = false)
  }

  override def copy(extra: ParamMap): KMeansDet = defaultCopy(extra)
}

trait KMeansDetParams extends HasFeaturesCol with HasPredictionCol
    with HasMaxIter {
  final val k: IntParam =
    new IntParam(this, "k", "number of clusters", ParamValidators.gt(1))
  setDefault(k -> 3)
  final def getK: Int = $(k)

  /** Convergence tolerance on max |centroid shift|; 0.0 stops only on an
    * exact fixpoint (identical centroids two rounds running), which is
    * safe for unrolled-round oracles: once a fixpoint is hit every later
    * round reproduces it. */
  final val tol: DoubleParam =
    new DoubleParam(this, "tol", "convergence tolerance", ParamValidators.gtEq(0.0))
  setDefault(tol -> 0.0)
  final def getTol: Double = $(tol)

  /** Id column for the deterministic hash-sample init (smallest-k by
    * 60-bit md5, ties by id). Required unless explicit centroids are set. */
  final val initIdCol: Param[String] =
    new Param[String](this, "initIdCol",
      "id column for the deterministic hash-sample init")
  setDefault(initIdCol -> "")
  final def getInitIdCol: String = $(initIdCol)
}

object KMeansDet extends DefaultParamsReadable[KMeansDet] {

  /** The block's values as scale-12 unscaled longs, quantized once at
    * cache build; NaN/Inf/|x|>=1e6 fail fast here rather than skewing
    * sums silently. */
  private def quantizeAll(raw: Array[Double]): Array[Long] = {
    val q = new Array[Long](raw.length)
    var i = 0
    while (i < raw.length) { q(i) = quantize12(raw(i)); i += 1 }
    q
  }

  /** x as a scale-12 unscaled long with Spark's cast semantics:
    * BigDecimal over the double's SHORTEST decimal representation
    * (valueOf = Double.toString, exactly what Spark's Decimal(double)
    * builds), HALF_UP at scale 12 (what changePrecision applies).
    *
    * Fast path: `Math.round(x·1e12)` — valid whenever the scaled value
    * sits clearly away from a rounding boundary. The computed y and the
    * true shortest-repr decimal T differ by ≤ ~3 ulp(y) (one IEEE
    * multiply + the shortest-repr gap), so outside a 4·ulp guard band
    * around the half-integer boundary both round to the same long, and
    * ties/near-ties fall back to the exact BigDecimal path (~1e-3 of
    * calls). This removes the two-allocations-per-value cost that
    * dominated both the k-means cache build and the covariance moment
    * kernel (430M calls at the 100× embeddings point ≈ 34 GB of
    * BigDecimal churn). Exactness is pinned by PropertySpec against the
    * BigDecimal reference, and end-to-end by the hash-exact kmeans /
    * embed-cov oracles. */
  private[graft] def quantize12(x: Double): Long = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
      throw new FeatureRangeException(
        s"KMeansDet: non-finite feature value $x")
    if (math.abs(x) >= 1e6)
      throw new FeatureRangeException(
        s"KMeansDet: feature value $x out of range (exact scale-12 sums " +
          "need |x| < 1e6; rescale the features)")
    val y = x * 1e12
    val f = y - Math.floor(y)
    val band = Math.ulp(y) * 4.0 + 1e-9
    if (Math.abs(f - 0.5) > band) Math.round(y) else quantize12Exact(x)
  }

  /** The exact reference path (and boundary fallback) for
    * [[quantize12]]. */
  private[graft] def quantize12Exact(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** (hi, lo) 128-bit sums at flat index idx += sign-extended v — the
    * same arithmetic DuckDB's decimal sum runs in int128. */
  @inline private[operators] def add128(hi: Array[Long], lo: Array[Long],
                                        idx: Int, v: Long): Unit = {
    val l0 = lo(idx)
    val nlo = l0 + v
    hi(idx) += (v >> 63) + (((l0 & v) | ((l0 | v) & ~nlo)) >>> 63)
    lo(idx) = nlo
  }

  /** 128-bit scale-12 sum -> double mean, matching
    * `cast(sum AS DOUBLE) / count` bit-for-bit: reconstruct the exact
    * BigDecimal, shortest-round to double, then IEEE-divide by n. */
  private[operators] def mean128(hi: Long, lo: Long, n: Long): Double = {
    val big = (BigInt(hi) << 64) + BigInt(java.lang.Long.toUnsignedString(lo))
    new java.math.BigDecimal(big.bigInteger, 12).doubleValue() / n
  }

  /** First-min assignment as a codegen'd CASE chain: cluster i wins when
    * its squared distance is <= every LATER cluster's (earlier clusters
    * already failed their own clause), i.e. the first index attaining the
    * minimum. Identical text-order arithmetic to the SQL oracle, so the
    * doubles compare bit-equally in both engines. Spark SQL and DuckDB
    * order NaN above every number and equal to itself (NaN <= NaN is
    * true), so a NaN distance loses to any number and an all-NaN row
    * lands in cluster 0 — as on the UDF path ([[graft.core.VecOps.nearest]]). */
  def assignExpr(fcols: Seq[Column], centroids: Array[Array[Double]]): Column = {
    val d: Array[Column] = centroids.map { c =>
      c.zipWithIndex.map { case (v, j) =>
        (fcols(j) - lit(v)) * (fcols(j) - lit(v))
      }.reduceLeft(_ + _)
    }
    val k = centroids.length
    (0 until k - 1).foldRight(lit(k - 1)) { (i, rest) =>
      val beatsLater = (i + 1 until k).map(l => d(i) <= d(l)).reduceLeft(_ && _)
      when(beatsLater, lit(i)).otherwise(rest)
    }.cast(IntegerType)
  }
}

/** Nearest-centroid predictor with the same first-min tie-break as the
  * fit's assignment step, appended as an int prediction column. Small k
  * runs as a literal codegen'd expression; beyond ~512 centroid cells the
  * same logic drops to a broadcast-backed UDF so the plan does not carry
  * a megabyte of expression tree. */
class KMeansDetModel(override val uid: String) extends Model[KMeansDetModel]
    with KMeansDetParams with CentroidModel {

  def this() = this(Identifiable.randomUID("kmeansdetModel"))

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val f = Features.asArray(df, $(featuresCol))
    val pred: Column =
      if (centroids.length.toLong * centroids(0).length <= 512) {
        val dim = centroids(0).length
        val fcols = (0 until dim).map(j => f.getItem(j))
        KMeansDet.assignExpr(fcols, centroids)
      } else {
        val bc = df.sparkSession.sparkContext.broadcast(centroids)
        udf((p: Seq[Double]) => VecOps.nearest(p.toArray, 0, bc.value)).apply(f)
      }
    df.withColumn($(predictionCol), pred)
  }

  override def transformSchema(schema: StructType): StructType = {
    require(!schema.fieldNames.contains($(predictionCol)),
      s"output column ${$(predictionCol)} already exists")
    schema.add($(predictionCol), IntegerType, nullable = false)
  }

  override def copy(extra: ParamMap): KMeansDetModel =
    copyValues(new KMeansDetModel(uid).setCentroids(centroids), extra).setParent(parent)
}

object KMeansDetModel {
  def load(spark: SparkSession, path: String): KMeansDetModel =
    new KMeansDetModel(Identifiable.randomUID("kmeansdetModel"))
      .setCentroids(CentroidModel.load(spark, path))
}
