package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag

/**
 * The driver loop every centroid fit runs on: FCM, KMeansDet and the IVF
 * coarse quantizer. The reference's Flink iteration machinery (feedback
 * edges, epoch watermarks, termination streams — FCM.java:85-98,269-341)
 * collapses into it: rows are packed once into flat cached blocks, and
 * each round broadcasts the driver's O(k·d) state and folds every block
 * with ONE treeAggregate — one global step per round, which is what the
 * unrolled SQL oracles replay. Per-round cost is one scan of the cached
 * blocks, so the same loop runs unchanged on a 1000-executor cluster. A
 * barrier AllReduce per round (MLlib*, ICDE 2019) measured ~1 s a round
 * on local[n] against 25-35 ms for the treeAggregate, so it is not used.
 * Callers supply only their per-block arithmetic and their update rule.
 */
private[operators] object CentroidFit {

  /** `n` rows of one dimension, packed row-major. */
  type Block = (Int, Array[Double])

  private val blockSize = 4096

  /** The k rows of `df` with the smallest 60-bit md5 of `idCol` (ties by
    * id), as `features` vectors: a deterministic, partition-independent
    * sample that any engine with md5 replays, planned as a distributed
    * TakeOrderedAndProject. The fixed-width hex prefix orders identically
    * to its 60-bit numeric value (the oracle's ::BIGINT sort) without
    * conv, which profiled at 2x the md5's own per-row cost. */
  def hashSample(df: DataFrame, idCol: String, features: Column,
                 k: Int): Array[Array[Double]] = {
    import df.sparkSession.implicits._
    val h = substring(md5(col(idCol).cast("string")), 1, 15)
    df.orderBy(h.asc, col(idCol).asc).limit(k)
      .select(features).as[Array[Double]].collect()
  }

  /** A fit's starting centroids: `rows` padded to k by repeating them
    * (fewer rows than k, like the reference's selectRandomCentroids on
    * duplicate-heavy data; the duplicates collapse to empty clusters).
    * No rows means the input was empty. */
  def start(who: String, k: Int, rows: Array[Array[Double]]): Array[Array[Double]] = {
    require(rows.nonEmpty, s"cannot fit $who on an empty dataset")
    require(rows.forall(r => r != null && r.length == rows(0).length),
      s"$who: starting centroids must be non-null and of one dimension")
    var c = rows
    while (c.length < k) c = c ++ c.take(k - c.length)
    c
  }

  /** The single array<double> column of `features` as flat blocks of up
    * to 4096 rows: ~15k cached block objects instead of tens of millions
    * of boxed rows — sequential scans, no old-gen pointer chasing. A null
    * vector, a null element or a length other than `dim` fails the fit. */
  def blocks(features: DataFrame, dim: Int, who: String): RDD[Block] =
    features.queryExecution.toRdd.mapPartitions { it =>
      def bad() = throw new IllegalArgumentException(
        s"$who: feature vectors must be non-null with $dim non-null elements")
      new Iterator[Block] {
        def hasNext: Boolean = it.hasNext
        def next(): Block = {
          val buf = new Array[Double](blockSize * dim)
          var n = 0
          while (n < blockSize && it.hasNext) {
            val row = it.next()
            val v = if (row.isNullAt(0)) null else row.getArray(0)
            if (v == null || v.numElements() != dim) bad()
            var j = 0
            while (j < dim) {
              if (v.isNullAt(j)) bad()
              buf(n * dim + j) = v.getDouble(j)
              j += 1
            }
            n += 1
          }
          (n, if (n == blockSize) buf else java.util.Arrays.copyOf(buf, n * dim))
        }
      }
    }

  /** Runs up to `maxIter` rounds over `blocks`, cached for the fit. Each
    * round broadcasts `state`, folds every block into a fresh `zero` with
    * `seqOp(state, round, acc, block)` and `combOp` — one treeAggregate —
    * and hands the total to `step`, which returns the next state and
    * whether the fit converged. The broadcasts and the block cache are
    * released on every exit path; the cache blocking, so sequential fits
    * (canopy -> FCM, bench reruns) never stack block caches. */
  def run[B, S: ClassTag, A: ClassTag](blocks: RDD[B], state0: S, maxIter: Int,
                                       zero: => A)(
      seqOp: (S, Int, A, B) => A, combOp: (A, A) => A)(
      step: (S, A, Int) => (S, Boolean)): S = {
    val sc = blocks.sparkContext
    blocks.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var state = state0
      var round = 0
      var converged = false
      while (round < maxIter && !converged) {
        val r = round
        val bc = sc.broadcast(state)
        try {
          val acc = blocks.treeAggregate(zero)(
            (a: A, b: B) => seqOp(bc.value, r, a, b), combOp)
          val (next, done) = step(state, acc, r)
          state = next
          converged = done
        } finally bc.destroy()
        round += 1
      }
      state
    } finally blocks.unpersist(blocking = true)
  }
}

/** The fitted centroids of a clustering model, and their parquet layout:
  * one (cluster_id, centroid) row per cluster under `<path>/data` — the
  * scalable analog of FCMModelData (FCMModelData.java:35-47), with Parquet
  * in place of the reference's custom byte encoders (FCMModel.java:153-166). */
trait CentroidModel {
  protected var centroids: Array[Array[Double]] = _
  def setCentroids(value: Array[Array[Double]]): this.type = { centroids = value; this }
  def getCentroids: Array[Array[Double]] = centroids

  def modelData(spark: SparkSession): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cluster_id", "centroid")
  }

  def save(path: String, spark: SparkSession): Unit =
    modelData(spark).coalesce(1).write.mode("overwrite").parquet(s"$path/data")
}

object CentroidModel {
  /** The centroids a [[CentroidModel.save]] wrote, in cluster order. */
  def load(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/data").orderBy("cluster_id").collect()
      .map(_.getAs[Seq[Double]]("centroid").toArray)
}
