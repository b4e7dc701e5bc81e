package graft

import graft.operators.{FeatureRangeException, KMeansDet, KMeansDetModel}
import org.apache.spark.sql.functions._

/** Deterministic k-means: hand-computed Lloyd's rounds, tie-break and
  * empty-cluster semantics, partition-layout invariance of the hash
  * init, fixpoint early-stop, save/load. */
class KMeansSpec extends GraftSpec {
  import spark.implicits._

  private val pts = Seq(
    (1L, Array(0.0, 0.0)), (2L, Array(2.0, 0.0)),
    (3L, Array(10.0, 0.0)), (4L, Array(12.0, 0.0)))
  private lazy val df = pts.toDF("id", "features")

  test("explicit init converges to the hand-computed partition means") {
    // init (0,0), (10,0): round 1 assigns {p1,p2} / {p3,p4},
    // means (1,0) / (11,0); round 2 reassigns identically -> fixpoint.
    val m = new KMeansDet().setMaxIter(10)
      .setInitialCentroids(Array(Array(0.0, 0.0), Array(10.0, 0.0)))
      .fit(df)
    val cs = m.getCentroids
    assertApprox(cs(0).toSeq, Seq(1.0, 0.0), 0.0)
    assertApprox(cs(1).toSeq, Seq(11.0, 0.0), 0.0)
  }

  test("fixpoint early-stop: maxIter=50 does the same work as maxIter=3") {
    val a = new KMeansDet().setMaxIter(3)
      .setInitialCentroids(Array(Array(0.0, 0.0), Array(10.0, 0.0))).fit(df)
    val b = new KMeansDet().setMaxIter(50)
      .setInitialCentroids(Array(Array(0.0, 0.0), Array(10.0, 0.0))).fit(df)
    assert(a.getCentroids.map(_.toSeq).toSeq == b.getCentroids.map(_.toSeq).toSeq)
  }

  test("equidistant point breaks ties to the lowest cluster index") {
    // 6.0 is equidistant from centroids 1.0 and 11.0.
    val m = new KMeansDetModel().setCentroids(Array(Array(1.0), Array(11.0)))
    val out = m.transform(Seq(Tuple1(Array(6.0))).toDF("features"))
      .select("prediction").as[Int].head()
    assert(out == 0)
  }

  test("empty cluster keeps its previous centroid") {
    // Centroid (100,100) captures nothing on round 1; it must survive
    // unchanged rather than collapse to NaN (0/0).
    val m = new KMeansDet().setMaxIter(4)
      .setInitialCentroids(Array(Array(1.0, 0.0), Array(100.0, 100.0)))
      .fit(df)
    assertApprox(m.getCentroids(1).toSeq, Seq(100.0, 100.0), 0.0)
    assert(m.getCentroids(0).forall(!_.isNaN))
  }

  test("hash-sample init is invariant to partition layout") {
    val base = df.repartition(1)
    val shuffled = df.repartition(7, col("id"))
    val fit = (d: org.apache.spark.sql.DataFrame) =>
      new KMeansDet().setK(2).setMaxIter(5).setInitIdCol("id").fit(d)
        .getCentroids.map(_.toSeq).toSeq
    assert(fit(base) == fit(shuffled))
  }

  test("fit requires an init path; k > rows pads; empty input fails") {
    intercept[IllegalArgumentException](new KMeansDet().fit(df))
    val m = new KMeansDet().setK(3).setMaxIter(2).setInitIdCol("id")
      .fit(df.limit(2))
    assert(m.getCentroids.length == 3)
    intercept[IllegalArgumentException](
      new KMeansDet().setInitIdCol("id").fit(df.limit(0)))
  }

  test("transform appends prediction; duplicate output column is rejected") {
    val m = new KMeansDetModel().setCentroids(Array(Array(1.0, 0.0), Array(11.0, 0.0)))
    val out = m.transform(df)
    assert(out.columns.toSeq == Seq("id", "features", "prediction"))
    assert(out.filter(col("id") <= 2 && col("prediction") === 0).count() == 2)
    assert(out.filter(col("id") >= 3 && col("prediction") === 1).count() == 2)
    intercept[IllegalArgumentException](
      m.transformSchema(out.schema))
  }

  test("save/load round-trips the centroids") {
    val dir = java.nio.file.Files.createTempDirectory("kmeans_model").toString
    val m = new KMeansDetModel().setCentroids(Array(Array(1.5, 2.5), Array(3.5, 4.5)))
    m.save(dir, spark)
    val back = KMeansDetModel.load(spark, dir)
    assert(back.getCentroids.map(_.toSeq).toSeq == m.getCentroids.map(_.toSeq).toSeq)
  }

  test("large-k predict (UDF fallback) agrees with the expression path") {
    // 600 centroid cells forces the broadcast UDF; a 2-centroid prefix of
    // the same model must agree with the expression path on shared wins.
    // An all-NaN row lands in cluster 0 on both paths: Spark SQL orders
    // NaN above every number and NaN <= NaN is true.
    val many = Array.tabulate(300)(i => Array(i.toDouble, 0.0))
    val withNaN = (pts :+ ((5L, Array(Double.NaN, Double.NaN)))).toDF("id", "features")
    def predict(m: KMeansDetModel): Map[Long, Int] =
      m.transform(withNaN).select("id", "prediction").as[(Long, Int)].collect().toMap
    val out = predict(new KMeansDetModel().setCentroids(many))
    assert(out(1L) == 0 && out(2L) == 2 && out(3L) == 10 && out(4L) == 12)
    assert(out(5L) == 0)
    assert(predict(new KMeansDetModel().setCentroids(many.take(2)))(5L) == 0)
  }

  test("a fit over an out-of-range feature fails and releases its cached blocks") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val bad = (pts :+ ((5L, Array(1e6, 0.0)))).toDF("id", "features")
    val e = intercept[Exception] {
      new KMeansDet().setMaxIter(3)
        .setInitialCentroids(Array(Array(0.0, 0.0), Array(10.0, 0.0))).fit(bad)
    }
    assert(causeChain(e).exists(_.isInstanceOf[FeatureRangeException]), s"got: $e")
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("q_cluster_balance: per-cluster caps hold, picks are distinct, every cluster represented") {
    val rows = SparkEntry.queries("q_cluster_balance")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate picks")
    val perCluster = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perCluster.values.forall(_ <= 20), s"cap breached: $perCluster")
    assert(perCluster.keys.toSet.subsetOf((0 until 6).toSet))
    // the sf0.01 corpus fills every cluster to its cap
    assert(perCluster.values.sum == rows.length && rows.nonEmpty)
  }
}
