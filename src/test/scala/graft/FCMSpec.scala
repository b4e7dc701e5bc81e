package graft

import graft.operators.{FCM, FCMModel}
import org.apache.spark.sql.functions._

/** Port of the reference FCM tests (test/java/cn/swust/algorithms/fcm/
  * FCMTest.java): param defaults, golden centroids, cluster groupings,
  * k > distinct points, save/load. */
class FCMSpec extends GraftSpec {
  import spark.implicits._

  private val data = Seq(
    Array(1.0, 2.0), Array(1.5, 1.8), Array(5.0, 8.0),
    Array(8.0, 8.0), Array(1.0, 0.6), Array(9.0, 11.0))
  private lazy val df = data.map(Tuple1(_)).toDF("features")

  // FCMTest.java:53-66: expected cluster groupings.
  private val expectedGroups = Set(
    Set(Seq(9.0, 11.0)),
    Set(Seq(8.0, 8.0), Seq(5.0, 8.0)),
    Set(Seq(1.0, 2.0), Seq(1.5, 1.8), Seq(1.0, 0.6)))

  test("param defaults match reference (FCMTest.java:187-209)") {
    val fcm = new FCM()
    assert(fcm.getFeaturesCol == "features")
    assert(fcm.getPredictionCol == "prediction")
    assert(fcm.getDistanceMeasure == "euclidean")
    assert(fcm.getK == 3)
    assert(fcm.getM == 2.0)
    assert(fcm.getMaxIter == 20)
    fcm.setK(9).setFeaturesCol("tf").setPredictionCol("tp").setK(3)
      .setMaxIter(60).setSeed(100)
    assert(fcm.getK == 3 && fcm.getMaxIter == 60 && fcm.getSeed == 100)
  }

  test("golden centroids (FCMTest.java:336-355) within 1e-4") {
    val model = new FCM().setMaxIter(100).setSeed(42).fit(df)
    val cs = model.getCentroids.sortBy(_(0))
    assertApprox(cs(0).toSeq, Seq(1.1704, 1.4739), 1e-4)
    assertApprox(cs(1).toSeq, Seq(5.8931, 7.9994), 1e-4)
    assertApprox(cs(2).toSeq, Seq(8.8858, 10.6673), 1e-4)
  }

  test("fit + predict groups points like the reference (FCMTest.java:260-274)") {
    val model = new FCM().setMaxIter(100).setSeed(42).fit(df)
    val out = model.transform(df)
    assert(out.columns.toSeq == Seq("features", "prediction"))
    val groups = out.collect()
      .groupBy(_.getInt(1))
      .values.map(_.map(_.getAs[scala.collection.Seq[Double]](0).toList: Seq[Double]).toSet).toSet
    assert(groups == expectedGroups)
  }

  test("fewer distinct points than k (FCMTest.java:238-257)") {
    val tiny = Seq(Array(0.0, 0.1), Array(0.0, 0.1), Array(0.0, 0.1))
      .map(Tuple1(_)).toDF("features")
    val model = new FCM().setK(2).setSeed(1).fit(tiny)
    val preds = model.transform(tiny).select("prediction").distinct().count()
    assert(preds == 1L, "identical points must land in one cluster")
  }

  test("canopy centers seed FCM (Canopy -> FCM composition)") {
    val centers = graft.operators.Canopy.selectCenters(
      df, "features", t1 = 6.0, t2 = 3.0, maxIter = 20, measure = "euclidean")
    assert(centers.nonEmpty)
    val model = new FCM().setMaxIter(100).setInitialCentroids(centers).fit(df)
    assert(model.getCentroids.length == centers.length)
    // The tight bottom-left trio must share a cluster regardless of k.
    val out = model.transform(df).collect()
      .map(r => (r.getAs[scala.collection.Seq[Double]](0).head, r.getInt(1)))
    val trio = out.filter(_._1 <= 1.5).map(_._2).toSet
    assert(trio.size == 1)
  }

  test("explicit initial centroids drive the epoch-0 memberships") {
    // one round from a known init must equal the hand-computed update:
    // u from the PROVIDED centroids (not the Dirichlet random init),
    // centroid_i = (1/sum u^2) * sum u^2 x
    val init = Array(Array(1.0, 1.0), Array(9.0, 10.0))
    val model = new FCM().setMaxIter(1).setTol(0.0)
      .setInitialCentroids(init).fit(df)
    val k = init.length
    val sums = Array.fill(k)(0.0)
    val contrib = Array.fill(k)(Array(0.0, 0.0))
    data.foreach { p =>
      val u = FCM.membership(p, init, "euclidean", 2.0)
      for (i <- 0 until k) {
        val um = u(i) * u(i)
        sums(i) += um
        graft.core.VecOps.axpy(um, p, contrib(i))
      }
    }
    val expected = Array.tabulate(k)(i =>
      graft.core.VecOps.scal(1.0 / sums(i), contrib(i)))
    model.getCentroids.zip(expected).foreach { case (got, exp) =>
      got.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
    }
  }

  test("default random-init fit is partition-layout-independent") {
    // the epoch-0 state is the content-hash Dirichlet matrix, so the SAME
    // centroids (up to treeAggregate fp-summation noise) must come out of
    // any partitioning — the round-2 verdict's determinism criterion
    val pts = (1 to 90).map(i => Tuple1(Array((i % 5).toDouble, (i % 7).toDouble)))
    def fit(parts: Int): Array[Array[Double]] =
      new FCM().setK(3).setMaxIter(15).setSeed(7)
        .fit(pts.toDF("features").repartition(parts)).getCentroids
    val ref = fit(1)
    for (parts <- Seq(3, 8)) {
      fit(parts).zip(ref).foreach { case (g, e) =>
        assertApprox(g.toSeq, e.toSeq, 1e-9)
      }
    }
  }

  test("hash-sample init (initIdCol) picks the smallest-md5 rows at any layout") {
    val pts = (1 to 90).map(i => (i.toLong, Array((i % 5).toDouble, (i % 7).toDouble)))
    // expected init: k rows by (60-bit md5 of id-string, id)
    def h(id: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15), 16)
    val expectedInit = pts.sortBy { case (id, _) => (h(id), id) }.take(3).map(_._2)
    // fitting via initIdCol must equal fitting via the explicitly computed
    // hash sample — pinning both the selection and its layout-independence
    for (parts <- Seq(1, 4)) {
      val df2 = pts.toDF("id", "features").repartition(parts)
      val viaHash = new FCM().setK(3).setMaxIter(5).setInitIdCol("id")
        .fit(df2).getCentroids
      val viaExplicit = new FCM().setMaxIter(5)
        .setInitialCentroids(expectedInit.toArray).fit(df2).getCentroids
      viaHash.zip(viaExplicit).foreach { case (g, e) =>
        assertApprox(g.toSeq, e.toSeq, 1e-9)
      }
    }
  }

  test("empty input fails with FCM's own message") {
    for (fcm <- Seq(new FCM(), new FCM().setInitIdCol("id"))) {
      val e = intercept[IllegalArgumentException](
        fcm.fit(data.zipWithIndex.map { case (p, i) => (i.toLong, p) }
          .toDF("id", "features").limit(0)))
      assert(e.getMessage.contains("cannot fit FCM on an empty dataset"), e.getMessage)
    }
  }

  test("a feature vector of another dimension fails the fit, naming the expected one") {
    // random init: the first row sets dimension 2, and the longer second
    // row shares its block; explicit init: 2-d centroids over 3-d rows
    val mixed = Seq(Array(1.0, 2.0), Array(1.5, 1.8, 7.0)).map(Tuple1(_))
      .toDF("features").coalesce(1)
    val threeDim = Seq(Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)).map(Tuple1(_))
      .toDF("features")
    val fits = Seq(
      () => new FCM().setK(2).setMaxIter(3).fit(mixed),
      () => new FCM().setMaxIter(3)
        .setInitialCentroids(Array(Array(0.0, 0.0), Array(5.0, 5.0))).fit(threeDim))
    for (fit <- fits) {
      val e = intercept[Exception](fit())
      assert(causeChain(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("FCM: feature vectors must be non-null with 2 non-null elements")),
        s"expected the dimension check, got: $e")
    }
  }

  test("membership rows sum to 1 and model save/load round-trips") {
    val model = new FCM().setMaxIter(100).setSeed(42).fit(df)
    val sums = model.membershipMatrix(df)
      .select(aggregate(col("membership"), lit(0.0), (a, x) => a + x))
      .as[Double].collect()
    sums.foreach(s => assert(math.abs(s - 1.0) < 1e-9))

    val dir = java.nio.file.Files.createTempDirectory("fcm-model").toString
    model.save(dir, spark)
    val loaded = FCMModel.load(spark, dir)
    assert(loaded.getCentroids.map(_.toSeq).toSeq == model.getCentroids.map(_.toSeq).toSeq)
  }
}
