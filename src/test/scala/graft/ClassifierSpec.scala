package graft

import graft.functions.HashTfLinearMargin
import graft.operators.{Dedup, QualityClassifier}
import org.apache.spark.sql.functions._

/** Hash-TF linear classifier: expression semantics, codegen/interpreted
  * parity, and the model-DataFrame bridge. */
class ClassifierSpec extends GraftSpec {
  import spark.implicits._

  private val dim = 64
  private val w = QualityClassifier.syntheticWeightsMilli(dim)

  /** Independent reimplementation of the margin (plain Scala). */
  private def refMargin(text: String, bias: Double): Double = {
    val toks = Dedup.wsPattern.split(text.toLowerCase)
    val sum = toks.map(t => w((Dedup.md5LongJvm(t) % dim).toInt)).sum
    sum / 1000.0 / toks.length + bias
  }

  private val docs = Seq(
    (1L, "the quick brown fox"),
    (2L, "spark engines shuffle data across executors"),
    (3L, "x"),
    (4L, ""),                       // empty text: one empty token, n = 1
    (5L, "MIXED Case TOKENS here")).toDF("doc_id", "text")

  test("margin matches an independent reimplementation on every doc") {
    val got = docs.select($"doc_id",
        HashTfLinearMargin($"text", w, 0.1).as("m"))
      .as[(Long, Double)].collect().toMap
    val texts = Map(1L -> "the quick brown fox",
      2L -> "spark engines shuffle data across executors",
      3L -> "x", 4L -> "", 5L -> "MIXED Case TOKENS here")
    texts.foreach { case (id, t) =>
      assert(got(id) == refMargin(t, 0.1), s"doc $id: got ${got(id)}")
    }
  }

  test("codegen and interpreted paths agree bit-for-bit") {
    val expr = HashTfLinearMargin($"text", w, 0.1).as("m")
    val on = docs.select(expr).as[Double].collect().toSeq
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val off = docs.select(expr).as[Double].collect().toSeq
      assert(on == off)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("null text yields null margin and null label") {
    val withNull = Seq((1L, "some text"), (2L, null)).toDF("doc_id", "text")
    val out = QualityClassifier.classify(withNull, "text", "doc_id", w, 0.1)
      .orderBy("doc_id").collect()
    assert(!out(0).isNullAt(1) && !out(0).isNullAt(2))
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
  }

  test("model-DataFrame entry equals the primitive-array entry") {
    val viaArray = QualityClassifier.classify(docs, "text", "doc_id", w, 0.1)
      .orderBy("doc_id").collect().toSeq
    val viaModel = QualityClassifier.classifyWithModel(docs, "text", "doc_id",
      QualityClassifier.weightsDF(spark, w), 0.1).orderBy("doc_id").collect().toSeq
    assert(viaArray == viaModel)
  }

  test("label thresholds the unrounded margin; synthetic weights are in range") {
    assert(w.forall(v => v >= -1000L && v <= 1000L))
    // a tiny negative margin must stay label 0 even when it ROUNDS to -0.0
    val tiny = Seq((1L, "a")).toDF("doc_id", "text")
    val b = -(w((Dedup.md5LongJvm("a") % dim).toInt) / 1000.0) - 1e-9
    val r = QualityClassifier.classify(tiny, "text", "doc_id", w, b).head()
    assert(r.getInt(2) == 0, s"margin ${r.getDouble(1)} must not flip label")
  }

  test("DSIR: target-exclusive tokens weigh positive, raw-exclusive negative") {
    val corpus = Seq(
      (1L, "ml ml ml training data", "target"),
      (2L, "ml training corpora rock", "target"),
      (3L, "spam spam spam buy now", "web"),
      (4L, "click here buy spam now", "web")).toDF("doc_id", "text", "src")
    val d = 128
    val (wts, (nt, nr)) = QualityClassifier.dsirWeightsMilli(
      corpus, "text", col("src") === "target", dim = d)
    assert(nt == 9 && nr == 19, s"token totals ($nt, $nr)")
    def wOf(t: String) = wts((Dedup.md5LongJvm(t) % d).toInt)
    // hand-check 'ml': ct=4, cr=4 -> ln(((4+1)/(9+128))/((4+1)/(19+128)))
    val expMl = math.floor(1000.0 * math.log(
      ((4 + 1.0) / (9 + 1.0 * d)) / ((4 + 1.0) / (19 + 1.0 * d))) + 0.5).toLong
    assert(wOf("ml") == expMl && wOf("ml") > 0, s"ml weight ${wOf("ml")}")
    assert(wOf("spam") < 0, s"raw-only token must weigh negative: ${wOf("spam")}")
    // unseen-bucket prior: ct=cr=0 ratio, positive here (nr > nt)
    val unseen = wts((Dedup.md5LongJvm("zzz_unseen") % d).toInt)
    assert(unseen == math.floor(1000.0 * math.log(
      (19 + 1.0 * d) / (9 + 1.0 * d)) + 0.5).toLong)
    val scores = QualityClassifier.dsirScore(corpus, "text", "doc_id", wts)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toMap
    // target docs lean positive, spam docs negative
    assert(scores(1L)._3 == 1 && scores(3L)._3 == 0, s"got $scores")
    assert(scores(1L)._1 == 5 && scores(3L)._1 == 5)
    assert(scores(1L)._2 > scores(3L)._2)
  }

  // ---------------------------------------- in-engine trainer (q_lr_train)

  /** Exact scalar replay of one trained model's margin for a doc. */
  private def trainedMargin(text: String, wts: Array[Long], biasMilli: Long): Double = {
    val toks = Dedup.wsPattern.split(text.toLowerCase)
    val s = toks.map(t => wts((Dedup.md5LongJvm(t) % wts.length).toInt)).sum
    s / 1000.0 / toks.length + biasMilli / 1000.0
  }

  test("trainer recovers a linear target: separable toy corpus trains to 100%") {
    // y = doc contains 'good' — a linear function of the token stream
    val corpus = Seq(
      (1L, "good stuff here today", 1), (2L, "really good and fine", 1),
      (3L, "good good good yes", 1), (4L, "bad junk spam here", 0),
      (5L, "terrible awful junk spam", 0), (6L, "bad bad spam no", 0),
      (7L, "quite good indeed friend", 1), (8L, "awful spam junk flood", 0)
    ).toDF("doc_id", "text", "y")
    val (wts, bias) = QualityClassifier.trainLogisticMilli(
      corpus, "text", col("y") === 1, dim = 64, iters = 12,
      lr = 32.0, lrBias = 0.25)
    val preds = corpus.collect().map { r =>
      (r.getInt(2), trainedMargin(r.getString(1), wts, bias) > 0.0)
    }
    assert(preds.forall { case (y, p) => p == (y == 1) },
      s"misclassified: ${preds.mkString(",")}; bias=$bias")
    // the discriminative token carries the largest positive weight
    val wGood = wts((Dedup.md5LongJvm("good") % 64).toInt)
    assert(wGood == wts.max && wGood > 0, s"w(good)=$wGood max=${wts.max}")
  }

  test("trainer trajectory is deterministic across repartitionings") {
    val corpus = Seq(
      (1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "gamma delta epsilon"), (4L, "alpha alpha zeta"),
      (5L, "zeta eta theta"), (6L, "theta beta alpha")
    ).toDF("doc_id", "text")
    val y = col("doc_id") <= 3
    val (w1, b1) = QualityClassifier.trainLogisticMilli(
      corpus, "text", y, dim = 32, iters = 5, lr = 32.0, lrBias = 0.25)
    val (w2, b2) = QualityClassifier.trainLogisticMilli(
      corpus.repartition(7), "text", y, dim = 32, iters = 5,
      lr = 32.0, lrBias = 0.25)
    assert(w1.sameElements(w2) && b1 == b2,
      "integer-residual gradients must be partitioning-invariant")
  }

  test("trainer: zero iterations returns the all-zeros model; null text excluded") {
    val corpus = Seq((1L, "a b c"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val (wts, bias) = QualityClassifier.trainLogisticMilli(
      corpus, "text", col("doc_id") === 1L, dim = 16, iters = 0,
      lr = 32.0, lrBias = 0.25)
    assert(wts.forall(_ == 0L) && bias == 0L)
    // one iteration over the 1-doc corpus (null dropped): N = 1, y = 1,
    // p = 0.5 -> e = floor(0.5/3*-1e9... sign: (0.5-1) = -0.5
    val (w1, b1) = QualityClassifier.trainLogisticMilli(
      corpus, "text", col("doc_id") === 1L, dim = 16, iters = 1,
      lr = 32.0, lrBias = 0.25)
    // e = floor(-0.5/3*1e9+0.5) = -166666667; per touched bucket
    // dw = floor(-166666667*32/1e6 + 0.5) = floor(-5332.83) = -5333
    // (buckets 10/14/3 for a/b/c at dim=16 — no collision)
    val touched = Seq("a", "b", "c").map(t => (Dedup.md5LongJvm(t) % 16).toInt).distinct
    assert(touched.size == 3)
    touched.foreach(b => assert(w1(b) == 5333L, s"bucket $b: ${w1(b)}"))
    // f = floor(-0.5*1e9+0.5) = -500000000; db = floor(-5e8*0.25/1e6+0.5)
    //   = floor(-124.5... ) -> -125 => bias = +125
    assert(b1 == 125L, s"bias $b1")
  }

  test("trained model round-trips through the DataFrame form into inference") {
    val corpus = Seq((1L, "good news"), (2L, "bad spam")).toDF("doc_id", "text")
    val (wts, bias) = QualityClassifier.trainLogisticMilli(
      corpus, "text", col("doc_id") === 1L, dim = 32, iters = 3,
      lr = 32.0, lrBias = 0.25)
    val model = QualityClassifier.trainedModelDF(spark, wts, bias)
    assert(model.count() == 33)
    val biasRow = model.filter(col("bucket") === -1L).head.getLong(1)
    assert(biasRow == bias)
    val viaDf = QualityClassifier.classifyWithModel(corpus, "text", "doc_id",
      model.filter(col("bucket") >= 0L), bias / 1000.0)
      .orderBy("doc_id").collect().map(_.getDouble(1))
    val direct = QualityClassifier.classify(corpus, "text", "doc_id",
      wts, bias / 1000.0).orderBy("doc_id").collect().map(_.getDouble(1))
    assert(viaDf.sameElements(direct))
  }

  // ------------------------- case folding under a Turkish default locale

  // the same words upper- and pre-lowercased: each kernel must fold `I`
  // to ASCII `i` as Spark's lower() does, whatever the JVM locale
  private val upper = "FLINK Is IT IN Index TIME"
  private val lower = "flink is it in index time"

  test("margin folds case like Spark's lower() under a Turkish default locale") {
    withTurkishLocale {
      val m = Seq(upper, lower).toDF("text")
        .select(HashTfLinearMargin($"text", w, 0.1)).as[Double].collect()
      assert(m(0) == m(1), s"margins ${m.toSeq}")
    }
  }

  test("DSIR weights fold case like Spark's lower() under a Turkish default locale") {
    withTurkishLocale {
      def weights(t: String) = QualityClassifier.dsirWeightsMilli(
        Seq((t, true), ("spam buy now", false)).toDF("text", "tgt"),
        "text", col("tgt"), dim = dim)._1.toSeq
      assert(weights(upper) == weights(lower))
    }
  }

  test("trainer folds case like Spark's lower() under a Turkish default locale") {
    withTurkishLocale {
      def model(t: String) = {
        val (wts, bias) = QualityClassifier.trainLogisticMilli(
          Seq((t, true), ("spam buy now", false)).toDF("text", "y"),
          "text", col("y"), dim = dim, iters = 3, lr = 32.0, lrBias = 0.25)
        (wts.toSeq, bias)
      }
      assert(model(upper) == model(lower))
    }
  }
}
