package graft

import graft.operators.Apriori

/** Port of the reference Apriori golden test
  * (test/java/cn/swust/algorithms/apriori/AprioriTest.java:36-137):
  * 4 transactions, minSupport 0.3 / minConfidence 0.4 / lift 1.2 →
  * exactly 8 rules. */
class AprioriSpec extends GraftSpec {
  import spark.implicits._

  private lazy val tx = Seq("A/C/D", "B/C/E", "A/B/C/E", "B/E").toDF("items")

  // (itemSet, count, support, confidence, lift, prefix, suffix)
  private val golden = Set(
    (List("E", "B", "C"), 2, 0.5, 1.0, 1.333, List("E"), List("B", "C")),
    (List("B", "C", "E"), 2, 0.5, 1.0, 1.333, List("B"), List("C", "E")),
    (List("C", "E", "B"), 2, 0.5, 0.667, 1.333, List("C", "E"), List("B")),
    (List("B", "C", "E"), 2, 0.5, 0.667, 1.333, List("B", "C"), List("E")),
    (List("C", "A"), 2, 0.5, 1.0, 1.333, List("C"), List("A")),
    (List("A", "C"), 2, 0.5, 0.667, 1.333, List("A"), List("C")),
    (List("E", "B"), 3, 0.75, 1.0, 1.333, List("E"), List("B")),
    (List("B", "E"), 3, 0.75, 1.0, 1.333, List("B"), List("E")))

  test("maxBasketSize truncates pathological baskets and counts them") {
    // one 200-item basket would enumerate ~20k pairs; capped at 5 items
    // it contributes C(5,2)+5, and the truncation is reported
    val big = (1 to 200).map(i => s"x$i").mkString("/")
    val txs = (Seq(big) ++ Seq("A/B", "A/B")).toDF("items")
    val ap = new Apriori().setMinSupport(0.3).setMinConfidence(0.0).setLift(0.0)
      .setItemSeparator("/").setInputCols("items")
      .setMaxItemsetSize(2).setMaxBasketSize(5)
    val out = ap.transform(txs)
    assert(out.count() > 0)
    assert(ap.getTruncatedBaskets == 1L, s"expected 1 truncated basket, got ${ap.getTruncatedBaskets}")
    // items past the cap never appear in any rule
    val seen = out.collect().flatMap(_.getAs[scala.collection.Seq[String]](0)).toSet
    assert(!seen.contains("x6") && !seen.contains("x200"))
  }

  test("golden 8 rules (AprioriTest.java:43-137) within 1e-3") {
    val out = new Apriori()
      .setMinSupport(0.3).setMinConfidence(0.4).setLift(1.2)
      .setItemSeparator("/").setInputCols("items")
      .transform(tx)
    assert(out.columns.toSeq ==
      Seq("itemSet", "count", "support", "confidence", "lift", "prefix", "suffix"))
    val rows = out.collect().map { r =>
      (r.getAs[scala.collection.Seq[String]](0).toList, r.getInt(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getAs[scala.collection.Seq[String]](5).toList,
        r.getAs[scala.collection.Seq[String]](6).toList)
    }
    assert(rows.length == 8, s"expected 8 rules, got ${rows.length}:\n${rows.mkString("\n")}")
    golden.foreach { g =>
      val m = rows.find(r => r._1 == g._1 && r._6 == g._6 && r._7 == g._7)
      assert(m.isDefined, s"missing rule $g")
      val r = m.get
      assert(r._2 == g._2)
      assert(math.abs(r._3 - g._3) < 1e-3, s"support ${r._3} vs ${g._3} for $g")
      assert(math.abs(r._4 - g._4) < 1e-3, s"confidence ${r._4} vs ${g._4} for $g")
      assert(math.abs(r._5 - g._5) < 1e-3, s"lift ${r._5} vs ${g._5} for $g")
    }
  }

  test("param defaults + setter round-trip (AprioriTest.java:155-169)") {
    val a = new Apriori().setMinSupport(0.3).setMinConfidence(0.4)
      .setLift(1.2).setItemSeparator("/").setInputCols("items")
    assert(a.getMinSupport == 0.3 && a.getMinConfidence == 0.4)
    assert(a.getLift == 1.2 && a.getItemSeparator == "/")
    assert(a.getInputCols.toSeq == Seq("items"))
    assert(new Apriori().getMinSupport == 0.5)
    assert(new Apriori().getLift == 1.0)
  }

  test("1-itemsets surface when thresholds allow (Apriori.java:98-107)") {
    val out = new Apriori()
      .setMinSupport(0.5).setMinConfidence(0.5).setLift(1.0)
      .setItemSeparator("/").setInputCols("items")
      .transform(tx)
    val singles = out.collect().filter(_.getAs[scala.collection.Seq[String]](0).length == 1)
    // A(0.5) B(0.75) C(0.75) E(0.75) all have conf = support >= 0.5, lift = 1.
    assert(singles.map(_.getAs[scala.collection.Seq[String]](0).head).toSet ==
      Set("A", "B", "C", "E"))
    singles.foreach(r => assert(r.getDouble(4) == 1.0))
  }

  test("maxItemsetSize caps enumeration (scale guard)") {
    val out = new Apriori()
      .setMinSupport(0.3).setMinConfidence(0.0).setLift(0.0)
      .setItemSeparator("/").setInputCols("items").setMaxItemsetSize(2)
      .transform(tx)
    assert(out.collect().forall(_.getAs[scala.collection.Seq[String]](0).length <= 2))
  }

  test("maxFrequentItemsets fails fast on a minSupport=0 wide domain") {
    // 200 distinct items in pairs: minSupport=0 keeps every enumerated
    // subset frequent — the guard must abort before the driver collect,
    // naming minSupport
    import spark.implicits._
    val wide = (1 to 100).map(i => s"w${2 * i}/w${2 * i + 1}").toDF("items")
    val e = intercept[IllegalStateException] {
      new Apriori().setMinSupport(0.0).setMinConfidence(0.0).setLift(0.0)
        .setItemSeparator("/").setInputCols("items")
        .setMaxFrequentItemsets(50)
        .transform(wide)
    }
    assert(e.getMessage.contains("minSupport"), e.getMessage)
  }

  test("a capped fit releases its persisted transactions") {
    // q_apriori's baskets at sf0.001 hold far more than one frequent
    // itemset, so a cap of 1 throws after the transactions are persisted
    import org.apache.spark.sql.functions._
    val tx = spark.read.parquet(sf() + "/lineitem.parquet")
      .select(col("l_orderkey"),
        concat(lit("i"), pmod(col("l_partkey"), lit(12))).as("item"))
      .groupBy("l_orderkey")
      .agg(concat_ws("/", sort_array(collect_set(col("item")))).as("items"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      new Apriori().setMinSupport(0.05).setMinConfidence(0.1).setLift(1.0)
        .setItemSeparator("/").setInputCols("items").setMaxItemsetSize(2)
        .setMaxFrequentItemsets(1)
        .transform(tx)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("two-phase enumerators agree with the reference index walk") {
    // indexSubsets is the reference enumeration (Apriori.java:320-365
    // order); hashSubsets and candidateSubsets must walk the SAME
    // lattice in the SAME order, or the two counting passes diverge
    val items = Array("b", "a", "b", "c", "d")
    val ih = items.map(Apriori.itemHash64)
    for (k <- 1 to items.length) {
      val ref = Apriori.indexSubsets(items, k).toVector
      val hashes = Apriori.hashSubsets(ih, k).toVector
      assert(hashes.length == ref.length, s"k=$k")
      // candidate pass with ALL hashes admitted reproduces the walk
      val all = hashes.distinct.sorted.toArray
      val cand = Apriori.candidateSubsets(items, ih, k, all).toVector
      assert(cand == ref, s"k=$k: $cand vs $ref")
      // candidate pass with an empty admit set emits nothing
      assert(Apriori.candidateSubsets(items, ih, k, Array.empty[Long]).isEmpty)
      // hash is order-sensitive: distinct subsequences of the same
      // multiset get distinct hashes here
      val ab = Apriori.hashSubsets(Array(Apriori.itemHash64("a"),
        Apriori.itemHash64("b")), 2).toVector
      val ba = Apriori.hashSubsets(Array(Apriori.itemHash64("b"),
        Apriori.itemHash64("a")), 2).toVector
      assert(ab != ba)
    }
  }
}
