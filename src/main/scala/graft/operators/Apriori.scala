package graft.operators

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Apriori frequent itemsets + association rules.
 *
 * Reference semantics (cn/swust/algorithms/apriori/Apriori.java):
 *  - each transaction string is split on itemSeparator; EVERY non-empty
 *    ordered subsequence is enumerated and counted (Apriori.java:292-317,
 *    320-365) — itemset identity is the ORDERED list, not the set;
 *  - support = count / #transactions, kept when >= minSupport; frequent
 *    1-itemsets get confidence = support and lift = 1.0
 *    (Apriori.java:98-107);
 *  - rules: for frequent S and every split S = prefix ++ suffix over all
 *    prefix sizes, confidence(prefix->suffix) = count(S)/count(suffix) —
 *    the reference's "confidence" of A->B is P(A|B); lift =
 *    confidence / support(prefix) (Apriori.java:237-270). A rule fires only
 *    when BOTH prefix and suffix are keys of the iterated broadcast map
 *    (1-itemsets at round 1, then the reordered prefix++suffix itemsets of
 *    the previous round's rules) — reachability we reproduce exactly;
 *  - output deduped on the full tuple (Apriori.java:159-167), final filter
 *    confidence >= minConfidence && lift >= lift (Apriori.java:181);
 *    schema (itemSet, count, support, confidence, lift, prefix, suffix).
 *
 * Spark architecture: the data-sized work — subset explode + count — is a
 * single flatMap + groupBy (partial aggregation, one shuffle). Support
 * pruning shrinks frequent itemsets to driver scale (that is the whole
 * point of minSupport), so rule generation, which touches only frequent
 * itemsets, is a driver fixpoint loop over a hash map: the reference's
 * PER_ROUND iteration with broadcast joins (Apriori.java:115-154)
 * disappears. The broadcast map grows monotonically per round, so the
 * last round's rule set equals the union over rounds — no accumulation
 * or dedupe machinery needed beyond it.
 *
 * Scale guard: subset enumeration is 2^|tx|. `maxItemsetSize` bounds the
 * explode (level-wise Apriori truncated at depth k); the reference's
 * unbounded behavior is the default. For 100 TB with long baskets, set
 * maxItemsetSize to the largest rule size you need.
 */
class Apriori(override val uid: String) extends Transformer
    with HasInputCols with HasMaxIter with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("apriori"))

  /** Minimum support (AprioriParams.java:9-14, default 0.5). */
  final val minSupport: DoubleParam = new DoubleParam(this, "minSupport",
    "minimum support", ParamValidators.gtEq(0.0))
  setDefault(minSupport -> 0.5)
  def getMinSupport: Double = $(minSupport)
  def setMinSupport(value: Double): this.type = set(minSupport, value)

  /** Minimum confidence (AprioriParams.java:16-21, default 0.5). */
  final val minConfidence: DoubleParam = new DoubleParam(this, "minConfidence",
    "minimum confidence", ParamValidators.gtEq(0.0))
  setDefault(minConfidence -> 0.5)
  def getMinConfidence: Double = $(minConfidence)
  def setMinConfidence(value: Double): this.type = set(minConfidence, value)

  /** Minimum lift (AprioriParams.java:23-28, default 1.0). */
  final val lift: DoubleParam = new DoubleParam(this, "lift",
    "minimum lift", ParamValidators.gtEq(0.0))
  setDefault(lift -> 1.0)
  def getLift: Double = $(lift)
  def setLift(value: Double): this.type = set(lift, value)

  /** Transaction item separator (AprioriParams.java:30-36). */
  final val itemSeparator: Param[String] =
    new Param[String](this, "itemSeparator", "item separator regex")
  def getItemSeparator: String = $(itemSeparator)
  def setItemSeparator(value: String): this.type = set(itemSeparator, value)

  /** Cap on enumerated itemset size — scale guard, Int.MaxValue = reference
    * parity (unbounded). */
  final val maxItemsetSize: IntParam = new IntParam(this, "maxItemsetSize",
    "maximum itemset size to enumerate", ParamValidators.gt(0))
  setDefault(maxItemsetSize -> Int.MaxValue)
  def getMaxItemsetSize: Int = $(maxItemsetSize)
  def setMaxItemsetSize(value: Int): this.type = set(maxItemsetSize, value)

  /** Per-transaction item cap — scale guard against pathological baskets
    * (one 10k-item basket alone enumerates 50M pairs): longer baskets
    * keep their first maxBasketSize items, and the truncation count is
    * reported via [[getTruncatedBaskets]]. Int.MaxValue = reference
    * parity (unbounded). */
  final val maxBasketSize: IntParam = new IntParam(this, "maxBasketSize",
    "maximum items per transaction before truncation", ParamValidators.gt(0))
  setDefault(maxBasketSize -> Int.MaxValue)
  def getMaxBasketSize: Int = $(maxBasketSize)
  def setMaxBasketSize(value: Int): this.type = set(maxBasketSize, value)

  /** Cap on the number of frequent itemsets collected to the driver for
    * rule generation. Support pruning is what keeps that set driver-sized
    * (the architecture's core assumption) — but minSupport near 0 on a
    * wide item domain silently breaks it; this guard turns the resulting
    * driver OOM into a fail-fast error naming the knob to turn. */
  final val maxFrequentItemsets: IntParam = new IntParam(this, "maxFrequentItemsets",
    "maximum frequent itemsets collected for rule generation", ParamValidators.gt(0))
  setDefault(maxFrequentItemsets -> 10000000)
  def getMaxFrequentItemsets: Int = $(maxFrequentItemsets)
  def setMaxFrequentItemsets(value: Int): this.type = set(maxFrequentItemsets, value)

  private var truncatedBaskets: Long = 0L
  /** Number of baskets truncated by maxBasketSize in the last transform. */
  def getTruncatedBaskets: Long = truncatedBaskets

  def setInputCols(value: String*): this.type = set(inputCols, value.toArray)
  def setMaxIter(value: Int): this.type = set(maxIter, value)

  override def transform(ds: Dataset[_]): DataFrame = {
    require($(inputCols).length == 1, "inputCols must be one")
    val df = ds.toDF()
    val spark = df.sparkSession
    import spark.implicits._
    val sep = $(itemSeparator); val cap = $(maxItemsetSize)

    // Persist the transaction strings: BOTH the numTx count and the subset
    // aggregation consume them, and without the persist the whole upstream
    // plan (scan + any shuffles building the baskets) runs twice. One
    // string per transaction, MEMORY_AND_DISK — spills instead of OOM at
    // scale; freed right after the frequent-itemset collect.
    val tx = df.select(col($(inputCols)(0)).cast(StringType)).as[String]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val frequent = try {
      val numTx = tx.count()

      // Subset counting: one flatMap + one hash-aggregated groupBy.
      // Positional enumeration like the reference's nchoosek
      // (Apriori.java:320-365): each subset counts once per index tuple, so
      // repeated items within a transaction contribute one count per
      // occurrence. Hand-rolled next-combination over a primitive index
      // array — `Range.combinations` boxes every index and allocates an
      // intermediate IndexedSeq per subset, which tripled this flatMap's
      // cost at the 100x scale point.
      val basketCap = $(maxBasketSize)
      val truncAcc = spark.sparkContext.longAccumulator("apriori.truncatedBaskets")
      val minSup = $(minSupport)
      val freqCap = $(maxFrequentItemsets)

      // TWO-PHASE counting (round-11 100x fix; output-identical by
      // construction). The subset lattice is data-sized — enumerating it
      // is unavoidable under reference semantics — but shuffling it as
      // variable-length string sequences was ~3/4 of the 100x cost
      // (Seq hashing, per-subset allocation, fat exchange rows).
      //
      // PASS 1 discovers CANDIDATES on order-sensitive 64-bit rolling
      // hashes of each subsequence: the flatMap emits one primitive long
      // per subset (no allocation — hashes fold over a per-basket item-
      // hash array inside the combination walk) and the count aggregates
      // in a dense Tungsten long agg. A hash collision can only MERGE
      // counts upward, so no truly-frequent subsequence is ever lost;
      // false positives survive to pass 2 where exact strings kill them.
      //
      // PASS 2 re-enumerates, keeps only subsets whose hash hits the
      // broadcast sorted candidate array (binary search, zero boxing),
      // and counts THOSE by their exact item sequence — frequent-set
      // volume, not lattice volume, on the wire. Measured at the 60M-
      // basket 100x point, warm min-of-2: q_apriori 99.8 -> 18.2s,
      // q_apriori_levelwise 131.2 -> 17.5s.
      val candidates = tx.flatMap { line =>
        val all = line.split(sep)
        val items =
          if (all.length <= basketCap) all
          else { truncAcc.add(1L); all.take(basketCap) }
        val ih = new Array[Long](items.length)
        var i = 0
        while (i < items.length) { ih(i) = Apriori.itemHash64(items(i)); i += 1 }
        (1 to math.min(items.length, cap)).iterator
          .flatMap(k => Apriori.hashSubsets(ih, k))
      }.groupBy(col("value").as("__h")).count()
        .filter(col("count") / lit(numTx.toDouble) >= minSup)
        .select(col("__h"))
        .limit(if (freqCap == Int.MaxValue) freqCap else freqCap + 1)
        .collect()
      if (candidates.length > freqCap)
        throw new IllegalStateException(
          s"Apriori found more than $freqCap frequent itemsets: minSupport=$minSup " +
            s"is too low for this item domain (support pruning is what keeps " +
            s"rule generation driver-sized). Raise minSupport, lower " +
            s"maxItemsetSize, or raise maxFrequentItemsets explicitly.")
      truncatedBaskets = truncAcc.value // materialized by the collect
      val candArr = candidates.map(_.getLong(0)).sorted
      val candB = spark.sparkContext.broadcast(candArr)

      try {
        val counts = tx.flatMap { line =>
          val all = line.split(sep)
          val items = if (all.length <= basketCap) all else all.take(basketCap)
          val ih = new Array[Long](items.length)
          var i = 0
          while (i < items.length) { ih(i) = Apriori.itemHash64(items(i)); i += 1 }
          (1 to math.min(items.length, cap)).iterator
            .flatMap(k => Apriori.candidateSubsets(items, ih, k, candB.value))
        }.groupBy(col("value").as("itemSet")).count()

        // exact support filter on the string-keyed counts: pass-1 hash
        // collisions (merged counts) die here, so the frequent set is
        // IDENTICAL to the single-phase enumeration's
        counts
          .withColumn("support", col("count") / lit(numTx.toDouble))
          .filter(col("support") >= minSup)
          .limit(if (freqCap == Int.MaxValue) freqCap else freqCap + 1)
          .collect()
          .map { r =>
            (r.getAs[scala.collection.Seq[String]]("itemSet").toList,
              r.getAs[Long]("count").toInt, r.getAs[Double]("support"))
          }
      } finally candB.destroy()
    } finally tx.unpersist(blocking = false)

    val rules = Apriori.generateRules(frequent, $(maxIter))
      .filter(r => r.confidence >= $(minConfidence) && r.lift >= $(lift))

    spark.createDataFrame(spark.sparkContext.parallelize(rules.map(r =>
      org.apache.spark.sql.Row(r.itemSet, r.count, r.support, r.confidence,
        r.lift, r.prefix, r.suffix))), Apriori.outputSchema)
  }

  override def transformSchema(schema: StructType): StructType = Apriori.outputSchema

  override def copy(extra: ParamMap): Apriori = defaultCopy(extra)
}

object Apriori extends DefaultParamsReadable[Apriori] {

  /** All k-index-subsets of `items` in lexicographic index order, emitted
    * as item sequences — the reference's positional nchoosek
    * (Apriori.java:320-365) without per-subset boxing. */
  private[graft] def indexSubsets(items: Array[String], k: Int): Iterator[Seq[String]] =
    new Iterator[Seq[String]] {
      private val n = items.length
      private val idx = Array.range(0, k)
      private var more = n >= k && k > 0
      def hasNext: Boolean = more
      def next(): Seq[String] = {
        val out = new Array[String](k)
        var i = 0
        while (i < k) { out(i) = items(idx(i)); i += 1 }
        var j = k - 1
        while (j >= 0 && idx(j) == n - k + j) j -= 1
        if (j < 0) more = false
        else {
          idx(j) += 1
          var l = j + 1
          while (l < k) { idx(l) = idx(l - 1) + 1; l += 1 }
        }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      }
    }

  /** FNV-1a over UTF-16 code units — the per-item hash both counting
    * passes fold from. 64-bit so lattice-sized hash sets stay far from
    * birthday territory (and a collision is only ever a pass-1 false
    * positive — pass 2 counts exact strings). */
  private[graft] def itemHash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Order-sensitive fold of item hashes — subsequence identity. */
  @inline private def mix(h: Long, itemHash: Long): Long =
    h * 0x9e3779b97f4a7c15L + itemHash

  /** Hashes of all k-index-subsets of the item-hash array, in the same
    * lexicographic index order as [[indexSubsets]] — zero allocation in
    * the walk (pass 1 of the two-phase count). */
  private[graft] def hashSubsets(itemHashes: Array[Long], k: Int): Iterator[Long] =
    new Iterator[Long] {
      private val n = itemHashes.length
      private val idx = Array.range(0, k)
      private var more = n >= k && k > 0
      def hasNext: Boolean = more
      def next(): Long = {
        var h = 0L
        var i = 0
        while (i < k) { h = mix(h, itemHashes(idx(i))); i += 1 }
        var j = k - 1
        while (j >= 0 && idx(j) == n - k + j) j -= 1
        if (j < 0) more = false
        else {
          idx(j) += 1
          var l = j + 1
          while (l < k) { idx(l) = idx(l - 1) + 1; l += 1 }
        }
        h
      }
    }

  /** k-index-subsets whose rolling hash hits the SORTED candidate
    * array (binary search, no boxing), materialized as item sequences —
    * pass 2 of the two-phase count: only frequent-candidate volume is
    * allocated and shuffled. */
  private[graft] def candidateSubsets(items: Array[String],
      itemHashes: Array[Long], k: Int,
      cand: Array[Long]): Iterator[Seq[String]] =
    new Iterator[Seq[String]] {
      private val n = items.length
      private val idx = Array.range(0, k)
      private var more = n >= k && k > 0
      private var nextSubset: Seq[String] = null
      private def advance(): Unit = {
        nextSubset = null
        while (more && (nextSubset eq null)) {
          var h = 0L
          var i = 0
          while (i < k) { h = mix(h, itemHashes(idx(i))); i += 1 }
          if (java.util.Arrays.binarySearch(cand, h) >= 0) {
            val out = new Array[String](k)
            var m = 0
            while (m < k) { out(m) = items(idx(m)); m += 1 }
            nextSubset = scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
          }
          var j = k - 1
          while (j >= 0 && idx(j) == n - k + j) j -= 1
          if (j < 0) more = false
          else {
            idx(j) += 1
            var l = j + 1
            while (l < k) { idx(l) = idx(l - 1) + 1; l += 1 }
          }
        }
      }
      advance()
      def hasNext: Boolean = nextSubset ne null
      def next(): Seq[String] = {
        val r = nextSubset
        advance()
        r
      }
    }

  val outputSchema: StructType = new StructType()
    .add("itemSet", ArrayType(StringType), nullable = false)
    .add("count", IntegerType, nullable = false)
    .add("support", DoubleType, nullable = false)
    .add("confidence", DoubleType, nullable = false)
    .add("lift", DoubleType, nullable = false)
    .add("prefix", ArrayType(StringType), nullable = false)
    .add("suffix", ArrayType(StringType), nullable = false)

  case class Rule(itemSet: List[String], count: Int, support: Double,
                  confidence: Double, lift: Double,
                  prefix: List[String], suffix: List[String])

  /**
   * Driver fixpoint of the reference's iterated rule generation
   * (Apriori.java:115-154, 237-270). `frequent` = (orderedItems, count,
   * support) after support pruning. Returns deduped rules INCLUDING the
   * frequent 1-itemsets (confidence = support, lift = 1, empty
   * prefix/suffix), which the reference re-emits every round.
   */
  def generateRules(frequent: Seq[(List[String], Int, Double)],
                    maxIter: Int): Seq[Rule] = {
    val singles = frequent.filter(_._1.size == 1)
    val multis = frequent.filter(_._1.size > 1)
    // map key -> (count, support); first-wins on key collisions
    // (deterministic refinement of the reference's HashMap race).
    val base: Map[List[String], (Int, Double)] =
      singles.map { case (is, c, s) => is -> (c, s) }.toMap

    var map = base
    var rules = Vector.empty[Rule]
    var round = 0
    var grew = true
    while (grew && round < maxIter) {
      val emitted = Vector.newBuilder[Rule]
      for ((items, cnt, sup) <- multis) {
        var len = items.size - 1
        while (len >= 1) {
          for (prefix <- items.combinations(len)) {
            val suffix = items.diff(prefix)
            (map.get(suffix), map.get(prefix)) match {
              case (Some((sufCnt, _)), Some((_, preSup))) =>
                val confidence = cnt.toDouble / sufCnt.toDouble
                val l = confidence / preSup
                emitted += Rule(prefix ++ suffix, cnt, sup, confidence, l,
                  prefix, suffix)
              case _ =>
            }
          }
          len -= 1
        }
      }
      val newRules = emitted.result().distinct
      grew = newRules.size > rules.size
      rules = newRules
      map = base ++ rules.map(r => r.itemSet -> (r.count, r.support))
        .groupBy(_._1).map { case (k, vs) => k -> vs.head._2 }
      round += 1
    }
    singles.map { case (is, c, s) => Rule(is, c, s, s, 1.0, Nil, Nil) } ++ rules
  }
}
