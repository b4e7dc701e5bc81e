package graft.operators

import graft.functions.HashTfLinearMargin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/**
 * Learned quality-classifier inference for corpus curation — the scoring
 * half of a fastText-style hash-TF linear model (the quality-filter
 * stage every production pretraining pipeline runs after the heuristic
 * filters): tokens hash into `dim` buckets, the model is one weight per
 * bucket plus a bias, and a document's margin is the mean bucket weight
 * + bias; `label = margin > 0`.
 *
 * The model lives in two equivalent forms:
 *  - a model DATAFRAME (bucket, weight_milli, weight) — the persistable
 *    / joinable artifact a trainer would produce;
 *  - a primitive long[] in milli-units — the broadcastable inference
 *    form the codegen'd [[HashTfLinearMargin]] expression embeds.
 * [[classifyWithModel]] bridges the two: the model table is collected
 * (model-sized by construction: `dim` rows) into the array form, so
 * inference over the corpus is a pure zero-shuffle projection — never a
 * corpus-to-model join.
 *
 * Weight training is out of scope (no labeled data in this container);
 * [[syntheticWeightsMilli]] provides the deterministic md5-derived
 * stand-in the oracle replays. Integer milli-weights make every score
 * engine-exact (long sums, one fixed-order double division at the end).
 */
object QualityClassifier {

  /** Deterministic synthetic model: w(b) = md5("w"+b) mod 2001 − 1000 ∈
    * [-1000, 1000] milli-units. A stand-in for trained weights with the
    * same shape/dtype — replayable in any engine with md5. */
  def syntheticWeightsMilli(dim: Int): Array[Long] = {
    require(dim > 0, "dim must be positive")
    Array.tabulate(dim)(b => Dedup.md5LongJvm("w" + b) % 2001L - 1000L)
  }

  /** The model as a DataFrame (bucket, weight_milli, weight). */
  def weightsDF(spark: SparkSession, weightsMilli: Array[Long]): DataFrame = {
    import spark.implicits._
    weightsMilli.zipWithIndex
      .map { case (w, b) => (b, w, w / 1000.0) }.toSeq
      .toDF("bucket", "weight_milli", "weight")
  }

  /** Score + threshold in one zero-shuffle projection. The margin is
    * emitted at FULL double precision, deliberately unrounded: the long
    * milli-sum makes the score bit-exact in any engine, while a display
    * round would re-introduce engine skew (the exact rational often
    * lands on a decimal .5 boundary, where BigDecimal HALF_UP and
    * float-multiply rounding disagree). */
  def classify(df: DataFrame, textCol: String, idCol: String,
               weightsMilli: Array[Long], bias: Double): DataFrame = {
    val m = HashTfLinearMargin(col(textCol), weightsMilli, bias)
    df.select(col(idCol), m.as("margin"),
      (m > 0.0).cast(IntegerType).as("label"))
  }

  /**
   * DSIR-style importance weighting (Xie et al. 2023, "Data Selection
   * for Language Models via Importance Resampling"): estimate hashed
   * unigram bag-of-words distributions for a TARGET slice (`isTarget`)
   * and the RAW corpus, and score every document by its mean per-token
   * log importance ratio ln(p_target(b)/p_raw(b)) — positive means
   * "more target-like than the corpus average"; selection keeps the
   * high end. Weights are Laplace-smoothed (`alpha`) and quantized to
   * integer MILLI-units via floor(x·1000 + 0.5) (explicit floor, not
   * round: HALF_UP vs half-even skew on negatives), so the per-doc
   * reduction is an exact long sum any engine replays bit-identically,
   * and scoring reuses the codegen'd [[HashTfLinearMargin]] kernel.
   *
   * Scale shape (100 TB): one token explode into a `dim`-bounded hash
   * aggregation (map-side partial counts — dim keys total, no skew
   * possible), an O(dim) driver collect (the MODEL, bounded by the
   * `dim` parameter, never by data), then a zero-shuffle codegen'd
   * scoring projection. No corpus-to-model join at any point.
   *
   * Returns (weightsMilli, totals) where totals = (targetTokens,
   * rawTokens); buckets unseen in the raw corpus carry the all-alpha
   * prior weight so scoring a DIFFERENT corpus stays well-defined.
   */
  def dsirWeightsMilli(df: DataFrame, textCol: String, isTarget: org.apache.spark.sql.Column,
                       dim: Int, alpha: Double = 1.0): (Array[Long], (Long, Long)) = {
    require(dim > 0 && dim <= (1 << 20), s"dim must be in [1, 2^20] (got $dim)")
    val bucketUdf = udf { (text: String) =>
      Dedup.wsPattern.split(Dedup.sparkLower(text))
        .map(w => (Dedup.md5LongJvm(w) % dim).toInt)
    }
    // null text contributes no tokens to either distribution (scoring
    // via HashTfLinearMargin is null-safe on its own)
    val rows = df.filter(col(textCol).isNotNull)
      .select(isTarget.cast(LongType).as("__t"),
        explode(bucketUdf(col(textCol))).as("__b"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__cr"), sum(col("__t")).as("__ct"))
      .collect()
    var nt = 0L; var nr = 0L
    rows.foreach { r => nr += r.getLong(1); nt += r.getLong(2) }
    val prior = 1000.0 * math.log((nr + alpha * dim) / (nt + alpha * dim))
    val w = Array.fill(dim)(math.floor(prior + 0.5).toLong)
    rows.foreach { r =>
      val ct = r.getLong(2); val cr = r.getLong(1)
      val x = 1000.0 * math.log(
        ((ct + alpha) / (nt + alpha * dim)) / ((cr + alpha) / (nr + alpha * dim)))
      w(r.getInt(0)) = math.floor(x + 0.5).toLong
    }
    (w, (nt, nr))
  }

  /** DSIR scoring pass: per-doc mean per-token log importance (exact
    * long milli-sum, one fixed-order double division — engine-exact),
    * `selected` = target-leaning. A pure projection: the weight array
    * rides the plan, nothing shuffles.
    *
    * Null-text docs emit NO row — the same convention as noveltyScores
    * and the q_dsir oracle (unnest of a NULL split yields nothing).
    * n_tokens comes from the SAME tokenization as the margin kernel
    * (java Pattern.split, which drops trailing empty tokens; Spark's
    * `split` keeps them), so n_tokens always equals the divisor inside
    * log_importance even on trailing-whitespace text. */
  def dsirScore(df: DataFrame, textCol: String, idCol: String,
                weightsMilli: Array[Long]): DataFrame = {
    val m = HashTfLinearMargin(col(textCol), weightsMilli, bias = 0.0)
    // codegen'd replay of Pattern.split's count: strip trailing
    // whitespace first, because Spark's split keeps the trailing empty
    // token Pattern.split drops (keeps the plan UDF-free — the q_dsir
    // plan pin forbids ScalaUDF in this projection)
    val nTok = size(split(regexp_replace(col(textCol), "\\s+$", ""), "\\s+"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), nTok.cast(LongType).as("n_tokens"),
        m.as("log_importance"),
        (m > 0.0).cast(IntegerType).as("selected"))
  }

  /**
   * Deterministic IN-ENGINE training of the hash-TF linear model —
   * full-batch gradient descent on the mean-margin classifier the
   * inference kernel scores, closing the loop the scaladoc above calls
   * "out of scope": the engine now trains the same model it serves.
   *
   * The model is `margin_i = (Σ_t w[b(t)]) / 1000 / n_i + bias` (the
   * exact [[HashTfLinearMargin]] formula); the link is the ALGEBRAIC
   * sigmoid `p = ½(1 + m/(1+|m|))` — rational, so both engines compute
   * it from the same IEEE ops with zero transcendental skew (the same
   * reason the LM ops truncate their ln sums; here no ln/exp exists at
   * all). Per iteration, per doc:
   *
   *   e_i = floor(((p_i − y_i) / n_i) · 1e9 + 0.5)   (long)
   *   f_i = floor( (p_i − y_i)        · 1e9 + 0.5)   (long)
   *
   * so the full-batch gradients g_b = Σ_i e_i·c_{i,b} (each token
   * instance contributes its doc's e_i) and g_bias = Σ_i f_i are EXACT
   * LONG SUMS — order-free, partition-free, engine-free. The update
   * re-enters milli-units through one fixed double expression:
   *
   *   w_b    −= floor(g_b    · lr     / (1e6 · N) + 0.5)
   *   bias_m −= floor(g_bias · lrBias / (1e6 · N) + 0.5)
   *
   * (g exactly double-representable while |g| < 2^53 ≈ 9e15 — at 1e9
   * residual scale that is ~9M token-instances per bucket per sign;
   * beyond that a production trainer would carry g in two longs. lr is
   * a power of two so `g·lr` stays exact. lrBias is separate because
   * the bias residual f lacks the 1/n damping of e — at the corpus's
   * ~170-token docs a shared rate makes the bias step ~170× the weight
   * step and the trajectory oscillates; lrBias ≈ lr/128 restores the
   * balance, measured, not guessed.) Every quantity any engine
   * sums across rows is an integer; every float op has one fixed shape
   * — the whole T-iteration trajectory replays bit-identically in SQL,
   * the q_fcm_fit unrolled-oracle discipline applied to a trainer.
   *
   * Scale shape (100 TB): the corpus is tokenized ONCE into a cached
   * (y, n, buckets) projection; each iteration is one zero-shuffle
   * scoring scan (weights ride as a task-local array) plus one
   * dim-bounded hash aggregation (map-side partial sums — dim keys
   * total, no skew possible) and an O(dim) driver collect. Driver state
   * is the model itself, never data. T corpus scans for T iterations is
   * the same contract as FCM/KMeans fit.
   *
   * Returns (weightsMilli, biasMilli) after `iters` full-batch steps
   * from the all-zeros model.
   */
  def trainLogisticMilli(df: DataFrame, textCol: String, label: Column,
                         dim: Int, iters: Int, lr: Double,
                         lrBias: Double): (Array[Long], Long) = {
    require(dim > 0 && dim <= (1 << 20), s"dim must be in [1, 2^20] (got $dim)")
    require(iters >= 0 && iters <= 64, s"iters must be in [0, 64] (got $iters)")
    val spark = df.sparkSession
    val bucketUdf = udf { (text: String) =>
      Dedup.wsPattern.split(Dedup.sparkLower(text))
        .map(w => (Dedup.md5LongJvm(w) % dim).toInt)
    }
    val base = df.filter(col(textCol).isNotNull)
      .select(label.cast(LongType).as("y"), bucketUdf(col(textCol)).as("bs"))
      .withColumn("n", size(col("bs")).cast(LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDocs = base.count()
      require(nDocs > 0, "trainLogisticMilli: empty corpus")
      val w = Array.fill(dim)(0L)
      var biasMilli = 0L
      for (_ <- 0 until iters) {
        val wLocal = w.clone()
        val sumUdf = udf { (bs: Seq[Int]) =>
          var s = 0L; bs.foreach(b => s += wLocal(b)); s
        }
        val nD = col("n").cast(DoubleType)
        val yD = col("y").cast(DoubleType)
        // the margin formula verbatim from HashTfLinearMargin.score, then
        // the rational link — every op mirrored 1:1 in the oracle SQL
        val m = (col("s").cast(DoubleType) / lit(1000.0)) / nD +
          lit(biasMilli.toDouble / 1000.0)
        val p = lit(0.5) * (lit(1.0) + m / (lit(1.0) + abs(m)))
        val scored = base
          .select(col("y"), col("n"), col("bs"), sumUdf(col("bs")).as("s"))
          .withColumn("p", p)
          .withColumn("e", floor(((col("p") - yD) / nD) * lit(1000000000.0) + lit(0.5)))
          .withColumn("f", floor((col("p") - yD) * lit(1000000000.0) + lit(0.5)))
        // ONE action per round (round 12: was a gradient collect PLUS a
        // separate bias-sum job over a persisted intermediate): the bias
        // gradient rides the same partial-agg shuffle as bucket −1 —
        // per-doc f where the bucket rows carry e. Long sums, so the
        // merged aggregation is value-identical to the two it replaces.
        val grads = scored
          .select(explode(concat(col("bs"), array(lit(-1)))).as("b"),
            col("e"), col("f"))
          .select(col("b"),
            when(col("b") === -1, col("f")).otherwise(col("e")).as("v"))
          .groupBy(col("b")).agg(sum(col("v")).as("g"))
          .collect() // O(dim) — the model, never the data
        grads.foreach { r =>
          val b = r.getInt(0); val g = r.getLong(1)
          if (b == -1)
            biasMilli -= math.floor(g.toDouble * lrBias / (1000000.0 * nDocs) + 0.5).toLong
          else
            w(b) -= math.floor(g.toDouble * lr / (1000000.0 * nDocs) + 0.5).toLong
        }
      }
      (w, biasMilli)
    } finally base.unpersist(blocking = false)
  }

  /** The trained model as the persistable DataFrame form: one row per
    * bucket plus the bias at bucket −1 (all BIGINT — the exact shape the
    * unrolled-SQL oracle replays). */
  def trainedModelDF(spark: SparkSession, w: Array[Long], biasMilli: Long): DataFrame = {
    import spark.implicits._
    (w.zipWithIndex.map { case (wm, b) => (b.toLong, wm) } :+ (-1L, biasMilli))
      .toSeq.toDF("bucket", "weight_milli")
  }

  /** Model-DataFrame entry: collect the `dim`-row model table into the
    * primitive inference form, then [[classify]]. The collect is
    * O(model), never O(data) — the corpus is not joined. */
  def classifyWithModel(df: DataFrame, textCol: String, idCol: String,
                        model: DataFrame, bias: Double): DataFrame = {
    val rows = model.select(col("bucket").cast(IntegerType),
        col("weight_milli").cast(LongType))
      .collect()
    require(rows.nonEmpty, "empty model table")
    val dim = rows.map(_.getInt(0)).max + 1
    val w = new Array[Long](dim)
    rows.foreach(r => w(r.getInt(0)) = r.getLong(1))
    classify(df, textCol, idCol, w, bias)
  }
}
