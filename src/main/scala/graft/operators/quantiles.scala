package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Exact distributed quantiles without a global sort.
 *
 * `approxQuantile` trades error for speed; a global `orderBy` + rank
 * trades everything for one straggler task. This is the third point:
 * recursive histogram selection (the distributed quickselect). Each
 * level bins the candidate value range into `bins` equal-width buckets
 * in ONE scan (all requested quantiles share the scan via an exploded
 * (target, bin) key), the driver walks the ≤ bins cumulative counts to
 * find the bucket holding each target rank, and the bucket's observed
 * [min, max] becomes the next level's candidate range. Ranges shrink
 * ~bins× per level, so any rank over any n resolves in
 * ceil(log_bins(n / collectThreshold)) scans — 2 levels covers a
 * trillion rows at the defaults — then one final scan collects the
 * surviving ≤ collectThreshold rows per target for a driver-side pick.
 * Driver state is O(targets × bins) counts per level, never data.
 *
 * Two details make it exact, not approximate:
 * - Bucket boundaries for the next level are the bucket's observed
 *   min/max (actual data values), not computed bin edges — float
 *   division can't misplace a row because equal values always share a
 *   bucket and adjacent buckets' value ranges are disjoint.
 * - Rank semantics are percentile_disc's: k = max(1, ceil(p·n)), the
 *   k-th smallest actual element — the returned value is a member of
 *   the data, bit-identical in any engine.
 */
object Quantiles {

  /**
   * Streaming-composable quantile sketch cells: a FIXED-WIDTH integer
   * histogram grid maintained as a plain keyed count aggregation — the
   * bounded-state streaming family (count-min grid, HLL registers,
   * covariance moment cells) extended to rank statistics. State is at
   * most `bins` rows at any corpus size; shards/streams merge by
   * adding counts cell-wise. Unlike [[exactQuantiles]] (whose
   * recursive range-narrowing needs the full corpus per round and is
   * not a streaming-updatable plan), the grid trades a documented
   * error bound — the true quantile lies inside the reported bin, so
   * the bound is the bin width — for single-pass incrementality.
   *
   * All-integer by design: `bin = least(bins-1, greatest(0, v div
   * binWidth))` over a LONG value, so two engines (or a replay oracle)
   * cannot disagree on a cell. Values above the grid clamp into the
   * top bin (its `hi` edge is nominal — document, don't widen).
   */
  def boundedHistCells(df: DataFrame, value: Column, binWidth: Long,
                       bins: Int): DataFrame = {
    require(binWidth >= 1 && bins >= 2, "binWidth >= 1, bins >= 2")
    // Round 13 note: a mapPartitions per-task pre-agg into a long[bins]
    // array was tried and REVERTED — the codegen'd partial aggregate
    // already ships <= bins cells per task through the exchange, and
    // the object (de)serialization boundary measured SLOWER than the
    // per-row agg it replaced (q_quantile_stream 1.15 -> 1.50 s at
    // sf0.1). The Column form below is the fast shape.
    df.select(value.cast("long").as("__v")).filter(col("__v").isNotNull)
      .select(least(lit(bins - 1L), greatest(lit(0L),
        expr(s"__v div $binWidth"))).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
  }

  /**
   * Finishing step for a drained [[boundedHistCells]] grid: for each
   * requested rank fraction `num/den` (kept as an integer pair — `0.95`
   * is not an IEEE double and engines disagree on decimal-vs-double
   * literal arithmetic; `(num·n + den − 1) div den` is the exact
   * ceiling), the first bin whose cumulative count reaches the rank,
   * with its integer value edges. The grid is model-sized (≤ bins
   * rows) so this collects and walks it on the driver.
   * Output: (p_pct, rank, bin, lo, hi, n_le) — `n_le` the cumulative
   * count through the reported bin.
   */
  def boundedHistQuantiles(cells: DataFrame, binWidth: Long,
                           ps: Seq[(Int, Long, Long)]): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val grid = cells.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = grid.map(_._2).sum
    val out = if (n == 0L) Seq.empty else ps.map { case (pct, num, den) =>
      val rank = (num * n + den - 1) / den
      var cum = 0L
      val (bin, nLe) = grid.collectFirst {
        case (b, c) if { cum += c; cum >= rank } => (b, cum)
      }.get
      (pct, rank, bin, bin * binWidth, (bin + 1) * binWidth - 1, nLe)
    }
    out.toDF("p_pct", "rank", "bin", "lo", "hi", "n_le")
  }

  /** Thrown by [[groupedQuantilesHistogram]] when the group count
    * exceeds its cap; the dispatcher catches exactly this to fall back
    * to the window regime. */
  final class TooManyGroupsException(msg: String)
    extends IllegalArgumentException(msg)

  /** Walk a range's sorted histogram buckets for rank `k`: returns the
    * bucket holding it as (rank within bucket, bucket count, bucket min,
    * bucket max). Rows are (.., bin, count, min, max) with bin at index
    * `binAt`. Shared by the global and grouped recursions. */
  private def walkBuckets(bs: Array[org.apache.spark.sql.Row], k: Long,
                          binAt: Int): (Long, Long, Double, Double) = {
    var rem = k
    val b = bs.sortBy(_.getInt(binAt)).find { r =>
      if (rem <= r.getLong(binAt + 1)) true
      else { rem -= r.getLong(binAt + 1); false }
    }.get
    (rem, b.getLong(binAt + 1), b.getDouble(binAt + 2), b.getDouble(binAt + 3))
  }

  /** Bin index for value `v` in [lo, hi] split into `bins` equal widths.
    * When (hi-lo)/bins underflows to 0.0 (subnormal range), the division
    * is NaN/Inf and every row would clamp into the top bin — the range
    * would never shrink. A two-way split on v <= lo still shrinks it
    * (bin 0 is exactly the lo duplicates), so convergence holds down to
    * adjacent doubles. */
  private def binCol(v: Column, lo: Double, w: Double, bins: Int): Column =
    if (w > 0.0)
      least(greatest(floor((v - lo) / w), lit(0.0)),
        lit((bins - 1).toDouble)).cast("int")
    else when(v <= lo, lit(0)).otherwise(lit(1))

  /** Exact per-group quantiles: one row per (group, p) with the group's
    * percentile_disc value; null groups and groups with no non-null
    * values are omitted (both regimes, consistently — unlike SQL GROUP
    * BY, which keeps a null group). Two regimes with opposite scaling:
    *
    *  - FEW groups x huge rows (a 100 TB table cut by language or
    *    returnflag): a partitioned window serializes each group's sort
    *    into ONE task — 3 groups on 1000 executors uses 3 of them
    *    (measured 47x slower than suite peers at the 100x point). The
    *    right shape is [[groupedQuantilesHistogram]]: the global
    *    recursive selection run for every group at once, keyed scans
    *    whose parallelism never depends on the group count.
    *  - MANY groups (user_id): per-group driver histograms stop fitting,
    *    but the partitioned window ([[groupedQuantilesWindow]]) is now
    *    exactly right — every group sorts in parallel.
    *
    * This dispatcher estimates the group count (approx_count_distinct —
    * a regime decision tolerates ±5%, and the sketch is far cheaper than
    * an exact distinct at scale) and picks; call either regime directly
    * to skip the extra pass. */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                       ps: Seq[Double], maxDriverGroups: Int = 8192): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantiles must lie in [0,1]: ${ps.mkString(", ")}")
    val nGroups = df.filter(col(valueCol).isNotNull)
      .agg(approx_count_distinct(col(groupCol))).head().getLong(0)
    if (nGroups <= maxDriverGroups)
      // the estimate is ±5-ish%; if the true count lands past the cap,
      // the histogram regime's own guard trips and we fall back
      try groupedQuantilesHistogram(df, groupCol, valueCol, ps,
        maxGroups = maxDriverGroups)
      catch { case _: TooManyGroupsException =>
        groupedQuantilesWindow(df, groupCol, valueCol, ps) }
    else groupedQuantilesWindow(df, groupCol, valueCol, ps)
  }

  /** Many-groups regime: row_number within each group (hash-partitioned
    * window — every group sorts in parallel), joined to per-group counts,
    * keep the rows whose rank hits a target. One shuffle for the window +
    * a partial-agg count pass; no driver state. Per-group skew = one
    * group's sort in one task — for FEW heavy groups use
    * [[groupedQuantilesHistogram]] instead. */
  def groupedQuantilesWindow(df: DataFrame, groupCol: String, valueCol: String,
                             ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantiles must lie in [0,1]: ${ps.mkString(", ")}")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull && !isnan(col("__v")))
    val counts = base.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__v"))
    def rank(p: Column) = greatest(lit(1L), ceil(p * col("__n")).cast("long"))
    base
      .withColumn("__rn", row_number().over(w))
      .join(counts, Seq("__g"))
      // cheap per-row check against all target ranks FIRST, so the
      // explode below only inflates the |groups| x |ps| winners, never
      // the data; all quantiles ride the one partitioned sort
      .filter(array_contains(array(ps.map(p => rank(lit(p))): _*), col("__rn")))
      .withColumn("__p", explode(array(ps.map(lit): _*)))
      .filter(col("__rn") === rank(col("__p")))
      .select(col("__g").as(groupCol), col("__p").as("p"),
        col("__v").as("value"))
  }

  /** Few-groups regime: the recursive histogram selection of
    * [[exactQuantiles]] run for ALL groups simultaneously. Each level is
    * one scan: rows broadcast-join their group's active candidate ranges
    * (a driver-built table of ≤ groups x distinct-ranges rows), bin
    * within their range, and partial-aggregate (group, range, bin)
    * counts — full cluster parallelism regardless of how few groups
    * exist, the property the window form lacks. Driver state is
    * O(groups x ps x bins) histogram counts per level, never data;
    * `maxGroups` fail-fasts the regime mismatch (use the window form).
    * Recursion continues until the TOTAL candidate rows across all open
    * ranges fit `maxCollectRows`, so the final driver collect is bounded
    * even when every one of thousands of groups is individually under
    * `collectThreshold` — the cap, not the data, sizes that pass. */
  def groupedQuantilesHistogram(df: DataFrame, groupCol: String,
                                valueCol: String, ps: Seq[Double],
                                bins: Int = 128,
                                collectThreshold: Long = 100000L,
                                maxGroups: Int = 8192,
                                maxCollectRows: Long = 4000000L): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantiles must lie in [0,1]: ${ps.mkString(", ")}")
    require(bins >= 2, "need at least 2 bins")
    val spark = df.sparkSession
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull && !isnan(col("__v")))
    val stats = base.groupBy(col("__g"))
      .agg(count(lit(1)), min(col("__v")), max(col("__v")))
      .limit(maxGroups + 1).collect()
    if (stats.length > maxGroups) throw new TooManyGroupsException(
      s"more than $maxGroups groups: this regime holds per-group histograms " +
        "on the driver — use groupedQuantilesWindow (or the groupedQuantiles " +
        "dispatcher) for high-cardinality grouping")

    case class GSel(g: Any, p: Double, k: Long, cnt: Long, lo: Double,
                    hi: Double, answer: Option[Double])
    var sels = stats.toSeq.flatMap { r =>
      val (g, n, lo, hi) = (r.get(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      ps.map { p =>
        GSel(g, p, math.max(1L, math.ceil(p * n).toLong), n, lo, hi,
          if (lo == hi) Some(lo) else None)
      }
    }
    val gField = base.schema.head
    import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, StructField, StructType}
    import org.apache.spark.sql.Row
    // per-range bin width is driver-computed so the underflow guard
    // (binCol's two-way split) can switch per range, not per call
    val rangeSchema = StructType(Seq(gField, StructField("__rid", IntegerType),
      StructField("__lo", DoubleType), StructField("__hi", DoubleType),
      StructField("__w", DoubleType), StructField("__w0", BooleanType)))
    def rangesDf(open: Seq[GSel]): (Map[(Any, Double, Double), Int], DataFrame) = {
      val ranges = open.map(s => (s.g, s.lo, s.hi)).distinct.zipWithIndex.toMap
      val rows = ranges.toSeq.map { case ((g, lo, hi), i) =>
        val w = (hi - lo) / bins
        Row(g, i, lo, hi, w, w <= 0.0)
      }
      (ranges, spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), rangeSchema))
    }
    // total rows a final collect would fetch: each DISTINCT open range
    // is fetched once however many p's share it
    def pendingRows(ss: Seq[GSel]): Long = ss.filter(_.answer.isEmpty)
      .map(s => (s.g, s.lo, s.hi) -> s.cnt).distinct.map(_._2).sum

    var level = 0
    while (sels.exists(s => s.answer.isEmpty && s.cnt > collectThreshold) ||
           pendingRows(sels) > maxCollectRows) {
      level += 1
      require(level <= 64, "quantile recursion failed to converge")
      val overTotal = pendingRows(sels) > maxCollectRows
      val active = sels.filter(s => s.answer.isEmpty &&
        (s.cnt > collectThreshold || overTotal))
      val (ranges, rdf) = rangesDf(active)
      val hist = base.join(broadcast(rdf), Seq(gField.name))
        .filter(col("__v") >= col("__lo") && col("__v") <= col("__hi"))
        .withColumn("__bin", when(col("__w0"),
          when(col("__v") <= col("__lo"), lit(0)).otherwise(lit(1)))
          .otherwise(least(greatest(
            floor((col("__v") - col("__lo")) / col("__w")), lit(0.0)),
            lit((bins - 1).toDouble)).cast("int")))
        .groupBy(col("__rid"), col("__bin"))
        .agg(count(lit(1)).as("c"), min(col("__v")).as("mn"), max(col("__v")).as("mx"))
        .collect()
        .groupBy(_.getInt(0))
      val activeKeys = active.map(s => (s.g, s.lo, s.hi)).toSet
      sels = sels.map { s =>
        if (s.answer.nonEmpty || !activeKeys.contains((s.g, s.lo, s.hi))) s
        else {
          val (rem, c, mn, mx) =
            walkBuckets(hist(ranges((s.g, s.lo, s.hi))), s.k, 1)
          s.copy(k = rem, cnt = c, lo = mn, hi = mx,
            answer = if (mn == mx) Some(mn) else None)
        }
      }
    }

    val open = sels.filter(_.answer.isEmpty)
    val picked: Map[(Any, Double, Double), Array[Double]] = if (open.isEmpty) Map.empty else {
      val (ranges, rdf) = rangesDf(open)
      val byRid = base.join(broadcast(rdf), Seq(gField.name))
        .filter(col("__v") >= col("__lo") && col("__v") <= col("__hi"))
        .select(col("__rid"), col("__v"))
        .collect()
        .groupBy(_.getInt(0))
      ranges.map { case (key, rid) =>
        key -> byRid(rid).map(_.getDouble(1)).sorted
      }
    }
    val out = sels.map { s =>
      Row(s.g, s.p, s.answer.getOrElse(picked((s.g, s.lo, s.hi))(s.k.toInt - 1)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1),
      StructType(Seq(gField.copy(name = groupCol), StructField("p", DoubleType),
        StructField("value", DoubleType))))
  }

  /** Exact per-group mode (most frequent value): two partial-aggregated
    * levels — (group, value) counts, then one max per group — so the
    * shuffle carries distinct pairs, never rows, and no window sorts
    * anything. Any orderable value type (mode is natural on categorical
    * columns too — no numeric cast). Ties break by the greatest value
    * (deterministic at any partitioning); null values are ignored, null
    * groups omitted like the quantile ops; NaNs excluded for float
    * types (consistent with the quantile ops' value handling). */
  def modePerGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val isFloaty = df.schema(valueCol).dataType match {
      case DoubleType | FloatType => true
      case _ => false
    }
    val vOk = if (isFloaty) col("__v").isNotNull && !isnan(col("__v"))
      else col("__v").isNotNull
    df.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .filter(col("__g").isNotNull && vOk)
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__g"))
      .agg(max(struct(col("__c"), col("__v"))).as("__m"))
      .select(col("__g").as(groupCol), col("__m.__v").as("mode_value"),
        col("__m.__c").as("mode_count"))
  }

  /** Winsorize: clamp `valueCol` into its own [pLo, pHi] exact quantiles
    * — the standard outlier treatment before scaling/training. Costs one
    * [[exactQuantiles]] run (~4 scans at any n; two scalars to the
    * driver, O(1) state) plus a codegen'd map; query construction is
    * eager like the other stat-parameterized operators. Nulls/NaNs pass
    * through unclamped; column type becomes double. */
  def winsorize(df: DataFrame, valueCol: String, pLo: Double = 0.05,
                pHi: Double = 0.95): DataFrame = {
    require(pLo < pHi, s"pLo ($pLo) must be < pHi ($pHi)")
    val qs = exactQuantiles(df, valueCol, Seq(pLo, pHi)).collect()
      .filter(!_.isNullAt(1)) // empty input: no quantiles, clamp nothing
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    if (qs.isEmpty) df.select(df.columns.map(c =>
      if (c == valueCol) col(c).cast("double").as(c) else col(c)): _*)
    else {
      val v = col(valueCol).cast("double")
      // greatest/least SKIP nulls (SQL semantics) — they'd clamp a null
      // to the lo bound; gate explicitly so nulls and NaNs pass through
      df.withColumn(valueCol, when(v.isNotNull && !isnan(v),
        least(greatest(v, lit(qs(pLo))), lit(qs(pHi)))).otherwise(v))
    }
  }

  /**
   * Equal-width histogram of a numeric column: `bins` buckets over the
   * observed [min, max], one row per non-empty bucket with its count
   * and observed bounds — the profiling/sketching primitive behind the
   * quantile recursion, exposed directly. One stats pass + one
   * partial-aggregated bucket count; empty input → empty result. The
   * top edge folds into the last bucket (standard closed-right-edge
   * histogram). Degenerate range (min == max) yields one bucket.
   */
  def histogram(df: DataFrame, valueCol: String, bins: Int = 32): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val stats = base.agg(count(lit(1)), min(col("__v")), max(col("__v"))).head()
    if (stats.getLong(0) == 0L)
      return Seq.empty[(Int, Long, Double, Double)]
        .toDF("bin", "n", "bin_min", "bin_max")
    val (lo, hi) = (stats.getDouble(1), stats.getDouble(2))
    val w = (hi - lo) / bins
    base
      .withColumn("__bin", binCol(col("__v"), lo, w, bins))
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("__v")).as("bin_min"), max(col("__v")).as("bin_max"))
  }

  /**
   * Robust outlier flags by MAD: a row is an outlier when
   * `|x − median| > k · MAD` with `MAD = median(|x − median|)`. Both
   * statistics are rank statistics — unlike mean/stddev z-scores they
   * are immune to the very outliers they hunt, the standard robust
   * treatment. Costs two [[exactQuantiles]] runs (each ~4 full-parallel
   * scans at any n with O(1) driver state) plus one codegen'd flag
   * projection; query construction is eager like [[winsorize]].
   * `MAD = 0` (a majority-constant column) flags every deviating row
   * regardless of k — the conventional degenerate-case reading. Null
   * and NaN values are never outliers (flag false, like SQL
   * comparisons). Appends `is_outlier`; column type is preserved.
   */
  def madOutliers(df: DataFrame, valueCol: String, k: Double = 3.5): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    def q50(d: DataFrame, c: String): Option[Double] =
      exactQuantiles(d, c, Seq(0.5)).collect()
        .headOption.filter(!_.isNullAt(1)).map(_.getDouble(1))
    q50(df, valueCol) match {
      case None => df.withColumn("is_outlier", lit(false)) // all-null column
      case Some(med) =>
        val dev = abs(col(valueCol).cast("double") - med)
        // an infinite median makes every deviation NaN and the MAD
        // quantile empty — NaN poisons the > comparison to false, so
        // nothing flags (nothing is robustly "far" from infinity)
        val mad = q50(df.withColumn("__dev", dev), "__dev")
          .getOrElse(Double.NaN)
        df.withColumn("is_outlier",
          when(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")),
            abs(col(valueCol).cast("double") - med) > k * mad)
            .otherwise(lit(false)))
    }
  }

  /** (p, value) rows, one per requested quantile, over non-null
    * `valueCol` cast to double. Empty input → empty result. */
  def exactQuantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
                     bins: Int = 4096, collectThreshold: Long = 100000L): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantiles must lie in [0,1]: ${ps.mkString(", ")}")
    require(bins >= 2, "need at least 2 bins")
    val spark = df.sparkSession
    import spark.implicits._

    val base = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val stats =
      base.agg(count(lit(1)), min(col("__v")), max(col("__v"))).head()
    val n = stats.getLong(0)
    if (n == 0L) return ps.map(p => (p, Option.empty[Double])).toDF("p", "value")

    // Per-target selection state: rows in [lo, hi] are the candidates
    // (current bounds subsume all earlier levels' — they're actual data
    // values); the answer is their k-th smallest (1-based).
    case class Sel(p: Double, k: Long, cnt: Long, lo: Double, hi: Double,
                   answer: Option[Double])
    def predOf(s: Sel): Column =
      if (s.cnt == n) lit(true)
      else col("__v") >= s.lo && col("__v") <= s.hi
    var sels = ps.map { p =>
      val k = math.max(1L, math.ceil(p * n).toLong)
      val (lo, hi) = (stats.getDouble(1), stats.getDouble(2))
      Sel(p, k, n, lo, hi, if (lo == hi) Some(lo) else None)
    }

    var level = 0
    while (sels.exists(s => s.answer.isEmpty && s.cnt > collectThreshold)) {
      level += 1
      require(level <= 64, "quantile recursion failed to converge")
      val active = sels.filter(s => s.answer.isEmpty && s.cnt > collectThreshold)
      // One scan for every DISTINCT candidate range (targets with the
      // same [lo, hi] — always all of them at level 1, often several p's
      // later — share one histogram instead of exploding a copy each).
      val ranges = active.map(s => (s.lo, s.hi)).distinct
      val rangeSel = ranges.map(r => active.find(s => (s.lo, s.hi) == r).get)
      // distinct ranges are DISJOINT (each is a sub-range of one bucket
      // of the previous level), so a row matches at most one — a plain
      // when-chain tags it. Deliberately NOT an array+filter+explode:
      // higher-order array functions are CodegenFallback (interpreted),
      // and interpreted 60M-row loops run through shared Expression.eval
      // call sites whose JIT profiles any earlier complex query pollutes
      // — measured 5x slower after an unrelated suite query. CaseWhen
      // stays inside whole-stage codegen, immune to that.
      val cases = rangeSel.zipWithIndex.map { case (s, ri) =>
        val w = (s.hi - s.lo) / bins
        (predOf(s), struct(lit(ri).as("rid"),
          binCol(col("__v"), s.lo, w, bins).as("bin")))
      }
      val tagged = cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
        case (acc, (c, v)) => acc.when(c, v) }
      val hist = base
        .select(col("__v"), tagged.as("tb"))
        .filter(col("tb").isNotNull)
        .groupBy(col("tb.rid").as("rid"), col("tb.bin").as("bin"))
        .agg(count(lit(1)).as("c"), min(col("__v")).as("mn"), max(col("__v")).as("mx"))
        .collect()
        .groupBy(_.getInt(0))
      sels = sels.map { s =>
        if (s.answer.nonEmpty || s.cnt <= collectThreshold) s
        else {
          val (rem, c, mn, mx) =
            walkBuckets(hist(ranges.indexOf((s.lo, s.hi))), s.k, 1)
          Sel(s.p, rem, c, mn, mx, if (mn == mx) Some(mn) else None)
        }
      }
    }

    val open = sels.zipWithIndex.filter(_._1.answer.isEmpty)
    val picked: Map[Int, Double] = if (open.isEmpty) Map.empty else {
      // Open ranges can be NESTED (a target that fell under the collect
      // threshold early keeps its wide range while others shrink inside
      // it), so unlike the level pass a row may match several targets —
      // the when-chain trick doesn't apply. explode(array(when..)) +
      // null-filter keeps the multi-match semantics while staying inside
      // whole-stage codegen end to end (GenerateExec codegens explode;
      // the old filter() higher-order function was CodegenFallback and
      // hit the same interpreted-loop JIT pollution as the level pass).
      val tagged = array(open.map { case (s, i) =>
        when(predOf(s), lit(i)) }: _*)
      base.select(col("__v"), explode(tagged).as("tid"))
        .filter(col("tid").isNotNull)
        .collect()
        .groupBy(_.getInt(1))
        .map { case (tid, rows) =>
          val k = sels(tid).k.toInt
          tid -> rows.map(_.getDouble(0)).sorted.apply(k - 1)
        }
    }
    sels.zipWithIndex
      .map { case (s, i) => (s.p, Some(s.answer.getOrElse(picked(i)))) }
      .toDF("p", "value")
  }
}
