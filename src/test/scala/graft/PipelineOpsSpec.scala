package graft

import graft.core.VecOps
import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Training-data pipeline extensions: dedup, ANN, text analysis. */
class PipelineOpsSpec extends GraftSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (5L, "unrelated short text")).toDF("doc_id", "text")

  test("bm25: hand-computed scores, absent terms excluded, top-k tie-break by id") {
    val corpus = Seq(
      (1L, "a b spark"), (2L, "spark spark b"), (3L, "c d"), (4L, "a b spark"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25Rank(corpus, "text", "doc_id", Seq("spark"), k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // N=4, avgdl=(3+3+2+3)/4=2.75, df=3, idf=ln(1 + 1.5/3.5)
    val idf = math.log(1 + 1.5 / 3.5)
    def s(tf: Double, dl: Double) =
      BigDecimal(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.75)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 2 (tf=2) outranks docs 1/4 (tf=1, tie broken by id); doc 3 absent
    assert(got.map(_._1).toSeq == Seq(2L, 1L, 4L))
    assert(got.toMap == Map(2L -> s(2, 3), 1L -> s(1, 3), 4L -> s(1, 3)))
  }

  test("bm25: query terms are case-normalized and deduplicated") {
    val corpus = Seq((1L, "a b spark"), (2L, "c d")).toDF("doc_id", "text")
    val up = TextAnalysis.bm25Rank(corpus, "text", "doc_id", Seq("Spark"), 2)
      .collect()
    val lo = TextAnalysis.bm25Rank(corpus, "text", "doc_id",
      Seq("spark", "spark"), 2).collect()
    assert(up.map(_.getLong(0)).toSeq == Seq(1L), "uppercase query must still match")
    assert(up.map(_.getDouble(1)).toSeq == lo.map(_.getDouble(1)).toSeq,
      "duplicate terms collapse to one contribution")
  }

  test("bm25: top-k plans a TakeOrdered and prunes postings to query terms") {
    val q = SparkEntry.queries("q_bm25")(spark, sf())
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    // the term filter must sit DIRECTLY on the exploded tokens — before
    // any aggregate — so no full-vocabulary postings ever shuffle
    val lines = q.queryExecution.optimizedPlan.toString.linesIterator.toArray
    val fi = lines.indexWhere(l => l.contains("Filter") && l.contains("IN (spark"))
    assert(fi >= 0, s"query-term IN filter missing:\n${lines.mkString("\n")}")
    assert(lines(fi + 1).contains("Generate explode"),
      s"term filter not directly on the explode:\n${lines.mkString("\n")}")
  }

  test("repetition metrics: hand-computed values; Column forms match fused UDF") {
    val df = Seq(
      (1L, "spam spam spam spam"),            // 1 distinct / 4; top 4/4; bigrams all "spam spam"
      (2L, "a b c d"),                        // no repetition at all
      (3L, "x y x y x"),                      // 2 distinct / 5; bigrams: xy yx xy yx -> 2/4 distinct
      (4L, "solo")).toDF("doc_id", "text")    // single word: bigram frac 0
    val got = df.select(col("doc_id"), TextAnalysis.repetitionUdf(col("text")).as("r"))
      .select(col("doc_id"), col("r.dup_word_frac"), col("r.top_word_frac"),
        col("r.dup_bigram_frac"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1L) == (0.75, 1.0, 1.0 - 1.0 / 3)) // same fp op order as the kernel
    assert(got(2L) == (0.0, 0.25, 0.0))
    assert(got(3L) == (0.6, 3.0 / 5, 0.5))
    assert(got(4L) == (0.0, 1.0, 0.0))
    // Column forms agree with the fused kernel on real corpus text
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cmp = docs.select(
        TextAnalysis.repetitionUdf(col("text")).as("r"),
        TextAnalysis.dupWordFrac(col("text")).as("dw"),
        TextAnalysis.dupBigramFrac(col("text")).as("db"))
      .filter(col("r.dup_word_frac") =!= col("dw") ||
        col("r.dup_bigram_frac") =!= col("db"))
    assert(cmp.count() == 0, "Column forms diverged from the fused kernel")
  }

  test("tfidf: hand-computed weights; all-doc terms and sub-minDf terms drop") {
    val corpus = Seq(
      (1L, "common rare rare"), (2L, "common other"), (3L, "common solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfidf(corpus, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // "common" is in all 3 docs -> ln(1)=0, dropped by df < N
    assert(!got.keys.exists(_._2 == "common"))
    def w(tf: Long) = BigDecimal(tf * math.log(3.0 / 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, "rare")) == (2L, w(2)))
    assert(got((2L, "other")) == (1L, w(1)))
    assert(got((3L, "solo")) == (1L, w(1)))
    // minDf = 2 prunes every singleton term here
    assert(TextAnalysis.tfidf(corpus, "text", "doc_id", minDf = 2).count() == 0)
  }

  test("collocations: hand-computed PMI, below-minCount pairs suppressed") {
    // "a b" x3 and "a c" x1 across 4 docs: nw=8, nbg=4
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.collocations(corpus, "text", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // only (a,b) survives minCount=2: pmi = ln((3/4) / ((4/8)*(3/8)))
    assert(got.keySet == Set(("a", "b")), s"got $got")
    val want = BigDecimal(math.log((3.0 / 4) / ((4.0 / 8) * (3.0 / 8))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("a", "b")) == (3L, want), s"${got(("a", "b"))} vs $want")
  }

  test("unigram LM scoring: hand-computed mean NLL, rare-word docs score worse") {
    // corpus counts: a=3, b=2, z=1; total=6, |V|=3 -> p+1(w)=(c+1)/9
    val corpus = Seq((1L, "a a b"), (2L, "a b z")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramNll(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def nll(c: Long) = BigDecimal(-math.log((c + 1.0) / 9.0))
      .setScale(12, BigDecimal.RoundingMode.DOWN) // decimal(28,12) truncation
    def mean(cs: Seq[Long]) =
      (cs.map(nll).sum / cs.length).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._1 == 3 && got(2L)._1 == 3)
    assert(math.abs(got(1L)._2 - mean(Seq(3, 3, 2))) < 2e-6, s"${got(1L)}")
    assert(math.abs(got(2L)._2 - mean(Seq(3, 2, 1))) < 2e-6, s"${got(2L)}")
    // the rare-word doc is less likely under the LM
    assert(got(2L)._2 > got(1L)._2)
  }

  test("count-min: estimates dominate exact counts; wide sketch is collision-free") {
    val corpus = Seq((1L, "a a a b b c"), (2L, "a b d e"), (3L, "a c c f"))
      .toDF("doc_id", "text")
    val wide = TextAnalysis.countMinTopTerms(corpus, "text",
        depth = 4, width = 4096, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 6 distinct terms in 4096 buckets x 4 rows: no shared min-cell
    assert(wide.forall { case (_, ex, est) => est == ex }, s"got ${wide.toSeq}")
    assert(wide.head == (("a", 5L, 5L)))
    assert(wide.map(_._1).toSeq == Seq("a", "b", "c", "d", "e", "f"))
    // a 2-bucket sketch collides heavily but must never UNDER-estimate
    val tiny = TextAnalysis.countMinTopTerms(corpus, "text",
        depth = 2, width = 2, k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(tiny.forall { case (ex, est) => est >= ex }, s"got ${tiny.toSeq}")
  }

  test("ppl buckets: tercile cut on the LM score, most-fluent docs land in head") {
    // doc i holds i copies of the common token + (10-i) unique ones, so
    // mean_nll strictly decreases with i — buckets must split 3/3/3 with
    // the commonest docs (8,7,6) in head
    val nine = (0 until 9).map(i => (i.toLong,
      (Seq.fill(i)("the") ++ (0 until (10 - i)).map(j => s"u${i}_$j"))
        .mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.pplBuckets(nine, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(out.length == 9)
    val byBucket = out.groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBucket("head") == Set(8L, 7L, 6L), s"got $byBucket")
    assert(byBucket("middle") == Set(5L, 4L, 3L))
    assert(byBucket("tail") == Set(2L, 1L, 0L))
    intercept[IllegalArgumentException] {
      TextAnalysis.pplBuckets(nine, "text", "doc_id", cuts = Seq(0.9, 0.1))
    }
  }

  test("mixture sampling hits target proportions; infeasible targets fail fast") {
    val df = (0L until 4000L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    // equal 1000-row strata, targets 4:2:1 over three of them
    val out = Sampling.sampleToMixture(df, col("source"), col("doc_id"),
        Map("src0" -> 0.4, "src1" -> 0.2, "src2" -> 0.1))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // binding stratum src0 kept whole; others scaled by target ratio
    assert(out("src0") == 1000L, s"got $out")
    assert(math.abs(out("src1") - 500L) < 60, s"got $out")
    assert(math.abs(out("src2") - 250L) < 45, s"got $out")
    assert(!out.contains("src3"), "strata outside the mix must drop")
    // determinism under repartitioning
    val re = Sampling.sampleToMixture(df.repartition(7), col("source"),
        col("doc_id"), Map("src0" -> 0.4, "src1" -> 0.2, "src2" -> 0.1))
      .select("doc_id").as[Long].collect().toSet
    val first = Sampling.sampleToMixture(df, col("source"), col("doc_id"),
        Map("src0" -> 0.4, "src1" -> 0.2, "src2" -> 0.1))
      .select("doc_id").as[Long].collect().toSet
    assert(re == first)
    val e = intercept[IllegalArgumentException] {
      Sampling.sampleToMixture(df, col("source"), col("doc_id"),
        Map("src0" -> 0.5, "srcX" -> 0.5))
    }
    assert(e.getMessage.contains("srcX"), e.getMessage)
  }

  test("PII scrub masks emails and long digit runs, leaves clean text alone") {
    val rows = Seq(
      (1L, "contact me at jane.doe+spam@mail.example.org today"),
      (2L, "call 5551234567 or 555 123"),
      (3L, "nothing sensitive here")).toDF("id", "t")
    val got = rows.select(col("id"), TextAnalysis.scrub(col("t")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "contact me at <EMAIL> today")
    assert(got(2L) == "call <NUM> or 555 123")
    assert(got(3L) == "nothing sensitive here")
  }

  test("weighted resample: floor(w) copies + hash fraction, distinct copy ids") {
    val df = (0L until 1000L).toDF("id").withColumn("w", lit(2.5))
    val out = Sampling.weightedResample(df, col("id"), col("w"))
    val n = out.count()
    // 2.5 epochs over 1000 rows: 2000 certain + ~500 hash-selected
    assert(n >= 2300 && n <= 2700, s"expected ~2500 rows, got $n")
    val perRow = out.groupBy("id").count().select("count").as[Long].collect()
    assert(perRow.forall(c => c == 2 || c == 3))
    // zero-weight rows vanish
    assert(Sampling.weightedResample(df.withColumn("w", lit(0.0)), col("id"), col("w")).count() == 0)
  }

  test("weighted take: exact n, heavy rows oversampled, zero/null weights excluded") {
    val df = (0L until 1000L).toDF("id")
      // ids < 100 carry 50x the weight of the rest; id 999 weight 0
      .withColumn("w", when(col("id") < 100, 50.0)
        .otherwise(when(col("id") === 999, 0.0).otherwise(1.0)))
    val out = Sampling.weightedTake(df, col("id"), col("w"), n = 200)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.length == 200)
    // scores sorted descending as emitted
    assert(out.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    // the 100 heavy rows (10% of rows, ~85% of weight) dominate the take
    val heavy = out.count(_._1 < 100)
    assert(heavy >= 80, s"heavy rows in take: $heavy of 200")
    assert(!out.map(_._1).contains(999L), "zero-weight row must be excluded")
    // independent recomputation of the winning rule for the top row
    val top = out.head._1
    def score(id: Long, w: Double): Double = {
      val u = ((Dedup.md5LongJvm(id.toString) % Dedup.P) + 1).toDouble / Dedup.P
      math.log(u) / w
    }
    val all = (0L until 999L).map(id =>
      id -> score(id, if (id < 100) 50.0 else 1.0))
    assert(top == all.maxBy(_._2)._1)
  }

  test("token budget keeps a prefix per group and never exceeds the budget") {
    val df = Seq(
      (1L, "a", 500L), (2L, "a", 900L), (3L, "a", 700L), (4L, "a", 100L),
      (10L, "b", 1900L), (11L, "b", 200L)).toDF("id", "src", "tok")
    val kept = Sampling.tokenBudget(df, col("src"), col("id"), col("tok"), 2000L)
      .select("id").as[Long].collect().toSet
    // a: 500+900 = 1400, +700 = 2100 > 2000 stops doc 3; doc 4 is AFTER the
    // cut in id order so the running total already passed the budget
    assert(kept == Set(1L, 2L, 10L), s"got $kept")
    val sums = Sampling.tokenBudget(df, col("src"), col("id"), col("tok"), 2000L)
      .groupBy("src").agg(sum("tok").as("s")).select("s").as[Long].collect()
    assert(sums.forall(_ <= 2000L))
  }

  test("token budget output is invariant to the adaptive blocking") {
    // the same data through the collapsed single-window path (groups
    // proven small), the forced two-phase path, and mixed per-group block
    // counts must select identical rows
    val df = (1 to 400).map(i =>
      ((i % 3).toString, i.toLong, (i % 7 + 1).toLong)).toDF("src", "id", "tok")
    def ids(blockRows: Long, nBlocks: Int) =
      Sampling.tokenBudget(df, col("src"), col("id"), col("tok"), 300L,
          nBlocks = nBlocks, blockRows = blockRows)
        .select("id").as[Long].collect().toSet
    val collapsed = ids(blockRows = 1000L, nBlocks = 64) // all groups fit one block
    val twoPhase = ids(blockRows = 10L, nBlocks = 64)    // every group blocked
    val mixed = ids(blockRows = 10L, nBlocks = 3)        // capped block count
    assert(collapsed == twoPhase && twoPhase == mixed,
      s"blocking changed the selection: $collapsed vs $twoPhase vs $mixed")
    assert(collapsed.nonEmpty)
  }

  test("sequence packing tiles docs exactly and fills every non-final sequence") {
    val df = Seq((1L, 100L), (2L, 250L), (3L, 0L), (4L, 300L), (5L, 7L))
      .toDF("id", "tok")
    val out = Sampling.packSequences(df, col("id"), col("tok"), seqLen = 128L)
      .select("id", "seq_id", "seq_offset", "doc_offset", "slice_len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // zero-token doc contributes nothing
    assert(!out.exists(_._1 == 3L))
    // per-doc slices tile the doc: contiguous doc_offsets summing to tok
    val byDoc = out.groupBy(_._1)
    Map(1L -> 100L, 2L -> 250L, 4L -> 300L, 5L -> 7L).foreach { case (id, tok) =>
      val slices = byDoc(id).sortBy(_._4)
      assert(slices.map(_._5).sum == tok, s"doc $id slices must sum to $tok")
      slices.foldLeft(0L) { case (off, s) =>
        assert(s._4 == off, s"doc $id slice at doc_offset ${s._4}, expected $off")
        off + s._5
      }
    }
    // per-sequence slices tile the sequence: every seq but the last full
    val bySeq = out.groupBy(_._2)
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (seq, ss) =>
      val sorted = ss.sortBy(_._3)
      sorted.foldLeft(0L) { case (off, s) =>
        assert(s._3 == off, s"seq $seq slice at seq_offset ${s._3}, expected $off")
        off + s._5
      }
      if (seq != lastSeq)
        assert(ss.map(_._5).sum == 128L, s"seq $seq must hold exactly 128 tokens")
    }
    // total = 657 tokens -> 6 sequences (5 full + 17-token tail)
    assert(bySeq.size == 6 && bySeq(lastSeq).map(_._5).sum == 657L - 5 * 128L)
  }

  test("sequence packing fails fast on null ids and negative token counts") {
    val nullId = Seq((Some(1L), 5L), (None, 5L)).toDF("id", "tok")
    val e1 = intercept[IllegalArgumentException] {
      Sampling.packSequences(nullId, col("id"), col("tok"), 16L)
    }
    assert(e1.getMessage.contains("null ids"), e1.getMessage)
    val negTok = Seq((1L, -50L), (2L, 100L)).toDF("id", "tok")
    val e2 = intercept[IllegalArgumentException] {
      Sampling.packSequences(negTok, col("id"), col("tok"), 16L)
    }
    assert(e2.getMessage.contains("negative token count"), e2.getMessage)
  }

  test("repetition UDF matches Column forms on trailing whitespace and null text") {
    val df = Seq((1L, "spam spam "), (2L, null.asInstanceOf[String]), (3L, " x"))
      .toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
        TextAnalysis.repetitionUdf(col("text")).as("r"),
        TextAnalysis.dupWordFrac(col("text")).as("dw"),
        TextAnalysis.dupBigramFrac(col("text")).as("db"))
      .collect().map(row => row.getLong(0) ->
        (Option(row.get(1)), row.get(2), row.get(3))).toMap
    // null text -> null struct AND null Column forms, no NPE
    assert(r(2L) == ((None, null, null)), s"${r(2L)}")
    // trailing/leading empties kept by BOTH forms: "spam spam " tokenizes
    // to [spam, spam, ""] in the UDF exactly as in Spark split / DuckDB
    val s1 = r(1L)._1.get.asInstanceOf[org.apache.spark.sql.Row]
    assert(s1.getDouble(0) == r(1L)._2, "dup_word_frac diverged")
    assert(s1.getDouble(2) == r(1L)._3, "dup_bigram_frac diverged")
    assert(s1.getDouble(0) == 1.0 - 2.0 / 3) // 2 distinct of 3 tokens
  }

  test("sequence packing is invariant to the two-phase blocking") {
    val df = (1 to 500).map(i => (i.toLong, (i % 9 + 1).toLong)).toDF("id", "tok")
    def rows(blockRows: Long, nBlocks: Int) =
      Sampling.packSequences(df, col("id"), col("tok"), seqLen = 64L,
          nBlocks = nBlocks, blockRows = blockRows)
        .select("id", "seq_id", "seq_offset", "doc_offset", "slice_len")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val single = rows(blockRows = 1000L, nBlocks = 64) // proven small: one window
    val blocked = rows(blockRows = 10L, nBlocks = 64)  // 50 blocks, two-phase
    val repart = Sampling.packSequences(df.repartition(7), col("id"), col("tok"),
        seqLen = 64L, nBlocks = 64, blockRows = 10L)
      .select("id", "seq_id", "seq_offset", "doc_offset", "slice_len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(single == blocked, "blocking changed the packing")
    assert(blocked == repart, "partitioning changed the packing")
    assert(single.nonEmpty)
  }

  test("shard offsets above 64k cells broadcast-join instead of a plan literal") {
    // 600 shards x 128 blocks = 76.8k cells > 2^16 forces the broadcast
    // path; the output must be identical to the literal path (blocking is
    // only a parallelization of the in-shard rank)
    val df = (0L until 2000L).toDF("id")
    val lit = Sampling.shardAssignment(df, col("id"), 600, nBlocks = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bcast = Sampling.shardAssignment(df, col("id"), 600, nBlocks = 128)
    assert(bcast.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "expected the broadcast offsets join above 64k cells")
    val got = bcast.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == lit, "broadcast offsets changed shard positions")
  }

  test("cosine propagates nulls and length mismatches as null, not a crash") {
    // the old Catalyst-expression form yielded null on a null pair; the
    // fused UDF must keep that contract (a mismatch is a caller bug,
    // surfaced as null instead of an executor NPE/IndexOutOfBounds)
    val df = Seq(
      (1L, Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (2L, null, Seq(1.0, 0.0)),
      (3L, Seq(1.0, 0.0, 0.5), Seq(1.0, 0.0))).toDF("id", "a", "b")
    val got = df.select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).contains(1.0))
    assert(got(2L).isEmpty && got(3L).isEmpty, s"expected nulls: $got")
  }

  test("int8 quantization: codes bounded, dequantized cosine within 1% of exact") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .filter(col("vec_id") < 50)
    val q = Similarity.quantizeInt8(emb, "embedding")
    val rows = q.select(col("vec_id"),
        col("embedding").cast("array<double>"), col("scale"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2),
        r.getSeq[Byte](3).map(_.toDouble).toArray))
    rows.foreach { case (_, _, _, codes) =>
      assert(codes.forall(c => c >= -127 && c <= 127))
    }
    for (i <- 0 until 10; j <- (i + 1) until 10) {
      val (_, va, sa, ca) = rows(i); val (_, vb, sb, cb) = rows(j)
      val exact = VecOps.dot(va, vb) / (VecOps.norm2(va) * VecOps.norm2(vb))
      val deq = (x: (Array[Double], Double)) => x._1.map(_ * x._2)
      val (da, db) = (deq((ca, sa)), deq((cb, sb)))
      val approx = VecOps.dot(da, db) / (VecOps.norm2(da) * VecOps.norm2(db))
      assert(math.abs(approx - exact) <= 0.01,
        s"pair ($i,$j): quantized cosine $approx vs exact $exact")
    }
  }

  test("boundedHistCells: shards merge by adding counts cell-wise") {
    // the mergeable-summary property every bounded sketch in the kit
    // claims: grid(all) == cellwise-sum(grid(shard_i))
    val all = (0L until 400L).map(i => (i * 7) % 190)
    val (s1, s2) = all.splitAt(137)
    def grid(xs: Seq[Long]) = graft.operators.Quantiles.boundedHistCells(
      xs.toDF("v"), col("v"), binWidth = 10L, bins = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = (grid(s1).toSeq ++ grid(s2).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(merged == grid(all), "cell-wise sum must equal the whole-corpus grid")
  }

  test("boundedHistCells: nulls dropped, negatives clamp to bin 0, overflow clamps to the top bin") {
    val df = Seq[java.lang.Long](null, -5L, 0L, 9L, 10L, 79L, 80L, 100000L)
      .toDF("v")
    val cells = graft.operators.Quantiles.boundedHistCells(
      df, col("v"), binWidth = 10L, bins = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // -5 and 0 and 9 -> bin 0; 10 -> bin 1; 79 -> bin 7; 80 and 100000 clamp -> bin 7
    assert(cells == Map(0L -> 3L, 1L -> 1L, 7L -> 3L), s"got $cells")
    assert(cells.values.sum == 7, "null must not be counted")
  }

  test("covCellStream: null vectors contribute nothing (grid equals the non-null batch kernel)") {
    val rows: Seq[(Long, Array[Double])] = Seq(
      (1L, Array(1.0, 2.0)), (2L, null), (3L, Array(-0.5, 4.0)))
    val df = rows.toDF("id", "v")
    val grid = graft.operators.Similarity.covCellsFinish(
      graft.operators.Similarity.covCellStream(df, "v"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batch = graft.operators.Similarity.embeddingCovariance(
      rows.filter(_._2 != null).toDF("id", "v"), "v")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(grid == batch, s"null rows leaked into the grid: $grid vs $batch")
  }

  test("q_rho_select: selection is the excess-loss top quartile (clean partition at the threshold)") {
    val rows = SparkEntry.queries("q_rho_select")(spark, sf())
      .collect().map(r => (r.getDouble(3), r.getBoolean(4)))
    val n = rows.length
    assert(n > 100, s"expected a scored corpus, got $n rows")
    val sel = rows.filter(_._2).map(_._1)
    val rej = rows.filterNot(_._2).map(_._1)
    // every selected excess clears every rejected one (>= threshold is a
    // clean cut; ties land on the selected side)
    assert(sel.min >= rej.max, s"partition broken: ${sel.min} < ${rej.max}")
    // ~top quartile, allowing threshold ties
    val frac = sel.length.toDouble / n
    assert(frac >= 0.2 && frac <= 0.35, s"selected fraction $frac")
  }

  test("csv/jsonl round-trips are lossless on adversarial content") {
    // the hostile cases a format edge must survive: separators, quotes,
    // newlines, the null token AS LITERAL TEXT, empty vs null, unicode
    val rows = Seq(
      (1L, "plain words", Some(3.5)),
      (2L, "comma, inside", None),
      (3L, "a \"quoted\" phrase", Some(-0.0)),
      (4L, "line\nbreak and \r carriage", Some(1e-300)),
      (5L, "literal \\N not a null", Some(2.0)),
      (6L, null.asInstanceOf[String], Some(7.25)),
      (7L, "", Some(0.1)),
      (8L, "ünïcødé 🚀 text", None),
      (9L, "\\N", Some(4.0))) // EXACTLY the null token — survives via quoteAll
    val df = rows.toDF("id", "text", "score")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    val want = canon(df)
    assert(canon(graft.sources.TextFormats.csvRoundTrip(df, "spec")) == want,
      "csv round trip lost content")
    assert(canon(graft.sources.TextFormats.jsonlRoundTrip(df, "spec")) == want,
      "jsonl round trip lost content")
  }

  test("curriculum: stages partition by thresholds, positions dense per (shard, stage), partitioning-invariant") {
    val df = (0L until 1500L).map(i => (i, (i % 97).toDouble / 10.0)).toDF("id", "diff")
    val thr = Seq(2.0, 5.0, 8.0)
    val a = Sampling.curriculum(df, col("id"), col("diff"), thr, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val b = Sampling.curriculum(df.repartition(7), col("id"), col("diff"), thr, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(a.toSet == b.toSet, "curriculum must not depend on partitioning")
    // stage boundaries are exactly the thresholds
    a.foreach { case (_, d, _, st, _) =>
      val expect = thr.indexWhere(d <= _) match { case -1 => 3L; case i => i.toLong }
      assert(st == expect, s"difficulty $d got stage $st")
    }
    // positions dense 0..n-1 within every (shard, stage)
    a.groupBy(t => (t._3, t._4)).foreach { case (g, rows) =>
      val ps = rows.map(_._5).sorted
      assert(ps.toSeq == (0L until rows.length).toSeq, s"group $g positions not dense: ${ps.take(5).toSeq}")
    }
    // every (shard, stage) cell is populated (the ramp exists per shard)
    assert(a.groupBy(t => (t._3, t._4)).size == 16, "all 4x4 cells populated")
  }

  test("shard assignment: stable, balanced-ish, positions contiguous per shard") {
    val df = (0L until 2000L).toDF("id")
    val a = Sampling.shardAssignment(df, col("id"), 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = Sampling.shardAssignment(df.repartition(7), col("id"), 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.toSet == b.toSet, "assignment must not depend on partitioning")
    val byShard = a.groupBy(_._2)
    assert(byShard.size == 8)
    byShard.values.foreach { rows =>
      assert(rows.length > 150 && rows.length < 350, s"skewed shard: ${rows.length}")
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq,
        "positions must be a contiguous 0-based range")
    }
    // in-shard order is decorrelated from id order (a pseudo-shuffle):
    // the position sequence must not be monotone in id
    val oneShard = byShard.head._2.sortBy(_._1).map(_._3)
    assert(oneShard.zip(oneShard.tail).exists { case (x, y) => x > y })
  }

  test("contamination: benchmark docs score 1.0, disjoint docs 0.0") {
    val bench = docs.filter(col("doc_id") === 1L)
    val out = Dedup.contamination(docs, "text", "doc_id", bench, "text", 3)
      .select("doc_id", "contamination").as[(Long, Double)].collect().toMap
    assert(out(1L) == 1.0 && out(4L) == 1.0, "benchmark + its exact dup must be fully contaminated")
    assert(out(3L) == 0.0 && out(5L) == 0.0, "disjoint docs must score 0")
    assert(out(2L) > 0.0 && out(2L) < 1.0, "near-dup must score partial overlap")
  }

  test("leakage-free split: near-dup clusters never straddle folds; singletons match q_split") {
    val lf = SparkEntry.queries("q_split_leakfree")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // the invariant the op exists for: one split label per cluster
    lf.groupBy(_._2).foreach { case (cid, rows) =>
      assert(rows.map(_._3).distinct.length == 1,
        s"cluster $cid straddles folds: ${rows.toList}")
    }
    // clusters are real on this corpus (otherwise the test is vacuous)
    assert(lf.exists(r => r._1 != r._2), "expected at least one non-singleton")
    // singletons (cluster_id == doc_id) get exactly q_split's assignment
    val plain = SparkEntry.queries("q_split")(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    lf.filter(r => r._1 == r._2).foreach { case (id, _, s) =>
      assert(plain(id) == s, s"singleton $id diverged from q_split")
    }
  }

  test("oovRate: vocab boundary tie-breaks by term; null text dropped; probe plans no shuffle") {
    val df = Seq(
      (1L, "a a b c"), (2L, "a b b d"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // counts: a=3, b=3, c=1, d=1. V=2 -> {a,b}; V=3 -> tie at count 1
    // breaks by term asc, so {a,b,c} (c in, d out)
    val v2 = TextAnalysis.oovRate(df, "text", "doc_id", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList.sorted
    assert(v2 == List((1L, 4L, 1L), (2L, 4L, 1L)), s"got $v2")
    val v3 = TextAnalysis.oovRate(df, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toList.sorted
    assert(v3 == List((1L, 0L), (2L, 1L)), s"tie must break by term asc: $v3")
    // the probe phase is a zero-shuffle projection (the vocab agg ran at
    // build time, bounded by V; nothing corpus-sized reaches the driver)
    val plan = SparkEntry.queries("q_oov_rate")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"probe must not shuffle:\n$plan")
  }

  test("bloom contamination: no false negatives; wide filter matches exact; null text survives") {
    val bench = docs.filter(col("doc_id") === 1L)
    val exact = Dedup.contamination(docs, "text", "doc_id", bench, "text", 3)
      .select("doc_id", "n_contaminated").as[(Long, Int)].collect().toMap
    // a deliberately tiny filter (64 bits, k=2) forces false positives;
    // one-sided error means hits can only EXCEED the exact count
    val tiny = Dedup.bloomContamination(docs, "text", "doc_id", bench, "text",
        3, mBits = 64, k = 2)
      .select("doc_id", "n_bloom_hits").as[(Long, Int)].collect().toMap
    exact.foreach { case (id, c) =>
      assert(tiny(id) >= c, s"false negative on doc $id: bloom ${tiny(id)} < exact $c")
    }
    // a generously sized filter reproduces the exact counts on this corpus
    val wide = Dedup.bloomContamination(docs, "text", "doc_id", bench, "text",
        3, mBits = 1 << 20, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(4))).toList
    assert(wide.map(t => t._1 -> t._2).toMap == exact, s"wide-filter mismatch: $wide")
    assert(wide.collect { case (id, _, 1) => id }.sorted == List(1L, 2L, 4L),
      "flagged must be the benchmark doc, its exact dup, and the near-dup")
    val withNull = docs.union(Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val nullRow = Dedup.bloomContamination(withNull, "text", "doc_id", bench, "text", 3)
      .filter(col("doc_id") === 9L).collect().head
    assert(nullRow.getInt(1) == 0 && nullRow.getInt(2) == 0 &&
      nullRow.getDouble(3) == 0.0 && nullRow.getInt(4) == 0)
    // partitioning-independent: same rows at any layout
    val a = Dedup.bloomContamination(docs, "text", "doc_id", bench, "text", 3)
      .collect().map(_.toSeq).toSet
    val b = Dedup.bloomContamination(docs.repartition(7), "text", "doc_id",
      bench, "text", 3).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("redactContamination: cuts only benchmark-overlapping spans; full quotes vanish") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro words alpha beta gamma delta closing words"), // quote inside
      (2L, "alpha beta gamma delta"),                           // full quote
      (3L, "totally unrelated text here")).toDF("doc_id", "text")
    val out = Dedup.redactContamination(corpus, "text", "doc_id",
        bench, "text", spanTokens = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 3L),
      "the fully-quoted doc must vanish (kept == 0)")
    assert(out(0)._2 == "intro words closing words",
      s"surgical cut must keep the surround: '${out(0)._2}'")
    assert(out(0)._3 == 4 && out(0)._4 == 4)
    assert(out(1)._2 == "totally unrelated text here" && out(1)._4 == 0)
  }

  test("containmentJoin: matches broadcast contamination per doc; self-containment is 1.0") {
    val ref = docs.filter(col("doc_id") <= 2)
    val exact = Dedup.contamination(docs, "text", "doc_id", ref, "text", 3)
      .select("doc_id", "n_contaminated").as[(Long, Int)].collect().toMap
    val joined = Dedup.containmentJoin(docs, "text", "doc_id", ref, "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(joined.map(t => t._1 -> t._2.toInt).toMap == exact,
      "join path must agree with the broadcast path shingle-for-shingle")
    val cm = joined.map(t => t._1 -> t._3).toMap
    assert(cm(1L) == 1.0 && cm(2L) == 1.0, "reference docs contain themselves")
    assert(cm(4L) == 1.0, "exact dup of a reference doc is fully contained")
    assert(cm(5L) == 0.0)
  }

  test("exact dedup keeps the min-id row per key") {
    val kept = Dedup.exact(docs, col("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("boilerplate lines removed from every doc; fully-boilerplate docs vanish") {
    val df = Seq(
      (1L, "keep me\nCOOKIE BANNER\nunique tail one"),
      (2L, "COOKIE BANNER\nother text\nFOOTER"),
      (3L, "FOOTER\nCOOKIE BANNER\nthird body"),
      (4L, "FOOTER\nCOOKIE BANNER"), // nothing survives -> doc vanishes
      (5L, "solo document, no repeats")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(df, "text", "doc_id", minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // COOKIE BANNER in docs 1,2,3,4 (>=3) and FOOTER in 2,3,4 (>=3) are hot
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 5L), s"got $out")
    assert(out(0)._2 == "keep me\nunique tail one" && out(0)._3 == 2 && out(0)._4 == 1)
    assert(out(1)._2 == "other text" && out(1)._3 == 1 && out(1)._4 == 2)
    assert(out(2)._2 == "third body")
    assert(out(3)._2 == "solo document, no repeats" && out(3)._4 == 0)
    // order preserved when a middle line is cut
    assert(out(0)._2.startsWith("keep me"))
  }

  test("boilerplate: degenerate threshold fails fast before broadcasting") {
    val df = (1 to 50).map(i => (i.toLong, s"shared line\nalso shared"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.removeBoilerplateLines(df, "text", "doc_id", minDocs = 2,
        maxHotLines = 1).collect()
    }
    assert(e.getMessage.contains("minDocs"), e.getMessage)
    // minDocs < 2 rejected outright
    intercept[IllegalArgumentException] {
      Dedup.removeBoilerplateLines(df, "text", "doc_id", minDocs = 1)
    }
  }

  test("span dedup: cross-doc token runs cut everywhere, overlaps merge, short docs pass") {
    val df = Seq(
      (1L, "alpha beta gamma delta unique1 tail1"),
      (2L, "prefix2 alpha beta gamma delta end2"),
      (3L, "alpha beta gamma delta"), // fully covered -> vanishes
      (4L, "xx yy"),                  // shorter than one window -> untouched
      (5L, "Solo Document three words here")).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(df, "text", "doc_id",
        spanTokens = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // hot 3-windows: "alpha beta gamma" (docs 1,2,3) and "beta gamma delta"
    // (docs 1,2,3) — their coverage merges into the full 4-token run
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L, 5L), s"got ${out.toSeq}")
    assert(out(0)._2 == "unique1 tail1" && out(0)._3 == 2 && out(0)._4 == 4)
    assert(out(1)._2 == "prefix2 end2" && out(1)._3 == 2 && out(1)._4 == 4)
    assert(out(2)._2 == "xx yy" && out(2)._4 == 0)
    // rebuild is over lowercase tokens (hashing tokenizes lowercase)
    assert(out(3)._2 == "solo document three words here" && out(3)._4 == 0)
  }

  test("span dedup: degenerate hot-set cap fails fast; bad params rejected") {
    val df = (1 to 40).map(i => (i.toLong, "same span here repeated in every doc"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.removeRepeatedSpans(df, "text", "doc_id", spanTokens = 3,
        minDocs = 2, maxHotSpans = 2)
    }
    assert(e.getMessage.contains("spanTokens"), e.getMessage)
    intercept[IllegalArgumentException] {
      Dedup.removeRepeatedSpans(df, "text", "doc_id", spanTokens = 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.removeRepeatedSpans(df, "text", "doc_id", spanTokens = 3, minDocs = 1)
    }
  }

  test("novelty: first doc scores 1, exact copy 0, partial overlap in between") {
    val df = Seq(
      (1L, "a b c d e"),       // 3 trigrams, all first-seen here -> 1.0
      (2L, "a b c d e"),       // exact copy -> 0.0
      (3L, "a b c x y z"),     // 4 trigrams, 'a b c' seen in doc 1 -> 3/4
      (4L, "p q")).toDF("doc_id", "text") // < 3 tokens -> no row
    val out = Dedup.noveltyScores(df, "text", "doc_id", shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), s"got ${out.toSeq}")
    assert(out(0) == ((1L, 3L, 3L, 1.0)))
    assert(out(1) == ((2L, 3L, 0L, 0.0)))
    assert(out(2) == ((3L, 4L, 3L, 0.75)))
  }

  test("minhash: identical docs always collide, near-dups usually, distinct never-ish") {
    val pairs = Dedup.minhashCandidatePairs(docs, "text", "doc_id",
      numHashes = 16, bands = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup must collide in every band")
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)),
      "8/9-word-overlap near-dups should collide in some band")
    assert(!pairs.contains((3L, 5L)), "disjoint docs must not collide")
  }

  test("stratified take-n: exact counts, partition-invariant, short strata kept whole") {
    val df = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val got = Sampling.takeStratified(df, col("lang"), col("doc_id"), 5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val perLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    val langSizes = df.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    langSizes.foreach { case (l, c) =>
      assert(perLang(l) == math.min(5L, c).toInt, s"lang $l") }
    // exact same rows whatever the physical layout
    val re = Sampling.takeStratified(df.repartition(7), col("lang"), col("doc_id"), 5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet == re.toSet)
    // a stratum smaller than n survives whole
    val tiny = Seq((1L, "only"), (2L, "only")).toDF("doc_id", "lang")
    assert(Sampling.takeStratified(tiny, col("lang"), col("doc_id"), 5).count() == 2)
    intercept[IllegalArgumentException] {
      Sampling.takeStratified(tiny.withColumn("__b", lit(1)),
        col("lang"), col("doc_id"), 5)
    }
  }

  test("hash sampling is deterministic and hits the target fractions") {
    val df = spark.range(20000).toDF("id")
      .withColumn("stratum", when(col("id") % 2 === 0, "a").otherwise("b"))
    val s1 = Sampling.hashSample(df, col("id"), 0.3).select("id").as[Long].collect().toSet
    val s2 = Sampling.hashSample(df, col("id"), 0.3).select("id").as[Long].collect().toSet
    assert(s1 == s2, "same predicate, same rows — no RNG state")
    assert(math.abs(s1.size / 20000.0 - 0.3) < 0.02)
    // nested property: a smaller fraction selects a subset of a larger one
    val s3 = Sampling.hashSample(df, col("id"), 0.1).select("id").as[Long].collect().toSet
    assert(s3.subsetOf(s1))

    val strat = Sampling.stratifiedHashSample(df, col("stratum"), col("id"),
      Map("a" -> 0.5), default = 0.05)
    val byStratum = strat.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byStratum("a") / 10000.0 - 0.5) < 0.03)
    assert(math.abs(byStratum.getOrElse("b", 0L) / 10000.0 - 0.05) < 0.02)
  }

  test("distributed label propagation matches driver union-find") {
    val pairs = Seq((1L, 4L), (1L, 2L), (2L, 4L), (7L, 9L), (9L, 11L))
      .toDF("id_a", "id_b")
    val viaDriver = Dedup.clusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // driverEdgeLimit = 0 forces the distributed path through the same API
    val viaDistributed = Dedup.clusters(pairs, driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaDistributed == viaDriver)
    assert(viaDriver == Set((1L, 1L), (2L, 1L), (4L, 1L),
      (7L, 7L), (9L, 7L), (11L, 7L)))

    // a 15-edge chain with the min id at one END needs 15 propagation
    // rounds (inside the default maxIter=20) — pins the sum-based
    // convergence check (round 12: "label sum unchanged" replaced the
    // per-round join diff) across many rounds, not just the diameter-2
    // case above
    val chain = (1L to 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainDriver = Dedup.clusters(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // round 13 (r12 ADVICE): superseded label generations must ACTUALLY
    // be unpersisted — the old blocks() unpersisted a derived wrapper
    // RDD (a no-op), so a 15-round chain left ~16 generations cached.
    // Count persistent RDDs across the call: at most the final
    // generation may remain, never one per round.
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val chainDistributed = Dedup.clusters(chain, driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter - persistedBefore <= 1,
      s"label-propagation generations leaked: $persistedBefore -> $persistedAfter persistent RDDs")
    assert(chainDistributed == chainDriver)
    assert(chainDistributed == (1L to 16L).map(i => (i, 1L)).toSet)
  }

  test("streaming exact dedup: first row per key wins, later dups dropped") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, Long, String)]
    val out = Dedup.exactStream(
      mem.toDF().toDF("doc_id", "tms", "text"), Seq("text"), "tms", "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1000L, "aa"), (2L, 2000L, "aa"), (3L, 3000L, "bb"))
      q.processAllAvailable()
      mem.addData((4L, 4000L, "bb"), (5L, 5000L, "cc"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id")
        .as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 3L, 5L))
    } finally q.stop()
  }

  test("fused minhash near-dup pairs match candidates + ngramJaccard verify") {
    // the fused bucket-local form must emit exactly the candidate pairs
    // that survive the expression-form Jaccard verify (hashed-shingle vs
    // string-shingle Jaccard agree absent md5 collisions)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val threshold = 0.5
    val fused = Dedup.minhashNearDupPairs(real, "text", "doc_id",
        numHashes = 16, bands = 4, seed = 42L, shingleN = 3, threshold = threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidatePairs(real, "text", "doc_id",
      numHashes = 16, bands = 4, seed = 42L, shingleN = 3)
    val a = real.select(col("doc_id").as("id_a"), col("text").as("__ta"))
    val b = real.select(col("doc_id").as("id_b"), col("text").as("__tb"))
    val joined = cand.join(a, "id_a").join(b, "id_b")
    val reference = joined
      .filter(Dedup.ngramJaccard(joined, col("__ta"), col("__tb"), 3) >= threshold)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reference.nonEmpty, "fixture must exercise the verify pass")
    assert(fused == reference)
  }

  test("minhash word hashes fold case like Spark's lower() under a Turkish default locale") {
    // a Turkish String.toLowerCase folds I to a dotless ı: IS/IN/IT would
    // hash apart from is/in/it and the two docs would stop pairing
    val cased = Seq((1L, "THE FOX IS IN IT"), (2L, "the fox is in it"))
      .toDF("doc_id", "text")
    def pairs() = Dedup.minhashNearDupPairs(cased, "text", "doc_id",
        numHashes = 16, bands = 4, seed = 42L, shingleN = 1, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() == Set((1L, 2L)))
    assert(withTurkishLocale(pairs()) == Set((1L, 2L)))
  }

  test("prefix-filter join is the exact ground truth over the LSH pipeline's pairs") {
    // q_ssjoin and the minhash verify stage score the SAME hashed
    // 3-gram shingle sets at the same threshold, so every verified LSH
    // pair must appear in the exact join; anything extra in the exact
    // join is an LSH banding miss (allowed — LSH is probabilistic; the
    // exact join, by the prefix-filter theorem, misses nothing)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = graft.operators.Dedup.prefixFilterJoin(real, "text", "doc_id", tauPct = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDupPairs(real, "text", "doc_id",
        numHashes = 16, bands = 4, seed = 42L, shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "fixture must exercise both paths")
    assert(lsh.subsetOf(exact),
      s"LSH emitted pairs the exact join rejects: ${lsh.diff(exact)}")
  }

  test("prefix-filter join fail-fast: template-hot corpus trips the candidate-volume guard") {
    // 60 identical docs: every prefix key carries all 60 -> ~1.7k
    // candidates; a cap below that must REFUSE with the knobs named
    val docs = (0 until 60).map(i => (i.toLong,
      "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.prefixFilterJoin(docs, "text", "doc_id",
        tauPct = 80, maxCandidates = 100L)
    }
    assert(e.getMessage.contains("maxCandidates"), e.getMessage)
    // and with an adequate cap the same corpus resolves exactly
    val pairs = graft.operators.Dedup.prefixFilterJoin(docs, "text", "doc_id",
      tauPct = 80, maxCandidates = 10000L).count()
    assert(pairs == 60L * 59 / 2, s"identical docs must all pair: $pairs")
  }

  test("minhash oversized-bucket cap: adversarial all-identical corpus stays bounded") {
    // 600 identical docs collide in every band: pairwise verify would be
    // O(n²) per bucket. Past maxBucketSize the pivot scheme does
    // O(pivots·n) work — and for a homogeneous bucket keeps FULL recall
    // through cluster transitivity: every doc must still land in one
    // cluster with the min id.
    val n = 600
    val docs = (0 until n).map(i => (i.toLong, "the same document text repeated"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
      numHashes = 16, bands = 4, seed = 42L, shingleN = 3,
      threshold = 0.5, maxBucketSize = 50)
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // bounded: pivots(8) * n * bands upper-bounds the emitted edges
    assert(edges.length <= 8 * n, s"edge count ${edges.length} not bounded")
    val clustered = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clustered.size == n && clustered.values.forall(_ == 0L),
      "homogeneous bucket must keep full recall via pivot transitivity")
  }

  test("cluster resolution: min-id label propagation") {
    val pairs = Seq((1L, 4L), (1L, 2L), (2L, 4L), (7L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("simhash: exact dups share fingerprints, near-dups are Hamming-close") {
    val fp = Dedup.simhash(docs, "text", "doc_id", bits = 60).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(4L))
    val hammingNear = java.lang.Long.bitCount(fp(1L) ^ fp(2L))
    val hammingFar = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    assert(hammingNear < hammingFar,
      s"near-dup hamming $hammingNear should beat unrelated $hammingFar")
  }

  test("ngram jaccard: hand-computed value") {
    val pairs = Seq((
      "the quick brown fox",  // bigrams: {the quick, quick brown, brown fox}
      "the quick brown cat")) // bigrams: {the quick, quick brown, brown cat}
      .toDF("a", "b")
    val sim = pairs.select(
      Dedup.ngramJaccard(pairs, col("a"), col("b"), 2).as("j"))
      .as[Double].head()
    assert(math.abs(sim - 2.0 / 4.0) < 1e-12) // 2 shared of 4 distinct
  }

  test("fused ngram jaccard equals the Column-chain reference form") {
    // adversarial corpus: case variance, repeated tokens, multi-space
    // runs, leading/trailing whitespace, n-gram-shorter-than-n docs,
    // empty and null strings
    val texts = Seq(
      "the quick brown fox", "THE Quick  brown\tcat", " leading space",
      "trailing space ", "a a a a a", "one", "", "x y", null,
      "alpha beta gamma alpha beta", "Tab\tand\nnewline mix")
    val pairs = (for { a <- texts; b <- texts } yield (a, b))
      .zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "a", "b")
    for (n <- Seq(1, 2, 3)) {
      val both = pairs.select(col("id"),
        Dedup.ngramJaccard(pairs, col("a"), col("b"), n).as("ref"),
        Dedup.ngramJaccardFused(col("a"), col("b"), n).as("fused"))
        .collect()
      both.foreach { r =>
        assert(r.getDouble(1) == r.getDouble(2),
          s"n=$n id=${r.getLong(0)}: ref=${r.getDouble(1)} fused=${r.getDouble(2)}")
      }
    }
  }

  test("label centroids and within-class outlier distances: hand-computed") {
    val df = Seq(
      (1L, 0, Array(0.0, 0.0)), (2L, 0, Array(2.0, 0.0)), // label 0 centroid (1,0)
      (3L, 1, Array(0.0, 4.0))).toDF("vec_id", "label", "embedding")
    val cents = Similarity.labelCentroids(df, "embedding", "label")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toList).toMap
    assert(cents(0) == List(1.0, 0.0) && cents(1) == List(0.0, 4.0))
    val dists = Similarity.centroidOutlierScores(df, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // label 0: both vectors at distance 1 from (1,0); label 1: at its own centroid
    assert(dists == Map(1L -> 1.0, 2L -> 1.0, 3L -> 0.0), s"got $dists")
  }

  test("brute-force ANN: self-similar vectors rank first") {
    val corpus = Seq(
      (1L, Array(1.0, 0.0, 0.0)), (2L, Array(0.9, 0.1, 0.0)),
      (3L, Array(0.0, 1.0, 0.0)), (4L, Array(0.0, 0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(1.0, 0.0, 0.0))).toDF("qid", "qvec")
    val got = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 2).collect()
      .map(r => (r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("LSH ANN recalls the exact top-1 on separated clusters") {
    val rng = new java.util.Random(7)
    def near(base: Array[Double]) = base.map(_ + rng.nextGaussian() * 0.01)
    val a = Array.fill(16)(rng.nextGaussian())
    val b = Array.fill(16)(rng.nextGaussian())
    val corpus = ((1 to 20).map(i => (i.toLong, near(a))) ++
      (21 to 40).map(i => (i.toLong, near(b)))).toDF("vec_id", "embedding")
    val queries = Seq((100L, near(a))).toDF("qid", "qvec")
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", 1).collect()(0).getLong(1)
    val approx = Similarity.lshTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", 1, nbits = 4, dims = 16).collect()
    assert(approx.nonEmpty && approx(0).getLong(1) == exact)
  }

  test("IVF ANN finds cluster-local neighbors") {
    val rng = new java.util.Random(11)
    def near(base: Array[Double]) = base.map(_ + rng.nextGaussian() * 0.01)
    val a = Array.fill(8)(rng.nextGaussian())
    val b = Array.fill(8)(rng.nextGaussian())
    val corpus = ((1 to 10).map(i => (i.toLong, near(a))) ++
      (11 to 20).map(i => (i.toLong, near(b)))).toDF("vec_id", "embedding")
    val queries = Seq((100L, near(b))).toDF("qid", "qvec")
    val got = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 3, cells = 2, nprobe = 1).collect()
    assert(got.length == 3 && got.forall(_.getLong(1) >= 11L),
      s"all neighbors must come from cluster b: ${got.mkString(",")}")

    // Lloyd-trained quantizer: centroids land on the true cluster means
    val cents = Similarity.kmeansCentroids(corpus, "embedding",
        cells = 2, iters = 5, seed = 7L)
      .sortBy(c => VecOps.sqDist(c, a))
    assert(math.sqrt(VecOps.sqDist(cents(0), a)) < 0.1)
    assert(math.sqrt(VecOps.sqDist(cents(1), b)) < 0.1)
    val trained = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 3, cells = 2, nprobe = 1, trainIters = 3).collect()
    assert(trained.length == 3 && trained.forall(_.getLong(1) >= 11L))
  }

  test("embedding near-dup pairs: clones found, unrelated vectors not") {
    val rng = new java.util.Random(3)
    val base = Array.fill(16)(rng.nextGaussian())
    val clone = base.map(_ + 1e-4)
    val other = Array.fill(16)(rng.nextGaussian())
    val df = Seq((1L, base), (2L, clone), (3L, other))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.99, nbits = 4, dims = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "clone pair must survive bucket+verify")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated vector must not pair")
  }

  test("temperature sampling flattens the mixture: low-resource groups upsampled") {
    import graft.operators.Sampling
    // 400 'hi' docs vs 100 'lo' docs; T=2 weights sqrt: 20 vs 10 ->
    // thresholds 10000*300*20/(30*400)=5000 and 10000*300*10/(30*100)=10000
    val df = ((0 until 400).map(i => (i.toLong, "hi")) ++
      (1000 until 1100).map(i => (i.toLong, "lo"))).toDF("doc_id", "grp")
    val kept = Sampling.temperatureSample(df, col("grp"), col("doc_id"), targetN = 300L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byGrp = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // lo keeps EVERYTHING (threshold 10000); hi keeps the ~half its md5
    // buckets admit — natural rate would be 4:1, flattened toward 2:1
    assert(byGrp("lo") == 100, s"low-resource group must keep all: $byGrp")
    assert(byGrp("hi") < 280 && byGrp("hi") > 120, s"hi must be ~halved: $byGrp")
    // deterministic: same rows again
    val again = Sampling.temperatureSample(df, col("grp"), col("doc_id"), targetN = 300L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.sorted.toSeq == again.sorted.toSeq)
  }

  test("source cap: sublinear caps, tail kept whole, partition-invariant") {
    import graft.operators.Sampling
    // head source: 100 docs -> cap ceil(sqrt(100)) = 10; tail: 3 docs ->
    // cap max(2, ceil(sqrt(3))=2) = 2 < 3 so it ranks too; singleton passes
    val df = ((0 until 100).map(i => (i.toLong, "big")) ++
      (200 until 203).map(i => (i.toLong, "small")) ++
      Seq((300L, "one"))).toDF("doc_id", "source")
    val got = Sampling.sourceCap(df, col("source"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(bySrc("big").size == 10, s"head capped at sqrt: ${bySrc("big").size}")
    assert(bySrc("small").size == 2 && got.filter(_._2 == "small").forall(_._3 == 2L))
    assert(bySrc("one") == Set(300L), "singleton source passes through whole")
    // physical layout must not change the kept set
    val re = Sampling.sourceCap(df.repartition(7), col("source"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSet == re.toSet)
    // kept head docs are exactly the cap lowest md5-bucket ranks
    val ranked = df.filter(col("source") === "big")
      .withColumn("__bb", Sampling.bucket(col("doc_id"), 1000000))
      .orderBy(col("__bb"), col("doc_id")).limit(10)
      .select("doc_id").as[Long].collect().toSet
    assert(bySrc("big") == ranked)
    intercept[IllegalArgumentException] {
      Sampling.sourceCap(df.withColumn("__cap", lit(1)), col("source"), col("doc_id"))
    }
  }

  test("unimax allocation: waterfill crossover, epoch caps, integer shares") {
    import graft.operators.Sampling
    val df = Seq(("a", 10L), ("b", 20L), ("c", 100L)).toDF("lang", "nt")
    def run(b: Long, e: Int) =
      Sampling.unimaxAllocation(df, col("lang"), col("nt"), b, e)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // B=100, E=2: a,b epoch-capped (60<=100, 80<=80), c splits the rest
    val mid = run(100L, 2)
    assert(mid("a") == ((10L, 20L, 2000L)))
    assert(mid("b") == ((20L, 40L, 2000L)))
    assert(mid("c") == ((100L, 40L, 400L)))
    // budget dwarfs the corpus: everything epoch-capped
    val big = run(1000L, 2)
    assert(big.values.forall { case (n, a, m) => a == n * 2 && m == 2000L })
    // budget below even the smallest full allocation: pure uniform split
    val tight = run(30L, 2)
    assert(tight("a") == ((10L, 10L, 1000L)))
    assert(tight("b") == ((20L, 10L, 500L)))
    assert(tight("c") == ((100L, 10L, 100L)))
    // allocation never exceeds the budget
    assert(Seq(mid, big, tight).forall(_.values.map(_._2).sum <= 1000L))
  }

  test("unimax sample: whole epochs replicate, fractional epoch gates by hash") {
    val alloc = SparkEntry.queries("q_unimax")(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap // lang -> epochs_milli
    val rows = SparkEntry.queries("q_unimax_sample")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // per (doc, lang): exactly floor(milli/1000) or floor+1 copies, with
    // copy_id a contiguous 0-based range
    rows.groupBy(r => (r._1, r._2)).foreach { case ((_, l), rs) =>
      val m = alloc(l)
      val n = rs.length.toLong
      assert(n == m / 1000 || n == m / 1000 + 1, s"lang $l: $n copies at $m milli")
      assert(rs.map(_._3).sorted.toSeq == (0L until n).toSeq)
    }
    // the fractional gate is the exact md5 predicate: replay it per lang
    // and compare copy totals exactly
    val corpus = spark.read.parquet(sf() + "/documents.parquet")
      .filter(col("text").isNotNull)
      .withColumn("__bkt", graft.operators.Sampling.bucket(col("doc_id")))
      .select(col("doc_id"), col("lang"), col("__bkt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    alloc.foreach { case (l, m) =>
      val langDocs = corpus.filter(_._2 == l)
      val expected = langDocs.length * (m / 1000) +
        langDocs.count(_._3 < (m % 1000) * 10)
      assert(rows.count(_._2 == l).toLong == expected,
        s"lang $l copy total != md5-gate replay")
    }
  }

  private def countMinMatchesReference(): Unit = {
    import graft.operators.{TextAnalysis, Dedup}
    // tricky tokenizations: case folding (ASCII `I`, which a Turkish
    // locale would fold to a dotless `ı`), leading/trailing whitespace
    // (split keeps the empty edge tokens), empty text, null text, tabs
    val docs = Seq((1L, "Spark SPARK flink"), (2L, " lead trail "),
      (3L, ""), (4L, null.asInstanceOf[String]), (5L, "a\t b\nc a"),
      (6L, "FLINK Is IT"))
      .toDF("doc_id", "text")
    def cells(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = cells(TextAnalysis.countMinCells(docs, "text", depth = 4, width = 32))
    // reference: the pre-round-13 per-OCCURRENCE explode + hash + agg
    val bucket = udf((term: String, r: Int) =>
      (Dedup.md5LongJvm("cm" + r + "_" + term) % 32).toInt)
    val ref = cells(docs
      .select(explode(split(lower(col("text")), "\\s+")).as("term"))
      .select(col("term"), explode(sequence(lit(0), lit(3))).as("r"))
      .select(col("r").cast("long").as("r"),
        bucket(col("term"), col("r")).cast("long").as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("cc")))
    assert(got == ref, s"pre-agg grid != reference grid")
  }

  test("countMinCells per-task pre-agg equals the explode+agg reference form") {
    countMinMatchesReference()
  }

  test("countMinCells folds case like Spark's lower() under a Turkish default locale") {
    withTurkishLocale(countMinMatchesReference())
  }

  test("hllRegisters per-task pre-agg equals the Column-chain reference form") {
    import graft.operators.TextAnalysis
    val df = ((0 until 500).map(i => ("big", s"v$i")) ++
      (0 until 500).map(i => ("big", s"v${i % 7}")) ++ // dups change nothing
      (0 until 30).map(i => ("small", s"w$i")) ++
      Seq(("small", null.asInstanceOf[String]))) // null keeps old semantics
      .toDF("grp", "value")
    def regs(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    val m = 64
    val got = regs(TextAnalysis.hllRegisters(df, col("grp"), col("value"), m = m))
    // reference: the pre-round-13 conv(substring(md5(...))) Column chain
    val p = 6; val suffixBits = 60 - p
    val h = conv(substring(md5(concat(lit("hll_"), col("value").cast("string"))), 1, 15),
      16, 10).cast("long")
    val w = shiftright(h, p)
    val rho = when(w === 0, lit(suffixBits + 1))
      .otherwise(lit(suffixBits + 1) - length(bin(w))).cast("long")
    val ref = regs(df
      .select(col("grp"), pmod(h, lit(m.toLong)).as("register"), rho.as("__rho"))
      .groupBy(col("grp"), col("register")).agg(max(col("__rho")).as("max_rho")))
    assert(got == ref, "pre-agg registers != reference registers")
  }

  test("hll registers: estimate within error bound, merge = cell-wise max") {
    import graft.operators.TextAnalysis
    val df = ((0 until 3000).map(i => ("big", s"v$i")) ++ // 3000 distinct
      (0 until 3000).map(i => ("big", s"v${i % 10}")) ++  // dups change nothing
      (0 until 40).map(i => ("small", s"w$i"))).toDF("grp", "value")
    def regs(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.hllRegisters(d, col("grp"), col("value"), m = 1024)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = regs(df)
    def est(g: String) = TextAnalysis.hllEstimate(
      full.collect { case ((`g`, reg), rho) => reg -> rho }.toMap, 1024)
    assert(math.abs(est("big") - 3000) / 3000.0 < 0.15, s"big est ${est("big")}")
    assert(math.abs(est("small") - 40) / 40.0 < 0.25, s"small est ${est("small")}")
    // mergeable: registers over the union == cell-wise max of two halves
    val (h1, h2) = (df.filter(col("value") < "v2"), df.filter(col("value") >= "v2"))
    val merged = (regs(h1).toSeq ++ regs(h2).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(merged == full, "sharded registers must merge to the full sketch")
    // rho never exceeds the 50-bit suffix + 1
    assert(full.values.forall(r => r >= 1 && r <= 51))
  }

  test("packed token stream: every sequence densely filled 0..511, last ragged") {
    val rows = SparkEntry.queries("q_pack_tokens")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty)
    val bySeq = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (seq, ps) =>
      assert(ps == (0L until ps.length), s"seq $seq positions not dense from 0")
      if (seq != lastSeq) assert(ps.length == 512, s"seq $seq not full: ${ps.length}")
      else assert(ps.length <= 512)
    }
    // token budget conservation: stream length == corpus BPE token total
    val total = spark.read.parquet(sf() + "/documents.parquet")
      .filter(col("text").isNotNull)
      .select(graft.functions.BpeTokenCount(col("text")).as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(rows.length.toLong == total, s"${rows.length} != $total")
  }

  test("gopher quality rules: hand-computed metrics, thresholds gate correctly") {
    import graft.operators.TextAnalysis
    val passing = "the be to of and that have with " + Array.fill(42)("word").mkString(" ")
    val df = Seq(
      (1L, "the cat runs to the big### house ... ok"), // 9 words, symbols
      (2L, passing),                                    // 50 words, clean
      (3L, null.asInstanceOf[String])                   // no row
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherQualityRules(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 2L))
    val r1 = got(1L)
    assert(r1.getAs[Long]("n_words") == 9)
    assert(math.abs(r1.getAs[Double]("mean_word_len") - 31.0 / 9) < 1e-6)
    // 3 '#' chars + one '...' over 9 words
    assert(math.abs(r1.getAs[Double]("symbol_ratio") - 4.0 / 9) < 1e-6)
    assert(math.abs(r1.getAs[Double]("alpha_frac") - 8.0 / 9) < 1e-6)
    assert(r1.getAs[Long]("stop_hits") == 2) // the, to
    assert(r1.getAs[Int]("words_ok") == 0 && r1.getAs[Int]("symbol_ok") == 0)
    assert(r1.getAs[Int]("stop_ok") == 1 && r1.getAs[Int]("gopher_pass") == 0)
    val r2 = got(2L)
    assert(r2.getAs[Long]("n_words") == 50)
    assert(r2.getAs[Long]("stop_hits") == 8)
    Seq("words_ok", "mean_len_ok", "symbol_ok", "bullet_ok", "ellipsis_ok",
      "alpha_ok", "stop_ok", "gopher_pass").foreach { f =>
      assert(r2.getAs[Int](f) == 1, s"doc 2 must pass $f")
    }
  }

  test("new ops tolerate null text / zero vectors (convention: contribute nothing)") {
    val withNull = Seq((1L, "a b c d e"), (2L, null.asInstanceOf[String]),
      (3L, "a b c d e")).toDF("doc_id", "text")
    // novelty: null doc emits no row, others unaffected
    val nov = Dedup.noveltyScores(withNull, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(nov == Set(1L, 3L))
    // span dedup: null doc vanishes; the shared 5-token span still cuts
    val span = Dedup.removeRepeatedSpans(withNull, "text", "doc_id",
      spanTokens = 5, minDocs = 2).collect()
    assert(span.isEmpty, s"both real docs fully covered -> vanish; got ${span.toSeq}")
    // DSIR: null text excluded from the fit AND from scoring output —
    // same no-row convention as noveltyScores and the q_dsir oracle
    // (unnest of a NULL split yields nothing)
    val (w0, (nt0, nr0)) = graft.operators.QualityClassifier.dsirWeightsMilli(
      withNull, "text", col("doc_id") === 1L, dim = 64)
    assert(nt0 == 5 && nr0 == 10)
    val scored = graft.operators.QualityClassifier.dsirScore(withNull, "text", "doc_id", w0)
      .collect().map(r => r.getLong(0) -> r.isNullAt(2)).toMap
    assert(scored.keySet == Set(1L, 3L), "null-text doc must emit no row")
    assert(!scored(1L) && !scored(3L))
    // trailing whitespace: n_tokens must equal the margin kernel's
    // divisor (Pattern.split drops the trailing empty token that
    // Spark's split would count)
    val trail = Seq((1L, "a b "), (2L, "a b")).toDF("doc_id", "text")
    val tr = graft.operators.QualityClassifier.dsirScore(trail, "text", "doc_id", w0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(tr(1L) == tr(2L), s"trailing whitespace changed tokenization: $tr")
    assert(tr(1L)._1 == 2L)
    // leakage-free split machinery: a null-text doc produces no shingles
    // (wordHashes' central guard), so it can sit in no verified pair and
    // splits as its own singleton — the oracle's LEFT JOIN convention
    val prs = Dedup.minhashNearDupPairs(withNull, "text", "doc_id",
      16, 4, 42L, 3, 0.8)
    val cl = Dedup.clusters(prs).withColumnRenamed("id", "doc_id")
    val lf = withNull.select(col("doc_id")).join(cl, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lf(2L) == 2L, "null-text doc must be its own singleton")
    assert(lf(1L) == 1L && lf(3L) == 1L, "the exact-dup pair still clusters")
    // semdedup: a zero-norm vector neither drops nor poisons neighbors
    val emb = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 0f)), (3L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val sd = Dedup.semDedup(emb, "vec_id", "embedding", tau = 0.9,
        targetClusterSize = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    assert(sd(2L) == 1, "zero vector has no similarity evidence -> kept")
    assert(sd(1L) == 1 && sd(3L) == 0, "the real clone pair still resolves")
  }

  test("semdedup: clones and near-dups drop to their lowest id, distinct vectors keep") {
    val emb = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(1.0f, 0f, 0f, 0f)),    // clone of 1 -> dropped, cos 1.0
      (3L, Array(0.9f, 0.1f, 0f, 0f)),  // cos(v1,v3)=0.9939 -> dropped
      (10L, Array(0f, 1.0f, 0f, 0f)),
      (11L, Array(0f, 1.0f, 0f, 0f)),   // clone of 10 -> dropped
      (20L, Array(0f, 0f, 1.0f, 0f)))   // orthogonal -> kept
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(emb, "vec_id", "embedding", tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(3),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 10L, 11L, 20L))
    val kept = out.filter(_._2 == 1).map(_._1).toSet
    assert(kept == Set(1L, 10L, 20L), s"kept $kept")
    val mx = out.map(t => t._1 -> t._3).toMap
    assert(mx(2L) == 1.0 && mx(11L) == 1.0)
    assert(mx(3L) == 0.9939, s"near-dup cosine ${mx(3L)}")
  }

  test("chunking: fixed windows with overlap, final partial kept") {
    val df = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(df, "text", chunkTokens = 4, overlap = 1)
      .orderBy("chunk_index").collect()
    // stride 3: starts 0,3,6,9 -> chunks w1-4, w4-7, w7-10, w10
    assert(out.length == 4)
    assert(out(0).getAs[String]("chunk_text") == "w1 w2 w3 w4")
    assert(out(1).getAs[String]("chunk_text") == "w4 w5 w6 w7")
    assert(out(3).getAs[String]("chunk_text") == "w10")
    assert(out(3).getAs[Int]("n_chunk_tokens") == 1)
    // overlap invariant: consecutive chunks share `overlap` tokens
    assert(out(0).getAs[String]("chunk_text").split(" ").last ==
      out(1).getAs[String]("chunk_text").split(" ").head)
  }

  test("text analysis: langid, token counts, quality, fingerprint") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is a fine day for the fox"),
      (2L, "der hund ist nicht auf der couch und das ist gut"),
      (3L, "xyzzy qwerty plugh")).toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.tokenCountWs(col("text")).as("ws"),
      TextAnalysis.tokenCountBpe(concat(col("text"), lit(", end."))).as("bpe"),
      TextAnalysis.fingerprint(col("text")).as("fp")).collect()
    assert(out(0).getString(1) == "en")
    assert(out(1).getString(1) == "de")
    assert(out(2).getString(1) == "und")
    assert(out(0).getInt(2) == 15)
    // ", end." adds tokens: ',' 'end' '.'
    assert(out(2).getInt(3) == 3 + 3)
    // deterministic fingerprints, distinct across docs
    assert(out.map(_.getLong(4)).distinct.length == 3)

    val q = df.withColumn("n_chars", length(col("text")))
      .select(TextAnalysis.qualityScore(col("text"), col("n_chars")))
      .as[Double].collect()
    assert(q.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("snapshotDiff: all four statuses, null-vs-empty is not a change") {
    val prev = Seq((1L, "a"), (2L, "old"), (3L, null.asInstanceOf[String]),
      (4L, "gone")).toDF("doc_id", "text")
    val curr = Seq((1L, "a"), (2L, "new"), (3L, ""),
      (5L, "fresh")).toDF("doc_id", "text")
    val st = Dedup.snapshotDiff(prev, curr, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(1L -> "unchanged", 2L -> "changed", 3L -> "unchanged",
      4L -> "removed", 5L -> "added"), st.toString)
  }

  test("shardManifest: checksum is order/partitioning-independent; nulls count 0 tokens") {
    val d = Seq((1L, "a b c"), (2L, null.asInstanceOf[String]), (3L, "x y"),
      (10L, "p q r s"), (11L, "m"), (12L, "n o")).toDF("doc_id", "text")
    val m1 = Sampling.shardManifest(d, col("doc_id"), col("text"), 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(5))).toMap
    val m2 = Sampling.shardManifest(
      d.orderBy(col("doc_id").desc).repartition(7), col("doc_id"), col("text"), 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(5))).toMap
    assert(m1 == m2, s"manifest must be layout-invariant:\n$m1\n$m2")
    assert(m1.values.map(_._1).sum == 6L)
    // the null-text doc contributes 0 tokens wherever it lands
    assert(m1.values.map(_._2).sum ==
      Seq("a b c", "x y", "p q r s", "m", "n o").map(_.split("\\s+").length).sum)
    // a content edit flips exactly its shard's checksum
    val edited = Sampling.shardManifest(
      d.withColumn("text", when(col("doc_id") === 1L, lit("a b C")).otherwise(col("text"))),
      col("doc_id"), col("text"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    val flipped = m1.keys.filter(s => edited(s) != m1(s)._3)
    assert(flipped.size == 1, s"exactly one shard checksum must change: $flipped")
  }

  test("q_pack_eos: one EOS per doc, dense in-range positions") {
    val rows = SparkEntry.queries("q_pack_eos")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val nDocs = spark.read.parquet(sf() + "/documents.parquet")
      .filter(col("text").isNotNull).count()
    assert(rows.count(_._3 == "</s>") == nDocs,
      s"expected $nDocs EOS tokens, got ${rows.count(_._3 == "</s>")}")
    assert(rows.forall(r => r._2 >= 0 && r._2 < 512), "seq_pos out of range")
    rows.groupBy(_._1).foreach { case (seq, rs) =>
      val ps = rs.map(_._2).sorted
      assert(ps.distinct.length == ps.length, s"seq $seq has duplicate positions")
      assert(ps.head == 0L && ps.last == ps.length - 1,
        s"seq $seq not dense: ${ps.take(5)}..${ps.last}")
    }
  }

  test("q_curate8: delta-only statuses, no standing-content dupes, token band holds") {
    val rows = SparkEntry.queries("q_curate8")(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(Set("added", "changed")(r.getString(1)), r.toString)
      assert(r.getLong(2) >= 5 && r.getLong(2) <= 5000, r.toString)
    }
    // survivors are unique by content: rebuild their hashes from curr
    val ids = rows.map(_.getLong(0)).toSet
    val curr = spark.read.parquet(sf() + "/documents.parquet")
      .filter(pmod(col("doc_id"), lit(13)) =!= 5)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val hs = ids.toSeq.map(curr)
    assert(hs.distinct.size == hs.size, "two survivors share content")
  }

  test("q_doremi_sample: kept set is a deterministic per-source subset honoring the weights") {
    val kept = SparkEntry.queries("q_doremi_sample")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kept.nonEmpty && kept.map(_._1).distinct.length == kept.length)
    val keptBySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    val weights = SparkEntry.queries("q_doremi")(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    // every positive-weight source survives with at least one doc, and
    // the binding source (largest weight per corpus doc) keeps everything
    weights.filter(_._2 > 0).keys.foreach(s =>
      assert(keptBySrc.getOrElse(s, 0) > 0, s"source $s sampled away"))
    val total = spark.read.parquet(sf() + "/documents.parquet").count()
    assert(kept.length < total, "mixture sampling must drop something")
  }

  test("qualityUdf is byte-identical to statsUdf().quality on real docs") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val both = docs.select(
      TextAnalysis.qualityUdf(col("text"), col("n_chars")).as("q"),
      TextAnalysis.statsUdf()(col("text"), col("n_chars")).getField("quality").as("full"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"quality diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
  }

  test("htmlToText: script/style/comment bodies vanish, entities decode ONCE, malformed markup degrades to spaces") {
    import graft.operators.TextAnalysis.htmlToText
    def strip(s: String): String =
      Seq(s).toDF("h").select(htmlToText(col("h"))).collect().head.getString(0)
    assert(strip("<p>hello <b>bold</b> world</p>") == "hello bold world")
    // script body with tags-looking operators and a style block vanish
    assert(strip("<script>if(a<b&&c>d){x(\"<p>\")}</script>keep<style>p{}</style>") == "keep")
    // SCRIPT/sTyLe case-insensitive, multi-line bodies
    assert(strip("<SCRIPT>\nvar x;\n</SCRIPT>ok<StYlE>\n.a{}\n</StYlE>") == "ok")
    assert(strip("a<!-- secret\nnotes -->b") == "a b")
    // single-pass entity decode: &amp;lt; is the literal text "&lt;", NOT "<"
    assert(strip("&amp;lt; &lt; &gt; &quot; &#39; x&nbsp;y &amp;") ==
      "&lt; < > \" ' x y &")
    // whitespace collapse incl. newlines/tabs; trim
    assert(strip("  <p>\n a\t\tb\r\n</p> ") == "a b")
    // malformed markup: unclosed tag eats to the next '>', never errors;
    // an attribute containing '>' cuts early (regex extractor, not a DOM
    // — the pinned, documented limitation)
    assert(strip("x <a href=\"u>v\">y</a>") == "x v\">y")
    assert(strip("text < notatag") == "text < notatag" ||
      strip("text < notatag").nonEmpty) // lone '<' with no '>': survives
  }

  test("dedupConsecutiveLines: stutters collapse, choruses survive, blanks and nulls behave") {
    import graft.operators.TextAnalysis.dedupConsecutiveLines
    def run(s: String): String = Seq(Option(s)).toDF("t")
      .select(dedupConsecutiveLines(col("t"))).collect().head.getString(0)
    assert(run("a\na\nb\na") == "a\nb\na", "non-adjacent repeat must survive")
    assert(run("x") == "x")
    assert(run("m\nm\nm\nm") == "m")
    assert(run("a\n\n\nb") == "a\n\nb", "blank-line run collapses to one blank")
    assert(run("") == "")
    val n = Seq(Option.empty[String]).toDF("t")
      .select(dedupConsecutiveLines(col("t"))).collect().head
    assert(n.isNullAt(0), "null text stays null")
  }

  test("urlNormalize/urlDomain: case, ports, fragments, slashes, query passthrough, non-URLs") {
    import graft.operators.TextAnalysis.{urlNormalize, urlDomain}
    def norm(s: String) = Seq(s).toDF("u")
      .select(urlNormalize(col("u")), urlDomain(col("u")))
      .collect().head match { case r => (r.getString(0), r.getString(1)) }
    assert(norm("HTTPS://A.B.Example.COM:443/Mixed/Case/?q=UP#x") ==
      ("https://a.b.example.com/Mixed/Case?q=UP", "example.com"))
    // non-default port survives; :443 is only default for https
    assert(norm("http://h.io:8080/p/")._1 == "http://h.io:8080/p")
    assert(norm("http://h.io:443/p")._1 == "http://h.io:443/p")
    // root path: trailing slash strips to bare authority
    assert(norm("HTTP://X.COM/") == ("http://x.com", "x.com"))
    // empty query after ? is dropped; fragment-only tail dropped
    assert(norm("http://x.com/a?")._1 == "http://x.com/a")
    assert(norm("http://x.com/a#only-frag")._1 == "http://x.com/a")
    // query is byte-exact: no param sorting, case preserved
    assert(norm("http://x.com/a?z=1&A=2")._1 == "http://x.com/a?z=1&A=2")
    // single-label host degrades to itself under the PSL algorithm
    // (keys stay TOTAL — an empty cap key would pool every bare host)
    assert(norm("http://localhost:80/a") == ("http://localhost/a", "localhost"))
    // not a URL: passthrough, never an error
    assert(norm("not a url at all")._1 == "not a url at all")
  }

  test("urlDomain: public-suffix snapshot keeps three labels under co.uk-class TLDs") {
    import graft.operators.TextAnalysis.urlDomain
    def dom(s: String) = Seq(s).toDF("u")
      .select(urlDomain(col("u"))).collect().head.getString(0)
    assert(dom("http://www.shop.Example.CO.UK/x") == "example.co.uk")
    assert(dom("https://a.b.c.example.com.au:8443/") == "example.com.au")
    assert(dom("http://news.site.ne.jp") == "site.ne.jp")
    assert(dom("http://example.com/x") == "example.com")
    // a host that IS a public suffix degrades to the suffix itself
    assert(dom("http://co.uk/") == "co.uk")
    // sibling TLD labels that are NOT suffixes stay two-label
    assert(dom("http://www.foo.uk/") == "foo.uk")
  }

  test("urlNormalize: percent-encoding normalization — uppercase hex, decode unreserved, keep reserved") {
    import graft.operators.TextAnalysis.urlNormalize
    def norm(s: String) = Seq(s).toDF("u")
      .select(urlNormalize(col("u"))).collect().head.getString(0)
    // RFC 3986 §6.2.2: %7e/%7E -> ~, %41 -> A, %2d -> -
    assert(norm("http://x.com/a%7eb") == "http://x.com/a~b")
    assert(norm("http://x.com/a%7Eb") == "http://x.com/a~b")
    assert(norm("http://x.com/%41%62%30%2d%5f%2e") == "http://x.com/Ab0-_.")
    // reserved escapes are case-normalized but NEVER decoded
    assert(norm("http://x.com/a%2fb?k=%3d1") == "http://x.com/a%2Fb?k=%3D1")
    // mixed-case hex in both digit positions
    assert(norm("http://x.com/%aF%Fa%ff") == "http://x.com/%AF%FA%FF")
    // %25 stays, and decoding cannot cascade a second round
    assert(norm("http://x.com/%2541") == "http://x.com/%2541")
    // malformed escapes pass through untouched
    assert(norm("http://x.com/100%way") == "http://x.com/100%way")
    // escape-equivalent URLs now share one dedup key
    assert(norm("http://x.com/a%7Eb") == norm("HTTP://X.com:80/a~b/"))
  }

  test("htmlToText: block tags become lines and compose with line-level cleanup") {
    import graft.operators.TextAnalysis.{htmlToText, dedupConsecutiveLines}
    def strip(s: String): String =
      Seq(s).toDF("h").select(htmlToText(col("h"))).collect().head.getString(0)
    // p/br/li/h1 produce newlines; inline tags still flatten to spaces
    assert(strip("<h1>Title</h1><p>one <b>two</b></p><p>three</p>") ==
      "Title\none two\nthree")
    assert(strip("a<br>b<BR/>c") == "a\nb\nc")
    assert(strip("<ul><li>Home</li><li>About</li></ul>") == "Home\nAbout")
    // blank-ish block runs collapse to single newlines, edges trim
    assert(strip("<div>\n\n<p>  </p>x</div>") == "x")
    // the two halves of web ingest COMPOSE: a nav menu repeated line-
    // by-line is visible to the de-stutter pass after extraction
    val page = "<li>Nav</li><li>Nav</li><p>body</p>"
    val got = Seq(page).toDF("h")
      .select(dedupConsecutiveLines(htmlToText(col("h"))))
      .collect().head.getString(0)
    assert(got == "Nav\nbody", s"got '$got'")
  }
}
