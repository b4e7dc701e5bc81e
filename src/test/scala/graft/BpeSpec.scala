package graft

import graft.functions.{BpeEncode, BpeTokenCount, BpeTokenizer}
import org.apache.spark.sql.functions._

/** The deterministic BPE token-count kernel: hand-computed merge walks,
  * fixpoint semantics, null/empty conventions, codegen participation. */
class BpeSpec extends GraftSpec {
  import spark.implicits._

  test("merge walk: hand-computed token counts (incl. fixpoint re-merges)") {
    // "thethe": one leftmost pass of (t,h) catches both occurrences, but
    // (th,e) needs the fixpoint second pass to merge the second "th e" —
    // the textbook every-occurrence semantics
    val want = Map(
      "the" -> 1, "thethe" -> 2, "ing" -> 1, "xyz" -> 3,
      "12" -> 1, "0000" -> 2, "in" -> 1, "a" -> 1, "" -> 0)
    want.foreach { case (w, c) =>
      assert(BpeTokenizer.encodeWordCount(w) == c,
        s"'$w': got ${BpeTokenizer.encodeWordCount(w)} want $c")
    }
  }

  test("document counts: sum over words, case-folded, whitespace-run safe") {
    // "in  a": the \s+ split yields no empty middle token; "THE" folds
    assert(BpeTokenizer.countTokens(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        "THE thethe ing xyz 12 0000 in  a")) == 12L)
  }

  test("expression: codegen'd projection matches kernel, null text is null") {
    val df = Seq((1L, "the thethe ing"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"), BpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(1L -> 4L, 2L -> -1L))
    // stays inside whole-stage codegen (no ScalaUDF, no fallback)
    val p = df.select(BpeTokenCount(col("text"))).queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
  }

  test("bounds: 1 <= count <= codepoints for non-empty words") {
    Seq("a", "zz", "interesting", "straightforward", "q2q2q2").foreach { w =>
      val c = BpeTokenizer.encodeWordCount(w)
      assert(c >= 1 && c <= w.length, s"'$w' -> $c")
    }
  }

  test("encode: hand-computed token sequences; length always equals the count") {
    def enc(t: String): Seq[String] = {
      val a = BpeTokenizer.encodeTokens(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      (0 until a.numElements()).map(i =>
        a.getUTF8String(i).toString)
    }
    // the: t h -> th -> the; thinking: th | in | k | ing (fixpoint (i,n)
    // twice, then (in,g) on the g-adjacent one)
    assert(enc("the") == Seq("the"))
    assert(enc("thinking") == Seq("th", "in", "k", "ing"))
    assert(enc("THE thinking") == Seq("the", "th", "in", "k", "ing"))
    assert(enc("") == Seq())
    // sequence length == count, on arbitrary-ish inputs
    Seq("the thethe ing xyz 12 0000 in  a", "straightforward q2q2q2", "  ")
      .foreach { t =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
        assert(BpeTokenizer.encodeTokens(u).numElements().toLong ==
          BpeTokenizer.countTokens(u), s"'$t'")
      }
  }

  test("encode expression: posexplode order, codegen'd, null text drops") {
    val df = Seq((1L, "the thinking"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = df.filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(BpeEncode(col("text"))))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 0, "the"), (1L, 1, "th"), (1L, 2, "in"),
      (1L, 3, "k"), (1L, 4, "ing")))
    val p = df.select(BpeEncode(col("text"))).queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
  }

  test("training: hand-traced merge sequence (overlap counts, fixpoint apply)") {
    import graft.operators.BpeTrain
    // "aaab"×3 + "ab"×2: (a,a) counts 6 (two OVERLAPPING index pairs per
    // "aaab"), beating (a,b)=5; the fixpoint apply leaves " aa a b "
    // (the shared delimiter stops a second merge, same as the walk);
    // then (a,b)=5 beats (aa,a)=3; then only (aa,ab) remains
    val got = BpeTrain.trainOnDict(Array(("aaab", 3L), ("ab", 2L)), 3)
    assert(got.toSeq == Seq((1, "a", "a", 6L), (2, "a", "b", 5L), (3, "aa", "ab", 3L)))
  }

  test("training: count ties break (lhs, rhs) ascending") {
    import graft.operators.BpeTrain
    val got = BpeTrain.trainOnDict(Array(("bc", 1L), ("ba", 1L)), 1)
    assert(got.head == ((1, "b", "a", 1L)), got.toSeq)
    val got2 = BpeTrain.trainOnDict(Array(("ba", 1L), ("ab", 1L)), 1)
    assert(got2.head == ((1, "a", "b", 1L)), got2.toSeq)
  }

  test("training: exhausted dictionary fails fast, not short") {
    import graft.operators.BpeTrain
    // one two-char word supports exactly one merge
    intercept[IllegalArgumentException] {
      BpeTrain.trainOnDict(Array(("ab", 5L)), 2)
    }
  }

  test("q_bpe_train: 16 ranked merges on the corpus, positive weighted counts") {
    val rows = SparkEntry.queries("q_bpe_train")(spark, sf())
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.map(_._1).sorted.toSeq == (1 to 16))
    assert(rows.forall(r => r._2.nonEmpty && r._3.nonEmpty && r._4 > 0))
    // every learned symbol is buildable from earlier merges or single chars
    val symbols = scala.collection.mutable.Set[String]()
    rows.sortBy(_._1).foreach { case (_, a, b, _) =>
      assert(a.length == 1 || symbols.contains(a), s"unbuildable lhs $a")
      assert(b.length == 1 || symbols.contains(b), s"unbuildable rhs $b")
      symbols += a + b
    }
  }

  test("count and encode fold case like Spark's lower() under a Turkish default locale") {
    withTurkishLocale {
      def utf(t: String) = org.apache.spark.unsafe.types.UTF8String.fromString(t)
      def enc(t: String) = {
        val a = BpeTokenizer.encodeTokens(utf(t))
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      }
      val (upper, lower) = ("THINKING IN TIME", "thinking in time")
      assert(enc(upper) == enc(lower), s"${enc(upper)}")
      assert(BpeTokenizer.countTokens(utf(upper)) == BpeTokenizer.countTokens(utf(lower)))
    }
  }
}
