package graft

import graft.functions.{AhoCorasick, Blocklist, BlocklistHits, BlocklistHitsAC}
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Pins the Aho–Corasick automaton to [[Blocklist.hitCounts]]'s contract:
 * per pattern, independently, leftmost non-overlapping occurrence counts.
 * The reference is the indexOf-stepping walk; the pin runs off-Spark at
 * volume (random pattern SETS — including nested, prefix-sharing, and
 * self-overlapping patterns the static blocklist forbids — over random
 * texts), plus one Spark leg proving the two expressions agree end to
 * end on a DataFrame.
 */
class AhoCorasickSpec extends GraftSpec {
  import spark.implicits._

  /** The indexOf contract, pattern by pattern (Blocklist's private walk). */
  private def refCounts(t: String, pats: Array[String]): Array[Long] =
    pats.map { p =>
      var n = 0L
      var i = t.indexOf(p)
      while (i >= 0) { n += 1; i = t.indexOf(p, i + p.length) }
      n
    }

  private def samples[T](g: Gen[T], n: Int, seed0: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed0 + i)))

  test("automaton equals the indexOf walk on adversarial pattern sets") {
    val alpha = Gen.oneOf('a', 'b', 'c', 'é') // é: the non-ASCII sparse path
    val patGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, alpha)).map(_.mkString)
    val textGen = Gen.choose(0, 200).flatMap(n => Gen.listOfN(n, alpha)).map(_.mkString)
    (0 until 40).foreach { round =>
      val pats = samples(patGen, 12, 7000L + round * 100).distinct.toArray
      val ac = new AhoCorasick(pats)
      samples(textGen, 25, 9000L + round * 100).foreach { t =>
        val got = ac.counts(t).toSeq
        val want = refCounts(t, pats).toSeq
        assert(got == want, s"patterns ${pats.mkString(",")} text [$t]: " +
          s"got $got want $want")
      }
    }
  }

  test("hand cases: self-overlap, nesting, shared prefixes") {
    val pats = Array("aa", "aaa", "ab", "abab", "b", "ba", "hash join")
    val ac = new AhoCorasick(pats)
    Seq("", "aaaa", "ababab", "baab", "aaabab",
        "hash join hash hash join joinhash join").foreach { t =>
      assert(ac.counts(t).toSeq == refCounts(t, pats).toSeq, s"text [$t]")
    }
    // "aaaa": "aa" non-overlapping = 2 (not 3); pin the value itself
    assert(ac.counts("aaaa")(0) == 2L)
  }

  test("blocklist automaton equals the static kernel through Spark") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        BlocklistHits(col("text")).as("a"),
        BlocklistHitsAC(col("text")).as("b"))
    assert(docs.filter(col("a") =!= col("b")).count() == 0)
    // and on planted text that actually hits patterns
    val planted = Seq(
      "a hash join inside a table scan near a hash join",
      "sort merge SORT MERGE sort  merge", "big datab big data").toDF("text")
    val got = planted.select(BlocklistHits(col("text")).as("a"),
        BlocklistHitsAC(col("text")).as("b"))
      .as[(Seq[Long], Seq[Long])].collect()
    got.foreach { case (a, b) => assert(a == b) }
    assert(got.map(_._1.sum).toSeq == Seq(3L, 2L, 2L))
  }

  test("both blocklist kernels fold case like Spark's lower() under a Turkish default locale") {
    withTurkishLocale {
      val got = Seq("HASH JOIN over BIG DATA, Hash Join again").toDF("text")
        .select(BlocklistHits(col("text")).as("a"), BlocklistHitsAC(col("text")).as("b"))
        .as[(Seq[Long], Seq[Long])].head()
      // patterns: hash join, table scan, sort merge, slow query, big data
      assert(got == ((Seq(2L, 0L, 0L, 0L, 1L), Seq(2L, 0L, 0L, 0L, 1L))), s"$got")
    }
  }
}
