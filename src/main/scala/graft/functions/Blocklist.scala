package graft.functions

import graft.operators.Dedup
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Substring blocklist matching — the UT1/word-list filtering step every
 * web-crawl curation pipeline runs (flag or drop documents containing
 * phrases from a shipped blocklist artifact). The pattern table here is a
 * static stand-in with the same shape as a real list; in production it is
 * a few-thousand-entry file loaded once per JVM.
 *
 * Match semantics: LEFTMOST NON-OVERLAPPING occurrences of each pattern
 * in the lowercased document, counted independently per pattern — the
 * exact contract of SQL `replace()`, so the DuckDB oracle replays each
 * count as `(len(t) - len(replace(t, p, ''))) / len(p)` with no custom
 * code. (An Aho–Corasick automaton reports ALL matches including
 * overlaps — a different contract; with leftmost non-overlap the walk is
 * `indexOf` stepping by the pattern length.)
 *
 * Scale shape: a pure projection kernel (codegen'd static call, no UDF
 * serialization, no shuffle) — the full-corpus filter is one map stage,
 * same tier as [[HashTfLinearMargin]] and [[BpeTokenCount]]. Cost is
 * O(|patterns| · |text|); for the few-thousand-pattern production list
 * the drop-in upgrade is a trie walk over the same lowercased text with
 * an identical leftmost-non-overlap contract — the operator surface and
 * oracle do not change.
 */
object Blocklist {

  /** Static phrase artifact (lowercase). Distinct, non-empty, and none a
    * substring of another — so per-pattern counts are independent of the
    * order patterns are applied in. */
  val patterns: Array[String] = Array(
    "hash join", "table scan", "sort merge", "slow query", "big data")

  require(patterns.distinct.length == patterns.length && patterns.forall(_.nonEmpty),
    "blocklist patterns must be distinct and non-empty")

  /** Leftmost non-overlapping occurrence count of `pat` in `s`. */
  private def countNonOverlap(s: String, pat: String): Long = {
    var n = 0L
    var i = s.indexOf(pat)
    while (i >= 0) { n += 1; i = s.indexOf(pat, i + pat.length) }
    n
  }

  /** Per-pattern counts for one document (called from generated code). */
  def hitCounts(text: UTF8String): ArrayData = {
    val t = Dedup.sparkLower(text.toString)
    val out = new Array[Any](patterns.length)
    var i = 0
    while (i < patterns.length) { out(i) = countNonOverlap(t, patterns(i)); i += 1 }
    new GenericArrayData(out)
  }
}

/**
 * Aho–Corasick automaton (Aho & Corasick 1975) with EXACTLY
 * [[Blocklist.hitCounts]]'s counting contract: per pattern,
 * independently, leftmost non-overlapping occurrences. The automaton
 * reports every occurrence in increasing END position; for one fixed
 * pattern, end order equals start order, so the greedy
 * "accept iff start >= last accepted end" filter below reproduces the
 * `indexOf`-stepping walk exactly (property-pinned in AhoCorasickSpec,
 * including self-overlapping patterns like "aa" and patterns nested
 * inside each other — cases the static blocklist forbids but a
 * production list may contain).
 *
 * Why this tier exists: the indexOf walk is O(|patterns| × |text|);
 * the automaton walks the text once at any pattern count. The MEASURED
 * crossover is higher than the asymptotics suggest — HotSpot's SIMD
 * `String.indexOf` intrinsic holds the brute walk at par to ~4k
 * patterns on KB documents (BlocklistProbe over 500k docs: 500 pats
 * 0.9 vs 1.0s, 4k pats 7.4 vs 13.3s for indexOf vs AC, 16k pats 33.4
 * vs 13.4s — AC flat, indexOf linear in patterns). So: the indexOf
 * kernel is the right default through UT1-size lists; this tier is the
 * P-independent insurance for pattern sets beyond ~8k. Same kernel
 * tier as [[Blocklist]]: static per-JVM build, codegen'd static call,
 * zero shuffle — and the same oracle SQL verbatim, because the counts
 * are equal by contract, not by luck.
 */
final class AhoCorasick(val patterns: Array[String]) {
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    "patterns must be non-empty")

  private val plen: Array[Int] = patterns.map(_.length)

  // --- trie build (mutable), then frozen to parallel arrays ---
  private val (charsOf, nextOf, fail, outs): (Array[Array[Char]],
      Array[Array[Int]], Array[Int], Array[Array[Int]]) = {
    import scala.collection.mutable
    val goto = mutable.ArrayBuffer(mutable.TreeMap.empty[Char, Int])
    val ends = mutable.ArrayBuffer(List.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      p.foreach { c =>
        s = goto(s).getOrElseUpdate(c, {
          goto += mutable.TreeMap.empty[Char, Int]
          ends += Nil
          goto.length - 1
        })
      }
      ends(s) = pi :: ends(s)
    }
    val n = goto.length
    val failA = new Array[Int](n)
    val outA = new Array[List[Int]](n)
    var i = 0
    while (i < n) { outA(i) = ends(i); i += 1 }
    val queue = mutable.Queue.empty[Int]
    goto(0).foreach { case (_, v) => failA(v) = 0; queue.enqueue(v) }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      goto(u).foreach { case (c, v) =>
        var f = failA(u)
        while (f != 0 && !goto(f).contains(c)) f = failA(f)
        failA(v) = if (goto(f).contains(c) && goto(f)(c) != v) goto(f)(c) else 0
        outA(v) = outA(v) ::: outA(failA(v)) // merged suffix outputs
        queue.enqueue(v)
      }
    }
    (goto.map(_.keysIterator.toArray).toArray,
      goto.map(_.valuesIterator.toArray).toArray,
      failA, outA.map(_.toArray))
  }

  /** goto with fail-follow; TreeMap freeze keeps chars sorted for the
    * binary search. Kept SPARSE deliberately: a dense
    * states×128 DFA table (fail links resolved at build) was measured
    * SLOWER at 4k patterns (15.7s vs 8.2s over 500k docs) — the ~20 MB
    * table thrashes cache, while the sparse walk's hot shallow states
    * stay resident. When this tier wins at all: the class doc above and
    * SCALE.md "Round-9 continuation" (blocklist tiers). */
  private def step(state: Int, c: Char): Int = {
    var s = state
    while (true) {
      val cs = charsOf(s)
      val k = java.util.Arrays.binarySearch(cs, c)
      if (k >= 0) return nextOf(s)(k)
      if (s == 0) return 0
      s = fail(s)
    }
    0 // unreachable
  }

  /** Per-pattern leftmost-non-overlapping counts over `t` — equal to
    * running [[Blocklist.hitCounts]]'s indexOf walk per pattern. */
  def counts(t: String): Array[Long] = {
    val c = new Array[Long](patterns.length)
    val lastEnd = new Array[Int](patterns.length)
    var st = 0
    var j = 0
    while (j < t.length) {
      st = step(st, t.charAt(j))
      val os = outs(st)
      var k = 0
      while (k < os.length) {
        val p = os(k)
        val start = j + 1 - plen(p)
        if (start >= lastEnd(p)) { c(p) += 1L; lastEnd(p) = j + 1 }
        k += 1
      }
      j += 1
    }
    c
  }
}

object AhoCorasick {
  /** The static blocklist's automaton, built once per JVM. */
  lazy val blocklist: AhoCorasick = new AhoCorasick(Blocklist.patterns)

  /** Codegen entry point: [[Blocklist.hitCounts]]'s contract, one text
    * walk for the whole pattern set. */
  def hitCounts(text: UTF8String): ArrayData = {
    val c = blocklist.counts(Dedup.sparkLower(text.toString))
    val out = new Array[Any](c.length)
    var i = 0
    while (i < c.length) { out(i) = c(i); i += 1 }
    new GenericArrayData(out)
  }
}

/** `blocklist_hits(text)`: the per-pattern leftmost-non-overlapping match
  * counts (`array<long>`, index-aligned with [[Blocklist.patterns]]) as a
  * codegen'd projection. */
case class BlocklistHits(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "blocklist_hits"

  override def nullSafeEval(input: Any): Any =
    Blocklist.hitCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Blocklist.hitCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): BlocklistHits =
    copy(child = newChild)
}

object BlocklistHits {
  def apply(text: Column): Column =
    GraftSqlBridge.column(BlocklistHits(GraftSqlBridge.expression(text)))
}

/** `blocklist_hits_ac(text)`: [[BlocklistHits]] through the Aho–Corasick
  * automaton — one text walk for the whole pattern set (the
  * thousand-pattern production tier); counts equal by contract. */
case class BlocklistHitsAC(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "blocklist_hits_ac"

  override def nullSafeEval(input: Any): Any =
    AhoCorasick.hitCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AhoCorasick.hitCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): BlocklistHitsAC =
    copy(child = newChild)
}

object BlocklistHitsAC {
  def apply(text: Column): Column =
    GraftSqlBridge.column(BlocklistHitsAC(GraftSqlBridge.expression(text)))
}
