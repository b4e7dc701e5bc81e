package graft.functions

import graft.operators.Dedup
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Deterministic byte-pair-encoding token counting (Sennrich et al. 2016,
 * "Neural Machine Translation of Rare Words with Subword Units") with a
 * FIXED merge table — the shape every production pretraining pipeline
 * uses: corpora are budgeted/packed/chunked in the tokens of a fixed
 * PRETRAINED tokenizer (its merges shipped as a static artifact), never
 * one trained on the corpus being counted. Whitespace word counts
 * (everything `n_tokens` meant before this) understate budgets by the
 * subword fan-out; this kernel closes that fidelity gap.
 *
 * Encoding walk, defined so ANY engine with leftmost non-overlapping
 * literal `replace` replays it bit-for-bit (the DuckDB oracle runs the
 * identical walk in a recursive CTE):
 *
 *  1. lowercase, split to words on whitespace; empty words count 0;
 *  2. per word: render codepoints space-delimited with sentinel spaces
 *     (`"ab"` -> `" a b "`);
 *  3. for each merge (a, b) in rank order: replace `" a b "` with
 *     `" ab "` repeatedly until a pass changes nothing (literal
 *     leftmost non-overlapping replace — java.lang.String.replace and
 *     SQL replace() share these semantics exactly);
 *  4. the word's token count = remaining space-delimited tokens; a
 *     document's count is the sum over its words.
 *
 * The fixpoint loop (not a single replace pass) is what makes step 3
 * equal textbook BPE's "merge every occurrence of the pair": one
 * leftmost pass over `" a a a a "` consumes the shared delimiter space
 * and skips the second occurrence; iterating to fixpoint merges it.
 *
 * Scale shape: a pure projection kernel (codegen'd, no shuffle, the
 * merge walk is per-word CPU) with a per-JVM memo cache keyed by word —
 * Zipfian corpora hit the cache for all but the vocabulary, so the
 * amortized cost is ~the split itself. The cache is capped; past the
 * cap words are re-encoded (never evicted mid-task, never unbounded).
 */
object BpeTokenizer {

  /** The fixed merge table, rank order (= priority): common English
    * character pairs, second-level merges built on earlier ranks
    * (`th`+`e`, `in`+`g`), and a digit pair so numeric ids exercise the
    * walk. A stand-in artifact with the same shape/semantics as a
    * shipped merges.txt. */
  val merges: Array[(String, String)] = Array(
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("e", "n"), ("a", "t"), ("o", "r"),
    ("e", "s"), ("s", "t"), ("a", "r"), ("a", "l"), ("o", "u"),
    ("i", "t"), ("in", "g"), ("e", "d"), ("c", "o"), ("d", "e"),
    ("l", "e"), ("r", "o"), ("l", "i"), ("m", "a"), ("u", "s"),
    ("0", "0"), ("1", "2"), ("er", "s"))

  require(merges.map { case (a, b) => a + b }.distinct.length == merges.length,
    "merged symbols must be distinct")

  /** Memo cache: word -> merged space-delimited form (" th e " shape).
    * One cache serves both the count and the encode paths. Bounded;
    * overflow recomputes. */
  private val cacheCap = 1 << 20
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The merge walk for one already-lowercased word: the fixpoint-merged
    * space-delimited form (empty word -> empty string). */
  private def mergeWord(word: String): String = {
    if (word.isEmpty) return ""
    val hit = cache.get(word)
    if (hit != null) return hit
    val sb = new java.lang.StringBuilder(word.length * 2 + 2)
    sb.append(' ')
    word.codePoints().forEach { cp =>
      sb.appendCodePoint(cp); sb.append(' '); ()
    }
    var s = sb.toString
    var i = 0
    while (i < merges.length) {
      val pat = " " + merges(i)._1 + " " + merges(i)._2 + " "
      val rep = " " + merges(i)._1 + merges(i)._2 + " "
      var t = s.replace(pat, rep)
      while (t != s) { s = t; t = s.replace(pat, rep) }
      s = t
      i += 1
    }
    if (cache.size < cacheCap) cache.putIfAbsent(word, s)
    s
  }

  /** Encode one already-lowercased word, return its BPE token count. */
  def encodeWordCount(word: String): Int = {
    val s = mergeWord(word)
    if (s.isEmpty) return 0
    var n = -1; var j = 0
    while (j < s.length) { if (s.charAt(j) == ' ') n += 1; j += 1 }
    n
  }

  /** Document-level count (called from generated code). */
  def countTokens(text: UTF8String): Long = {
    val words = Dedup.wsPattern.split(Dedup.sparkLower(text.toString))
    var sum = 0L
    var i = 0
    while (i < words.length) { sum += encodeWordCount(words(i)); i += 1 }
    sum
  }

  /** Document-level encode (called from generated code): the flattened
    * BPE token sequence, word order then within-word merge order — the
    * id-surrogate sequence a training pipeline materializes. Token
    * STRINGS are the portable ids (a fixed vocab->int mapping is a
    * broadcast dictionary lookup away and adds nothing replayable). */
  def encodeTokens(text: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val words = Dedup.wsPattern.split(Dedup.sparkLower(text.toString))
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](words.length * 2)
    var i = 0
    while (i < words.length) {
      val s = mergeWord(words(i))
      if (s.nonEmpty) {
        var start = 1 // skip leading sentinel space
        var j = 1
        while (j < s.length) {
          if (s.charAt(j) == ' ') {
            out += UTF8String.fromString(s.substring(start, j))
            start = j + 1
          }
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray[Any])
  }
}

/** `bpe_token_count(text)`: the document's token count under the fixed
  * [[BpeTokenizer]] merge table, as a codegen'd projection (same kernel
  * tiering as [[HashTfLinearMargin]]: one static JVM call inlined by
  * doGenCode — no ScalaUDF serialization, no boxing). */
case class BpeTokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count"

  override def nullSafeEval(input: Any): Any =
    BpeTokenizer.countTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeTokenizer.countTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

object BpeTokenCount {
  def apply(text: Column): Column =
    GraftSqlBridge.column(BpeTokenCount(GraftSqlBridge.expression(text)))
}

/** `bpe_encode(text)`: the document's flattened BPE token sequence under
  * the fixed [[BpeTokenizer]] merge table — same codegen'd kernel tier as
  * [[BpeTokenCount]], returning `array<string>` for `posexplode` into the
  * (doc, pos, token) training artifact. */
case class BpeEncode(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override def nullSafeEval(input: Any): Any =
    BpeTokenizer.encodeTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeTokenizer.encodeTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

object BpeEncode {
  def apply(text: Column): Column =
    GraftSqlBridge.column(BpeEncode(GraftSqlBridge.expression(text)))
}
