package graft.functions

import graft.operators.Dedup
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Hash-TF linear scoring as a native codegen'd expression — the
 * fastText-style quality-classifier inference kernel: each lowercase
 * whitespace token hashes to a bucket (md5-derived 60-bit hash mod
 * `dim`), the bucket's weight is looked up in a plan-embedded primitive
 * array, and the document's margin is the mean token weight plus a bias:
 *
 *   margin = (Σ_tokens w[md5(t) mod dim]) / 1000 / n_tokens + bias
 *
 * Weights are carried in INTEGER MILLI-UNITS (w ∈ [-1000, 1000] ≙
 * [-1.0, 1.0]) and summed as longs, so the reduction is exact and
 * order-free — any engine replays the score bit-identically (the same
 * decimal-sum trick the LM-perplexity ops use), and only the final
 * two divisions are floating point, in one fixed order.
 *
 * Kernel tiering (same rationale as [[CosineSimilarity]]): the scoring
 * loop is one static JVM call emitted inline by `doGenCode`, so
 * inference participates in whole-stage codegen with no ScalaUDF
 * serialization and no per-row boxing; the weight array rides along as
 * a codegen reference object (the broadcast-sized model — `dim` longs —
 * is embedded once per plan, not per row). A full-corpus scoring pass
 * is therefore scan-bound at any scale.
 */
case class HashTfLinearMargin(child: Expression, weightsMilli: Array[Long],
                              bias: Double) extends UnaryExpression {

  require(weightsMilli.nonEmpty, "weightsMilli must be non-empty")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "hash_tf_linear_margin"

  override def nullSafeEval(input: Any): Any =
    HashTfLinearMargin.score(input.asInstanceOf[UTF8String], weightsMilli, bias)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("weightsMilli", weightsMilli, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashTfLinearMargin.score($c, $w, $bias)")
  }

  override protected def withNewChildInternal(newChild: Expression): HashTfLinearMargin =
    copy(child = newChild)
}

object HashTfLinearMargin {

  /** The scoring kernel (called from generated code — must stay public
    * and static-shaped). Empty text still scores: the splitter yields
    * one empty token, so n >= 1 always — no division guard needed. */
  def score(text: UTF8String, weightsMilli: Array[Long], bias: Double): Double = {
    val words = Dedup.wsPattern.split(Dedup.sparkLower(text.toString))
    val dim = weightsMilli.length
    var sum = 0L
    var i = 0
    while (i < words.length) {
      sum += weightsMilli((Dedup.md5LongJvm(words(i)) % dim).toInt)
      i += 1
    }
    sum / 1000.0 / words.length + bias
  }

  /** Column-API entry. */
  def apply(text: Column, weightsMilli: Array[Long], bias: Double): Column =
    GraftSqlBridge.column(HashTfLinearMargin(
      GraftSqlBridge.expression(text), weightsMilli, bias))
}
