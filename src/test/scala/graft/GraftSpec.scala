package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Scope the RocksDB state store provider over `body` (the provider is
    * read at streaming-query START) — required by transformWithState
    * (column families), matching SparkEntry's production drain config. */
  def withRocksDB[T](body: => T): T =
    SparkEntry.withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Runs `body` under a Turkish default locale, where `String.toLowerCase`
    * folds ASCII `I` to a dotless `ı`; restores the previous locale after. */
  def withTurkishLocale[T](body: => T): T = {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try body finally java.util.Locale.setDefault(prev)
  }

  /** `t` and its causes, outermost first: a failed task reaches the
    * driver as a SparkException whose cause is the task's exception. */
  def causeChain(t: Throwable): List[Throwable] =
    if (t == null) Nil else t :: causeChain(t.getCause)

  def assertApprox(got: Seq[Double], want: Seq[Double], tol: Double): Unit = {
    assert(got.length == want.length, s"length mismatch: got $got want $want")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) <= tol, s"index $i: got $g want $w (tol $tol)")
    }
  }
}
