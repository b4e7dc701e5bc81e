package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** `SparkEntry.tbl` infers a table's schema once: a repeated read runs
  * no footer-inference job until the files or the parquet confs change. */
class ParquetSchemaSpec extends GraftSpec {
  import spark.implicits._

  /** Spark jobs that `body` starts on this thread. A marker job in a
    * second group follows `body`; the listener bus delivers events in
    * order, so once the marker is seen every job of `body` has been. */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-schema-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => seen.add(g))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "schema-cache spec")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "schema-cache spec marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds))) { assert(seen.contains(marker)) }
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("a second tbl of the same table runs no Spark job") {
    SparkEntry.tbl(spark, sf(), "lineitem")
    assert(jobsRunBy(SparkEntry.tbl(spark, sf(), "lineitem")) == 0)
  }

  test("rewriting a table at the same path infers its new schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_")
    try {
      val path = s"$dir/t.parquet"
      Seq((1L, 2.0)).toDF("a", "b").write.parquet(path)
      assert(SparkEntry.tbl(spark, dir.toString, "t").columns.toSeq == Seq("a", "b"))
      assert(jobsRunBy(SparkEntry.tbl(spark, dir.toString, "t")) == 0)
      Seq(("x", 3)).toDF("c", "d").write.mode("overwrite").parquet(path)
      val again = SparkEntry.tbl(spark, dir.toString, "t")
      assert(again.columns.toSeq == Seq("c", "d"))
      assert(again.as[(String, Int)].collect().toSeq == Seq(("x", 3)))
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }

  test("flipping a parquet read conf infers the schema again") {
    SparkEntry.tbl(spark, sf(), "orders")
    assert(jobsRunBy(SparkEntry.tbl(spark, sf(), "orders")) == 0)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val flipped = (!spark.conf.get(key).toBoolean).toString
    SparkEntry.withConfs(spark, key -> flipped) {
      assert(jobsRunBy(SparkEntry.tbl(spark, sf(), "orders")) == 1)
      assert(jobsRunBy(SparkEntry.tbl(spark, sf(), "orders")) == 0)
    }
    assert(jobsRunBy(SparkEntry.tbl(spark, sf(), "orders")) == 1)
  }
}
