package graft

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** The stateful drains' fixed cost: how many state partitions a replay
  * derives, and how many microbatches a `runEventStream` drain runs. */
class StreamDrainSpec extends GraftSpec {

  test("stream partitions: one per 4 MB of replay, floored at 1, capped at the session") {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(session == 4)
    val events = sf() + "/events.parquet"
    assert(SparkEntry.streamShufflePartitions(spark, events) == 1)
    assert(SparkEntry.streamShufflePartitions(spark, events, perPartBytes = 1024L) == session)
    assert(SparkEntry.streamShufflePartitions(spark, sf() + "/no_such_table.parquet") == session)
    val empty = java.nio.file.Files.createTempDirectory("graft_empty_replay_")
    try assert(SparkEntry.streamShufflePartitions(spark, empty.toString) == 1)
    finally java.nio.file.Files.delete(empty)
  }

  /** Progress events (batch id, input rows) per streaming run, and the
    * runs that have terminated — both in listener-bus order. */
  private class DrainListener extends StreamingQueryListener {
    val progress = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]]()
    val terminated = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      progress.put(e.runId, new java.util.concurrent.ConcurrentLinkedQueue())
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.get(e.progress.runId).add((e.progress.batchId, e.progress.numInputRows))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      terminated.add(e.runId)
  }

  Seq("q_online_ahp_stream", "q_sessionize_stream", "q_hll_window", "q_asof_stream")
      .foreach { q =>
    test(s"$q drains in two microbatches: the replay plus the sentinel, then the flush") {
      val eventRows = spark.read.parquet(sf() + "/events.parquet").count()
      val listener = new DrainListener
      spark.streams.addListener(listener)
      try {
        val out = SparkEntry.queries(q)(spark, sf())
        // the bus delivers a run's progress events before its termination
        val run = eventually(timeout(Span(30, Seconds))) {
          val runs = listener.terminated.asScala.toSeq
          assert(runs.size == 1, s"terminated runs: $runs")
          runs.head
        }
        val batches = listener.progress.get(run).asScala.toSeq
        assert(batches.map(_._1) == Seq(0L, 1L), s"batches (id, input rows): $batches")
        assert(batches.head._2 == eventRows + 1, s"batch 0 input rows: $batches")
        assert(spark.streams.active.isEmpty)
        assert(out.count() > 0)
      } finally spark.streams.removeListener(listener)
    }
  }
}
