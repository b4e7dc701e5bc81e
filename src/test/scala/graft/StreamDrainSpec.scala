package graft

import graft.sources.NioLocalFs
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FsConstants, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** The stateful drains' fixed cost: how many state partitions a replay
  * derives, how many microbatches a `runEventStream` drain runs, and
  * whether its checkpoint IO forks processes. */
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

  /** (pid, stack frames as `Class.method`) of every process this JVM
    * starts while `body` runs, from an in-process JFR stream. A marker
    * process started after `body` bounds the wait: the stream delivers
    * events in commit order, so once the marker is seen every earlier
    * spawn has been too. */
  private def processStarts(body: => Unit): Seq[(Long, Seq[String])] = {
    import jdk.jfr.consumer.RecordingStream
    val spawns = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[String])]()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e => {
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        spawns.add((e.getLong("pid"), frames))
      })
      rs.startAsync()
      body
      val marker = new ProcessBuilder("true").start()
      marker.waitFor()
      eventually(timeout(Span(30, Seconds))) {
        assert(spawns.asScala.exists(_._1 == marker.pid), "marker spawn not yet seen")
      }
      spawns.asScala.toSeq.filterNot(_._1 == marker.pid)
    } finally rs.close()
  }

  test("q_online_ahp_stream's checkpoint IO forks no process") {
    val spawns = processStarts {
      assert(SparkEntry.queries("q_online_ahp_stream")(spark, sf()).count() > 0)
    }
    // Hadoop's RawLocalFileSystem without libhadoop forks chmod and
    // readlink per checkpoint file; NioLocalFs does neither
    val fromCheckpoints = spawns.filter(_._2.exists(_.contains("CheckpointFileManager")))
    assert(fromCheckpoints.size == 0,
      s"spawns from checkpoint IO (of ${spawns.size} in all); " +
        s"first stack: ${fromCheckpoints.headOption.map(_._2.take(24).mkString("\n  ", "\n  ", ""))}")
  }

  /** A `file:` FileContext bound to Hadoop's LocalFs, or to NioLocalFs. */
  private def localContext(nio: Boolean): FileContext = {
    val conf = new Configuration()
    if (nio) conf.set(NioLocalFs.conf._1, NioLocalFs.conf._2)
    val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
    val want = if (nio) classOf[NioLocalFs] else classOf[LocalFs]
    assert(fc.getDefaultFileSystem.getClass == want)
    fc
  }

  private def withTempDir[T](body: JPath => T): T = {
    val root = Files.createTempDirectory("graft_niofs_")
    try body(root)
    finally Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
  }

  test("NioLocalFs: create and mkdir leave the same permission bits as Hadoop's LocalFs") {
    withTempDir { root =>
      // (path, mode bits) of every path made, .crc files included
      def layout(nio: Boolean): Seq[(String, Int)] = {
        val fc = localContext(nio)
        val base = root.resolve(if (nio) "nio" else "hadoop")
        def p(rel: String) = new Path(base.resolve(rel).toUri)
        val perms = Seq(None, Some("640"), Some("600"), Some("755"))
        perms.zipWithIndex.foreach { case (perm, i) =>
          val opts = Seq[Options.CreateOpts](Options.CreateOpts.createParent()) ++
            perm.map(x => Options.CreateOpts.perms(new FsPermission(x)))
          val out = fc.create(p(s"f$i/file"), java.util.EnumSet.of(CreateFlag.CREATE), opts: _*)
          out.write(Array.fill[Byte](100)(i.toByte))
          out.close()
          fc.mkdir(p(s"d$i/a/b"), perm.fold(FsPermission.getDirDefault)(new FsPermission(_)),
            true)
        }
        // FileContext's umask drops bits beyond 0777 on create and mkdir;
        // setPermission passes them on
        fc.mkdir(p("sticky"), FsPermission.getDirDefault, true)
        fc.setPermission(p("sticky"), new FsPermission("1755"))
        fc.setPermission(p("f0/file"), new FsPermission("604"))
        Files.walk(base).sorted().iterator().asScala.toSeq.map { q =>
          (base.relativize(q).toString, Files.getAttribute(q, "unix:mode").asInstanceOf[Int] & 0xfff)
        }
      }
      val hadoop = layout(nio = false)
      assert(hadoop.exists(_._1.endsWith(".crc")), "ChecksumFs must write .crc files")
      assert(hadoop.toMap.get("sticky").exists(m => (m & 0x200) != 0),
        s"the sticky directory must have its bit: $hadoop")
      assert(hadoop.map(_._2).distinct.size > 2, s"permissions must vary: $hadoop")
      assert(layout(nio = true) == hadoop)
    }
  }

  test("NioLocalFs: link statuses match Hadoop's LocalFs, symlinks included") {
    withTempDir { root =>
      val target = Files.write(root.resolve("target"), Array.fill[Byte](42)(1))
      val link = Files.createSymbolicLink(root.resolve("link"), target)
      val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
      // Hadoop's readlink takes the path's string form: a bare path finds
      // the link, a file: URI (Spark's qualified checkpoint paths) never does
      def statuses(nio: Boolean, qualified: Boolean) = {
        val fc = localContext(nio)
        Seq(target, root, link, dangling, root.resolve("missing")).map { q =>
          val path = if (qualified) new Path(q.toUri) else new Path(q.toString)
          scala.util.Try(fc.getFileLinkStatus(path)).map { st =>
            (st.getPath, st.isSymlink, st.isDirectory, st.getLen,
              if (st.isSymlink) st.getSymlink else null)
          }.toEither.left.map(_.getClass)
        }
      }
      Seq(false, true).foreach { qualified =>
        val hadoop = statuses(nio = false, qualified)
        assert(statuses(nio = true, qualified) == hadoop)
        if (!qualified)
          assert(hadoop.map(_.map(_._2)) ==
            Seq(Right(false), Right(false), Right(true), Right(true), Left(classOf[java.io.FileNotFoundException])),
            hadoop)
      }
    }
  }
}
