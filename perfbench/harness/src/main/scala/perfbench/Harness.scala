package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry

/** One benchmark run of one workload, in a fresh driver JVM.
  *
  * Arguments are `key=value` pairs:
  *  - `dir`: input directory of `<table>.parquet` files or directories;
  *  - `queries`: comma list of `SparkEntry.queries` names, in declared order;
  *  - `seed`: each pass runs the queries in a fresh permutation drawn from
  *    this seed; seed 0 keeps the declared order;
  *  - `seconds`: length of the timed window;
  *  - `trace`: 0 or 1; with 1 every second pass runs traced;
  *  - `setups`: how many times the session start plus warm-up pass runs;
  *  - `out`: output directory.
  *
  * The run only calls the library's public entry points: the query builder
  * (`entry` layer), `queryExecution.executedPlan` (`plan`) and
  * `queryExecution.toRdd.count()` (`exec`). Everything else comes from
  * Spark's listener APIs, the JVM and `/proc`.
  *
  * Output: `spans.jsonl`, one JSON object per span (run, setup, pass, query,
  * phase and, for traced passes, job and stream-batch spans), written when
  * the run ends, and the `verify/` directory as `tools/check_oracle.py`
  * reads it: `<query>/` parquet holding each query's full result, written by
  * one pass after the timed window, plus `oracle_sql.json` and
  * `oracle_tolerance.json`. `perfbench/run.py` turns these into metrics and
  * checks them. */
object Harness {
  private val SpanKey = "perfbench.span"
  private val t0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private def nowS: Double = (System.nanoTime() - t0) / 1e9
  private def epochS(ms: Long): Double = (ms - epoch0) / 1e3

  // ---- spans, kept in memory until the run ends ----

  private val spans = mutable.ArrayBuffer.empty[Seq[(String, Any)]]
  private def emit(fields: (String, Any)*): Unit = spans += fields

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${json(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString // Int, Long, Boolean
  }

  private def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, x) => s"${quote(k)}:${json(x)}" }.mkString("{", ",", "}")

  // ---- process and host readings ----

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def load1(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .split("\\s+")(0).toDouble

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Largest heap occupancy seen at the end of a query, in MB. */
  private var heapPeakMb = 0.0
  private def sampleHeap(): Unit = heapPeakMb = math.max(heapPeakMb,
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble / (1 << 20))

  /** (bytes, files) under the library's `graft_*` scratch directories
    * (stage tables, stream sinks and checkpoints) in java.io.tmpdir. */
  private def scratch(): (Long, Long) = {
    val root = Paths.get(System.getProperty("java.io.tmpdir"))
    var bytes = 0L
    var files = 0L
    val tops = Files.list(root)
    try tops.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_"))
      .foreach { top =>
        val walk = Files.walk(top)
        try walk.iterator().asScala.foreach { p =>
          if (Files.isRegularFile(p)) {
            files += 1
            bytes += (try Files.size(p) catch { case _: java.io.IOException => 0L })
          }
        } catch { case _: java.io.UncheckedIOException => () } // deleted mid-walk
        finally walk.close()
      }
    finally tops.close()
    (bytes, files)
  }

  // ---- tracing: Spark and streaming listeners ----

  /** Task and job accounting for traced passes. A job is attributed to the
    * span named by the `perfbench.span` local property of the thread that
    * submitted it; its stages and tasks follow the job. Listener callbacks
    * run on Spark's listener-bus thread; the driver reads the totals only
    * after [[quiesce]]. */
  private final class Tracer extends SparkListener {
    final class Job(val id: Int, val span: String, val startMs: Long) {
      var endMs = -1L
      var stages, tasks = 0
      var runMs, gcMs = 0L
      var cpuNs = 0L
      var shuffleWrite, shuffleRead, spill, inputBytes, inputRows, outputBytes = 0L
    }
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageJob = mutable.HashMap.empty[Int, Job]
    /** (launch, finish) epoch millis of every task seen. */
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    @volatile var lastEventNs: Long = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).orNull
      val j = new Job(e.jobId, span, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      lastEventNs = System.nanoTime()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
      lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
      lastEventNs = System.nanoTime()
    }
    def openJobs: Int = synchronized(jobs.values.count(_.endMs < 0))
  }

  /** One microbatch progress report of any streaming query. */
  private final case class Batch(epochMs: Long, batchId: Long, rows: Long,
      durations: Map[String, Long], stateRows: Long, stateCommitMs: Long)

  private final class StreamTracer extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchId,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.commitTimeMs).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      ended.incrementAndGet()
  }

  /** Waits until both listener buses have delivered everything a traced
    * pass posted: no open job, every started stream terminated, and no
    * scheduler event for 300 ms. Gives up after 20 s. */
  private def quiesce(t: Tracer, st: StreamTracer): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    def idle = (System.nanoTime() - t.lastEventNs) > 300000000L
    while (System.nanoTime() < deadline &&
      !(idle && t.openJobs == 0 && st.ended.get >= st.started.get)) Thread.sleep(50)
  }

  // ---- the workload ----

  private def session(cores: Int, tmp: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Runs one query as build, plan, exec; emits its query and phase spans
    * and returns its result row count (-1 when it threw). `traced` sets the
    * local property that attributes the query's jobs to its phases. With
    * `verify`, exec writes the full result to `verify/<query>` as
    * graft.Verify does, and counts the rows written. */
  private def runQuery(spark: SparkSession, dir: String, name: String,
      passId: String, traced: Boolean, verify: Option[Path]): Long = {
    val sc = spark.sparkContext
    val id = s"$passId/$name"
    spark.catalog.clearCache()
    val q0 = nowS
    def phase[A](ph: String)(body: => A): A = {
      if (traced) sc.setLocalProperty(SpanKey, s"$id/$ph")
      val s0 = nowS
      try body finally emit("kind" -> "phase", "id" -> s"$id/$ph", "parent" -> id,
        "name" -> ph, "start" -> s0, "end" -> nowS)
    }
    val (rows, error) =
      try {
        val df: DataFrame = phase("build")(SparkEntry.queries(name)(spark, dir))
        phase("plan")(df.queryExecution.executedPlan)
        val rows = phase("exec")(verify match {
          case None => df.queryExecution.toRdd.count()
          case Some(v) =>
            val path = v.resolve(name).toString
            df.coalesce(1).write.mode("overwrite").parquet(path)
            spark.read.parquet(path).count()
        })
        (rows, null)
      } catch {
        case e: Throwable => (-1L, s"${e.getClass.getName}: ${e.getMessage}")
      } finally if (traced) sc.setLocalProperty(SpanKey, null)
    emit("kind" -> "query", "id" -> id, "parent" -> passId, "name" -> name,
      "start" -> q0, "end" -> nowS, "rows" -> rows, "error" -> error)
    sampleHeap()
    rows
  }

  /** One pass over the workload; emits the pass span with its wall and CPU
    * time and what it left behind (scratch growth, newly persisted RDDs,
    * streams still active). */
  private def runPass(spark: SparkSession, dir: String, queries: Seq[String],
      id: String, kind: String, traced: Boolean, verify: Option[Path] = None): Unit = {
    spark.catalog.clearCache()
    val (scratchB0, scratchF0) = scratch()
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    val streams0 = spark.streams.active.length
    val cpu0 = processCpuS()
    val ms0 = System.currentTimeMillis()
    val s0 = nowS
    queries.foreach(runQuery(spark, dir, _, id, traced, verify))
    val s1 = nowS
    val ms1 = System.currentTimeMillis()
    val cpu1 = processCpuS()
    val (scratchB1, scratchF1) = scratch()
    emit("kind" -> kind, "id" -> id, "queries" -> queries, "traced" -> traced,
      "start" -> s0, "end" -> s1,
      "epoch_start_ms" -> ms0, "epoch_end_ms" -> ms1, "cpu_s" -> (cpu1 - cpu0),
      "scratch_bytes" -> (scratchB1 - scratchB0), "scratch_files" -> (scratchF1 - scratchF0),
      "persisted_rdds" -> (spark.sparkContext.getPersistentRDDs.size - persisted0),
      "active_streams" -> (spark.streams.active.length - streams0))
  }

  /** Seconds of the window [from, to) (epoch ms) covered by no task. */
  private def noTaskS(tasks: Seq[(Long, Long)], from: Long, to: Long): Double = {
    var covered = 0L
    var reach = from
    tasks.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => a < b }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (to - from - covered) / 1e3
  }

  private def emitTrace(t: Tracer, st: StreamTracer): Unit = {
    val passes = spans.filter(s => s.contains("kind" -> "pass") && s.contains("traced" -> true))
      .map(_.toMap)
    def window(p: Map[String, Any]) =
      (p("epoch_start_ms").asInstanceOf[Long], p("epoch_end_ms").asInstanceOf[Long])
    def passAt(ms: Long): Option[String] = passes.collectFirst {
      case p if { val (a, b) = window(p); a <= ms && ms <= b } => p("id").toString
    }
    t.synchronized {
      passes.foreach { p =>
        val (a, b) = window(p)
        emit("kind" -> "sched", "parent" -> p("id"), "no_task_s" -> noTaskS(t.taskSpans.toSeq, a, b))
      }
      // a job submitted without the local property (none is expected) is
      // still counted, against the traced pass it ran in
      t.jobs.values.foreach { j =>
        Option(j.span).orElse(passAt(j.startMs)).foreach { parent =>
          emit("kind" -> "job", "id" -> s"job${j.id}", "parent" -> parent,
            "start" -> epochS(j.startMs), "end" -> epochS(j.endMs),
            "stages" -> j.stages, "tasks" -> j.tasks, "run_s" -> j.runMs / 1e3,
            "cpu_s" -> j.cpuNs / 1e9, "gc_s" -> j.gcMs / 1e3,
            "shuffle_write_bytes" -> j.shuffleWrite, "shuffle_read_bytes" -> j.shuffleRead,
            "spill_bytes" -> j.spill, "input_bytes" -> j.inputBytes,
            "input_rows" -> j.inputRows, "output_bytes" -> j.outputBytes)
        }
      }
    }
    // a microbatch belongs to the traced query whose span holds its trigger
    val queries = spans.filter(_.contains("kind" -> "query")).map(_.toMap)
      .filter(q => passes.exists(p => q("parent") == p("id")))
    st.batches.asScala.foreach { b =>
      val at = epochS(b.epochMs)
      queries.find(q => q("start").asInstanceOf[Double] <= at && at <= q("end").asInstanceOf[Double])
        .foreach { q =>
          val d = b.durations
          emit("kind" -> "batch", "parent" -> q("id"), "start" -> at,
            "batch_id" -> b.batchId, "rows" -> b.rows,
            "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
            "add_batch_ms" -> d.getOrElse("addBatch", 0L),
            "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
            "state_rows" -> b.stateRows, "state_commit_ms" -> b.stateCommitMs)
        }
    }
  }

  /** Writes the oracle SQL and declared tolerances of `queries` as JSON, as
    * graft.Verify does. */
  private def oracle(queries: Seq[String], out: Path): Unit = {
    val names = queries.toSet
    Files.writeString(out.resolve("oracle_sql.json"),
      json(SparkEntry.oracleSql.filter { case (k, _) => names(k) }))
    Files.writeString(out.resolve("oracle_tolerance.json"),
      json(SparkEntry.oracleTolerance.filter { case (k, _) => names(k) }))
  }

  def main(args: Array[String]): Unit = {
    // exit explicitly: a library thread left running must not keep the
    // JVM, and with it the benchmark run, alive
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val queries = kv("queries").split(",").toSeq
    val out = Paths.get(kv("out"))
    Files.createDirectories(out)
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val dir = kv("dir")
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val setups = kv("setups").toInt
    val seed = kv("seed").toLong
    val rng = new scala.util.Random(seed)
    // a fresh order per pass, so that no one order's interference between
    // consecutive queries decides a run's figures
    def order(): Seq[String] = if (seed == 0) queries else rng.shuffle(queries)
    val cores = Runtime.getRuntime.availableProcessors()
    val tmp = System.getProperty("java.io.tmpdir")
    emit("kind" -> "run", "nproc" -> cores, "load1_before" -> load1(),
      "dir" -> dir, "queries" -> queries, "seed" -> seed, "seconds" -> seconds, "trace" -> trace)

    // every set-up does the same work; only the first runs in a cold JVM
    var spark: SparkSession = null
    (1 to setups).foreach { i =>
      if (spark != null) stopSession(spark)
      val s0 = nowS
      spark = session(cores, tmp)
      runPass(spark, dir, order(), s"setup$i", "warmup", traced = false)
      emit("kind" -> "setup", "id" -> s"setup$i", "start" -> s0, "end" -> nowS)
    }

    // with tracing, every second pass runs with the listeners on, so that
    // traced and untraced passes see the same warm-up; the gap between them
    // is the tracing overhead
    val t = new Tracer
    val st = new StreamTracer
    val w0 = nowS
    var n = 0
    while (n < (if (trace) 2 else 1) || nowS - w0 < seconds) {
      n += 1
      val traced = trace && n % 2 == 0
      if (traced) {
        spark.sparkContext.addSparkListener(t)
        spark.streams.addListener(st)
      }
      runPass(spark, dir, order(), s"pass$n", "pass", traced)
      if (traced) {
        quiesce(t, st)
        spark.sparkContext.removeSparkListener(t)
        spark.streams.removeListener(st)
      }
    }
    if (trace) emitTrace(t, st)

    // full results for the oracle comparison, outside the timed window
    val verify = out.resolve("verify")
    runPass(spark, dir, queries, "verify", "verify", traced = false, verify = Some(verify))
    Files.createDirectories(verify)
    oracle(queries, verify)

    stopSession(spark)
    emit("kind" -> "end", "load1_after" -> load1(), "rss_peak_mb" -> rssPeakMb(),
      "heap_peak_mb" -> heapPeakMb)
    Files.write(out.resolve("spans.jsonl"), spans.map(obj).asJava, UTF_8)
  }
}
