package graft

import graft.operators.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental (streaming) MinHash near-dup dedup: each batch deduped
  * against itself AND the persistent signature index of every previously
  * kept doc — survivors only, keep-first-by-id. */
class IncrementalDedupSpec extends GraftSpec {
  import spark.implicits._

  // 20 distinct words; near-dups append one word (3-gram Jaccard 18/19)
  private def doc(tag: String): String =
    (0 until 20).map(i => s"${tag}w$i").mkString(" ")
  private def nearDup(tag: String): String = doc(tag) + s" ${tag}extra"

  private def dedupStep(batch: Seq[(Long, String)], indexDir: String) =
    Dedup.incrementalNearDup(
      batch.toDF("doc_id", "text"), indexDir, "text", "doc_id",
      numHashes = 16, bands = 4, seed = 42L, shingleN = 3, threshold = 0.8)

  test("batch 2 drops near-dups of batch-1 survivors via the index") {
    val indexDir = Files.createTempDirectory("nd_idx").toString + "/idx"
    // batch 1: A, near-dup-of-A (dropped, keep-first), distinct C
    val s1 = dedupStep(Seq(
      (1L, doc("a")), (2L, nearDup("a")), (3L, doc("c"))), indexDir)
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    s1.unpersist()
    // batch 2: near-dup of A (index hit), new E, near-dup of E (in-batch)
    val s2 = dedupStep(Seq(
      (4L, nearDup("a")), (5L, doc("e")), (6L, nearDup("e"))), indexDir)
    assert(s2.select("doc_id").as[Long].collect().sorted.toSeq == Seq(5L))
    s2.unpersist()
    // batch 3: near-dup of E (index hit from batch 2), exact re-send of C
    val s3 = dedupStep(Seq((7L, nearDup("e")), (8L, doc("c"))), indexDir)
    assert(s3.select("doc_id").as[Long].collect().isEmpty)
    s3.unpersist()
  }

  test("poisoned in-batch cluster: ALL members drop when one matches the index") {
    val indexDir = Files.createTempDirectory("nd_poison").toString + "/idx"
    dedupStep(Seq((1L, doc("p"))), indexDir).unpersist()
    // 10 and 11 are near-dups of each other AND of indexed doc 1: the
    // min-id member matching the index must not rescue the other
    val s = dedupStep(Seq((10L, nearDup("p")), (11L, nearDup("p"))), indexDir)
    assert(s.select("doc_id").as[Long].collect().isEmpty)
    s.unpersist()
  }

  test("distributed drop-set fallback (maxDriverDrops=0) matches the driver path") {
    // force the >cap branch: the drop-set algebra runs distributed
    // (poison join + semi + unions) instead of the driver set algebra —
    // verdicts must be identical, across batches, including index hits
    // and poisoned in-batch clusters
    val prop = "graft.dedup.maxDriverDrops"
    System.setProperty(prop, "0")
    try {
      val indexDir = Files.createTempDirectory("nd_fallback").toString + "/idx"
      val s1 = dedupStep(Seq(
        (1L, doc("a")), (2L, nearDup("a")), (3L, doc("c"))), indexDir)
      assert(s1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
      s1.unpersist()
      // index hit (4), new doc (5), in-batch near-dup of 5 (6), and a
      // poisoned pair (7, 8 near-dups of indexed doc c)
      val s2 = dedupStep(Seq(
        (4L, nearDup("a")), (5L, doc("e")), (6L, nearDup("e")),
        (7L, nearDup("c")), (8L, nearDup("c"))), indexDir)
      assert(s2.select("doc_id").as[Long].collect().sorted.toSeq == Seq(5L))
      s2.unpersist()
    } finally System.clearProperty(prop)
  }

  test("nearDupStream end-to-end over two microbatches") {
    val base = Files.createTempDirectory("nd_stream").toString
    val (indexDir, survivorDir, ckpt) =
      (s"$base/idx", s"$base/out", s"$base/ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // compactEvery=1: maintenance runs after every batch and must never
    // change dedup verdicts (the compaction-invariant test pins rows; this
    // pins the integrated single-writer path)
    val query = Dedup.nearDupStream(
      mem.toDF().toDF("doc_id", "text"), indexDir, survivorDir, ckpt,
      "text", "doc_id", numHashes = 16, bands = 4, seed = 42L,
      shingleN = 3, threshold = 0.8, compactEvery = 1)
    try {
      mem.addData(Seq((1L, doc("a")), (2L, nearDup("a")), (3L, doc("c"))))
      query.processAllAvailable()
      mem.addData(Seq((4L, nearDup("a")), (5L, doc("e"))))
      query.processAllAvailable()
      val kept = spark.read.parquet(s"$survivorDir/batch-*")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 3L, 5L))
      // per-batch commit markers exist for both microbatches
      assert(Dedup.isIndexBatchCommitted(spark, indexDir, 0L))
      assert(Dedup.isIndexBatchCommitted(spark, indexDir, 1L))
    } finally query.stop()
  }

  test("checkpoint restart resumes at the first unprocessed batch") {
    // FILE source, not MemoryStream: the memory source is not
    // checkpoint-recoverable (its offsets reset per instance) — file-
    // source offset recovery is the production restart path anyway
    val base = Files.createTempDirectory("nd_restart").toString
    val (inDir, indexDir, survivorDir, ckpt) =
      (s"$base/in", s"$base/idx", s"$base/out", s"$base/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    def addFile(name: String, data: Seq[(Long, String)]): Unit = {
      val tmp = s"$base/tmp_$name"
      data.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      assert(part.renameTo(new java.io.File(s"$inDir/$name.parquet")))
    }
    val schemaSeed = Seq((0L, "")).toDF("doc_id", "text").schema
    def run(): Unit = {
      val q = Dedup.incrementalNearDupSink(
        spark.readStream.schema(schemaSeed)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        indexDir, survivorDir, ckpt,
        "text", "doc_id", numHashes = 16, bands = 4, seed = 42L,
        shingleN = 3, threshold = 0.8)
      try q.processAllAvailable() finally q.stop()
    }
    addFile("b0", Seq((1L, doc("a")), (2L, nearDup("a")), (3L, doc("c"))))
    run()
    assert(Dedup.isIndexBatchCommitted(spark, indexDir, 0L))
    val idsAfter1 = graft.sources.GraftTable.snapshotIds(spark, indexDir)
    // new data lands, the query restarts from the SAME checkpoint: the
    // recovered source offset skips b0 — batch-0 state must be untouched
    // and b1 must process as the next batch against the standing index
    addFile("b1", Seq((4L, nearDup("a")), (5L, doc("e"))))
    run()
    assert(Dedup.isIndexBatchCommitted(spark, indexDir, 1L))
    val kept = spark.read.parquet(s"$survivorDir/batch-*")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 5L), s"got $kept")
    assert(graft.sources.GraftTable.snapshotIds(spark, indexDir)
      .length > idsAfter1.length, "second run must append to the index")
  }

  test("a replayed batch id is skipped: index and survivors unchanged") {
    val base = Files.createTempDirectory("nd_replay").toString
    val (indexDir, survivorDir) = (s"$base/idx", s"$base/out")
    val batch = Seq((1L, doc("a")), (2L, nearDup("a"))).toDF("doc_id", "text")
    Dedup.processIndexBatch(batch, 0L, indexDir, survivorDir,
      "text", "doc_id", numHashes = 16, bands = 4, seed = 42L,
      shingleN = 3, threshold = 0.8)
    val ids = graft.sources.GraftTable.snapshotIds(spark, indexDir)
    val kept = spark.read.parquet(s"$survivorDir/batch-0")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L))
    // replay the SAME batch id (the foreachBatch restart contract):
    // the commit marker short-circuits — no new snapshot, same rows
    Dedup.processIndexBatch(batch, 0L, indexDir, survivorDir,
      "text", "doc_id", numHashes = 16, bands = 4, seed = 42L,
      shingleN = 3, threshold = 0.8)
    assert(graft.sources.GraftTable.snapshotIds(spark, indexDir) == ids)
    assert(spark.read.parquet(s"$survivorDir/batch-0")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L))
  }

  test("index compaction: fewer files, identical signature rows, index stays live") {
    val indexDir = Files.createTempDirectory("nd_compact").toString + "/idx"
    // 10 single-doc batches -> >= 10 append file sets of small part files
    (1 to 10).foreach { i =>
      dedupStep(Seq((i.toLong, doc(s"t$i"))), indexDir).unpersist()
    }
    def rows() = graft.sources.GraftTable.read(spark, indexDir)
      .select("__bucket", "__id", "__sh").collect()
      .map(r => (String.valueOf(r.get(0)), r.getLong(1),
        r.getAs[scala.collection.Seq[Long]](2).toSeq))
      .sortBy(t => (t._1, t._2)).toSeq
    val beforeRows = rows()
    val (nBefore, nAfter) = Dedup.compactIndex(spark, indexDir,
      targetFileBytes = 128L << 20, minFiles = 2)
    assert(nBefore >= 10, s"expected >=10 pre-compaction files, got $nBefore")
    assert(nAfter < nBefore, s"compaction must shrink: $nBefore -> $nAfter")
    // the invariant: every signature row survives, none duplicated
    assert(rows() == beforeRows, "compaction changed the signature rows")
    // idempotence: a second pass on the already-compacted dir is a no-op
    val (b2, a2) = Dedup.compactIndex(spark, indexDir,
      targetFileBytes = 128L << 20, minFiles = 2)
    assert(b2 == a2, s"re-compaction must no-op: $b2 -> $a2")
    // the compacted index still drives dedup: a near-dup of doc 3 drops
    val s = dedupStep(Seq((99L, nearDup("t3")), (100L, doc("fresh"))), indexDir)
    assert(s.select("doc_id").as[Long].collect().sorted.toSeq == Seq(100L))
    s.unpersist()
  }

  test("q_index_stream over all-null text fails naming the missing staged dir") {
    val dir = Files.createTempDirectory("idx_null_text").toString
    Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("q_index_stream")(spark, dir)
    }
    assert(e.getMessage.matches(
      "requirement failed: no staged parquet file in \\S*graft_idxstream_\\S*/tmp/__part=0"),
      e.getMessage)
  }
}
