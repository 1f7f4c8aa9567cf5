package graft.pipelines

import java.io.File

import graft.SparkSpec
import graft.ops.Blocking
import graft.streaming.LshStream

/** Round-9 store lifecycle seams:
  *
  *   - labels commit crash-safety: a torn (marker-less) generation from a
  *     crashed writer is never scanned, the previous snapshot keeps
  *     serving, and the next commit GCs the wreck without reusing its
  *     generation number; legacy flat `labels/` stores still read and
  *     migrate on first commit;
  *   - guard-memo freshness: a store mutation clears the session's
  *     plan-keyed auto-cap memo, so the next resolution over the same
  *     path sees the just-appended data (a boilerplate pile engages the
  *     cap that the pre-append resolution had waived);
  *   - served-index refresh: [[CorpusStore.refreshServedIndex]] swaps to
  *     the store's current state (new doc taggable) and releases the
  *     retired index's cache.
  */
class StoreDurabilitySpec extends SparkSpec {
  import spark.implicits._

  private val bench = Seq("benchmark sentence matching nothing at all").toDF("text")

  private def batch1 = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "completely different content about spark engines")).toDF("doc_id", "text")
  private def batch2 = Seq(
    (3L, "a fresh unrelated document about query planning")).toDF("doc_id", "text")

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  "labels commit" should "never serve a torn generation and never reuse its number" in {
    val dir = tmpDir("graft-durable-")
    val r1 = CorpusPipeline.ingest(
      CorpusPipeline.emptyState(spark, "doc_id"), batch1, "doc_id", "text",
      bench, "text")
    CorpusStore.appendBatch(r1, dir)
    CorpusStore.labelsPath(spark, dir) should endWith("labels-1")
    val committed = CorpusStore.read(spark, dir).labels
      .as[(Long, Long)].collect().toMap

    // simulate a writer killed mid-overwrite: a labels-2 directory with a
    // part file but no _SUCCESS marker (the committer creates the marker
    // only after every part file is in place)
    val torn = new File(dir, "labels-2")
    torn.mkdirs()
    java.nio.file.Files.write(new File(torn, "part-00000.parquet").toPath,
      Array[Byte](0x50, 0x41, 0x52))
    CorpusStore.labelsPath(spark, dir) should endWith("labels-1")
    CorpusStore.read(spark, dir).labels.as[(Long, Long)].collect().toMap shouldBe
      committed

    // the next successful commit jumps PAST the torn number (a resurrected
    // crashed writer can never race the new generation) and GCs the wreck
    val r2 = CorpusPipeline.ingest(
      CorpusStore.read(spark, dir), batch2, "doc_id", "text", bench, "text")
    // snapshot the expectation BEFORE the commit: r2's labels lineage scans
    // the generation the commit is about to GC
    val expected = r2.state.labels.as[(Long, Long)].collect().toMap
    CorpusStore.appendBatch(r2, dir)
    CorpusStore.labelsPath(spark, dir) should endWith("labels-3")
    new File(dir, "labels-2").exists() shouldBe false
    new File(dir, "labels-1").exists() shouldBe false
    CorpusStore.read(spark, dir).labels.as[(Long, Long)].collect().toMap shouldBe
      expected
  }

  it should "read a legacy flat labels/ store and migrate it on the next commit" in {
    val dir = tmpDir("graft-legacy-")
    val r1 = CorpusPipeline.ingest(
      CorpusPipeline.emptyState(spark, "doc_id"), batch1, "doc_id", "text",
      bench, "text")
    // pre-round-9 layout: every table flat, labels included
    r1.state.prepared.write.parquet(s"$dir/prepared")
    r1.state.pairs.write.parquet(s"$dir/pairs")
    r1.state.buckets.write.parquet(s"$dir/buckets")
    r1.state.labels.write.parquet(s"$dir/labels")
    CorpusStore.labelsPath(spark, dir) shouldBe s"$dir/labels"
    val legacy = CorpusStore.read(spark, dir).labels
      .as[(Long, Long)].collect().toMap
    legacy.keySet shouldBe Set(1L, 2L)

    val r2 = CorpusPipeline.ingest(
      CorpusStore.read(spark, dir), batch2, "doc_id", "text", bench, "text")
    CorpusStore.appendBatch(r2, dir)
    CorpusStore.labelsPath(spark, dir) should endWith("labels-1")
    new File(dir, "labels").exists() shouldBe false
    CorpusStore.read(spark, dir).labels.as[(Long, Long)]
      .collect().toMap.keySet shouldBe Set(1L, 2L, 3L)
  }

  "compact" should "never leave the store unreadable, even killed mid-rewrite" in {
    val dir = tmpDir("graft-compact-")
    val r1 = CorpusPipeline.ingest(
      CorpusPipeline.emptyState(spark, "doc_id"), batch1, "doc_id", "text",
      bench, "text")
    CorpusStore.appendBatch(r1, dir)
    val r2 = CorpusPipeline.ingest(
      CorpusStore.read(spark, dir), batch2, "doc_id", "text", bench, "text")
    val labelsBefore = r2.state.labels.as[(Long, Long)].collect().toMap
    CorpusStore.appendBatch(r2, dir)
    val preparedBefore = CorpusStore.read(spark, dir).prepared.count()

    // simulate a compaction killed mid-rewrite: a torn prepared-1 with no
    // _SUCCESS; reads must keep resolving the flat append-layout table
    val torn = new File(dir, "prepared-1")
    torn.mkdirs()
    java.nio.file.Files.write(new File(torn, "part-00000.parquet").toPath,
      Array[Byte](0x50, 0x41, 0x52))
    CorpusStore.tablePath(spark, dir, "prepared") shouldBe s"$dir/prepared"
    CorpusStore.read(spark, dir).prepared.count() shouldBe preparedBefore

    // a successful compact commits PAST the torn number, GCs it and the
    // flat dirs, and the read-back state is unchanged
    CorpusStore.compact(spark, dir, "doc_id", targetFiles = 1)
    CorpusStore.tablePath(spark, dir, "prepared") should endWith("prepared-2")
    new File(dir, "prepared-1").exists() shouldBe false
    new File(dir, "prepared").exists() shouldBe false
    val compacted = CorpusStore.read(spark, dir)
    compacted.prepared.count() shouldBe preparedBefore
    compacted.labels.as[(Long, Long)].collect().toMap shouldBe labelsBefore

    // append-only writes continue INTO the committed generation
    val r3 = CorpusPipeline.ingest(
      CorpusStore.read(spark, dir),
      Seq((7L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"),
      "doc_id", "text", bench, "text")
    CorpusStore.appendBatch(r3, dir)
    val after = CorpusStore.read(spark, dir)
    after.prepared.count() shouldBe (preparedBefore + 1)
    after.labels.as[(Long, Long)].collect().toMap.apply(7L) shouldBe 1L
  }

  "a store mutation" should "clear the auto-cap memo so the next resolution sees the pile" in {
    val dir = tmpDir("graft-memo-")
    val r1 = CorpusPipeline.ingest(
      CorpusPipeline.emptyState(spark, "doc_id"), batch1, "doc_id", "text",
      bench, "text")
    CorpusStore.appendBatch(r1, dir)

    graft.io.Memo.clear(spark)
    // resolve against the healthy stored bucket table: no block over the
    // derived cap, memoized no-op
    Blocking.resolveAutoCap(
      spark.read.parquet(s"$dir/buckets"), Seq("band", "bucket")) shouldBe 0

    // append a boilerplate pile (600 identical docs; every band lands the
    // same bucket, so the stored table now holds 16 blocks of ~600 against
    // a mass of ~9.6k — over both the p99.9-factor and 5%-mass tests)
    val pile = (0 until 600)
      .map(i => (1000L + i, "verbatim boilerplate disclaimer text repeated"))
      .toDF("doc_id", "text")
    val rp = CorpusPipeline.ingest(r1.state, pile, "doc_id", "text", bench, "text")
    CorpusStore.appendBatch(rp, dir)

    // a FRESH read of the same path canonicalizes equal to the pre-append
    // frame (file listings are not part of relation equality) — the memo's
    // file fingerprint and the appendBatch-triggered clear each make this
    // re-preflight and engage
    val cap = Blocking.resolveAutoCap(
      spark.read.parquet(s"$dir/buckets"), Seq("band", "bucket"))
    cap should be > 0
    Blocking.resolutions(spark).count(_.engaged) should be >= 1
  }

  "refreshServedIndex" should "swap to the store's current state and release the old cache" in {
    val dir = tmpDir("graft-refresh-")
    val r1 = CorpusPipeline.ingest(
      CorpusPipeline.emptyState(spark, "doc_id"), batch1, "doc_id", "text",
      bench, "text")
    CorpusStore.appendBatch(r1, dir)
    val idx1 = CorpusStore.servedIndex(spark, dir, "doc_id")
    try {
      // batch-2's doc is not in the store yet: probing with its text tags
      // nothing against idx1
      val probe = Seq((900L, "a fresh unrelated document about query planning"))
        .toDF("doc_id", "text")
      LshStream.nearDupTagStream(probe, idx1, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .count() shouldBe 0L

      val r2 = CorpusPipeline.ingest(
        CorpusStore.read(spark, dir), batch2, "doc_id", "text", bench, "text")
      CorpusStore.appendBatch(r2, dir)

      val idx2 = CorpusStore.refreshServedIndex(spark, dir, "doc_id", Some(idx1))
      // the swapped index is cached and serves the just-ingested doc (had
      // the helper persisted BEFORE releasing, the plan-equal cache entry
      // would have aliased the stale pre-append snapshot instead)
      idx2.compact.storageLevel.useMemory shouldBe true
      LshStream.nearDupTagStream(probe, idx2, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .select("corpus_id").as[Long].collect().toSet should contain(3L)
      idx2.unpersist()
      // exactly ONE cache entry lived through the swap: cache lookup is
      // plan-keyed and both handles canonicalize equal, so a leaked
      // idx1-era entry would make BOTH report cached here
      idx1.compact.storageLevel.useMemory shouldBe false
      idx2.compact.storageLevel.useMemory shouldBe false
    } finally idx1.unpersist()
  }
}
