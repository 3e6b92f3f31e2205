package graft.streaming

import graft.SparkSpec
import graft.operators.ScaleOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Streaming ingest into the versioned snapshot store: one committed
  * version per micro-batch, replays absorbed by the committed-tag
  * check, and standing readers isolated from live ingest. */
class SnapshotIngestSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_snapingest_$tag").toString

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a drained stream commits one version per batch; content is the union") {
    val root = freshRoot("drain")
    // the checkpoint lives OUTSIDE root, so it must be cleared with it
    // — a stale checkpoint would replay offsets a fresh MemoryStream
    // doesn't hold (the round-7 non-idempotent-suite bug)
    fs(root).delete(new Path(root), true)
    fs(root).delete(new Path(root + "_ckpt"), true)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocRow]
    val q = Jobs.snapshotIngest(spark, mem.toDS(), root)
      .option("checkpointLocation", root + "_ckpt").start()
    try {
      mem.addData(Seq(DocRow(1L, "alpha"), DocRow(2L, "beta")))
      q.processAllAvailable()
      mem.addData(Seq(DocRow(3L, "gamma")))
      q.processAllAvailable()
    } finally q.stop()
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L))
    assert(ScaleOps.committedTags(spark, root) === Seq("batch:0", "batch:1"))
    assert(ScaleOps.readSnapshot(spark, root)
      .as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")))
    // a reader pinned at v1 keeps answering batch 0 only
    assert(ScaleOps.readSnapshot(spark, root, Some(1L)).count() === 2L)
  }

  test("a replayed batch tag is absorbed — no duplicate version, no duplicate rows") {
    val root = freshRoot("replay")
    fs(root).delete(new Path(root), true)
    val b0 = Seq((10L, "a"), (11L, "b")).toDF("doc_id", "text")
    assert(ScaleOps.snapshotAppendOnce(spark, root, b0, "batch:0") === Some(1L))
    // at-least-once replay of the SAME batch: same tag, same data
    assert(ScaleOps.snapshotAppendOnce(spark, root, b0, "batch:0") === None)
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L))
    assert(ScaleOps.snapshotAppendOnce(spark, root,
      Seq((12L, "c")).toDF("doc_id", "text"), "batch:1") === Some(2L))
    assert(ScaleOps.readSnapshot(spark, root).count() === 3L)
  }

  test("a maintenance commit between a batch and its replay does not unhide the tag") {
    val root = freshRoot("maint")
    fs(root).delete(new Path(root), true)
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(ScaleOps.snapshotAppendOnce(spark, root, b0, "batch:0",
      statsCol = Some("doc_id")) === Some(1L))
    // an UNTAGGED maintenance commit lands before the at-least-once
    // replay (the vacuum-cadence delete/compact the docs recommend):
    // a tail-only probe would miss batch:0's tag and duplicate it
    ScaleOps.deleteFromSnapshot(spark, root, "doc_id", 2L, 2L)
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L))
    assert(ScaleOps.snapshotAppendOnce(spark, root, b0, "batch:0",
      statsCol = Some("doc_id")) === None)
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L))
    assert(ScaleOps.readSnapshot(spark, root).count() === 1L) // no dup rows
    // the merge twin honors the same walk
    assert(ScaleOps.snapshotMergeOnce(spark, root, "doc_id",
      Seq((1L, "a2")).toDF("doc_id", "text"), "m:0") === Some(3L))
    ScaleOps.compactSnapshot(spark, root, targetBytes = 4L)
    assert(ScaleOps.snapshotMergeOnce(spark, root, "doc_id",
      Seq((1L, "a2")).toDF("doc_id", "text"), "m:0") === None)
  }

  test("the replay probe is O(1) manifest-header reads per batch, at any stream age") {
    val root = freshRoot("probes")
    fs(root).delete(new Path(root), true)
    // a 12-batch drain: the probe count must grow linearly with the
    // BATCH count (1 header read per batch), never with the number of
    // already-committed versions — the round-7 O(versions)-per-batch
    // finding would make this quadratic
    val before = ScaleOps.tagProbes.get()
    (0 until 12).foreach { b =>
      ScaleOps.snapshotAppendOnce(spark, root,
        Seq((b.toLong, s"doc$b")).toDF("doc_id", "text"), s"batch:$b")
    }
    val probes = ScaleOps.tagProbes.get() - before
    assert(probes <= 12L, s"replay check read $probes manifest headers " +
      "for 12 batches — tag probing is not O(1) per batch")
    assert(ScaleOps.snapshotVersions(spark, root).size === 12)
    assert(ScaleOps.readSnapshot(spark, root).count() === 12L)
    // committedTags (the O(versions) audit face) still sees every tag
    assert(ScaleOps.committedTags(spark, root) ===
      (0 until 12).map(b => s"batch:$b"))
  }

  test("ingest with a maintained view: drained state equals the batch profile, all hops incremental") {
    val root = freshRoot("synced")
    val view = root + "_view"
    fs(root).delete(new Path(root), true)
    fs(root).delete(new Path(root + "_ckpt"), true)
    fs(root).delete(new Path(view), true)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[LangDoc]
    val before = ScaleOps.syncRecomputes.get()
    val q = Jobs.snapshotIngestSynced(spark, mem.toDS(), root, view)
      .option("checkpointLocation", root + "_ckpt").start()
    try {
      mem.addData(Seq(LangDoc(1L, "en", "hello"), LangDoc(2L, "de", "hallo")))
      q.processAllAvailable()
      mem.addData(Seq(LangDoc(3L, "en", "more"), LangDoc(4L, "fr", "oui")))
      q.processAllAvailable()
    } finally q.stop()
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L))
    // every post-bootstrap hop was a pure append — no recompute fallback
    assert(ScaleOps.syncRecomputes.get() === before)
    import org.apache.spark.sql.functions._
    val expected = ScaleOps.readSnapshot(spark, root)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("n_chars"))
      .as[(String, Long, Long)].collect().sorted.toSeq
    val got = ScaleOps.readSyncedState(spark, view)
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(got === expected)
  }

  test("crash debris (data without manifest) is invisible, retried cleanly, swept by vacuum") {
    val root = freshRoot("crash")
    fs(root).delete(new Path(root), true)
    ScaleOps.snapshotAppendOnce(spark, root,
      Seq((1L, "a")).toDF("doc_id", "text"), "batch:0")
    // simulate a crash between the data rename and the manifest
    // rename: an attempt-private data dir exists, its manifest does
    // not — the tag rides the manifest, so nothing is committed
    val debris = new Path(root, "data-v2-deadbeef")
    Seq((2L, "b")).toDF("doc_id", "text").write.parquet(debris.toString)
    assert(ScaleOps.committedTags(spark, root) === Seq("batch:0"))
    assert(ScaleOps.readSnapshot(spark, root).count() === 1L)
    // the replay claims v2 cleanly beside the debris (disjoint
    // attempt dirs — it never needs to delete or overwrite it)
    assert(ScaleOps.snapshotAppendOnce(spark, root,
      Seq((2L, "b")).toDF("doc_id", "text"), "batch:1") === Some(2L))
    assert(ScaleOps.readSnapshot(spark, root)
      .orderBy(col("doc_id")).as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
    // once v2 is DECIDED, the orphan attempt is vacuum's to reclaim
    assert(fs(root).exists(debris))
    ScaleOps.vacuumSnapshots(spark, root, keep = 2)
    assert(!fs(root).exists(debris),
      "vacuum left the crashed attempt's data dir behind")
    assert(ScaleOps.readSnapshot(spark, root).count() === 2L)
  }
}
