package graft.streaming

import graft.SparkSpec
import graft.operators.ScaleOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming CDC upsert apply into the versioned snapshot store:
  * one merged version per micro-batch, last-wins across batches,
  * replays absorbed, empty-store bootstrap, and loud failure on a
  * batch that violates the ≤1-row-per-key contract. */
class UpsertIngestSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_upsertingest_$tag").toString

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a drained stream applies each batch as a merge: last image per key wins") {
    val root = freshRoot("drain")
    fs(root).delete(new Path(root), true)
    fs(root).delete(new Path(root + "_ckpt"), true)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocRow]
    val q = Jobs.upsertIngest(spark, mem.toDS(), root)
      .option("checkpointLocation", root + "_ckpt").start()
    try {
      // batch 0 bootstraps; batch 1 updates key 1 and inserts key 3;
      // batch 2 updates key 3 again
      mem.addData(Seq(DocRow(1L, "a0"), DocRow(2L, "b0")))
      q.processAllAvailable()
      mem.addData(Seq(DocRow(1L, "a1"), DocRow(3L, "c1")))
      q.processAllAvailable()
      mem.addData(Seq(DocRow(3L, "c2")))
      q.processAllAvailable()
    } finally q.stop()
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L, 3L))
    assert(ScaleOps.committedTags(spark, root) ===
      Seq("batch:0", "batch:1", "batch:2"))
    assert(ScaleOps.readSnapshot(spark, root)
      .as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "a1"), (2L, "b0"), (3L, "c2")))
    // drain parity: the same batches merged sequentially batch-side
    val twin = freshRoot("drain_twin")
    fs(twin).delete(new Path(twin), true)
    ScaleOps.snapshotMergeOnce(spark, twin, "doc_id",
      Seq((1L, "a0"), (2L, "b0")).toDF("doc_id", "text"), "batch:0")
    ScaleOps.snapshotMergeOnce(spark, twin, "doc_id",
      Seq((1L, "a1"), (3L, "c1")).toDF("doc_id", "text"), "batch:1")
    ScaleOps.snapshotMergeOnce(spark, twin, "doc_id",
      Seq((3L, "c2")).toDF("doc_id", "text"), "batch:2")
    assert(ScaleOps.readSnapshot(spark, twin)
      .as[(Long, String)].collect().sorted.toSeq ===
      ScaleOps.readSnapshot(spark, root)
        .as[(Long, String)].collect().sorted.toSeq)
    // a reader pinned at v1 keeps answering the bootstrap image
    assert(ScaleOps.readSnapshot(spark, root, Some(1L))
      .as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "a0"), (2L, "b0")))
  }

  test("a replayed batch tag is absorbed — no duplicate version, image unchanged") {
    val root = freshRoot("replay")
    fs(root).delete(new Path(root), true)
    val b0 = Seq((1L, "a0"), (2L, "b0")).toDF("doc_id", "text")
    assert(ScaleOps.snapshotMergeOnce(spark, root, "doc_id", b0, "batch:0")
      === Some(1L))
    assert(ScaleOps.snapshotMergeOnce(spark, root, "doc_id", b0, "batch:0")
      === None)
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L))
    val b1 = Seq((1L, "a1")).toDF("doc_id", "text")
    assert(ScaleOps.snapshotMergeOnce(spark, root, "doc_id", b1, "batch:1")
      === Some(2L))
    assert(ScaleOps.snapshotMergeOnce(spark, root, "doc_id", b1, "batch:1")
      === None)
    assert(ScaleOps.readSnapshot(spark, root)
      .as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "a1"), (2L, "b0")))
  }

  test("a batch with two images of one key fails loudly instead of committing") {
    val root = freshRoot("dup")
    fs(root).delete(new Path(root), true)
    ScaleOps.snapshotMergeOnce(spark, root, "doc_id",
      Seq((1L, "a0")).toDF("doc_id", "text"), "batch:0")
    val e = intercept[IllegalArgumentException] {
      ScaleOps.snapshotMergeOnce(spark, root, "doc_id",
        Seq((1L, "x"), (1L, "y")).toDF("doc_id", "text"), "batch:1")
    }
    assert(e.getMessage.contains("unique"))
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L))
  }
}
