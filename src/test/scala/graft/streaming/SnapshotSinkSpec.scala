package graft.streaming

import graft.SparkSpec
import graft.operators.ScaleOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** `writeStream.format("graft-snapshot")` — exactly-once ingest as
  * the DEFAULT sink path: one `batch:<id>`-tagged commit per
  * micro-batch (replays absorbed by the tag probe), `.toTable`-style
  * plumbing without a hand-rolled foreachBatch, an upsert mode via
  * `mergeKey`, and a source→sink round trip that drains a store into
  * a second store with content parity. */
class SnapshotSinkSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_snapsink_$tag").toString

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def clear(paths: String*): Unit =
    paths.foreach(p => fs(p).delete(new Path(p), true))

  test("the sink commits one tagged version per batch; content is the union") {
    val root = freshRoot("basic")
    clear(root, root + "_ckpt")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocRow]
    val q = mem.toDS().toDF()
      .writeStream.format("graft-snapshot")
      .option("statsCol", "doc_id")
      .option("checkpointLocation", root + "_ckpt")
      .start(root)
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
    // the declared stats column rode the commits: pruned reads work
    assert(ScaleOps.readSnapshotPruned(spark, root, None, "doc_id", 3L, 9L)
      .count() === 1L)
  }

  test("a restart from the same checkpoint replays nothing and continues the tag sequence") {
    val root = freshRoot("resume")
    clear(root, root + "_ckpt")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocRow]
    def start() = mem.toDS().toDF()
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", root + "_ckpt")
      .start(root)
    val q1 = start()
    try {
      mem.addData(Seq(DocRow(1L, "a"), DocRow(2L, "b")))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L))
    // second incarnation, same checkpoint: no replayed duplicate, the
    // next batch continues committing
    val q2 = start()
    try {
      mem.addData(Seq(DocRow(3L, "c")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L))
    assert(ScaleOps.readSnapshot(spark, root).count() === 3L)
  }

  test("an at-least-once replay of a committed batch is absorbed by the sink's tag probe") {
    val root = freshRoot("replay")
    clear(root)
    // drive the Sink directly with the engine's replay shape: the
    // same batchId delivered twice (the crash window between a
    // batch's commit and the engine's offset log write)
    val sink = new graft.sources.SnapshotSink(root, Some("doc_id"), None)
    val b0 = Seq((10L, "a"), (11L, "b")).toDF("doc_id", "text")
    sink.addBatch(0L, b0)
    sink.addBatch(0L, b0) // replay: absorbed, no new version
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L))
    assert(ScaleOps.readSnapshot(spark, root).count() === 2L)
    sink.addBatch(1L, Seq((12L, "c")).toDF("doc_id", "text"))
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L))
    assert(ScaleOps.readSnapshot(spark, root).count() === 3L)
  }

  test("mergeKey turns the sink into the idempotent CDC upsert apply") {
    val root = freshRoot("upsert")
    clear(root, root + "_ckpt")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocRow]
    val q = mem.toDS().toDF()
      .writeStream.format("graft-snapshot")
      .option("mergeKey", "doc_id")
      .option("checkpointLocation", root + "_ckpt")
      .start(root)
    try {
      mem.addData(Seq(DocRow(1L, "v1"), DocRow(2L, "v1")))
      q.processAllAvailable()
      mem.addData(Seq(DocRow(2L, "v2"), DocRow(3L, "v1")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = ScaleOps.readSnapshot(spark, root)
      .as[(Long, String)].collect().toMap
    assert(rows === Map(1L -> "v1", 2L -> "v2", 3L -> "v1"))
  }

  test("source → sink round trip: draining store A into store B gives content parity") {
    val a = freshRoot("rt_a")
    val b = freshRoot("rt_b")
    clear(a, b, b + "_ckpt")
    ScaleOps.publishSnapshot(spark, a,
      (0 until 20).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
        .repartitionByRange(2, col("doc_id")), statsCol = Some("doc_id"))
    ScaleOps.appendSnapshot(spark, a,
      (20 until 30).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text"),
      statsCol = Some("doc_id"))
    val q = spark.readStream.format("graft-snapshot")
      .option("startingVersion", "1")
      .option("maxFilesPerTrigger", "1").load(a)
      .select(col("doc_id"), col("text")) // data columns, not the CDC meta
      .writeStream.format("graft-snapshot")
      .option("statsCol", "doc_id")
      .option("checkpointLocation", b + "_ckpt")
      .start(b)
    try q.processAllAvailable() finally q.stop()
    val want = ScaleOps.readSnapshot(spark, a)
      .as[(Long, String)].collect().sorted.toSeq
    val got = ScaleOps.readSnapshot(spark, b)
      .as[(Long, String)].collect().sorted.toSeq
    assert(got === want)
    // paced source → several sink versions, each tagged
    assert(ScaleOps.snapshotVersions(spark, b).size > 1)
    assert(ScaleOps.committedTags(spark, b).forall(_.startsWith("batch:")))
  }

  test("non-append modes and partitioning are refused loudly") {
    val root = freshRoot("modes")
    clear(root, root + "_ckpt")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocRow]
    val e = intercept[Exception] {
      mem.toDS().toDF().groupBy(col("doc_id")).count()
        .writeStream.format("graft-snapshot")
        .outputMode("complete")
        .option("checkpointLocation", root + "_ckpt")
        .start(root)
    }
    assert(e.getMessage.toLowerCase.contains("append"))
  }
}
