package graft.streaming

import graft.SparkSpec
import graft.operators.ScaleOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryException

/** The snapshot store as a STREAMING SOURCE: readStream.format(
  * "graft-snapshot") tails committed versions, emits append deltas
  * and rewrite change feeds with drain parity against the batch
  * change-feed read, resumes exactly from a checkpointed version
  * offset, and refuses to fake a delta it cannot prove. */
class SnapshotStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_snapstream_$tag").toString

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def docs(ids: Range, tag: String) =
    ids.map(i => (i.toLong, s"$tag$i")).toDF("doc_id", "text")
      .repartitionByRange(2, col("doc_id"))

  /** publish → append → COW delete → merge → compact: one hop of
    * every commit kind (the s15 history, miniature). */
  private def mixedHistory(root: String): Unit = {
    fs(root).delete(new Path(root), true)
    ScaleOps.publishSnapshot(spark, root, docs(0 until 20, "base"),
      statsCol = Some("doc_id"))
    ScaleOps.appendSnapshot(spark, root, docs(20 until 40, "more"),
      statsCol = Some("doc_id"))
    ScaleOps.deleteFromSnapshot(spark, root, "doc_id", 5L, 9L)
    ScaleOps.mergeIntoSnapshot(spark, root, "doc_id",
      Seq((3L, "upd3"), (99L, "ins99")).toDF("doc_id", "text"))
    ScaleOps.compactSnapshot(spark, root, targetBytes = 1L << 30,
      statsCol = Some("doc_id"))
  }

  private def asTriples(df: DataFrame): Seq[(Long, String, Long)] =
    df.select(col("doc_id"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().sorted.toSeq

  /** Drain the stream to a memory sink until no data remains. */
  private def drain(reader: DataFrame): Seq[(Long, String, Long)] = {
    val name = "snapstream_" + System.nanoTime()
    val q = reader.writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    asTriples(spark.table(name))
  }

  /** Checkpointed drain via foreachBatch (the memory sink cannot
    * recover from a checkpoint; foreachBatch can — the production
    * resume path). */
  private def drainCkpt(reader: DataFrame, ckpt: String)
      : Seq[(Long, String, Long)] = {
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val q = reader.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = asTriples(df)
        rows.synchronized { rows ++= got }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    rows.sorted.toSeq
  }

  private def readStream(root: String, extra: (String, String)*): DataFrame =
    extra.foldLeft(spark.readStream.format("graft-snapshot"))(
      (r, kv) => r.option(kv._1, kv._2)).load(root)

  test("startingVersion=1 drains the WHOLE history with batch change-feed parity") {
    val root = freshDir("parity")
    mixedHistory(root)
    val got = drain(readStream(root, "startingVersion" -> "1"))
    val want = asTriples(ScaleOps.changeFeedHops(spark, root, 0L, 5L))
    assert(want.nonEmpty)
    assert(got === want)
    // and the feed's NET state equals the store's current content
    val net = got.groupBy(_._1).map { case (id, evs) =>
      id -> evs.maxBy(_._3) // last event per key decides
    }.collect { case (id, (_, "insert", _)) => id }.toSeq.sorted
    val current = ScaleOps.readSnapshot(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // keys never rewritten keep their v1/v2 insert; deleted keys end
    // on a delete event — net inserts must equal the live content
    // for keys whose LAST event is an insert. Deleted-and-gone keys:
    val deleted = got.filter(_._2 == "delete").map(_._1).toSet
    val lastIns = net.filterNot(id =>
      deleted.contains(id) &&
        got.filter(e => e._1 == id).maxBy(_._3)._2 == "delete")
    assert(lastIns.toSet.subsetOf(current.toSet))
  }

  test("default start = initial snapshot: current content as inserts at the head version") {
    val root = freshDir("initsnap")
    mixedHistory(root)
    val got = drain(readStream(root))
    val current = ScaleOps.readSnapshot(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got.map(_._1).sorted === current)
    assert(got.forall(_._2 == "insert"))
    assert(got.forall(_._3 == 5L))
  }

  test("a checkpointed stream resumes exactly after its offset — no replay, no gap") {
    val root = freshDir("resume")
    val ckpt = freshDir("resume_ckpt")
    fs(ckpt).delete(new Path(ckpt), true)
    mixedHistory(root)
    val run1 = drainCkpt(readStream(root, "startingVersion" -> "1"), ckpt)
    // v5 (compaction) commits an EMPTY feed, so the newest row-bearing
    // hop is v4 — the offset still advanced to 5, which run 2 proves
    assert(run1 === asTriples(ScaleOps.changeFeedHops(spark, root, 0L, 5L)))
    assert(run1.map(_._3).max === 4L)
    // new commits while the stream is DOWN: an append and a delete
    ScaleOps.appendSnapshot(spark, root, docs(100 until 110, "late"),
      statsCol = Some("doc_id"))
    ScaleOps.deleteFromSnapshot(spark, root, "doc_id", 100L, 102L)
    val run2 = drainCkpt(readStream(root, "startingVersion" -> "1"), ckpt)
    // run 2 emits ONLY the new hops (v6 append, v7 delete)
    assert(run2.nonEmpty)
    assert(run2.map(_._3).toSet === Set(6L, 7L))
    assert(run2 === asTriples(ScaleOps.changeFeedHops(spark, root, 5L, 7L)))
    // and a third run with nothing new emits nothing
    val run3 = drainCkpt(readStream(root, "startingVersion" -> "1"), ckpt)
    assert(run3.isEmpty)
  }

  test("a rewrite hop with no committed feed fails the stream loudly") {
    val root = freshDir("nofeed")
    mixedHistory(root)
    // destroy v3's (the delete's) feed: pre-feed history simulation
    assert(fs(root).delete(new Path(root, "changes-v3"), true))
    val e = intercept[StreamingQueryException] {
      drain(readStream(root, "startingVersion" -> "1"))
    }
    assert(e.getMessage.contains("no committed change feed") ||
      Option(e.getCause).exists(_.getMessage.contains("no committed change feed")))
  }

  test("batch pins are rejected for streams; bad options are loud") {
    val root = freshDir("opts")
    mixedHistory(root)
    val e = intercept[IllegalArgumentException] {
      drain(readStream(root, "version" -> "2"))
    }
    assert(e.getMessage.contains("cannot pin"))
    val e2 = intercept[IllegalArgumentException] {
      drain(readStream(root, "startingVersion" -> "0"))
    }
    assert(e2.getMessage.contains("startingVersion"))
  }

  /** Checkpointed drain that records PER-BATCH row sets (admission-
    * control observability: how the engine paced the stream). */
  private def drainBatches(reader: DataFrame, ckpt: String,
      once: Boolean = false): Seq[Seq[(Long, String, Long)]] = {
    val batches =
      scala.collection.mutable.ArrayBuffer[Seq[(Long, String, Long)]]()
    val writer = reader.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = asTriples(df)
        batches.synchronized { batches += got }
        ()
      }
    val q = (if (once) writer.trigger(
      org.apache.spark.sql.streaming.Trigger.Once()) else writer).start()
    try { if (once) q.awaitTermination() else q.processAllAvailable() }
    finally q.stop()
    batches.toSeq
  }

  test("maxFilesPerTrigger splits the initial snapshot into bounded micro-batches") {
    val root = freshDir("paced_init")
    fs(root).delete(new Path(root), true)
    // 12 docs in 4 range-partitioned files of 3 rows each
    ScaleOps.publishSnapshot(spark, root,
      (0 until 12).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")))
    assert(ScaleOps.readSnapshot(spark, root).inputFiles.length === 4)
    val ckpt = freshDir("paced_init_ckpt")
    fs(ckpt).delete(new Path(ckpt), true)
    val batches = drainBatches(
      readStream(root, "maxFilesPerTrigger" -> "1"), ckpt)
      .filter(_.nonEmpty)
    // one file per batch: four batches of exactly 3 rows — not one
    // corpus-sized batch (the round-10 scale hazard)
    assert(batches.map(_.size) === Seq(3, 3, 3, 3))
    assert(batches.flatten.map(_._1).sorted === (0L until 12L))
    assert(batches.flatten.forall(t => t._2 == "insert" && t._3 == 1L))
  }

  test("maxBytesPerTrigger paces batches by manifest byte sizes (soft max, always progresses)") {
    val root = freshDir("paced_bytes")
    fs(root).delete(new Path(root), true)
    ScaleOps.publishSnapshot(spark, root,
      (0 until 12).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")))
    // every committed line carries its sz: field — byte planning is
    // manifest-only, zero per-file RPCs at trigger time
    val sizes = ScaleOps.manifestFileSizes(spark, root, 1L)
    assert(sizes.size === 4, s"missing sz: fields: $sizes")
    assert(sizes.values.forall(_ > 0L))
    // a budget of one smallest file admits exactly one file per
    // trigger: the first file always enters (soft-max progress, even
    // when it alone exceeds the budget), the second never fits
    val ckpt = freshDir("paced_bytes_ckpt")
    fs(ckpt).delete(new Path(ckpt), true)
    val batches = drainBatches(readStream(root,
      "maxBytesPerTrigger" -> sizes.values.min.toString), ckpt)
      .filter(_.nonEmpty)
    assert(batches.map(_.size) === Seq(3, 3, 3, 3),
      s"byte budget did not pace: ${batches.map(_.size)}")
    assert(batches.flatten.map(_._1).sorted === (0L until 12L))
    // an absurdly small budget still progresses one file at a time —
    // a compacted store can legitimately hold files larger than any
    // sane budget, and a stream that stalls forever is worse than a
    // batch that overshoots (Delta's soft-max semantics)
    val ckpt2 = freshDir("paced_bytes1_ckpt")
    fs(ckpt2).delete(new Path(ckpt2), true)
    val batches2 = drainBatches(readStream(root,
      "maxBytesPerTrigger" -> "1"), ckpt2).filter(_.nonEmpty)
    assert(batches2.map(_.size) === Seq(3, 3, 3, 3))
    // bad option values are loud
    val e = intercept[Exception] {
      drain(readStream(root, "maxBytesPerTrigger" -> "0"))
    }
    assert(e.getMessage.contains("maxBytesPerTrigger"))
  }

  test("size-less legacy manifest lines admit by file count (byte-budget back-compat)") {
    val root = freshDir("paced_legacy")
    fs(root).delete(new Path(root), true)
    ScaleOps.publishSnapshot(spark, root,
      (0 until 12).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")))
    // strip the sz: fields — the manifest a pre-byte-budget commit
    // wrote (this store's own scratch history, safe to rewrite)
    val man = new Path(root, "_manifests/v1.manifest")
    val f = fs(root)
    val in = f.open(man)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val stripped = text.replaceAll("\tsz:\\d+", "")
    assert(stripped != text)
    val out = f.create(man, true)
    out.write(stripped.getBytes("UTF-8")); out.close()
    assert(ScaleOps.manifestFileSizes(spark, root, 1L).isEmpty)
    // byte budget has nothing to spend against → the FILE budget
    // paces: 2 files per batch, never a stall, never a wrong skip
    val ckpt = freshDir("paced_legacy_ckpt")
    fs(ckpt).delete(new Path(ckpt), true)
    val batches = drainBatches(readStream(root,
      "maxBytesPerTrigger" -> "1", "maxFilesPerTrigger" -> "2"), ckpt)
      .filter(_.nonEmpty)
    assert(batches.map(_.size) === Seq(6, 6),
      s"legacy lines did not fall back to file-count pacing: ${batches.map(_.size)}")
    assert(batches.flatten.map(_._1).sorted === (0L until 12L))
  }

  test("multi-batch drain keeps whole-history parity with the batch change feed") {
    val root = freshDir("paced_parity")
    mixedHistory(root)
    val ckpt = freshDir("paced_parity_ckpt")
    fs(ckpt).delete(new Path(ckpt), true)
    val batches = drainBatches(readStream(root,
      "startingVersion" -> "1", "maxFilesPerTrigger" -> "1"), ckpt)
    assert(batches.count(_.nonEmpty) > 1, "pacing produced a single batch")
    // same rows as the unbounded batch read — pacing changes batch
    // boundaries, never content
    val want = asTriples(ScaleOps.changeFeedHops(spark, root, 0L, 5L))
    assert(batches.flatten.sorted === want)
    // no version's rows interleave with a later version's in any
    // batch out of order: batches arrive in version order
    val firstVersionPerBatch = batches.filter(_.nonEmpty).map(_.map(_._3).min)
    assert(firstVersionPerBatch === firstVersionPerBatch.sorted)
  }

  test("maxVersionsPerTrigger paces catch-up one commit per batch") {
    val root = freshDir("paced_vers")
    mixedHistory(root)
    val ckpt = freshDir("paced_vers_ckpt")
    fs(ckpt).delete(new Path(ckpt), true)
    val batches = drainBatches(readStream(root,
      "startingVersion" -> "1", "maxVersionsPerTrigger" -> "1"), ckpt)
      .filter(_.nonEmpty)
    // every non-empty batch carries exactly ONE commit version
    batches.foreach(b => assert(b.map(_._3).distinct.size === 1,
      s"batch mixed versions: ${b.map(_._3).distinct}"))
    assert(batches.flatten.sorted ===
      asTriples(ScaleOps.changeFeedHops(spark, root, 0L, 5L)))
  }

  test("a stream stopped MID-VERSION resumes at its file index — no replay, no gap") {
    val root = freshDir("paced_resume")
    fs(root).delete(new Path(root), true)
    ScaleOps.publishSnapshot(spark, root,
      (0 until 12).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")))
    val ckpt = freshDir("paced_resume_ckpt")
    fs(ckpt).delete(new Path(ckpt), true)
    // Trigger.Once: exactly one micro-batch (one file), then stop —
    // the offset checkpoint now points INTO version 1
    val run1 = drainBatches(readStream(root, "maxFilesPerTrigger" -> "1"),
      ckpt, once = true).flatten
    assert(run1.size === 3)
    // restart drains the REST: disjoint, complete, still bounded
    val run2 = drainBatches(readStream(root, "maxFilesPerTrigger" -> "1"),
      ckpt).filter(_.nonEmpty)
    assert(run2.map(_.size) === Seq(3, 3, 3))
    val all = (run1 ++ run2.flatten).map(_._1).sorted
    assert(all === (0L until 12L), "mid-version resume replayed or dropped rows")
  }

  test("a user-supplied stream schema is rejected loudly") {
    val root = freshDir("uschema")
    mixedHistory(root)
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-snapshot")
        .schema(new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long"))
        .load(root)
        .writeStream.format("memory").queryName("uschema_q").start()
    }
    assert(e.getMessage.contains("not honored"))
  }

  test("schema evolution mid-stream: old pinned schema projects, restart sees the new column") {
    val root = freshDir("evo")
    fs(root).delete(new Path(root), true)
    ScaleOps.publishSnapshot(spark, root, docs(0 until 10, "base"),
      statsCol = Some("doc_id"))
    val ckpt = freshDir("evo_ckpt")
    fs(ckpt).delete(new Path(ckpt), true)
    val run1 = drainCkpt(readStream(root, "startingVersion" -> "1"), ckpt)
    assert(run1.size === 10)
    // evolve while the stream is down
    ScaleOps.mergeIntoSnapshot(spark, root, "doc_id",
      Seq((3L, "upd3", 77L), (50L, "ins50", 88L))
        .toDF("doc_id", "text", "quality"),
      evolveSchema = true)
    // restart: the NEW schema is pinned; the evolved column arrives
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Option[Long], String)]()
    val q = readStream(root, "startingVersion" -> "1")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = df.select(col("doc_id"), col("quality"), col("_change_type"))
          .as[(Long, Option[Long], String)].collect().toSeq
        rows.synchronized { rows ++= got }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(rows.filter(_._3 == "insert").map(r => r._1 -> r._2).toMap ===
      Map(3L -> Some(77L), 50L -> Some(88L)))
  }
}
