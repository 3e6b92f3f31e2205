package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.operators.ScaleOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The snapshot store used for writes and reads at once. A seeded
  * stream of CDC row images is merged version by version through
  * `ScaleOps.snapshotMergeOnce` into a published store; every round is
  * one merge commit, then [[lookupsPerRound]] point lookups
  * (`readSnapshotKeyLookup`) and one full scan (`readSnapshot`) of the
  * latest version.
  *
  * Each lookup's rows and the final table are written out, and
  * check.py compares them with a last-write-wins fold of the same
  * inputs.
  */
final class LakehouseUpsert(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val root = s"${ctx.work}/store"
  private val lookupsPerRound = 2
  private val storeFiles = 8

  private var batches: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var keySets: IndexedSeq[Seq[Long]] = IndexedSeq.empty
  private var next = 0          // next CDC batch to merge
  private var nextLookup = 0

  private case class Op(kind: String, ms: Double, traced: Boolean,
      extra: Map[String, Double] = Map.empty, warm: Boolean = false)
  private var warming = false
  private val ops = ArrayBuffer.empty[Op]
  private val lookupOut = ArrayBuffer.empty[Json.Obj]
  private var failures = 0L
  private var attempts = 0L

  def setupFixtures(): Unit = {
    val docs = spark.read.parquet(s"${ctx.inputs}/documents.parquet")
    ScaleOps.publishSnapshot(spark, root,
      docs.repartitionByRange(storeFiles, col("doc_id")),
      statsCol = Some("doc_id"), statsBloom = true)
    val cdc = spark.read.parquet(s"${ctx.inputs}/cdc.parquet")
    val schema = cdc.drop("batch").schema
    // CDC batches as in-memory frames, so a merge reads no input file
    batches = cdc.collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        spark.createDataFrame(java.util.Arrays.asList(rows.map(r =>
          Row.fromSeq(r.toSeq.tail)): _*), schema)
      }.toIndexedSeq
    val src = scala.io.Source.fromFile(s"${ctx.inputs}/lookups.txt")
    keySets = try src.getLines().map(_.trim.split("\\s+").map(_.toLong).toSeq).toIndexedSeq
      finally src.close()
  }

  private def liveFiles(v: Long): Set[String] =
    ScaleOps.readSnapshot(spark, root, Some(v)).inputFiles.toSet

  private def attempt(kind: String)(body: => Map[String, Double]): Unit = {
    attempts += 1
    val traced = ctx.trace.active
    try {
      val t0 = System.nanoTime()
      val extra = body
      ops += Op(kind, (System.nanoTime() - t0) / 1e6, traced, extra, warming)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: ${e.getMessage}")
        failures += 1
    }
  }

  private def round(): Unit = {
    val b = next
    next += 1
    val before = if (ctx.trace.active) Fs.files(new File(root)).map(f => f.getPath -> f.length).toMap else Map.empty[String, Long]
    attempt("commit") {
      ctx.trace.span("snapshot.snapshotMergeOnce", "snapshot") {
        ScaleOps.snapshotMergeOnce(spark, root, "doc_id", batches(b), s"cdc-$b")
      }
      Map.empty
    }
    if (ctx.trace.active) {
      val after = Fs.files(new File(root)).map(f => f.getPath -> f.length).toMap
      val added = after.keySet -- before.keySet
      val vs = ScaleOps.snapshotVersions(spark, root)
      val rewritten = (liveFiles(vs(vs.size - 2)) -- liveFiles(vs.last)).size
      ops += Op("commit_files", 0, traced = true, Map(
        "files" -> added.size.toDouble, "bytes" -> added.toSeq.map(after).sum.toDouble,
        "rewritten" -> rewritten.toDouble))
    }
    val version = ScaleOps.snapshotVersions(spark, root).last
    for (_ <- 0 until lookupsPerRound) {
      val keys = keySets(nextLookup % keySets.size)
      nextLookup += 1
      attempt("lookup") {
        val (df, planMs) = Stats.timed(ctx.trace.span("snapshot.readSnapshotKeyLookup", "snapshot") {
          ScaleOps.readSnapshotKeyLookup(spark, root, None, "doc_id", keys)
        })
        val rows = ctx.trace.span("snapshot.lookup_collect", "snapshot")(df.collect())
        lookupOut += Json.obj("version" -> version, "applied" -> (b + 1), "keys" -> keys,
          "rows" -> rows.map(r => Json.obj("doc_id" -> r.getAs[Long]("doc_id"),
            "text" -> r.getAs[String]("text"), "lang" -> r.getAs[String]("lang"),
            "source" -> r.getAs[String]("source"), "n_chars" -> r.getAs[Long]("n_chars"))).toSeq)
        Map("plan_ms" -> planMs,
          "files" -> (if (ctx.trace.active) df.inputFiles.length.toDouble else 0.0))
      }
    }
    attempt("scan") {
      ctx.trace.span("snapshot.readSnapshot", "snapshot") {
        ScaleOps.readSnapshot(spark, root).write.format("noop").mode("overwrite").save()
      }
      Map.empty
    }
  }

  /** Two untimed rounds, so JIT has settled before the first timed one. */
  def warmup(): Unit = { warming = true; round(); round(); warming = false }

  def run(deadlineMs: Long): Unit = {
    val half = System.currentTimeMillis() + (deadlineMs - System.currentTimeMillis()) / 2
    while (System.currentTimeMillis() < deadlineMs && next < batches.size) {
      if (ctx.trace.enabled && System.currentTimeMillis() >= half) ctx.trace.start(spark)
      round()
    }
  }

  def report(r: Report): Unit = {
    val timed = ops.filter(o => !o.warm && !o.traced && o.kind != "commit_files").toSeq
    def ms(kind: String, traced: Boolean) =
      ops.filter(o => !o.warm && o.kind == kind && o.traced == traced).map(_.ms).toSeq
    r.attempted = attempts
    r.failed = failures
    r.e2e("throughput_per_s", "1/s", timed.size / (timed.map(_.ms).sum / 1000.0))
    r.e2e("latency_p50_ms", "ms", Stats.quantile(ms("commit", false), 0.5))
    r.info("commits", ops.count(_.kind == "commit"))
    if (ctx.trace.enabled) {
      val tr = ops.filter(_.traced).toSeq
      def med(kind: String, key: String) =
        Stats.quantile(tr.filter(_.kind == kind).map(_.extra.getOrElse(key, 0.0)), 0.5)
      r.layer("trace.overhead_ms", "ms",
        Stats.quantile(ms("commit", true), 0.5) - Stats.quantile(ms("commit", false), 0.5))
      r.layer("snapshot.commit_p90_ms", "ms", Stats.quantile(ms("commit", true), 0.9))
      r.layer("snapshot.read_p50_ms", "ms", Stats.quantile(ms("lookup", true), 0.5))
      r.layer("snapshot.commit_files_written", "count", med("commit_files", "files"))
      r.layer("snapshot.commit_bytes_written", "bytes", med("commit_files", "bytes"))
      r.layer("snapshot.files_rewritten", "count", med("commit_files", "rewritten"))
      r.layer("snapshot.lookup_plan_ms", "ms", med("lookup", "plan_ms"))
      r.layer("snapshot.lookup_exec_ms", "ms", Stats.quantile(tr.filter(_.kind == "lookup")
        .map(o => o.ms - o.extra.getOrElse("plan_ms", 0.0)), 0.5))
      r.layer("snapshot.lookup_files_read", "count", med("lookup", "files"))
      r.layer("snapshot.scan_ms", "ms", Stats.quantile(ms("scan", true), 0.5))
      val live = liveFiles(ScaleOps.snapshotVersions(spark, root).last)
      val liveBytes = live.toSeq.map(p => new File(new java.net.URI(p)).length).sum
      r.layer("snapshot.live_files", "count", live.size.toDouble)
      r.layer("snapshot.space_amp", "ratio",
        Fs.files(new File(root)).filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble /
          math.max(1L, liveBytes))
    }
    Json.writeLines(s"${ctx.work}/lookups.jsonl", lookupOut)
    ScaleOps.readSnapshot(spark, root).write.mode("overwrite").parquet(s"${ctx.work}/final_table")
    r.info("applied_batches", next)
  }
}
