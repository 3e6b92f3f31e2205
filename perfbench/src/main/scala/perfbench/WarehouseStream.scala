package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.streaming._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

/** The reference's visitor job as one streaming query over pre-staged
  * app-log files, drained one file per trigger: BaseLogApp
  * (`Sources.parseWithDirty` with its dirty side channel,
  * `Jobs.splitLog`/`toPageLog`, the is_new repair `Jobs.repairIsNew`)
  * feeding VisitorStatsApp (`Jobs.visitorStats10s`) and KeywordStatsApp
  * (`Jobs.keywordStats10s`, the graft_tokenize kernel), with a 1 s
  * watermark on 10 s windows. One foreachBatch sink writes the stats
  * rows through `Sinks.writeStatsBatch`.
  *
  * Every output row carries its kind, so one query and one sink serve
  * all branches: a micro-batch is one file through the whole job, the
  * unit of work `latency_p50_ms` times (trigger start to sink commit,
  * the `triggerExecution` of the batch's progress).
  */
final class WarehouseStream(ctx: Ctx) extends Workload {
  private val spark = ctx.spark

  private val in = ctx.inputs
  private val work = ctx.work
  private val sinkRoot = s"$work/sink"
  private val ckpt = s"$work/checkpoint"
  /** Input-carrying batches run before the timed phase: the first
    * triggers pay query planning, codegen and state-store creation. */
  private val warmBatches = 6
  /** The text source feeds three branches (visitor, keyword, dirty), and
    * a batch's numInputRows counts each file line once per branch. */
  private val branches = 3

  private val progress = ArrayBuffer.empty[StreamingQueryProgress]
  private val captured = ArrayBuffer.empty[(Long, Seq[Row])]
  private val sinkWriteNs = ArrayBuffer.empty[(Long, Long)]
  @volatile private var query: StreamingQuery = _

  private val envelope = StructType(Seq(
    StructField("kind", StringType), StructField("stt", StringType),
    StructField("edt", StringType), StructField("k", StringType),
    StructField("a", LongType), StructField("b", LongType), StructField("c", LongType)))

  private def tag(df: DataFrame, kind: String, cols: (String, org.apache.spark.sql.Column)*) = {
    val m = cols.toMap
    df.select(envelope.fields.map { f =>
      if (f.name == "kind") lit(kind).as("kind")
      else m.getOrElse(f.name, lit(null)).cast(f.dataType).as(f.name)
    }: _*)
  }

  private def job(): DataFrame = {
    val raw = spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
      .option("maxFilesPerTrigger", "1")
      .format("text").load(s"$in/log")
    val (clean, dirty) = Sources.parseWithDirty(raw, Sources.logSchema)
    val page = Jobs.splitLog(clean)._2
    val visitor = Jobs.visitorStats10s(
      Jobs.visitorMeasures(Jobs.repairIsNew(spark, Jobs.toPageLog(spark, page)))
        .withWatermark("ts", "1 second"))
    val keyword = Jobs.keywordStats10s(
      page.select(timestamp_millis(col("ts")).as("ts"), col("page")("item").as("item"))
        .withWatermark("ts", "1 second"))
    tag(visitor, "visitor", "stt" -> col("stt"), "edt" -> col("edt"),
      "k" -> col("is_new"), "a" -> col("pv_ct"), "b" -> col("sv_ct"), "c" -> col("dur_sum"))
      .unionByName(tag(keyword, "keyword", "stt" -> col("stt"), "edt" -> col("edt"),
        "k" -> col("keyword"), "a" -> col("ct")))
      .unionByName(tag(dirty, "dirty", "k" -> col("dirty_raw")))
  }

  /** The foreachBatch body: the DWS rows, both kinds in one table,
    * through the program's stats sink; the dirty side channel is kept
    * in memory only. Every row is also kept, in batch order, for the
    * check. */
  private def sinkBatch(batch: DataFrame, id: Long): Unit = {
    batch.persist()
    try {
      val rows = batch.collect().toSeq // bounded: a few dozen rows per file
      val t0 = System.nanoTime()
      ctx.trace.span("streaming.Sinks.writeStatsBatch", "graft.streaming") {
        Sinks.writeStatsBatch(batch.filter(col("kind") =!= "dirty"), s"$sinkRoot/stats", Nil)
      }
      synchronized {
        sinkWriteNs += id -> (System.nanoTime() - t0)
        captured += id -> rows
      }
    } finally batch.unpersist()
  }

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      WarehouseStream.this.synchronized { progress += e.progress }
  }

  def setupFixtures(): Unit = {
    spark.streams.addListener(listener)
    query = job().writeStream.queryName("visitor_job")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, id: Long) => sinkBatch(b, id))
      .start()
  }

  private def batches(): Seq[StreamingQueryProgress] = synchronized(progress.toList)
  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
  private def endMs(p: StreamingQueryProgress): Long =
    startMs(p) + p.durationMs.get("triggerExecution")

  private var timedFrom = -1L

  def warmup(): Unit = {
    while (batches().count(p => p.numInputRows > 0 && p.batchId < warmBatches) < warmBatches) {
      query.exception.foreach(throw _)
      Thread.sleep(10)
    }
    timedFrom = batches().filter(_.batchId < warmBatches).map(endMs).max
  }

  override def timedStartMs: Long = timedFrom

  private var tracedFrom = Long.MaxValue

  def run(deadlineMs: Long): Unit = {
    val half = (timedFrom + deadlineMs) / 2
    val files = new File(s"$in/log").list().length
    while (System.currentTimeMillis() < deadlineMs && query.exception.isEmpty &&
      batches().count(_.numInputRows > 0) < files) {
      if (ctx.trace.enabled && !ctx.trace.active && System.currentTimeMillis() >= half) {
        ctx.trace.start(spark)
        tracedFrom = System.currentTimeMillis()
      }
      Thread.sleep(10)
    }
    // a failure before the deadline is the program's; stopping may
    // interrupt a batch mid-write, which is not
    val failed = query.exception
    query.stop()
    failed.foreach(throw _)
  }

  def report(r: Report): Unit = {
    spark.streams.removeListener(listener)
    val all = batches().sortBy(_.batchId)
    Fs.writeLines(s"$work/progress.jsonl", all.map(_.json.replace("\n", "")))
    val deadline = timedFrom + ctx.seconds * 1000L
    // a timed batch carried input, ran after the warm-up and ended by
    // the deadline
    val measured = all.filter(p => p.numInputRows > 0 && p.batchId >= warmBatches &&
      endMs(p) <= deadline)
    def ms(ps: Seq[StreamingQueryProgress]) = ps.map(_.durationMs.get("triggerExecution").toDouble)
    // with --trace 1 the batches that started after the listeners were
    // attached are the traced half
    val (traced, timed) = measured.partition(p => startMs(p) >= tracedFrom)
    val lat = ms(timed)
    val lines = timed.map(_.numInputRows).sum / branches
    r.attempted = measured.size
    r.e2e("throughput_per_s", "1/s", lines / (lat.sum / 1000.0))
    r.e2e("latency_p50_ms", "ms", Stats.quantile(lat, 0.5))
    r.info("timed_batches", timed.size)
    if (ctx.trace.enabled)
      r.layer("trace.overhead_ms", "ms", Stats.quantile(ms(traced), 0.5) - Stats.quantile(lat, 0.5))
    r.info("input_lines", lines)
    def med(key: String) = Stats.quantile(traced.map(p =>
      Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)), 0.5)
    def state(p: StreamingQueryProgress)(f: StateOperatorProgress => Double) =
      p.stateOperators.map(f).sum
    r.layer("streaming.batch_p90_ms", "ms", Stats.quantile(ms(traced), 0.9))
    r.layer("streaming.add_batch_ms", "ms", med("addBatch"))
    r.layer("streaming.wal_commit_ms", "ms", med("walCommit"))
    r.layer("streaming.commit_offsets_ms", "ms", med("commitOffsets"))
    r.layer("streaming.latest_offset_ms", "ms", med("latestOffset"))
    r.layer("streaming.query_planning_ms", "ms", med("queryPlanning"))
    r.layer("streaming.state_commit_ms", "ms",
      Stats.quantile(traced.map(state(_)(_.commitTimeMs.toDouble)), 0.5))
    r.layer("streaming.state_rows", "count",
      all.lastOption.map(state(_)(_.numRowsTotal.toDouble)).getOrElse(0.0))
    r.layer("streaming.state_bytes", "bytes",
      all.lastOption.map(state(_)(_.memoryUsedBytes.toDouble)).getOrElse(0.0))
    val late = all.map(state(_)(_.numRowsDroppedByWatermark.toDouble)).sum
    r.layer("streaming.rows_dropped_late", "count", late)
    r.layer("streaming.no_data_batches", "count",
      all.count(p => p.numInputRows == 0 && p.batchId >= warmBatches).toDouble)
    val timedIds = traced.map(_.batchId).toSet
    r.layer("streaming.sink_write_ms", "ms", Stats.quantile(
      synchronized(sinkWriteNs.toList).filter(x => timedIds(x._1)).map(_._2 / 1e6), 0.5))
    val out = synchronized(captured.toList).sortBy(_._1)
    r.layer("streaming.rows_out", "count", out.map(_._2.size).sum.toDouble)
    r.layer("streaming.dirty_rows", "count", out.flatMap(_._2).count(_.getString(0) == "dirty").toDouble)
    r.layer("streaming.files_written_per_batch", "count",
      (Fs.countFiles(new File(ckpt)) + Fs.countFiles(new File(sinkRoot))).toDouble /
        math.max(1, all.size))
    ctx.taskStats.foreach { ts =>
      val n = math.max(1, all.count(p => startMs(p) >= tracedFrom))
      r.layer("streaming.executor_cpu_ms", "ms", ts.cpuNs / 1e6 / n)
      r.layer("streaming.gc_ms", "ms", ts.gcMs.toDouble / n)
      r.layer("streaming.shuffle_bytes", "bytes", ts.shuffleBytes.toDouble / n)
    }
    // every completed batch's output, in order, and how far the job got
    Json.writeLines(s"$work/outputs.jsonl", out.flatMap { case (id, rs) =>
      rs.map(row => Json.obj("batch" -> id, "kind" -> row.getString(0), "stt" -> row.get(1),
        "edt" -> row.get(2), "k" -> row.get(3), "a" -> row.get(4), "b" -> row.get(5),
        "c" -> row.get(6)))
    })
    val done = out.map(_._1).toSet
    val last = all.filter(p => p.numInputRows > 0 && done(p.batchId)).lastOption
    r.info("files_done", all.count(p => p.numInputRows > 0 && done(p.batchId)))
    r.info("watermark_ms", last.map(p => java.time.Instant.parse(
      p.eventTime.getOrDefault("watermark", "1970-01-01T00:00:00Z")).toEpochMilli).getOrElse(0L))
    r.info("rows_dropped_late", late)
  }
}
