package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.SparkEntry

/** One client refreshing the dashboard: each round runs the eight ADS
  * panel queries (`SparkEntry.queries` b1-b8) once, each materialised
  * to the noop sink, in an order drawn from the seed and the round
  * number. The round (one refresh) is the unit of work: the median over
  * single panels jumps between the panels' own times.
  *
  * The first warm-up refresh writes each result as parquet, with the
  * query's oracle SQL beside it, for the independent check (check.py
  * runs the SQL in DuckDB over the same tables).
  */
final class AdsDashboard(ctx: Ctx, seed: Long) extends Workload {
  private val names = Seq("b1_gmv", "b2_topn_spu", "b3_topn_category", "b4_topn_trademark",
    "b5_province_map", "b6_visitor_ratios", "b7_hourly_curve", "b8_keyword_weighted")
  private val spark = ctx.spark
  private val data = ctx.inputs

  private case class Sample(round: Int, name: String, ms: Double, traced: Boolean)
  private case class Round(ms: Double, traced: Boolean, counters: Array[Long],
      blocksLeft: Int)
  private val samples = ArrayBuffer.empty[Sample]
  private val rounds = ArrayBuffer.empty[Round]
  private var failures = 0L
  private var attempts = 0L

  def setupFixtures(): Unit = {
    val oracle = SparkEntry.oracleSql
    Json.writeLines(s"${ctx.work}/oracle.jsonl",
      names.map(n => Json.obj("name" -> n, "sql" -> oracle.get(n))))
  }

  private def order(round: Int): Seq[String] = new Random(seed * 1000003L + round).shuffle(names)

  private def freeBlocks(): Int = {
    val persisted = spark.sparkContext.getPersistentRDDs.values
    persisted.foreach(_.unpersist(blocking = true))
    persisted.size
  }

  /** Two untimed refreshes: the first writes the results for the check,
    * the second lets JIT settle (refresh times still fall after one). */
  def warmup(): Unit = {
    names.foreach { n =>
      SparkEntry.queries(n)(spark, data).write.mode("overwrite")
        .parquet(s"${ctx.work}/results/$n")
      freeBlocks()
    }
    names.foreach { n =>
      SparkEntry.queries(n)(spark, data).write.format("noop").mode("overwrite").save()
      freeBlocks()
    }
  }

  private def runQuery(n: String): Option[Double] = {
    attempts += 1
    val (ok, ms) = Stats.timed {
      try {
        ctx.trace.span(s"ads.$n", "graft.operators") {
          SparkEntry.queries(n)(spark, data).write.format("noop").mode("overwrite").save()
        }
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
          false
      }
    }
    if (ok) Some(ms) else { failures += 1; None }
  }

  def run(deadlineMs: Long): Unit = {
    val half = System.currentTimeMillis() + (deadlineMs - System.currentTimeMillis()) / 2
    var meter: Meter = null
    var round = 0
    while (System.currentTimeMillis() < deadlineMs) {
      if (ctx.trace.enabled && !ctx.trace.active && System.currentTimeMillis() >= half) {
        ctx.trace.start(spark)
        meter = new Meter(ctx.trace)
      }
      val traced = ctx.trace.active
      val (_, ms) = Stats.timed {
        order(round).foreach { n =>
          runQuery(n).foreach(t => samples += Sample(round, n, t, traced))
        }
      }
      // blocks the round's queries left cached, freed before the next
      // round so rounds stay alike
      val left = freeBlocks()
      rounds += Round(ms, traced, if (meter == null) Array.emptyLongArray else meter.delta(), left)
      round += 1
    }
  }

  def report(r: Report): Unit = {
    val untraced = rounds.filter(!_.traced).map(_.ms).toSeq
    val traced = rounds.filter(_.traced).toSeq
    val untracedMs = untraced.sum
    r.attempted = attempts
    r.failed = failures
    r.e2e("throughput_per_s", "1/s", samples.count(!_.traced) / (untracedMs / 1000.0))
    r.e2e("latency_p50_ms", "ms", Stats.quantile(untraced, 0.5))
    r.info("rounds", rounds.size)
    if (ctx.trace.enabled) {
      r.layer("ads.refresh_p90_ms", "ms", Stats.quantile(traced.map(_.ms), 0.9))
      r.layer("trace.overhead_ms", "ms", Stats.quantile(traced.map(_.ms), 0.5) - Stats.quantile(untraced, 0.5))
      names.foreach { n =>
        r.layer(s"ads.${n}_ms", "ms",
          Stats.quantile(samples.filter(s => s.traced && s.name == n).map(_.ms).toSeq, 0.5))
      }
      def per(i: Int) = if (traced.isEmpty) 0.0 else traced.map(_.counters(i).toDouble).sum / traced.size
      r.layer("ads.executor_cpu_ms", "ms", per(0) / 1e6)
      r.layer("ads.gc_ms", "ms", per(1))
      r.layer("ads.shuffle_bytes", "bytes", per(2))
      r.layer("ads.bytes_read", "bytes", per(3))
      r.layer("ads.tasks", "count", per(4))
      r.layer("ads.plan_ms", "ms", per(5))
      r.layer("ads.codegen_compile_ms", "ms", per(6) / 1e6)
      r.layer("ads.cached_blocks_left", "count",
        if (rounds.isEmpty) 0.0 else rounds.map(_.blocksLeft).max.toDouble)
    }
  }
}
