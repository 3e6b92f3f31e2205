package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload in one JVM: session, fixtures, untimed warm-up, a timed
  * closed loop of `--seconds`, then a report written as JSON to `--out`.
  *
  *   perfbench.Main --workload <name> --inputs <dir> --work <dir>
  *     --seconds <n> --trace <0|1> --cpus <n> --out <file>
  *
  * With `--trace 1` the timed phase is split in two: the first half runs
  * untraced, the second half with spans, a SparkListener and a
  * QueryExecutionListener attached. Per-layer metrics come from the
  * traced half; `trace.overhead_ms` is the traced minus the untraced
  * median of the unit of work. run.py generates the inputs, starts this
  * JVM and checks what it wrote.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cpus = opt("cpus").toInt
    val report = new Report
    val work = new File(opt("work"))
    work.mkdirs()

    val (spark, sessionMs) = Stats.timed {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val trace = new Trace(enabled = opt("trace") == "1")
    val ctx = Ctx(spark, opt("inputs"), work.getAbsolutePath, opt("seconds").toInt, trace)
    val w: Workload = workload match {
      case "warehouse_stream" => new WarehouseStream(ctx)
      case "ads_dashboard" => new AdsDashboard(ctx, opt("seed").toLong)
      case "lakehouse_upsert" => new LakehouseUpsert(ctx)
    }
    val (_, fixturesMs) = Stats.timed(w.setupFixtures())
    val (_, warmupMs) = Stats.timed(w.warmup())
    val start = w.timedStartMs
    w.run(start + ctx.seconds * 1000L)
    w.report(report)
    trace.finish(report, s"${work.getAbsolutePath}/spans.jsonl")
    report.layer("setup.session_ms", "ms", sessionMs)
    report.layer("setup.fixtures_ms", "ms", fixturesMs)
    report.layer("setup.warmup_ms", "ms", warmupMs)
    report.layer("process.peak_rss_mb", "MB", Fs.peakRssMb())
    report.info("first_timed_epoch_ms", start)
    spark.stop()
    Files.write(Paths.get(opt("out")), report.toJson.getBytes(StandardCharsets.UTF_8))
  }
}

final case class Ctx(spark: SparkSession, inputs: String, work: String,
    seconds: Int, trace: Trace) {
  /** Task metrics of the traced half, when tracing. */
  def taskStats: Option[TaskStats] = trace.taskStats
}

/** A workload's life cycle, in call order. */
trait Workload {
  /** Untimed: fixtures the timed loop reads (stores, indexes, queries). */
  def setupFixtures(): Unit
  /** Untimed: one round of the timed work, so JIT and codegen are warm. */
  def warmup(): Unit
  /** Epoch ms at which the timed phase starts (after warm-up). */
  def timedStartMs: Long = System.currentTimeMillis()
  /** The timed closed loop: whole rounds until `deadlineMs`. */
  def run(deadlineMs: Long): Unit
  /** End-to-end metrics, per-layer metrics and outputs for the check. */
  def report(r: Report): Unit
}

/** Collected metrics; written as one JSON object. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val infos = mutable.LinkedHashMap.empty[String, Any]
  def e2e(name: String, unit: String, v: Double): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, unit: String, v: Double): Unit = layerMetrics(name) = (v, unit)
  def info(name: String, v: Any): Unit = infos(name) = v
  def toJson: String = {
    def ms(m: mutable.LinkedHashMap[String, (Double, String)]) =
      Json.obj(m.toSeq.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }: _*)
    Json.obj("attempted" -> attempted, "failed" -> failed, "e2e" -> ms(e2eMetrics),
      "layers" -> ms(layerMetrics), "info" -> Json.obj(infos.toSeq: _*)).toString
  }
}

object Stats {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Fs {
  def countFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(countFiles).sum).getOrElse(0)
    else 1

  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else Seq(f)

  def writeLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  /** VmHWM of this process, from /proc/self/status (0 where absent). */
  def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0.0
    else {
      val src = scala.io.Source.fromFile(p.toFile)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }
  }
}

/** Minimal JSON writer for the report and the captured outputs. */
object Json {
  final class Obj(val fields: Seq[(String, Any)]) {
    override def toString: String =
      fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  }
  def obj(fields: (String, Any)*): Obj = new Obj(fields)
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case o: Obj => o.toString
    case m: scala.collection.Map[_, _] => new Obj(m.toSeq.map { case (k, x) => k.toString -> x }).toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def writeLines(path: String, rows: Iterable[Obj]): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8)
    try rows.foreach { r => w.write(r.toString); w.write('\n') } finally w.close()
  }
}
