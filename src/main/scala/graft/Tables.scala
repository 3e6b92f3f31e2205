package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Try

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Every query receives the scale-factor directory at call time, so the
  * same code runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench).
  * Reads are parquet scans under the schema of the table's footer
  * ([[readParquet]]), so building a query's frame starts no Spark job;
  * Catalyst pushes filters/projections down to the scan, so no manual
  * column selection is needed here.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** `s.read.parquet(paths: _*)` without the one-task Spark job its
    * schema inference starts: the schema is read in this process from
    * the footer Spark's non-merging inference would pick
    * ([[SqlShims.parquetFooterSchema]]) and handed to the reader. Where
    * that choice cannot be reproduced exactly — schema merging is on,
    * a path is missing or a glob, a directory holds a visible
    * subdirectory (partition discovery), a `_metadata` or
    * `_common_metadata` summary file, or no data file at all, or the
    * footer does not read — this is a plain `s.read.parquet`, so Spark
    * infers and raises its own errors. Every fixed-schema parquet read
    * goes through here. */
  private[graft] def readParquet(s: SparkSession, paths: String*): DataFrame =
    flatLeafFiles(s, paths)
      .flatMap(files => Try(SqlShims.parquetFooterSchema(s, files)).toOption.flatten)
      .fold(s.read.parquet(paths: _*))(s.read.schema(_).parquet(paths: _*))

  /** The data files Spark's listing of `paths` finds when every path is
    * a file or a directory of files; None otherwise (see [[readParquet]]). */
  private[graft] def flatLeafFiles(s: SparkSession, paths: Seq[String]): Option[Seq[String]] = {
    val conf = SqlShims.hadoopConf(s)
    // names Spark's file listing skips (HadoopFSUtils.shouldFilterOutPathName)
    def skipped(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    // summaries: listed despite the `_`, and inferred from before any data file
    def summary(n: String) = n.startsWith("_metadata") || n.startsWith("_common_metadata")
    val leaves = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (p.exists("{}[]*?\\".contains(_))) None
      else Try(fs.getFileStatus(path)).toOption.flatMap { st =>
        val seen = (if (st.isFile) Seq(st) else fs.listStatus(path).toSeq)
          .filter(c => summary(c.getPath.getName) || !skipped(c.getPath.getName))
        if (seen.exists(c => c.isDirectory || summary(c.getPath.getName)) ||
            (st.isFile && seen.isEmpty)) None
        else Some(seen.map(_.getPath.toString))
      }
    }
    val files = leaves.flatten.flatten
    if (leaves.contains(None) || files.isEmpty) None else Some(files)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped as two physical types across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read as long via nanosAsLong, truncate to micros, the
    * same truncation DuckDB applies) and plain TIMESTAMP(MICROS)
    * (read natively as TIMESTAMP_NTZ). This loader detects the
    * physical type from the file schema and normalizes both to a
    * session-local TimestampType column; with the UTC session
    * timezone every entry point pins, the wall-clock values are
    * identical either way, so event times agree engine-side and
    * oracle-side.
    *
    * The nanosAsLong switch is only honored as a SESSION conf (a
    * per-read `.option(...)` is ignored by the parquet schema
    * converter — verified empirically), so this loader must set it;
    * it does so idempotently and never unsets, because the scan reads
    * the conf lazily at plan/execution time. It is a no-op for
    * micros-typed files. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val k = "spark.sql.legacy.parquet.nanosAsLong"
    if (!s.conf.getOption(k).contains("true")) s.conf.set(k, "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** A named batch query plus the ANSI-SQL twin DuckDB runs as the
  * correctness oracle. Column names and value types must match
  * exactly between the two (the driver hashes values under sorted
  * column names).
  *
  * Conventions that make Spark and DuckDB results hash-identical
  * (empirically validated against the driver's gate in round 1):
  *
  *  - Money/measures: cast doubles to DECIMAL(12,2) *before* any
  *    arithmetic, keep arithmetic exact (no division), and cast the
  *    FINAL output column to DOUBLE on BOTH sides. Never emit a
  *    DECIMAL output column — the driver's float-normalized hash
  *    rejects the trailing-zero/scale padding in decimal rendering
  *    (round-1 b1–b5 all failed on exactly this). The exact→double
  *    conversion is identical in both engines while the unscaled
  *    decimal stays below 2^53.
  *  - Ratios: compute on exact integers/decimals, then cast operands
  *    to DOUBLE and divide — IEEE doubles are deterministic across
  *    engines for the same expression shape. Derived floats that are
  *    folds (dot products) must fold in the same order on both sides
  *    (graft.functions.Portable).
  *  - Timestamps in outputs: format to strings ("yyyy-MM-dd HH:mm:ss")
  *    to dodge physical-type mismatches.
  *  - Every query ends with a total ORDER BY (unique tiebreak) so row
  *    order is deterministic even if the driver doesn't sort rows.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
