package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** [[Tables.readParquet]] — the job-free parquet read — gives exactly
  * the schema `spark.read.parquet` infers, nullability included, and
  * in every case it cannot reproduce (merging, summary files,
  * partition discovery, no data file) Spark's own schema or error. */
class TablesReadSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def freshDir(tag: String): String = {
    val dir = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_tablesread_$tag")
    fs.delete(dir, true)
    dir.toString
  }

  private def fs =
    new Path(spark.conf.get("spark.sql.warehouse.dir"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A read's schema, or its failure as the exception class plus
    * Spark's error condition. */
  private def outcome(df: => DataFrame): Either[String, StructType] =
    try Right(df.schema) catch {
      case e: Exception => Left(e.getClass.getName + "/" + (e match {
        case t: SparkThrowable => t.getCondition
        case _ => ""
      }))
    }

  private def same(paths: String*): Unit = {
    val inferred = outcome(spark.read.parquet(paths: _*))
    assert(outcome(Tables.readParquet(spark, paths: _*)) === inferred, paths)
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("every testdata table reads with Spark's inferred schema, events under both nanos settings") {
    val tables = new java.io.File(sf).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
    assert(tables.length === 10)
    tables.foreach(t => same(s"$sf/$t"))
    for (nanosAsLong <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong) {
        same(s"$sf/events.parquet")
      }
  }

  test("a Spark-written directory with _SUCCESS, .crc and dot files; nested, non-nullable fields") {
    val dir = freshDir("written")
    val strict = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("meta", StructType(Seq(
        StructField("w", IntegerType, nullable = false),
        StructField("tags", ArrayType(StringType, containsNull = false)))),
        nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, Row(10, Seq("a"))), Row(2L, Row(20, Seq("b", "c")))), strict)
      .repartition(2).write.parquet(dir)
    // the local FS hides its .crc sidecars from listings; a dot file
    // that is no parquet at all must be skipped as Spark skips it
    val local = new java.io.File(new Path(dir).toUri)
    java.nio.file.Files.write(new java.io.File(local, ".notes").toPath, "not parquet".getBytes)
    val names = local.list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    same(dir)
    assert(jobsOf(Tables.readParquet(spark, dir)).isEmpty)
    assert(Tables.flatLeafFiles(spark, Seq(dir)).map(_.map(new Path(_).getName).sorted) ===
      Some(names.filter(_.startsWith("part-")).sorted))
    same(fs.listStatus(new Path(dir)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).sorted.reverse.toSeq: _*)
  }

  test("fallbacks: merging on, a summary file, a k=v partition, a glob, no data file, a bad footer") {
    // two footers that disagree: inference reads the first, merging both
    val evo = freshDir("merge")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$evo/a")
    Seq((2L, "b", 3)).toDF("id", "s", "q").write.parquet(s"$evo/b")
    val files = Seq("a", "b").flatMap(d => fs.listStatus(new Path(evo, d))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")))
    same(files: _*)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(outcome(Tables.readParquet(spark, files: _*)).map(_.fieldNames.toSeq) ===
        Right(Seq("id", "s", "q")))
      same(files: _*)
    }
    // a _common_metadata summary wins over the data footers
    val summ = freshDir("summary")
    Seq((1L, "a")).toDF("id", "s").write.parquet(summ)
    FileUtil.copy(fs, new Path(files.last), fs,
      new Path(summ, "_common_metadata"), false, spark.sparkContext.hadoopConfiguration)
    assert(outcome(Tables.readParquet(spark, summ)).map(_.fieldNames.toSeq) ===
      Right(Seq("id", "s", "q")))
    same(summ)
    // partition discovery adds the k column
    val part = freshDir("partitioned")
    Seq((1L, "x"), (2L, "y")).toDF("id", "k").write.partitionBy("k").parquet(part)
    assert(outcome(Tables.readParquet(spark, part)).map(_.fieldNames.toSeq) ===
      Right(Seq("id", "k")))
    same(part)
    // no leaf files: Spark's own errors
    val empty = freshDir("empty")
    fs.mkdirs(new Path(empty))
    assert(outcome(Tables.readParquet(spark, empty)).isLeft)
    same(empty)
    val missing = freshDir("missing")
    assert(outcome(Tables.readParquet(spark, missing)).isLeft)
    same(missing)
    same(s"$evo/*/*.parquet")
    // the listing itself refuses each of these, before any footer read
    Seq(summ, part, empty, missing, s"$evo/*/*.parquet").foreach(p =>
      assert(Tables.flatLeafFiles(spark, Seq(p)).isEmpty, p))
    // an unreadable footer: Spark's own error, not the footer reader's
    val bad = freshDir("badfooter")
    fs.mkdirs(new Path(bad))
    java.nio.file.Files.write(new java.io.File(new Path(bad, "part-0.parquet").toUri).toPath,
      "not parquet".getBytes)
    assert(outcome(Tables.readParquet(spark, bad)).isLeft)
    same(bad)
  }

  test("building any b1-b8 panel frame starts no Spark job") {
    val panels = Bench.headline
    assert(panels.size === 8)
    panels.foreach { n =>
      val jobs = jobsOf(SparkEntry.queries(n)(spark, sf))
      assert(jobs.isEmpty, s"$n started ${jobs.size} job(s) while planning")
    }
    // control: the same table through Spark's inference does start one
    assert(jobsOf(spark.read.parquet(s"$sf/orders.parquet")).nonEmpty)
  }
}
