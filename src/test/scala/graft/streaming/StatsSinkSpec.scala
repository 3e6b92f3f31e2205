package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The stats sink's micro-batch write: every batch's windows of a day
  * stay in the day's partition, and a replayed batch id replaces only
  * its own earlier files. */
class StatsSinkSpec extends SparkSpec {
  import spark.implicits._

  private def windows(stts: String*): DataFrame =
    stts.map(t => (t, s"$t +10s", 1L, Seq(7L))).toDF("stt", "edt", "pv_ct", "userIdSet")

  private def read(path: String): Seq[(String, String)] =
    spark.read.parquet(path).select("dt", "stt").as[(String, String)]
      .collect().sortBy(_._2).toSeq

  test("two batches on the same day keep both windows; a replayed id does not duplicate") {
    val path = java.nio.file.Files.createTempDirectory("stats-sink").toString + "/stats"
    val b0 = windows("2024-01-01 23:59:00", "2024-01-01 23:59:10")
    val b1 = windows("2024-01-01 23:59:20", "2024-01-02 00:00:00")
    Sinks.writeStatsBatch(b0, path, Seq("userIdSet"), batchId = 0L)
    Sinks.writeStatsBatch(b1, path, Seq("userIdSet"), batchId = 1L)
    val want = Seq(
      "2024-01-01" -> "2024-01-01 23:59:00", "2024-01-01" -> "2024-01-01 23:59:10",
      "2024-01-01" -> "2024-01-01 23:59:20", "2024-01-02" -> "2024-01-02 00:00:00")
    assert(read(path) === want)
    assert(!spark.read.parquet(path).columns.contains("userIdSet"))
    // at-least-once replay of batch 1: same rows, same table
    Sinks.writeStatsBatch(b1, path, Seq("userIdSet"), batchId = 1L)
    assert(read(path) === want)
    // a replay replaces its own earlier attempt, even across days
    Sinks.writeStatsBatch(windows("2024-01-01 23:59:30"), path, Seq("userIdSet"), batchId = 1L)
    assert(read(path) === want.take(2) :+ ("2024-01-01" -> "2024-01-01 23:59:30"))
    // no staging directory is left behind
    assert(new java.io.File(path).list().forall(_.startsWith("dt=")))
  }

  test("the whole-table form still replaces each day it writes") {
    val path = java.nio.file.Files.createTempDirectory("stats-table").toString + "/stats"
    Sinks.writeStatsBatch(windows("2024-01-01 23:59:00"), path, Seq("userIdSet"))
    Sinks.writeStatsBatch(windows("2024-01-01 23:59:10"), path, Seq("userIdSet"))
    assert(read(path) === Seq("2024-01-01" -> "2024-01-01 23:59:10"))
  }
}
