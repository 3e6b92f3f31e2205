package org.apache.spark.sql.graft

import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame, Dataset => ClassicDataset}
import org.apache.spark.sql.{DataFrame, Row}

/** The Spark-internal accesses the snapshot streaming connector
  * needs, isolated here (this file lives inside the
  * org.apache.spark.sql package tree solely to satisfy
  * `private[sql]`); every other graft/Spark interaction uses the
  * public API. All three are the standard v1-connector/DML-command
  * shims Delta's connector uses for exactly the same jobs. */
object SqlShims {

  /** Re-root `df`'s physical plan under a streaming-flagged logical
    * leaf with the SAME schema — the micro-batch planner requires
    * every `execution.streaming.Source.getBatch` frame to declare
    * isStreaming, and the v1 Source contract is what lets the
    * stream reuse the engine's whole batch planning stack (manifest
    * resolution, vectorized parquet, codegen) instead of a bespoke
    * partition reader. */
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[ClassicDataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, cdf.schema, isStreaming = true)
  }

  /** The inverse, for the SINK side: a v1 `Sink.addBatch` receives a
    * micro-batch DataFrame whose logical plan still carries streaming
    * leaves — re-root it on the incremental execution's RDD as a
    * plain BATCH frame so the store's commit path (an ordinary batch
    * write) can consume it. */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[ClassicDataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, cdf.schema, isStreaming = false)
  }

  /** An already-resolved LogicalPlan back as a DataFrame — the DML
    * command face (graft.plans.MergeIntoSnapshotCommand executes its
    * MERGE source this way). */
  def ofRows(session: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    ClassicDataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A resolved catalyst Expression as a user-facing Column — UPDATE
    * assignments and conditions arrive as Expressions and the store's
    * copy-on-write rewrite consumes Columns. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The inverse — a Column's catalyst Expression (the classic-API
    * accessor is private[sql]). */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** A v1 BaseRelation as a DataFrame — the composed merge-on-read
    * read plan (graft.sources.SnapshotDvReadPlan) builds its DV'd
    * half as a HadoopFsRelation over a pruning FileIndex, the one
    * relation shape that exposes `_metadata.row_index` (the deletion
    * vectors' position space). */
  def ofBaseRelation(session: org.apache.spark.sql.SparkSession,
      rel: org.apache.spark.sql.sources.BaseRelation): DataFrame =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(rel)

  /** Catalyst predicate → data-source Filter, the engine's own
    * translation — what lets a DML condition reuse the scan
    * builder's stat-space constraint mapping verbatim. */
  def translateFilter(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** The snapshot commit's worker pool: a few DAEMON threads (the JVM
    * exits without shutting it down), idle ones retired after a
    * minute. Its tasks only run Spark jobs and file writes and never
    * wait on one another, so a bounded pool cannot deadlock however
    * many commits share it. */
  private lazy val commitPool =
    org.apache.spark.util.ThreadUtils.newDaemonCachedThreadPool(
      "graft-snapshot-commit", 4, 60)

  /** Run `body` on the commit pool with the CALLER's thread-local
    * Spark state: the active session and the SparkContext local
    * properties (job group, job description, scheduler pool, SQL
    * execution nesting). Jobs launched by `body` therefore carry the
    * caller's job group, so `cancelJobGroup` — a streaming query's
    * `stop()` — cancels them like the caller's own. The future's
    * `get` wraps a failure in an ExecutionException; the caller
    * unwraps it. */
  def submitCaptured[T](session: org.apache.spark.sql.SparkSession)(body: => T)
      : java.util.concurrent.CompletableFuture[T] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      commitPool)(body)

  /** The schema Spark's NON-merging Parquet inference would give a read
    * of `files`, read in this process from ONE footer — the first file
    * in path order, the one `ParquetUtils.inferSchema` picks — with
    * the same converter settings, instead of the one-task Spark job
    * the inference launches. None when `files` is empty or schema
    * merging is on for the session (callers then let Spark infer, so
    * both keep their old behaviour and errors). */
  def parquetFooterSchema(session: org.apache.spark.sql.SparkSession, files: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val state = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val conf = state.conf
    if (files.isEmpty || conf.isParquetSchemaMergingEnabled) None
    else {
      val hadoopConf = state.newHadoopConf()
      val first = files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hadoopConf).makeQualified(p)
      }.minBy(_.toString)
      val footer = new org.apache.parquet.hadoop.Footer(first,
        ParquetFooterReader.readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(first, hadoopConf),
          org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS))
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation)
      Some(ParquetFileFormat.readSchemaFromFooter(footer, converter))
    }
  }
}
