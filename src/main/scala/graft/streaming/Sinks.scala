package graft.streaming

import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A2/A3/A13/A27 — sink wiring (SURVEY.md §2).
  *
  * The reference's sink zoo (plain Kafka, dynamic-topic exactly-once
  * Kafka, Phoenix upsert, ClickHouse JDBC batch) collapses into three
  * Spark shapes:
  *  1. Kafka writer with a per-row `topic` column (A3's dynamic
  *     routing is native — MyKafkaUtil.java:44-50's custom serializer
  *     is unnecessary);
  *  2. foreachBatch writers for idempotent/upsert semantics (A13,
  *     A27) — exactly-once = checkpoint + deterministic overwrite;
  *  3. partitioned-directory writes standing in for per-topic fan-out
  *     in the broker-less test harness.
  */
object Sinks {

  /** A2/A3 — Kafka sink; if `topicCol` is set, each row routes to its
    * own topic (dynamic routing, BaseDBApp.java:131-144). */
  def kafka(df: DataFrame, servers: String, checkpoint: String,
      topic: Option[String] = None, topicCol: Option[String] = None): DataStreamWriter[Row] = {
    val keyed = topicCol match {
      case Some(c) => df.select(col(c).as("topic"), to_json(struct(df.columns.map(col): _*)).as("value"))
      case None => df.select(to_json(struct(df.columns.map(col): _*)).as("value"))
    }
    val w = keyed.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("checkpointLocation", checkpoint)
    topic.fold(w)(t => w.option("topic", t))
  }

  /** A27 — stats sink: per micro-batch, drop @TransientSink-style
    * columns and add the batch's rows to the warehouse path,
    * partitioned by a date column derived from stt. Each batch's files
    * carry its foreachBatch id, so a checkpoint replay of the same id
    * replaces exactly what its earlier attempt wrote and every other
    * batch's windows of the same day stay (the exactly-once story for
    * file warehouses). Mirrors ClickHouseUtil.java:17-50's reflective
    * skip logic. */
  def statsSink(df: DataFrame, path: String, checkpoint: String,
      transientCols: Seq[String]): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeStatsBatch(batch, path, transientCols, batchId)
      }

  private def withDt(batch: DataFrame, transientCols: Seq[String]): DataFrame =
    batch.drop(transientCols: _*)
      .withColumn("dt", substring(col("stt"), 1, 10))

  /** A WHOLE-TABLE batch write, callable directly in tests/batch: the
    * rows replace every `dt` partition they touch (dynamic partition
    * overwrite), so re-writing the same rows is idempotent. Dynamic
    * partition overwrite is a PER-WRITE option here — setting it on
    * the session would silently change overwrite semantics for every
    * other partitioned write in the shared session. A stream must use
    * the batch-id form below: with this one, each micro-batch would
    * replace the day's earlier windows. */
  def writeStatsBatch(batch: DataFrame, path: String, transientCols: Seq[String]): Unit =
    withDt(batch, transientCols)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt")
      .parquet(path)

  /** The statsSink body: micro-batch `batchId`'s rows are staged in a
    * hidden directory under `path`, then each file is renamed into its
    * `dt=` partition as `batch-<id>-<part file>`. Before the renames,
    * every file an earlier attempt of the same id left in any
    * partition is deleted, so a replay never duplicates rows, and
    * files of other ids are never touched. Readers of `path` skip the
    * `_`-prefixed staging directory. */
  def writeStatsBatch(batch: DataFrame, path: String,
      transientCols: Seq[String], batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val stage = new Path(root, s"_staging-$batchId-${java.util.UUID.randomUUID()}")
    val prefix = s"batch-$batchId-"
    try {
      withDt(batch, transientCols)
        .write.mode(SaveMode.Overwrite).partitionBy("dt").parquet(stage.toString)
      Option(fs.globStatus(new Path(root, s"dt=*/$prefix*")))
        .foreach(_.foreach(st => fs.delete(st.getPath, false)))
      fs.listStatus(stage).filter(d => d.isDirectory && d.getPath.getName.startsWith("dt="))
        .foreach { d =>
          val dst = new Path(root, d.getPath.getName)
          fs.mkdirs(dst)
          fs.listStatus(d.getPath).filter(_.getPath.getName.startsWith("part-"))
            .foreach { f =>
              val to = new Path(dst, prefix + f.getPath.getName)
              require(fs.rename(f.getPath, to), s"stats sink: rename to $to failed")
            }
        }
    } finally fs.delete(stage, true)
  }

  /** A13 — dim upsert: MERGE-style overwrite by primary key against a
    * parquet dim snapshot (the Phoenix `upsert into` equivalent;
    * DimSink.java:28-69). Last-writer-wins per key within the batch by
    * `versionCol` descending. The reference's Redis cache invalidation
    * (DimSink.java:47-53) is moot — snapshot readers always see the
    * post-merge table. */
  def upsertDim(spark: SparkSession, updates: DataFrame, dimPath: String,
      keyCol: String, versionCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val fs0 = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dstP = new org.apache.hadoop.fs.Path(dimPath)
    val oldP = new org.apache.hadoop.fs.Path(dimPath + "__old")
    // Crash recovery FIRST: a crash between the two swap renames below
    // leaves the only full snapshot at __old with dst missing — restore
    // it before reading, or the read-miss would look like an empty
    // table and the merge would silently rebuild from one batch.
    if (!fs0.exists(dstP) && fs0.exists(oldP)) {
      require(fs0.rename(oldP, dstP),
        s"upsertDim recovery: rename $oldP -> $dstP failed")
    }
    // Only a MISSING snapshot means "no existing dims" — checked
    // explicitly with the FileSystem handle rather than by classifying
    // AnalysisException message text (brittle across Spark versions /
    // locales). Any read failure on an EXISTING path (corrupt footer,
    // transient IO) propagates — treating it as empty would silently
    // discard the whole dim table on merge.
    val existing =
      if (fs0.exists(dstP)) graft.Tables.readParquet(spark, dimPath)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], updates.schema)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col("__src").desc)
    val merged = existing.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
    // Write to a temp dir (parquet can't overwrite its own input),
    // then swap RENAME-ASIDE: dst -> dst__old, tmp -> dst, drop old.
    // A crash at any point leaves the full snapshot on disk (at dst
    // or at dst__old) — never the round-2 delete-then-rename window
    // where no dim table existed at all. Recovery: if dst is missing,
    // rename dst__old back.
    val tmp = new org.apache.hadoop.fs.Path(dimPath + "__tmp")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs0.delete(oldP, true)
    if (fs0.exists(dstP)) {
      require(fs0.rename(dstP, oldP), s"upsertDim: rename $dstP -> $oldP failed")
    }
    require(fs0.rename(tmp, dstP), s"upsertDim: rename $tmp -> $dstP failed")
    fs0.delete(oldP, true)
  }

  /** A27 JDBC twin (ClickHouseUtil.java:17-50): batched positional
    * INSERT into a JDBC warehouse with @TransientSink-style column
    * skip. The reference builds `insert into t values(?,…)` and skips
    * bean fields carrying @TransientSink (:24-36); Spark's JDBC writer
    * is the same positional prepared-statement batch, so the twin is
    * drop(transient) + write.jdbc with an explicit batchsize (the
    * JdbcExecutionOptions knob, ClickHouseUtil.java:44). Mode=Append:
    * ClickHouse-style warehouses are insert-only; idempotence comes
    * from replacing-merge semantics downstream, not the writer. */
  def writeStatsJdbcBatch(batch: DataFrame, url: String, table: String,
      transientCols: Seq[String], batchSize: Int = 1000,
      props: java.util.Properties = new java.util.Properties): Unit = {
    val p = new java.util.Properties()
    p.putAll(props)
    p.setProperty("batchsize", batchSize.toString)
    batch.drop(transientCols: _*)
      .write.mode(SaveMode.Append)
      .jdbc(url, table, p)
  }

  /** Exactly-once JDBC stats write: every partition commits its rows
    * TOGETHER WITH a (query, batch_id, part_id) marker row in one
    * transaction, and skips itself when its marker already exists.
    * Both replay paths are covered — a micro-batch re-run after a
    * checkpoint recovery AND a task retry within a batch — because
    * the marker commit is atomic with the data: either both landed
    * (later attempts skip) or neither did (the retry re-inserts).
    * This is the writer-side exactly-once the reference approximates
    * with Kafka transactions (MyKafkaUtil.java:44-50); append-only
    * warehouses that prefer dedup-on-merge keep using
    * [[writeStatsJdbcBatch]]. Scale shape: one connection + one
    * transaction per partition, no driver-side collect; the marker
    * probe is a primary-key point lookup.
    *
    * The partition-level skip is only sound if a REPLAYED batch maps
    * every row to the same partition id, so the write goes through an
    * explicit fixed-count hash repartition on all columns — a
    * deterministic function of row VALUES, immune to upstream plan
    * changes (AQE re-coalescing, source split drift) between the
    * original attempt and the replay. */
  def writeStatsJdbcExactlyOnce(batch: DataFrame, batchId: Long,
      queryName: String, url: String, table: String,
      transientCols: Seq[String], batchSize: Int = 1000,
      props: java.util.Properties = new java.util.Properties,
      sinkPartitions: Int = 16): Unit = {
    val pre = batch.drop(transientCols: _*)
    val data = pre.repartition(sinkPartitions, pre.columns.map(col): _*)
    val cols = data.columns.toSeq
    val types: Array[Int] = data.schema.fields.map(f => jdbcTypeOf(f.dataType))
    val insert = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    data.foreachPartition { (rows: Iterator[Row]) =>
      val partId = org.apache.spark.TaskContext.getPartitionId()
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        ensureMarkerTable(conn)
        val probe = conn.prepareStatement(
          "SELECT 1 FROM graft_batch_markers WHERE query_name = ? AND batch_id = ? AND part_id = ?")
        probe.setString(1, queryName); probe.setLong(2, batchId); probe.setInt(3, partId)
        val seen = probe.executeQuery().next()
        if (!seen) {
          try {
            val st = conn.prepareStatement(insert)
            var n = 0
            rows.foreach { r =>
              cols.indices.foreach { i =>
                val v = r.get(i)
                if (v == null) st.setNull(i + 1, types(i))
                else st.setObject(i + 1, v)
              }
              st.addBatch(); n += 1
              if (n % batchSize == 0) st.executeBatch()
            }
            st.executeBatch()
            val mark = conn.prepareStatement(
              "INSERT INTO graft_batch_markers (query_name, batch_id, part_id) VALUES (?, ?, ?)")
            mark.setString(1, queryName); mark.setLong(2, batchId); mark.setInt(3, partId)
            mark.executeUpdate()
            conn.commit() // data + marker land atomically
          } catch {
            case e: Throwable =>
              try conn.rollback() catch { case s: Throwable => e.addSuppressed(s) }
              throw e
          }
        } else {
          // the probe SELECT opened a transaction; Derby refuses to
          // close a connection with one active — end it explicitly
          conn.rollback()
        }
      } finally conn.close()
    }
  }

  /** java.sql.Types per Spark type — a null value must bind via
    * setNull(idx, TYPE): setObject(idx, null) carries no type info
    * and several drivers (Derby included) reject it. */
  private def jdbcTypeOf(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => java.sql.Types.BIGINT
      case IntegerType => java.sql.Types.INTEGER
      case ShortType => java.sql.Types.SMALLINT
      case ByteType => java.sql.Types.TINYINT
      case DoubleType => java.sql.Types.DOUBLE
      case FloatType => java.sql.Types.REAL
      case BooleanType => java.sql.Types.BOOLEAN
      case _: DecimalType => java.sql.Types.DECIMAL
      case DateType => java.sql.Types.DATE
      case TimestampType => java.sql.Types.TIMESTAMP
      case BinaryType => java.sql.Types.BINARY
      case _ => java.sql.Types.VARCHAR
    }
  }

  /** CREATE-if-absent for the marker table (Derby has no IF NOT
    * EXISTS; SQLState X0Y32 = already exists). Committed immediately
    * so a concurrent partition's probe can see it. */
  private def ensureMarkerTable(conn: java.sql.Connection): Unit =
    try {
      conn.createStatement().execute(
        """CREATE TABLE graft_batch_markers (
          |  query_name VARCHAR(128) NOT NULL,
          |  batch_id BIGINT NOT NULL,
          |  part_id INT NOT NULL,
          |  PRIMARY KEY (query_name, batch_id, part_id))""".stripMargin)
      conn.commit()
    } catch {
      case e: java.sql.SQLException if e.getSQLState == "X0Y32" =>
        try conn.rollback() catch { case _: Throwable => () }
    }

  /** Streaming form of [[writeStatsJdbcBatch]] — foreachBatch +
    * checkpoint, the exactly-once story the reference gets from the
    * Flink JDBC sink's batched flush. */
  def statsJdbcSink(df: DataFrame, url: String, table: String,
      checkpoint: String, transientCols: Seq[String],
      batchSize: Int = 1000): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeStatsJdbcBatch(batch, url, table, transientCols, batchSize)
      }

  /** Streaming form of [[writeStatsJdbcExactlyOnce]]: the foreachBatch
    * batchId keys the marker, so a micro-batch replayed after
    * checkpoint recovery writes nothing twice. */
  def statsJdbcSinkExactlyOnce(df: DataFrame, queryName: String,
      url: String, table: String, checkpoint: String,
      transientCols: Seq[String], batchSize: Int = 1000): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeStatsJdbcExactlyOnce(batch, batchId, queryName, url, table,
          transientCols, batchSize)
      }

  /** A13 JDBC twin (DimSink.java:28-69, Phoenix `upsert into`): true
    * row-level upsert via MERGE in PreparedStatement batches, one
    * connection per partition (the executor-side shape). The one-row
    * source table `SYSIBM.SYSDUMMY1` ties this statement to
    * Derby/DB2 dialects; other warehouses swap the MERGE text
    * (Postgres `INSERT … ON CONFLICT`, ClickHouse ReplacingMergeTree
    * plain insert) behind the same method shape. Last writer per key
    * within the batch wins by `versionCol` first, exactly like the
    * parquet-snapshot [[upsertDim]]. */
  def upsertDimJdbc(updates: DataFrame, url: String, table: String,
      keyCol: String, versionCol: String, batchSize: Int = 100,
      props: java.util.Properties = new java.util.Properties): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(versionCol).desc)
    val deduped = updates
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val cols = deduped.columns.toSeq
    val nonKey = cols.filterNot(_ == keyCol)
    val jdbcTypes: Array[Int] = deduped.schema.fields.map(f => jdbcTypeOf(f.dataType))
    // MERGE with the 1-row dummy table as source: one parameterized
    // upsert per input row, batched.
    val sql =
      s"""MERGE INTO $table t USING SYSIBM.SYSDUMMY1 ON t.$keyCol = ?
         |WHEN MATCHED THEN UPDATE SET ${nonKey.map(c => s"t.$c = ?").mkString(", ")}
         |WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
         |VALUES (${cols.map(_ => "?").mkString(", ")})""".stripMargin
    val colIdx = cols.zipWithIndex.toMap
    deduped.foreachPartition { (rows: Iterator[Row]) =>
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        try {
          val st = conn.prepareStatement(sql)
          var n = 0
          rows.foreach { r =>
            var i = 1
            def bind(c: String): Unit = {
              val j = colIdx(c)
              val v = r.get(j)
              if (v == null) st.setNull(i, jdbcTypes(j)) else st.setObject(i, v)
              i += 1
            }
            bind(keyCol); nonKey.foreach(bind); cols.foreach(bind)
            st.addBatch(); n += 1
            if (n % batchSize == 0) st.executeBatch()
          }
          st.executeBatch()
          conn.commit()
        } catch {
          // Roll back the open transaction before propagating so the
          // connection never closes with a half-applied batch pending.
          case e: Throwable =>
            try conn.rollback() catch { case s: Throwable => e.addSuppressed(s) }
            throw e
        }
      } finally conn.close()
    }
  }

  /** A12/A3 fan-out in the broker-less harness: one foreachBatch, N
    * filtered writes — the 3-way log split's sink side
    * (BaseLogApp.java:136-138). Routes each row to
    * `<root>/<sink_table>/` per its routing column. */
  def routedSink(df: DataFrame, root: String, checkpoint: String,
      routeCol: String): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode(SaveMode.Append)
          .partitionBy(routeCol)
          .parquet(root)
      }
}
