package graft.sources

import graft.operators.ScaleOps
import graft.snapshot.Manifest
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType

/** PRUNED merge-on-read composition for the DSv2/SQL face — the
  * round-14 read-path fix: a version carrying deletion vectors used
  * to read through ONE unpruned v1 plan (every file a task, zone
  * maps/Blooms/runtime filters all bypassed until compaction — a
  * standing pruning outage at CDC steady state, where merge-on-read
  * is the default write shape). The composed plan keeps both halves
  * pruning:
  *
  *  - CLEAN files (no `dv:` field — the vast majority at steady
  *    state) read through the connector itself (`subset=clean`), so
  *    pushed filters, per-file Blooms AND runtime join filters keep
  *    planning files exactly as on a DV-free version;
  *  - DV'd files read through a v1 parquet relation over
  *    [[SnapshotPruningFileIndex]] — the SAME stat-space constraint
  *    mapping applied to the v1 `dataFilters` at listing time, so a
  *    selective predicate opens only the zone-map-kept subset of the
  *    DV'd files too — with the parquet reader's (file_path,
  *    row_index) metadata anti-joined against the manifest's
  *    deletion rows. The v1 path is REQUIRED here: only the file-
  *    source relation exposes `_metadata.row_index`, the position
  *    space the vectors are written in.
  *
  * Filters reach both halves through ordinary Catalyst pushdown
  * (union → each child; left-anti → its left side), so the plan
  * needs no bespoke filter plumbing. What the DV'd half still lacks
  * vs the connector is runtime (DPP-style) join pruning — a v1
  * limitation documented here; compaction's materialization cadence
  * bounds how long any file stays on that half. */
object SnapshotDvReadPlan {

  /** The DV-aware PRUNED read of version `v` under its merged header
    * schema — what [[graft.plans.ResolveSnapshotDvRead]] swaps a
    * DV-carrying relation's scan for. */
  def composedRead(spark: SparkSession, root: String, v: Long,
      statsCol: Option[String]): DataFrame = {
    val m = Manifest.read(spark, root, v)
    val (dvd, clean) = m.entries.partition(_.dv.isDefined)
    require(dvd.nonEmpty,
      s"composedRead on v$v of $root, which carries no deletion vectors")
    val schema = m.headers.schema.getOrElse(
      ScaleOps.readSnapshotMerged(spark, root, Some(v)).schema)
    val masked = {
      val index = new SnapshotPruningFileIndex(spark, root, v,
        m.copy(entries = dvd), schema, statsCol)
      val rel = HadoopFsRelation(index, new StructType(), schema, None,
        new ParquetFileFormat, Map.empty[String, String])(spark)
      val delDf = ScaleOps.dvRowsOf(spark, root, dvd)
        .select(col("f").as("__graft_dv_f"), col("pos").as("__graft_dv_p"))
      val del = if (ScaleOps.dvSideBroadcastable(dvd)) broadcast(delDf)
        else delDf
      org.apache.spark.sql.graft.SqlShims.ofBaseRelation(spark, rel)
        .withColumn("__graft_dv_f", col("_metadata.file_path"))
        .withColumn("__graft_dv_p", col("_metadata.row_index"))
        .join(del, Seq("__graft_dv_f", "__graft_dv_p"), "left_anti")
        .drop("__graft_dv_f", "__graft_dv_p")
    }
    if (clean.isEmpty) masked
    else {
      val reader = spark.read.format("graft-snapshot")
        .option("path", root).option("version", v)
        .option("subset", "clean")
      masked.unionByName(
        statsCol.fold(reader)(c => reader.option("statsCol", c)).load(),
        allowMissingColumns = true)
    }
  }
}

/** A v1 [[FileIndex]] over a FIXED subset of a committed snapshot
  * version's manifest entries (`lines`, with the version's headers),
  * pruned at listing time: the
  * `dataFilters` the file-source strategy hands down translate to
  * data-source Filters and run through the connector's own
  * stat-space constraint mapping ([[SnapshotScanBuilder]]), so zone
  * maps and per-file Bloom fields skip files for the v1 plan exactly
  * as they do for the DSv2 scan. Listing is METADATA-ONLY: it prunes
  * the entries it holds, and lengths come from their `sz:` fields
  * (one FS stat only for legacy lines that predate the field) — no
  * manifest re-read, no directory walk, no per-file RPC storm at
  * plan time. */
class SnapshotPruningFileIndex(spark: SparkSession, root: String,
    version: Long, lines: Manifest.Listing, schema: StructType,
    statsCol: Option[String]) extends FileIndex {

  private val files: Seq[String] = lines.files
  private val sizes: Map[String, Long] = lines.sizes

  /** The file list of the LAST listing — what the pruning pins
    * count (mirrors [[SnapshotScan.plannedFiles]]). */
  @volatile private[graft] var lastPlanned: Seq[String] = files

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pushed = dataFilters
      .flatMap(org.apache.spark.sql.graft.SqlShims.translateFilter)
    val sb = new SnapshotScanBuilder(root, version, schema, statsCol)
    sb.pushFilters(pushed.toArray)
    val kept = ScaleOps.pruneFiles(spark, lines, sb.plannedConstraints)
    lastPlanned = kept
    val statuses = kept.map { f =>
      val p = new Path(f)
      sizes.get(f) match {
        case Some(len) => new FileStatus(len, false, 1, 128L << 20, 0L, p)
        case None => p.getFileSystem(
          spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      }
    }
    Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
  }

  override def inputFiles: Array[String] = files.toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long =
    files.map(f => sizes.getOrElse(f, 128L << 20)).sum

  override def partitionSchema: StructType = new StructType()
}
