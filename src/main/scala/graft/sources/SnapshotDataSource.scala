package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import graft.operators.ScaleOps
import graft.snapshot.Manifest
import graft.streaming.SnapshotStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("graft-snapshot")` — the versioned snapshot
  * store as a DataSource V2 TABLE, so its manifest-level pruning
  * (zone maps + per-file Bloom fields) composes with ARBITRARY
  * Catalyst queries instead of living behind bespoke read functions
  * (`s06PrunedRead`, `s13BloomLookup`). A filtered join or SQL text
  * over the store now plans only the files the manifest can't prove
  * irrelevant — the real 100× read path.
  *
  * Options:
  *  - `path`    (required) store root
  *  - `version` (optional) pin a committed version; default latest
  *  - `ref`     (optional) resolve a named ref instead (s12's refs)
  *  - `timestampAsOf` (optional) resolve the newest version
  *    committed at or before this instant (epoch millis or ISO-8601)
  *    — Delta's TIMESTAMP AS OF; at most one of version/ref/
  *    timestampAsOf
  *  - `statsCol` (optional) the column the manifest's zone-map/Bloom
  *    fields index (the store does not record it; the caller
  *    declares it exactly as the bespoke readers did). Without it
  *    every file is read — correct, just unpruned.
  *
  * Execution delegates to Spark's OWN parquet scan (vectorized
  * reader, row-group skipping, whole-stage codegen) over the pruned
  * file list via a ParquetScanBuilder — this connector adds manifest
  * pruning, not a bespoke reader. Filters are handed back to Spark
  * for re-evaluation (file-grain pruning is a superset guarantee,
  * like partition pruning), so answers never depend on the sidecar
  * fields.
  *
  * PLANNING IS METADATA-ONLY: the schema comes from the manifest's
  * `#schema:` header (written at commit, evolving with the store —
  * the Delta/Iceberg schema-in-the-log shape), so resolving a table
  * opens O(1) manifest files and ZERO parquet footers. Pre-header
  * stores fall back to one mergeSchema footer sweep — counted in
  * [[SnapshotDataSource.footerSweeps]] so the spec can pin the zero.
  * Version + schema are resolved ONCE per load and pinned on the
  * provider instance (Spark instantiates a fresh provider per load):
  * a commit landing between `inferSchema` and `getTable` can no
  * longer bind the scan to a newer version than the schema, and the
  * resolution cost is paid once, not twice. */
class SnapshotDataSource extends TableProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {

  // ---- streaming sink face: writeStream.format("graft-snapshot") ----

  /** Exactly-once ingest as the DEFAULT path, not a foreachBatch
    * recipe: each micro-batch commits ONE `batch:<id>`-tagged version
    * through the idempotent append (or, with a `mergeKey` option, the
    * idempotent upsert) — an at-least-once replay of a
    * batch the store already committed is absorbed by the tag probe,
    * the [[graft.streaming.Jobs.snapshotIngest]] discipline verbatim.
    * `statsCol` defaults to the store's own `#statscols:` header so
    * sink commits keep indexing what the store's writers always
    * indexed. Append-only: aggregating modes would need the engine to
    * retract rows a committed version already fixed. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    val root = opts.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot sink requires a path option (the store root)"))
    require(partitionColumns.isEmpty,
      "graft-snapshot stores are unpartitioned — cluster via " +
        "statsCol zone maps instead of directories")
    require(outputMode == OutputMode.Append(),
      s"graft-snapshot sink is append-only (each micro-batch = one " +
        s"committed version); got $outputMode")
    val mergeKey = opts.get("mergekey").map(_.trim).filter(_.nonEmpty)
    val statsCol = opts.get("statscol").map(_.trim).filter(_.nonEmpty)
      .orElse {
        val s = SparkSession.active
        ScaleOps.snapshotVersions(s, root).lastOption
          .flatMap(v => ScaleOps.snapshotStatsCols(s, root, v))
      }
    new SnapshotSink(root, statsCol, mergeKey)
  }

  // ---- streaming face: readStream.format("graft-snapshot") ----
  // (the v1 Source contract — see graft.streaming.SnapshotStream;
  // SnapshotTable stays BATCH_READ, so DataStreamReader falls back
  // here for streams while batch reads keep the DSv2 pruning path)

  // stream resolution is pinned ONCE per load, exactly like the batch
  // path's resolveOnce: a schema-evolving commit landing between
  // sourceSchema and createSource can no longer pin the running
  // Source to a schema the streaming plan was not analyzed with
  private var streamPinned:
    Option[(Map[String, String], SnapshotStream.StreamConfig)] = None

  private def resolveStreamOnce(
      parameters: Map[String, String]): SnapshotStream.StreamConfig =
    synchronized {
      streamPinned match {
        case Some((p, cfg)) if p == parameters => cfg
        case _ =>
          val cfg = SnapshotStream.resolveStream(parameters)
          streamPinned = Some((parameters, cfg))
          cfg
      }
    }

  private def rejectUserSchema(schema: Option[StructType]): Unit =
    require(schema.isEmpty,
      "graft-snapshot streams resolve their schema from the store's " +
        "manifest header; a user-supplied readStream.schema(...) is " +
        "not honored — drop it")

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    rejectUserSchema(schema)
    val cfg = resolveStreamOnce(parameters)
    (shortName(), SnapshotStream.withMeta(cfg.dataSchema))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    rejectUserSchema(schema)
    val cfg = resolveStreamOnce(parameters)
    new SnapshotStream(sqlContext.sparkSession, cfg.root,
      cfg.startingVersion, cfg.dataSchema, metadataPath,
      cfg.maxFilesPerTrigger, cfg.maxVersionsPerTrigger,
      cfg.maxBytesPerTrigger)
  }

  // per-load pinned resolution — inferSchema resolves, getTable reuses
  private var pinned:
    Option[(String, (String, Long, StructType, Option[String]))] = None

  private def resolveOnce(options: CaseInsensitiveStringMap)
      : (String, Long, StructType, Option[String]) =
    synchronized {
      val key = options.asCaseSensitiveMap().asScala.toSeq.sorted.toString
      pinned match {
        case Some((k, r)) if k == key => r
        case _ =>
          val r = SnapshotDataSource.resolve(options)
          pinned = Some((key, r))
          r
      }
    }

  override def shortName(): String = "graft-snapshot"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolveOnce(options)._3

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (root, v, _, statsDefault) = resolveOnce(opts)
    // `subset` restricts the scan to the version's clean or DV'd
    // manifest lines — the composed merge-on-read plan's internal
    // handle (SnapshotDvReadPlan), not a user surface
    val subset = Option(opts.get("subset")).map(_.toLowerCase)
    require(subset.forall(ss => ss == "clean" || ss == "dvd"),
      s"graft-snapshot subset must be clean|dvd, got ${subset.get}")
    // pruning columns: the explicit option wins; otherwise the
    // store's own #statscols: header (what its writers indexed)
    new SnapshotTable(root, v, schema,
      Option(opts.get("statscol")).orElse(statsDefault), subset)
  }
}

object SnapshotDataSource {

  /** Count of mergeSchema footer sweeps taken because a manifest had
    * no `#schema:` header (pre-header stores only) — test
    * instrumentation pinning that planning against a header-carrying
    * store reads zero parquet footers. */
  private[graft] val footerSweeps = new java.util.concurrent.atomic.AtomicLong

  /** Count of full option resolutions — pins that one load resolves
    * once (inferSchema + getTable share the pinned result). */
  private[graft] val resolves = new java.util.concurrent.atomic.AtomicLong

  /** (root, resolved version, merged schema, header-declared stats
    * columns) for the options. */
  private[sources] def resolve(options: CaseInsensitiveStringMap)
      : (String, Long, StructType, Option[String]) = {
    resolves.incrementAndGet()
    val s = SparkSession.active
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot requires a path option (the store root)"))
    val pins = Seq("version", "ref", "timestampasof")
      .flatMap(k => Option(options.get(k)).map(k -> _))
    require(pins.size <= 1, "graft-snapshot takes at most one of " +
      s"version/ref/timestampAsOf, got ${pins.map(_._1).mkString(", ")}")
    // an UNPINNED empty/nonexistent store resolves as a pure WRITE
    // TARGET (version 0, empty schema): the engine probes the
    // provider with the SINK's options before falling back to the v1
    // StreamSinkProvider, and a batch/stream write must be able to
    // BOOTSTRAP a store the way CREATE TABLE does. Reads of a v0
    // table refuse loudly at scan build (SnapshotTable.newScanBuilder)
    // — never an empty result for a store that isn't there.
    if (pins.isEmpty && ScaleOps.snapshotVersions(s, root).isEmpty)
      return (root, 0L, new StructType(), None)
    val v = pins.headOption match {
      case Some(("version", ver)) => ver.toLong
      case Some(("ref", ref)) => ScaleOps.resolveRef(s, root, ref)
      case Some((_, ts)) =>
        val millis = scala.util.Try(ts.toLong).getOrElse(
          java.time.Instant.parse(ts).toEpochMilli)
        ScaleOps.resolveAsOfTimestamp(s, root, millis)
      case None =>
        val vs = ScaleOps.snapshotVersions(s, root)
        require(vs.nonEmpty, s"no committed snapshots under $root")
        vs.last
    }
    // schema from the manifest header: one small read, zero footers.
    // Only a pre-header manifest pays the legacy mergeSchema sweep.
    val schema = ScaleOps.snapshotSchema(s, root, v).getOrElse {
      footerSweeps.incrementAndGet()
      val files = ScaleOps.manifestFiles(s, root, v)
      require(files.nonEmpty,
        s"snapshot v$v of $root lists no data files and carries no " +
          "#schema: header; no schema source")
      s.read.option("mergeSchema", "true").parquet(files: _*).schema
    }
    (root, v, schema, ScaleOps.snapshotStatsCols(s, root, v))
  }
}

/** One committed snapshot version as a DSv2 table: reads plan
  * through the manifest (pruned, metadata-only), writes route through
  * the SAME race-safe commit protocol as the API — an append is
  * [[ScaleOps.appendSnapshot]] (delta manifest, claim + rename +
  * conflict detection), an overwrite is [[ScaleOps.publishSnapshot]]
  * (a new full version; history stays time-travelable). The write
  * face is the standard V1Write bridge (DeltaLake's long-standing
  * connector shape): the engine hands the planned DataFrame to
  * `InsertableRelation.insert`, which is exactly the input the
  * commit protocol wants — no bespoke per-partition writer to keep
  * correct alongside it. */
class SnapshotTable(private[graft] val root: String,
    private[graft] val pinnedVersion: Long,
    tableSchema: StructType, private[graft] val statsCol: Option[String],
    private[graft] val subset: Option[String] = None)
    extends Table
    with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = s"graft-snapshot `$root` v$pinnedVersion" +
    subset.fold("")(ss => s" [$ss]")
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // pinnedVersion 0 = the write-target sentinel for a store with no
    // committed snapshots (see SnapshotDataSource.resolve)
    require(pinnedVersion >= 1, s"no committed snapshots under $root — " +
      "the table currently exists only as a write target")
    // belt and braces: a pinnedVersion carrying merge-on-read deletion
    // vectors is readable ONLY through the DV-aware resolution rule
    // (graft.plans.ResolveSnapshotDvRead, injected by
    // GraftExtensions), which swaps the relation for the composed
    // pruned read (SnapshotDvReadPlan) before scan planning ever
    // gets here — its clean half comes back through this builder
    // with `subset` set. Reaching this builder subset-less means the
    // session has no extensions registered — refuse loudly rather
    // than silently resurrecting deleted rows through a raw scan.
    require(subset.isDefined ||
      !ScaleOps.snapshotHasDvs(SparkSession.active, root, pinnedVersion),
      s"snapshot v$pinnedVersion of $root carries deletion vectors; register " +
        "spark.sql.extensions=graft.GraftExtensions (the DV-aware read " +
        "rule) or read through ScaleOps.readSnapshot*")
    new SnapshotScanBuilder(root, pinnedVersion, tableSchema, statsCol,
      subset)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(subset.isEmpty,
      "a subset-restricted snapshot table is a read handle, not a " +
        "write target")
    new SnapshotWriteBuilder(root, statsCol)
  }

  /** SQL `DELETE FROM cat.t WHERE …` — SupportsDelete routes the
    * pushed filters to the zone-map-planned row-level delete:
    * the SAME stat-space constraints a pruned READ would derive from
    * these filters decide which files can hold matching rows (the
    * rest carry their manifest lines forward verbatim, data unread),
    * and the rewrite commits through the race-safe protocol with a
    * change feed of the dropped rows. Only filters with no row-level
    * translation are refused (canDeleteWhere false → Spark raises
    * the standard cannot-delete error instead of a silent partial
    * delete). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => SnapshotFilters.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val s = SparkSession.active
    // writes contend on the HEAD only (the documented catalog
    // contract): a DELETE issued through a time-travel-pinned table
    // must fail loudly here rather than silently applying to the head
    // — deleteWhereSnapshot resolves vs.last internally, so without
    // this check a pinned-table delete would target a pinnedVersion the
    // user never named
    val head = ScaleOps.snapshotVersions(s, root).lastOption.getOrElse(0L)
    require(pinnedVersion == head,
      s"DELETE through a table pinned to v$pinnedVersion, but the head is " +
        s"v$head — writes go through the head table, not a time-travel pin")
    val unsupported = filters.filter(f => SnapshotFilters.toColumn(f).isEmpty)
    require(unsupported.isEmpty,
      s"DELETE filters not translatable row-level: ${unsupported.mkString(", ")}")
    // DELETE with no WHERE arrives as AlwaysTrue: a full copy-on-write
    // truncation (history stays time-travelable, unlike TRUNCATE)
    val pred = filters.flatMap(SnapshotFilters.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val sb = new SnapshotScanBuilder(root, pinnedVersion, tableSchema, statsCol)
    sb.pushFilters(filters)
    ScaleOps.deleteWhereSnapshot(s, root, pred, sb.plannedConstraints)
  }
}

/** V1 `Filter` → row-level `Column` translation for the delete path
  * — every shape Spark pushes for the store's flat schemas. None =
  * untranslatable (the caller must refuse, never approximate: an
  * approximated DELETE predicate deletes the wrong rows). */
private[sources] object SnapshotFilters {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  def toColumn(f: Filter): Option[Column] = f match {
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for { cl <- toColumn(l); cr <- toColumn(r) } yield cl && cr
    case Or(l, r) =>
      for { cl <- toColumn(l); cr <- toColumn(r) } yield cl || cr
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}

/** Append / truncate-overwrite builder onto a store root. */
class SnapshotWriteBuilder(root: String, statsCol: Option[String])
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ignored: Boolean): Unit = {
          val s = data.sparkSession
          // keep indexing the store's declared stats columns, but
          // only those the batch actually carries (a projected-away
          // column can't be aggregated; its files just go unstatted)
          // resolution is case-insensitive, mirroring statsColsTyped —
          // a case-mismatched batch must still stat its files, not
          // silently degrade pruning
          val stats = statsCol
            .map(_.split(',').map(_.trim)
              .filter(c => data.columns.exists(_.equalsIgnoreCase(c)))
              .mkString(","))
            .filter(_.nonEmpty)
          if (overwrite) ScaleOps.publishSnapshot(s, root, data, stats)
          else ScaleOps.appendSnapshot(s, root, data, stats)
        }
      }
  }
}

/** The v1 streaming Sink behind `writeStream.format("graft-snapshot")`
  * — each `addBatch` is ONE tagged commit through the race-safe
  * protocol: `batch:<id>` rides the manifest, so the engine's
  * at-least-once replay of an already-committed batch probes the tag
  * and commits nothing (exactly-once store content with ANY
  * checkpointed query). The micro-batch frame is re-rooted as a batch
  * frame ([[org.apache.spark.sql.graft.SqlShims.asBatchFrame]]) so
  * the commit's ordinary batch write can execute it — the same v1
  * bridge shape the source uses in reverse. With `mergeKey`, batches
  * are row-images upserted copy-on-write (the CDC-apply sink);
  * without, they are appends. */
class SnapshotSink(root: String, statsCol: Option[String],
    mergeKey: Option[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val s = data.sparkSession
    val batch = org.apache.spark.sql.graft.SqlShims.asBatchFrame(data)
    mergeKey match {
      case Some(k) =>
        ScaleOps.snapshotMergeOnce(s, root, k, batch, s"batch:$batchId")
      case None =>
        ScaleOps.snapshotAppendOnce(s, root, batch, s"batch:$batchId",
          statsCol)
    }
    ()
  }

  override def toString: String =
    s"SnapshotSink[$root${mergeKey.fold("")(k => s", mergeKey=$k")}]"
}

/** Collects pushed filters + required columns, then builds the
  * delegated parquet scan over the manifest-pruned file list. */
class SnapshotScanBuilder(root: String, version: Long,
    tableSchema: StructType, statsCol: Option[String],
    subset: Option[String] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    // file-grain pruning proves a SUPERSET, like partition pruning:
    // every filter is returned for Spark to re-evaluate on rows
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The declared stats columns (the option may name SEVERAL,
    * comma-separated — each indexed in the manifest's per-column
    * stats map) with their table-schema types — the gate for what may
    * prune. The manifest's zone maps hold a column's min/max in STAT
    * SPACE (Long): integral columns as themselves, DATE as epoch
    * days, TIMESTAMP as epoch micros, STRING as its 8-byte UTF-8
    * prefix packed order-preservingly (ScaleOps.stringPrefix64) — so
    * range constraints prune for all four families, each with its
    * own literal→Long mapping below. A fractional stats column
    * (where GreaterThan(c, 2.2) would need lo=2.3, not 3) simply
    * doesn't range-prune through this connector. The Bloom bits hash
    * the column IN ITS NATIVE TYPE at publish, so key-based Bloom
    * probing passes the native literals through (LongType and
    * StringType only — an Int column's keys still zone-check, but
    * xxhash64 hashes Int and Long differently so its Blooms are
    * never consulted, or files holding the key would be falsely
    * proven key-free). */
  private val statsColsTyped: Seq[(String, DataType)] =
    statsCol.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .flatMap(c => tableSchema.fields
        .find(_.name.equalsIgnoreCase(c)).map(f => f.name -> f.dataType))

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** (lo, hi, keys) constraints the pushed filters put on the
    * INTEGRAL stats column — conjunctive top level. Fractional
    * comparison values over the integral column tighten via
    * floor/ceil (int > 2.2 ⇔ int ≥ 3); an equality against a
    * non-whole value can match nothing, so it prunes everything
    * (Spark still re-evaluates the filter on any rows read). Values
    * beyond ±2⁶² skip (Double→Long saturation would corrupt the ±1
    * arithmetic); anything non-numeric contributes no constraint. */
  private def statsConstraints(
      c: String): (Option[Long], Option[Long], Option[Seq[Long]]) = {
    val SAFE = 1L << 62
    // exact integral value, if the filter value is one
    def whole(v: Any): Option[Long] = v match {
      case b: java.lang.Byte => Some(b.longValue)
      case sh: java.lang.Short => Some(sh.longValue)
      case i: java.lang.Integer => Some(i.longValue)
      case l: java.lang.Long => Some(l)
      case d: java.lang.Double if d.doubleValue.isWhole &&
        math.abs(d.doubleValue) < SAFE.toDouble => Some(d.longValue)
      case f: java.lang.Float if f.floatValue.isWhole &&
        math.abs(f.floatValue) < SAFE.toFloat => Some(f.longValue)
      case bd: java.math.BigDecimal if bd.stripTrailingZeros.scale <= 0 &&
        bd.abs.compareTo(java.math.BigDecimal.valueOf(SAFE)) < 0 =>
        Some(bd.longValue)
      case bd: scala.math.BigDecimal => whole(bd.underlying)
      case _ => None
    }
    // any numeric value as a Double for floor/ceil bounds (None when
    // out of the safe range or not numeric)
    def dbl(v: Any): Option[Double] = (v match {
      case n: java.lang.Number => Some(n.doubleValue)
      case bd: scala.math.BigDecimal => Some(bd.toDouble)
      case _ => None
    }).filter(d => !d.isNaN && math.abs(d) < SAFE.toDouble)
    var lo = Option.empty[Long]
    var hi = Option.empty[Long]
    var keys = Option.empty[Seq[Long]]
    def tightenLo(v: Long): Unit = if (lo.forall(_ < v)) lo = Some(v)
    def tightenHi(v: Long): Unit = if (hi.forall(_ > v)) hi = Some(v)
    def addKeys(ks: Seq[Long]): Unit =
      keys = Some(keys.fold(ks)(_.intersect(ks)))
    def walk(f: Filter): Unit = f match {
      case EqualTo(`c`, v) => dbl(v).foreach { _ =>
        whole(v) match {
          case Some(k) => tightenLo(k); tightenHi(k); addKeys(Seq(k))
          case None => addKeys(Seq.empty) // int = 2.2 matches nothing
        }
      }
      case In(`c`, vs) =>
        val ds = vs.toSeq.map(dbl)
        // only constrain when every member is understood numerically;
        // non-whole members can't equal an integral column — dropped
        if (ds.forall(_.isDefined)) addKeys(vs.toSeq.flatMap(whole))
      case GreaterThan(`c`, v) =>
        dbl(v).foreach(d => tightenLo(math.floor(d).toLong + 1))
      case GreaterThanOrEqual(`c`, v) =>
        dbl(v).foreach(d => tightenLo(math.ceil(d).toLong))
      case LessThan(`c`, v) =>
        dbl(v).foreach(d => tightenHi(math.ceil(d).toLong - 1))
      case LessThanOrEqual(`c`, v) =>
        dbl(v).foreach(d => tightenHi(math.floor(d).toLong))
      case And(l, r) => walk(l); walk(r)
      case _ => // non-prunable shape: contributes no constraint
    }
    pushed.foreach(walk)
    (lo, hi, keys)
  }

  /** A pushed DATE/TIMESTAMP literal in stat space (epoch days /
    * epoch micros) — both java.time and java.sql flavors arrive
    * depending on spark.sql.datetime.java8API.enabled. */
  private def temporalToLong(v: Any): Option[Long] = v match {
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case t: java.time.Instant =>
      Some(Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L),
        t.getNano / 1000L))
    case t: java.sql.Timestamp =>
      // floorDiv, not truncation: a pre-epoch fractional-second
      // timestamp (e.g. 1969-12-31T23:59:58.5, getTime = -1500 ms)
      // must floor to its second (-2) before the positive nanos add
      // back the fraction — truncation lands one second high, and a
      // too-high "exact point" lets the zone maps falsely prune files
      // that hold matching rows (the Instant branch's getEpochSecond
      // already floors)
      Some(Math.addExact(Math.multiplyExact(
        Math.floorDiv(t.getTime, 1000L), 1000000L),
        (t.getNanos / 1000L)))
    case _ => None
  }

  /** (lo, hi, keys) the pushed filters put on DISCRETE-Long stats
    * column `c` (DATE/TIMESTAMP): every literal is an exact point in
    * stat space, so strict comparisons tighten by ±1 — no fractional
    * cases. An `enc` failure contributes no constraint (kept). */
  private def discreteConstraints(c: String, enc: Any => Option[Long])
      : (Option[Long], Option[Long], Option[Seq[Long]]) = {
    var lo = Option.empty[Long]
    var hi = Option.empty[Long]
    var keys = Option.empty[Seq[Long]]
    def tightenLo(v: Long): Unit = if (lo.forall(_ < v)) lo = Some(v)
    def tightenHi(v: Long): Unit = if (hi.forall(_ > v)) hi = Some(v)
    def addKeys(ks: Seq[Long]): Unit =
      keys = Some(keys.fold(ks)(_.intersect(ks)))
    def walk(f: Filter): Unit = f match {
      case EqualTo(`c`, v) => enc(v).foreach { k =>
        tightenLo(k); tightenHi(k); addKeys(Seq(k))
      }
      case In(`c`, vs) =>
        val ks = vs.toSeq.map(enc)
        if (ks.forall(_.isDefined)) addKeys(ks.flatten)
      case GreaterThan(`c`, v) => enc(v).foreach(k => tightenLo(k + 1))
      case GreaterThanOrEqual(`c`, v) => enc(v).foreach(tightenLo)
      case LessThan(`c`, v) => enc(v).foreach(k => tightenHi(k - 1))
      case LessThanOrEqual(`c`, v) => enc(v).foreach(tightenHi)
      case And(l, r) => walk(l); walk(r)
      case _ =>
    }
    pushed.foreach(walk)
    (lo, hi, keys)
  }

  /** (lo, hi, keys) the pushed filters put on STRING stats column
    * `c`, all in prefix64 space. The prefix map is monotone but NOT
    * injective, so strict comparisons tighten WITHOUT the ±1 (two
    * different strings may share a prefix); `startsWith p` maps to
    * the [floor(p), 0xFF-padded(p)] prefix interval — the classic
    * Iceberg truncated-bound pruning. Keys carry (encoded, native)
    * so the native string can probe the file Blooms. */
  private def stringConstraints(c: String)
      : (Option[Long], Option[Long], Option[Seq[(Long, String)]]) = {
    var lo = Option.empty[Long]
    var hi = Option.empty[Long]
    var keys = Option.empty[Seq[(Long, String)]]
    def p64(s: String): Long = ScaleOps.stringPrefix64(s)
    def tightenLo(v: Long): Unit = if (lo.forall(_ < v)) lo = Some(v)
    def tightenHi(v: Long): Unit = if (hi.forall(_ > v)) hi = Some(v)
    def addKeys(ks: Seq[(Long, String)]): Unit =
      keys = Some(keys
        .map(_.filter(x => ks.exists(_._2 == x._2)))
        .getOrElse(ks))
    def walk(f: Filter): Unit = f match {
      case EqualTo(`c`, v: String) =>
        tightenLo(p64(v)); tightenHi(p64(v)); addKeys(Seq((p64(v), v)))
      case In(`c`, vs) if vs.forall(_.isInstanceOf[String]) =>
        addKeys(vs.toSeq.map { case v: String => (p64(v), v) })
      case GreaterThan(`c`, v: String) => tightenLo(p64(v))
      case GreaterThanOrEqual(`c`, v: String) => tightenLo(p64(v))
      case LessThan(`c`, v: String) => tightenHi(p64(v))
      case LessThanOrEqual(`c`, v: String) => tightenHi(p64(v))
      case StringStartsWith(`c`, p) =>
        tightenLo(p64(p)); tightenHi(ScaleOps.stringPrefix64Hi(p))
      case And(l, r) => walk(l); walk(r)
      case _ =>
    }
    pushed.foreach(walk)
    (lo, hi, keys)
  }

  /** The pushed filters as stat-space constraints — one conjunctive
    * [[ScaleOps.ColConstraint]] per prunable declared column (a file
    * survives only if EVERY column's manifest stats allow it).
    * Shared by the scan and the SupportsDelete candidate planning,
    * so DELETE rewrites exactly the files a pruned read would open. */
  private[graft] def plannedConstraints: Seq[ScaleOps.ColConstraint] =
    statsColsTyped.flatMap {
      case (c, dt) if integral(dt) =>
        val (lo, hi, keys) = statsConstraints(c)
        // native Bloom probes only for LongType (publish hashed the
        // native type); other integral keys still zone-check
        val native =
          if (dt == LongType) keys.map(_.map(k => k: Any)) else None
        Some(ScaleOps.ColConstraint(c, lo, hi, keys, native))
      case (c, DateType) =>
        val (lo, hi, keys) = discreteConstraints(c, temporalToLong)
        Some(ScaleOps.ColConstraint(c, lo, hi, keys))
      case (c, TimestampType) =>
        val (lo, hi, keys) = discreteConstraints(c, temporalToLong)
        Some(ScaleOps.ColConstraint(c, lo, hi, keys))
      case (c, StringType) =>
        val (lo, hi, ks) = stringConstraints(c)
        Some(ScaleOps.ColConstraint(c, lo, hi, ks.map(_.map(_._1)),
          ks.map(_.map(_._2: Any))))
      case _ => None
    }

  override def build(): Scan =
    new SnapshotScan(root, version, tableSchema, statsCol, pushed, required,
      subset)
}

/** The store's Scan: manifest-pruned parquet, with RUNTIME FILTERING
  * (Spark's dynamic file pruning) over the declared stats columns —
  * when the store is the big side of a join on a stats column, the
  * engine hands this scan the build side's key set at execution prep
  * (an `In` filter) and the zone maps AND per-file Blooms re-plan the
  * file list before a single partition is launched. At 100 TB this is
  * the star-join shape: "fetch these 10⁴ doc_ids" touches the files
  * that can hold them, not the corpus, with no explicit predicate in
  * the user's query. The parquet delegate is built LAZILY so the
  * runtime filters (delivered between planning and execution) are in
  * the file plan; all filters also push to parquet for row-group
  * skipping inside surviving files. */
class SnapshotScan(
    private[graft] val root: String,
    private[graft] val version: Long,
    private[graft] val tableSchema: StructType,
    private[graft] val statsCol: Option[String],
    private[graft] val pushed: Array[Filter],
    private[graft] val required: StructType,
    private[graft] val subset: Option[String] = None)
    extends Scan with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  @volatile private var runtime: Array[Filter] = Array.empty

  override def readSchema(): StructType = required

  override def filterAttributes(): Array[NamedReference] =
    statsCol.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .map(c => Expressions.column(c)).toArray

  override def filter(filters: Array[Filter]): Unit = {
    // only filters the stat-space mapping understands matter; others
    // are dropped here (Spark re-applies the join itself — runtime
    // filters are a pure file/row-group-skipping hint)
    runtime = filters
  }

  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  /** The delegate is REBUILT whenever the effective filter set
    * changes — the engine probes partitions (supportsColumnar) BEFORE
    * delivering runtime filters and re-plans via toBatch() after, so
    * a once-only lazy val here would silently pin the pre-filter file
    * list and runtime pruning would never happen. Cache keyed by the
    * filter set: the post-filter re-plan builds once, every later
    * call reuses it. */
  @volatile private var cached: Option[(Array[Filter],
    (org.apache.spark.sql.connector.read.Batch, Seq[String]))] = None

  private def planned
      : (org.apache.spark.sql.connector.read.Batch, Seq[String]) =
    synchronized {
      val all = pushed ++ runtime
      cached match {
        case Some((k, v)) if k.sameElements(all) => v
        case _ =>
          val s = SparkSession.active
          val sb = new SnapshotScanBuilder(root, version, tableSchema,
            statsCol)
          sb.pushFilters(all)
          val m = Manifest.read(s, root, version)
          val kept = ScaleOps.pruneFiles(s, m, sb.plannedConstraints)
          // subset restriction intersects the pruned list: the
          // composed merge-on-read plan reads the version's clean
          // lines here while its DV'd lines go through the v1
          // anti-join half (SnapshotDvReadPlan)
          val files = subset match {
            case None => kept
            case Some(ss) =>
              val dvd = m.dvs.keySet
              if (ss == "dvd") kept.filter(dvd) else kept.filterNot(dvd)
          }
          val index = new InMemoryFileIndex(s, files.map(new Path(_)),
            Map.empty, Some(tableSchema))
          val opts = new CaseInsensitiveStringMap(
            Map("mergeSchema" -> "true").asJava)
          val pb = ParquetScanBuilder(s, index, tableSchema, tableSchema,
            opts)
          pb.pruneColumns(required)
          pb.pushDataFilters(all) // parquet-level row-group skipping
          val v = (pb.build().toBatch, files)
          cached = Some((all, v))
          v
      }
    }

  private def delegate: org.apache.spark.sql.connector.read.Batch =
    planned._1

  /** The manifest-planned files of the EXECUTED scan (pushed AND
    * runtime constraints applied) — what the pruning pins count. */
  def plannedFiles: Seq[String] = planned._2

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    delegate.planInputPartitions()

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    delegate.createReaderFactory()

  override def description(): String =
    s"graft-snapshot $root v$version " +
      s"[pushed ${pushed.length}, runtime ${runtime.length}" +
      subset.fold("")(ss => s", $ss") + "]"

  // value equality (the delegated ParquetScan was a case class): scan
  // and exchange REUSE compare scans, and reference equality would
  // quietly disable reuse for identical reads. Runtime filters are
  // part of the identity — two scans of the same table filtered by
  // different join keys are different scans (the Iceberg convention).
  override def equals(other: Any): Boolean = other match {
    case o: SnapshotScan =>
      root == o.root && version == o.version &&
        tableSchema == o.tableSchema && statsCol == o.statsCol &&
        required == o.required && subset == o.subset &&
        pushed.toSeq == o.pushed.toSeq && runtime.toSeq == o.runtime.toSeq
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(root, version.asInstanceOf[AnyRef],
      tableSchema, statsCol, required, subset, pushed.toSeq, runtime.toSeq)
}
