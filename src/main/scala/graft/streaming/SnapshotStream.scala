package graft.streaming

import graft.operators.ScaleOps
import graft.snapshot.{Manifest, ManifestEntry}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.types._

/** STREAMING SOURCE over the snapshot store — `readStream
  * .format("graft-snapshot")`, the Delta-streaming-source shape: the
  * stream TAILS committed versions, emitting each append's file
  * delta and each rewrite's committed change feed as
  * `_change_type`/`_commit_version`-tagged rows, resuming exactly
  * from a checkpointed offset (versions are immutable and file lists
  * ride the manifest in a stable order, so replayed batches are
  * bit-identical — at-least-once upstream becomes exactly-once with
  * any idempotent sink). This closes the loop with [[Jobs]]' snapshot
  * ingest: streams have written the store since s14; now streams can
  * READ it.
  *
  * Built on the v1 `Source` contract deliberately (the same choice
  * Delta's DeltaSource makes): `getBatch` returns a PLANNED
  * DataFrame, so each micro-batch reuses the engine's entire batch
  * read path — manifest-header schema resolution, file-grain delta
  * planning, Spark's vectorized parquet scan — instead of a bespoke
  * partition reader. The only internal surface that requires is the
  * streaming flag ([[SqlShims.asStreamingFrame]]).
  *
  * ADMISSION CONTROL (the Delta `maxFilesPerTrigger` /
  * `maxBytesPerTrigger` discipline): offsets are composite
  * `(version, fileIndex, initial)` ([[SnapshotOffset]]), so a
  * micro-batch is bounded — never "the whole corpus because the
  * stream just started" or "the whole backlog because it was down a
  * week". `getOffset` advances the previous offset by at most
  * `maxFilesPerTrigger` manifest files (default 1000, Delta's
  * default) across at most `maxVersionsPerTrigger` versions
  * (default unbounded), splitting WITHIN a version by file index
  * when a single commit is larger than the bound. At 100× scale the
  * initial snapshot therefore arrives as ~fileCount/1000 restartable
  * micro-batches with per-batch checkpoints instead of one
  * all-or-nothing planning event over 10⁴-10⁵ files. A rewrite hop's
  * change feed is admitted atomically (one budget unit): feeds are
  * row-delta-sized by construction, and splitting one would tear an
  * update's delete/insert pair across batches.
  *
  * Batch semantics over positions (after, end]:
  *  - fresh start, no `startingVersion`: the latest version's FULL
  *    content as inserts (Delta's initial-snapshot default) — split
  *    by file index, never mixed with later deltas in one batch —
  *    then deltas forever after;
  *  - `startingVersion` = v: change-feed hops from v onward (v's own
  *    commit included; v=1 replays the whole history);
  *  - per hop: pure append → added files (file-index split); rewrite
  *    → its committed feed; a feed-less rewrite or a vacuumed-away
  *    parent THROWS — a stream that silently replayed a full corpus
  *    as "changes" would duplicate everything downstream.
  *
  * The source keeps its own monotonic offset floor in
  * `metadataPath/graft-offsets/` (written at `getOffset`, BEFORE the
  * engine logs the offset — so the restored floor is always >= the
  * engine's committed offset): a restarted source never re-derives a
  * smaller-than-committed offset from scratch, which would re-emit
  * rows. Recovery `getBatch(start, end)` stays a pure function of
  * the offsets, so replaying the engine's offset log reproduces
  * batches exactly.
  *
  * The stream's schema is pinned at start (latest version's manifest
  * header + the two metadata columns); rows from later evolved
  * versions project onto it — new columns appear on restart, the
  * Delta rule. */
class SnapshotStream(spark: SparkSession, root: String,
    startingVersion: Option[Long], dataSchema: StructType,
    metadataPath: String, maxFilesPerTrigger: Int,
    maxVersionsPerTrigger: Int,
    maxBytesPerTrigger: Option[Long] = None) extends Source {

  import SnapshotStream._

  override val schema: StructType = SnapshotStream.withMeta(dataSchema)

  // ---- self-persisted offset floor (survives restarts) ----

  private val offsetsDir = new Path(metadataPath, "graft-offsets")
  private def offsetsFs =
    offsetsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def persistedSeqs(): Seq[Long] = {
    val fs = offsetsFs
    if (!fs.exists(offsetsDir)) Seq.empty
    else fs.listStatus(offsetsDir).map(_.getPath.getName)
      .collect { case n if n.startsWith("o") && n.drop(1).forall(_.isDigit) =>
        n.drop(1).toLong }
      .toSeq.sorted
  }

  private def restoreFloor(): (Long, Option[SnapshotOffset]) = {
    val fs = offsetsFs
    val seqs = persistedSeqs()
    // newest PARSEABLE file wins — a crash mid-write leaves at most
    // one truncated newest file, with its predecessor intact
    seqs.reverse.foreach { q =>
      try {
        val in = fs.open(new Path(offsetsDir, s"o$q"))
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        return (seqs.lastOption.getOrElse(0L), Some(SnapshotOffset.fromJson(txt)))
      } catch { case _: Exception => }
    }
    (seqs.lastOption.getOrElse(0L), None)
  }

  private var (persistSeq, known): (Long, Option[SnapshotOffset]) = restoreFloor()

  private def persist(o: SnapshotOffset): Unit = {
    val fs = offsetsFs
    fs.mkdirs(offsetsDir)
    persistSeq += 1
    val tmp = new Path(offsetsDir, s".tmp-o$persistSeq")
    val out = fs.create(tmp, true)
    try out.write(o.json.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, new Path(offsetsDir, s"o$persistSeq"))) {
      // NEVER hand the engine an offset whose floor wasn't durably
      // written: a swallowed failure here lets the engine commit an
      // offset ahead of the persisted floor, which a restart then
      // hard-rejects (rejectFloorlessRestart) or replays from a
      // stale floor. Failing the trigger is safe — the engine
      // retries getOffset, and no offset was exposed.
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"snapshot stream: offset-floor rename failed for o$persistSeq " +
          s"under $offsetsDir; refusing to expose an offset without " +
          "its durable floor")
    }
    // keep the last two (the newest may be the truncated one next
    // time); older floors are dead weight
    if (persistSeq > 2)
      fs.delete(new Path(offsetsDir, s"o${persistSeq - 2}"), false)
  }

  // ---- hop planning ----

  /** One consumable unit of history. */
  private sealed trait Seg
  /** A file-sliceable hop: the manifest entries not yet consumed
    * (absolute indices start at `baseIdx` of the version's full
    * emittable list); `initial` selects WHICH list — the bootstrap's
    * full manifest listing vs an append's added-file delta. */
  private case class FileSeg(version: Long, baseIdx: Long,
      files: Seq[ManifestEntry], initial: Boolean) extends Seg
  /** A rewrite hop: its committed change feed, admitted atomically. */
  private case class FeedSeg(version: Long) extends Seg

  /** Lazy hop segments strictly after `pos` (None = stream start),
    * in version order. `bootstrapV` names the initial-snapshot
    * version for the default (no startingVersion) mode — the head at
    * first advance, or the version already baked into the offsets. */
  private def segmentsAfter(pos: Option[SnapshotOffset],
      bootstrapV: => Long): Iterator[Seg] = {
    val vs = ScaleOps.snapshotVersions(spark, root)
    def hopSeg(v: Long): Seg = {
      if (!vs.contains(v - 1))
        throw new IllegalStateException(
          s"change-feed hop v$v has no committed parent v${v - 1} " +
            "(vacuumed?); the delta cannot be proven — re-read the " +
            "versions directly (s04 content diff) instead")
      // LINE-grain append detection (Listing.appendsTo): a
      // merge-on-read delete keeps the file SET and changes only a
      // dv: field — a path-level subset test would emit an empty hop
      // where a delete happened
      val (parent, child) =
        (Manifest.read(spark, root, v - 1), Manifest.read(spark, root, v))
      if (child.appendsTo(parent))
        FileSeg(v, 0L, child.addedOver(parent), initial = false)
      else FeedSeg(v)
    }
    def hops(afterV: Long): Iterator[Seg] =
      vs.iterator.filter(_ > afterV).map { v =>
        // the whole-history bootstrap (startingVersion=1, and the
        // vacuum-trimmed-head variant): the earliest retained
        // version's hop is its FULL content as inserts
        if (!vs.contains(v - 1) && v == vs.head &&
            startingVersion.contains(1L))
          FileSeg(v, 0L, Manifest.read(spark, root, v).entries,
            initial = true)
        else hopSeg(v)
      }
    pos match {
      case None => startingVersion match {
        case Some(sv) => hops(sv - 1)
        case None =>
          val b = bootstrapV
          Iterator(FileSeg(b, 0L,
            Manifest.read(spark, root, b).entries, initial = true)) ++
            hops(b)
      }
      case Some(o) if o.index >= 0 && o.initial =>
        // mid-bootstrap: the rest of the version's full listing
        Iterator(FileSeg(o.version, o.index,
          Manifest.read(spark, root, o.version).entries
            .drop(o.index.toInt), initial = true)) ++ hops(o.version)
      case Some(o) if o.index >= 0 =>
        // mid-append: the rest of the hop's added files
        val vsNow = vs
        require(vsNow.contains(o.version - 1),
          s"resume hop v${o.version} has no committed parent " +
            s"v${o.version - 1} (vacuumed?); the delta cannot be proven")
        Iterator(FileSeg(o.version, o.index,
          Manifest.read(spark, root, o.version)
            .addedOver(Manifest.read(spark, root, o.version - 1))
            .drop(o.index.toInt), initial = false)) ++ hops(o.version)
      case Some(o) => hops(o.version)
    }
  }

  /** Advance `pos` by at most the per-trigger budgets. A bootstrap
    * segment never shares a batch with delta hops (its completion
    * ends the batch), so `getBatch(None, end)` can always recover
    * the bootstrap version from `end` alone.
    *
    * The BYTE budget (`maxBytesPerTrigger`, Delta's soft max) spends
    * the manifest's `sz:` fields — zero per-file RPCs at trigger
    * time — and admits files until the NEXT file would exceed the
    * remaining budget, always admitting at least one file per
    * trigger (progress even when a single compacted file outweighs
    * the budget — post-s10/s20 compaction is exactly when file
    * count stops being a proxy for bytes). Size-less legacy lines
    * spend nothing: they admit by file count alone, the documented
    * back-compat. A rewrite's change feed is admitted atomically, as
    * before. */
  private def advanceFrom(pos: Option[SnapshotOffset]): Option[SnapshotOffset] = {
    var cur = pos
    var files = maxFilesPerTrigger.toLong
    var vers = maxVersionsPerTrigger.toLong
    var bytes = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    var admittedAny = false
    val segs = segmentsAfter(pos, ScaleOps.snapshotVersions(spark, root).last)
    var stop = false
    while (!stop && segs.hasNext) {
      if (files <= 0 || vers <= 0 || bytes <= 0) stop = true
      else segs.next() match {
        case FileSeg(v, base, fls, init) =>
          vers -= 1
          // admit while inside BOTH budgets; the first file of the
          // trigger is always admitted (soft-max progress guarantee)
          var take = 0
          var go = true
          while (go && take < fls.size && take < files) {
            val sz = fls(take).size.getOrElse(0L)
            if (sz <= bytes || !admittedAny) {
              bytes -= math.min(sz, bytes)
              admittedAny = true
              take += 1
            } else go = false
          }
          files -= take
          if (take < fls.size) {
            cur = Some(SnapshotOffset(v, base + take, init))
            stop = true
          } else {
            cur = Some(SnapshotOffset(v, -1L, initial = false))
            if (init) stop = true // bootstrap/delta batch boundary
          }
        case FeedSeg(v) =>
          vers -= 1
          files -= 1
          admittedAny = true
          cur = Some(SnapshotOffset(v, -1L, initial = false))
      }
    }
    cur
  }

  /** A committed checkpoint written by the pre-pacing source (or one
    * whose floor file was lost) has an engine offset log but no floor
    * — re-deriving a from-scratch offset here could re-emit rows the
    * old stream already delivered. Refuse loudly instead of
    * duplicating silently. (A fresh stream's first getOffset runs
    * BEFORE the engine writes its first offset-log entry, so this
    * never fires on a clean start; an uncommitted-batch recovery
    * calls getBatch first, which restores the floor from the replayed
    * offsets.) */
  private def rejectFloorlessRestart(): Unit = {
    val engineOffsets =
      new Path(new Path(metadataPath).getParent.getParent, "offsets")
    val fs = engineOffsets.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (scala.util.Try(fs.exists(engineOffsets) &&
        fs.listStatus(engineOffsets).nonEmpty).getOrElse(false))
      throw new IllegalStateException(
        "graft-snapshot: this checkpoint has engine offsets but no " +
          "source offset floor (a pre-admission-control checkpoint, " +
          "or a lost floor file); resuming could re-emit delivered " +
          "rows — restart with a fresh checkpoint (use " +
          "startingVersion to replay history deliberately)")
  }

  override def getOffset: Option[OffsetV1] = {
    if (known.isEmpty) rejectFloorlessRestart()
    val next = advanceFrom(known)
    if (next != known) {
      next.foreach(persist)
      known = next
    }
    known
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endO = SnapshotOffset.parse(end)
    val startO = start.map(SnapshotOffset.parse)
    // track the engine's high-water mark (recovery may call getBatch
    // before any getOffset of this incarnation)
    if (known.forall(k => SnapshotOffset.cmp(endO, k) > 0)) {
      persist(endO)
      known = Some(endO)
    }
    val frames = Seq.newBuilder[DataFrame]
    if (startO.forall(so => SnapshotOffset.cmp(so, endO) < 0)) {
      val segs = segmentsAfter(startO, endO.version)
      var stop = false
      while (!stop && segs.hasNext) segs.next() match {
        case FileSeg(v, base, fls, _) if v <= endO.version =>
          val upto =
            if (v == endO.version && endO.index >= 0)
              (endO.index - base).toInt
            else fls.size
          val slice = fls.take(upto)
          if (slice.nonEmpty) {
            // the PINNED schema is passed explicitly: no per-batch
            // footer inference (metadata-bounded planning even at
            // 1000 files/trigger), columns a file physically lacks
            // null-fill natively, columns the stream predates are
            // not read at all (the restart rule). A BOOTSTRAP slice
            // of a version carrying deletion vectors masks them
            // (ScaleOps.readLinesDv) — a raw read would resurrect
            // every deleted row into the stream; append-hop slices
            // are fresh files and never carry a dv field, so the
            // header probe keeps them on the plain read.
            val body =
              if (ScaleOps.snapshotHasDvs(spark, root, v))
                ScaleOps.readLinesDv(spark, root, slice, Some(dataSchema),
                  merged = true)
              else spark.read.schema(dataSchema).parquet(slice.map(_.path): _*)
            frames += body
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(v))
          }
          if (v == endO.version) stop = true
        case FeedSeg(v) if v <= endO.version =>
          val (ins, del) = ScaleOps.snapshotChangeFiles(spark, root, v)
            .getOrElse(throw new IllegalStateException(
              s"v$v is a rewrite with no committed change feed; " +
                "read the versions directly (s04 content diff) instead"))
          frames += ins.withColumn("_change_type", lit("insert"))
            .unionByName(del.withColumn("_change_type", lit("delete")),
              allowMissingColumns = true)
            .withColumn("_commit_version", lit(v))
          if (v == endO.version) stop = true
        case _ => stop = true
      }
    }
    val batch = frames.result()
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[Row](), schema))
    // project onto the pinned stream schema: columns a hop's files
    // physically lack are null-filled, columns the stream predates
    // are dropped (they appear on restart — the Delta rule)
    val projected = batch.select(schema.fields.map { f =>
      if (batch.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    SqlShims.asStreamingFrame(projected)
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"SnapshotStream[$root${startingVersion.fold("")(v => s", from v$v")}, " +
      s"maxFiles=$maxFilesPerTrigger, maxVersions=$maxVersionsPerTrigger" +
      maxBytesPerTrigger.fold("")(b => s", maxBytes=$b") + "]"
}

object SnapshotStream {

  /** Composite stream offset: every hop with version < `version`
    * fully consumed; within `version`, the first `index` files of its
    * emittable list consumed (`index` = -1: the version is fully
    * consumed). `initial` marks mid-BOOTSTRAP positions, whose list
    * is the version's full manifest listing rather than its
    * added-file delta — Delta's `isStartingVersion`. */
  case class SnapshotOffset(version: Long, index: Long, initial: Boolean)
      extends OffsetV1 {
    override def json: String =
      s"""{"version":$version,"index":$index,"initial":$initial}"""

    // offsets compare BY JSON across representations (the engine
    // holds deserialized SerializedOffsets after a restart; the
    // case-class equality would call them unequal and schedule a
    // spurious batch per restart)
    override def equals(obj: Any): Boolean = obj match {
      case o: OffsetV1 => json == o.json
      case _ => false
    }
    override def hashCode(): Int = json.hashCode
  }

  object SnapshotOffset {
    def parse(o: OffsetV1): SnapshotOffset = o match {
      case s: SnapshotOffset => s
      case other => fromJson(other.json)
    }

    /** Composite json, or a round-10 checkpoint's bare LongOffset
      * number (= that version fully consumed). */
    def fromJson(j: String): SnapshotOffset = {
      val t = j.trim.stripPrefix("\"").stripSuffix("\"")
      if (t.nonEmpty && t.forall(c => c.isDigit || c == '-'))
        SnapshotOffset(t.toLong, -1L, initial = false)
      else {
        def field(name: String): String =
          ("\"" + name + "\"\\s*:\\s*([-0-9a-z]+)").r
            .findFirstMatchIn(t).map(_.group(1)).getOrElse(
              throw new IllegalStateException(
                s"unparseable graft-snapshot offset: $j"))
        SnapshotOffset(field("version").toLong, field("index").toLong,
          field("initial").toBoolean)
      }
    }

    /** Position order: by version, then consumed-file index, a fully
      * consumed version (-1) after any mid-version index. */
    def cmp(a: SnapshotOffset, b: SnapshotOffset): Int = {
      def norm(i: Long) = if (i < 0) Long.MaxValue else i
      if (a.version != b.version) java.lang.Long.compare(a.version, b.version)
      else java.lang.Long.compare(norm(a.index), norm(b.index))
    }
  }

  private[graft] def withMeta(st: StructType): StructType =
    StructType(st.fields ++ Seq(
      StructField("_change_type", StringType),
      StructField("_commit_version", LongType)))

  /** Resolved stream configuration for a `readStream` option map. */
  private[graft] case class StreamConfig(root: String,
      startingVersion: Option[Long], dataSchema: StructType,
      maxFilesPerTrigger: Int, maxVersionsPerTrigger: Int,
      maxBytesPerTrigger: Option[Long])

  /** Resolve a stream's options — metadata-only, one manifest header
    * read (the batch connector's discipline). Streams tail the HEAD,
    * so the batch pins (version/ref/timestampAsOf) are rejected
    * loudly. */
  private[graft] def resolveStream(
      parameters: Map[String, String]): StreamConfig = {
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    val root = opts.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot stream requires a path option (the store root)"))
    Seq("version", "ref", "timestampasof").foreach(k =>
      require(!opts.contains(k),
        s"graft-snapshot streams tail the head; '$k' cannot pin one " +
          "(use startingVersion to replay history)"))
    val startingVersion = opts.get("startingversion").map(_.toLong)
    startingVersion.foreach(v =>
      require(v >= 1, s"startingVersion must be >= 1, got $v"))
    def positiveInt(key: String, default: Int): Int = {
      val v = opts.get(key).map(_.toInt).getOrElse(default)
      require(v >= 1, s"$key must be >= 1, got $v")
      v
    }
    // Delta's default pacing: 1000 files per micro-batch unless told
    // otherwise — an UNBOUNDED default is the scale hazard admission
    // control exists to close
    val maxFiles = positiveInt("maxfilespertrigger", 1000)
    val maxVersions = positiveInt("maxversionspertrigger", Int.MaxValue)
    // byte budget (Delta's maxBytesPerTrigger pair): after compaction
    // to ~target-size files, N files/trigger is an arbitrarily large
    // byte batch — the byte budget re-bounds it. No default: files
    // alone remain the default pacing, bytes opt in.
    val maxBytes = opts.get("maxbytespertrigger").map { v =>
      val b = v.toLong
      require(b >= 1, s"maxBytesPerTrigger must be >= 1, got $b")
      b
    }
    val s = SparkSession.active
    val vs = ScaleOps.snapshotVersions(s, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val dataSchema = ScaleOps.snapshotSchema(s, root, vs.last).getOrElse(
      ScaleOps.readSnapshot(s, root, Some(vs.last)).schema)
    StreamConfig(root, startingVersion, dataSchema, maxFiles,
      maxVersions, maxBytes)
  }
}
