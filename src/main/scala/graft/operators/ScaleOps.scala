package graft.operators

import graft.{QueryModule, Tables}
import graft.snapshot.{Manifest, ManifestEntry}
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Skew discipline: salted two-level aggregation.
  *
  * At the 100 TB design point a hash aggregation keyed on a skewed
  * column (one hot user, one hot sku) funnels the hot key's entire
  * volume through a single reduce task. The standard fix is salting:
  * aggregate on (key, salt) first — spreading the hot key over
  * `salts` reducers — then combine the partials per key. Both levels
  * are plain hash aggregations, so Catalyst still applies map-side
  * partial aggregation within each level.
  *
  * The salt must be deterministic here (oracle equality), so it
  * derives from a row-unique column rather than rand(); production
  * use with rand() changes nothing semantically for additive
  * aggregates.
  *
  * a08_salted re-states a08_keyed_agg through this path and shares
  * its oracle SQL verbatim — the correctness gate proves the salted
  * plan is value-identical to the direct one. (AQE's runtime skew
  * handling covers joins; salting covers aggregations, which AQE
  * does not rebalance.)
  */
object ScaleOps extends QueryModule {

  /** Two-level salted aggregation: partials on (key, salt), final on
    * key. `aggs` maps output column name → (partial agg of the input,
    * final combine of the partial column). */
  def saltedAgg(
      df: DataFrame, key: Column, saltFrom: Column, salts: Int,
      aggs: Seq[(String, Column, Column => Column)]): DataFrame = {
    val partialCols = aggs.map { case (name, partial, _) => partial.as(s"__p_$name") }
    val finalCols = aggs.map { case (name, _, fin) => fin(col(s"__p_$name")).as(name) }
    df
      .groupBy(key.as("__key"), pmod(hash(saltFrom), lit(salts)).as("__salt"))
      .agg(partialCols.head, partialCols.tail: _*)
      .groupBy(col("__key"))
      .agg(finalCols.head, finalCols.tail: _*)
  }

  /** Write `df` as a bucketed + bucket-sorted managed parquet table —
    * the co-location layout for the 100 TB fact tables: a later join
    * or aggregation on `key` between tables bucketed the same way
    * needs NO shuffle exchange (Spark matches HashPartitioning(key,
    * buckets) on both sides) and no sort for sort-merge. At scale this
    * converts the nightly fact⋈fact joins from full-network shuffles
    * into local map-side merges; BucketingSpec pins the zero-Exchange
    * plan and value parity vs the plain-parquet join. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Write `df` hive-partitioned by `cols` — the pruning layout for
    * the 100 TB corpus: a query filtering on a partition column scans
    * only matching directories (plan shows the predicate under
    * PartitionFilters with zero data files touched elsewhere). The
    * standard layout for documents is partitionBy(lang, source), so
    * per-language curation passes read ~1/NUM_LANGS of the bytes.
    * PartitionPruningSpec pins the pruned plan + value parity. */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Identity token of the corpus a persisted artifact (IVF/PQ
    * index, dedup signature store) was built from: the dir path plus
    * the source file listing (name, length, mtime) — metadata only,
    * no data scan. Stored with the artifact and re-checked on every
    * read, so a regenerated corpus (same path, new files) or a
    * 32-bit table-name hash collision between dirs triggers a
    * rebuild instead of silently answering from a stale store. */
  private[operators] def corpusToken(s: SparkSession, d: String,
      file: String): String = {
    val p = new org.apache.hadoop.fs.Path(d, file)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files =
      if (!fs.exists(p)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else if (fs.getFileStatus(p).isFile) Array(fs.getFileStatus(p))
      else fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.toString)
    files.map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .mkString(s"$d|", ",", "")
  }

  /** Drop a managed table AND its warehouse location. The in-memory
    * catalog dies with the session but the warehouse files do not,
    * and CREATE TABLE refuses a non-empty orphan location
    * (LOCATION_ALREADY_EXISTS) — so a rebuild in a fresh session must
    * clear both. */
  private[operators] def dropStale(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val p = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Compact a parquet directory to ~`targetBytes` files — the
    * small-files remedy every long-lived ingest needs: streaming
    * micro-batches and fine-grained partitions accumulate KB-size
    * files whose per-file open/footer cost dominates scans and whose
    * listing breaks driver memory at 10^7 files. Rewrites the data
    * through one repartition sized from the CURRENT byte size, then
    * swaps directories rename-aside (same crash-safe protocol as
    * Sinks.upsertDim: the full snapshot exists at `path` or
    * `path__old` at every instant). Returns the new data-file count. */
  def compact(spark: SparkSession, path: String, targetBytes: Long): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    // Hive-partitioned layout (key=value subdirectories): recurse and
    // compact each LEAF independently — rewriting the root flat would
    // silently destroy the partition structure (and see 0 top-level
    // part- files, defeating the sizing). Leaf-at-a-time also keeps
    // each swap's crash window to one partition.
    val partDirs = fs.listStatus(dst)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    if (partDirs.nonEmpty) {
      partDirs.map(s => compact(spark, s.getPath.toString, targetBytes)).sum
    } else {
      val total = fs.listStatus(dst)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .map(_.getLen).sum
      val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      val tmp = new org.apache.hadoop.fs.Path(path + "__tmp")
      val old = new org.apache.hadoop.fs.Path(path + "__old")
      spark.read.parquet(path).repartition(n)
        .write.mode("overwrite").parquet(tmp.toString)
      fs.delete(old, true)
      require(fs.rename(dst, old), s"compact: rename $dst -> $old failed")
      require(fs.rename(tmp, dst), s"compact: rename $tmp -> $dst failed")
      fs.delete(old, true)
      fs.listStatus(dst)
        .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
    }
  }

  // ---------------------------------------------------------------
  // s03 — versioned corpus snapshots (manifest-based time travel)
  // ---------------------------------------------------------------

  private def fsOf(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Published snapshot versions under `root`, ascending. ONLY
    * committed manifests count — data directories without a
    * manifest (a crashed publish) are invisible. */
  def snapshotVersions(s: SparkSession, root: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(root, "_manifests")
    val fs = fsOf(s, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .toSeq.sorted
  }

  /** Atomically publish `df` as the next snapshot version of the
    * corpus at `root` and return its version number.
    *
    * Protocol (the Iceberg/Delta commit shape, minimal form): data
    * files land under an ATTEMPT-PRIVATE directory
    * (`data-v<N>-<attempt>`), then ONE manifest file — carrying the
    * batch tag as a `#tag:` header and per-file zone-map stats inline
    * on each data line — is renamed into `_manifests/`. The rename is
    * the SINGLE commit point: tag, stats, and file list become
    * visible atomically, so there is no window in which a racing
    * writer can clobber a committed sidecar (the round-7 tag-race
    * finding). Readers resolve a manifest and read only its file
    * list, never a directory listing, so a reader pinned to version N
    * is fully isolated from any concurrent publish of N+1 (snapshot
    * isolation), and a crash before the manifest rename leaves
    * nothing visible. Concurrent publishers racing to the same
    * version write DISJOINT attempt directories; the second manifest
    * rename fails (rename-to-existing), the loser deletes its own
    * data and throws — it can never touch the winner's files. On
    * object stores without atomic rename this needs the usual swap to
    * a CAS/log-append commit; the reader contract is unchanged. */
  def publishSnapshot(s: SparkSession, root: String, df: DataFrame,
      statsCol: Option[String] = None, statsBloom: Boolean = false): Long =
    // a full overwrite replaces whatever the head is — commutes with
    // any interleaved commit, so a slot-race loser just retries
    retryingCommit(s, root, dmlGuard = false)(
      commitVersion(s, root, df, parentLines = Nil, statsCol, tag = None,
        statsBloom = statsBloom))

  /** Publish `df` as the next snapshot version WITHOUT rewriting the
    * existing data: the new manifest lists the PARENT version's
    * files plus only the appended rows' new files (the Iceberg
    * fast-append shape). Content of version N+1 = parent ∪ df.
    * Readers are unchanged — a manifest is a file list however it
    * was produced — and because versions now SHARE files, expiring
    * an old version must not blindly delete its file list; that is
    * [[vacuumSnapshots]]' reference counting. */
  /** Chain length bound: every CHECKPOINT_EVERY-th append (and every
    * rewrite op — delete/merge/compact commit full listings anyway)
    * materializes the resolved file list, so a read walks at most
    * this many delta manifests — the Delta-log checkpoint cadence. */
  private val CHECKPOINT_EVERY = 16L

  def appendSnapshot(s: SparkSession, root: String, df: DataFrame,
      statsCol: Option[String] = None, tag: Option[String] = None,
      statsBloom: Boolean = false): Long =
    // appends COMMUTE with any interleaved commit: a loser re-plans
    // against the new head and re-lands the batch (retryingCommit) —
    // two concurrent writers both land instead of one throwing
    retryingCommit(s, root, dmlGuard = false)(
      appendSnapshotAttempt(s, root, df, statsCol, tag, statsBloom))

  private def appendSnapshotAttempt(s: SparkSession, root: String,
      df: DataFrame, statsCol: Option[String], tag: Option[String],
      statsBloom: Boolean): Long = {
    val vs = snapshotVersions(s, root)
    // The append hot path writes a DELTA manifest: `#parent:<v>` plus
    // only this batch's lines — O(batch) metadata per append instead
    // of O(live files), and NO read of the parent manifest at all.
    // Every CHECKPOINT_EVERY-th version writes the resolved full
    // listing instead (parent lines carry their inline stats/Bloom
    // fields forward verbatim — still never a re-read of parent
    // DATA). Growth bound over N appends: O(N · batch-files) delta
    // lines + O(N/C · live-files) checkpoint lines — linear in data
    // appended, vs the O(N · live-files) = O(N²) of full listings
    // every time. Vacuum bounds live manifests as before.
    vs.lastOption match {
      case Some(p) if (p + 1) % CHECKPOINT_EVERY != 0 =>
        commitVersion(s, root, df, parentLines = Nil, statsCol, tag,
          statsBloom = statsBloom, parentRef = Some(p),
          expectParent = Some(p))
      case Some(p) =>
        commitVersion(s, root, df,
          parentLines = Manifest.read(s, root, p).entries, statsCol, tag,
          statsBloom = statsBloom, expectParent = Some(p))
      case None =>
        commitVersion(s, root, df, parentLines = Nil, statsCol, tag,
          statsBloom = statsBloom, expectParent = Some(0L))
    }
  }

  /** Batch-tagged IDEMPOTENT append — the streaming-sink commit
    * contract (Delta/Iceberg `txn`-style): commit `df` as the next
    * version tagged `tag`, unless the LAST committed version already
    * carries that tag, in which case do nothing and return None (an
    * at-least-once replay). The tag lives INSIDE the manifest, so
    * tag-with-manifest is the only committed state and every crash
    * window (data without manifest) is invisible debris a retry
    * simply ignores — its attempt directory is unique, so the retry
    * never collides with debris or with a racing winner.
    *
    * The replay probe is [[lastCommittedTag]]: one header line per
    * manifest, walking back only past UNTAGGED maintenance commits —
    * O(1) per micro-batch in steady state (the round-7
    * O(versions)-per-batch finding), and immune to a compact/delete/
    * merge landing between a batch's commit and its at-least-once
    * replay (the round-8 tail-only-probe finding). Sequential
    * foreachBatch replays make the newest TAGGED version the only
    * one a replayed tag can match.
    * One version per micro-batch; version-count and manifest-line
    * growth are [[vacuumSnapshots]]' standing remedy, exactly like
    * compact() for small files. */
  def snapshotAppendOnce(s: SparkSession, root: String, df: DataFrame,
      tag: String, statsCol: Option[String] = None): Option[Long] =
    // the retry wraps probe AND attempt so a lost race RE-PROBES the
    // tag — if the winner was a same-tag replay racer, the retry
    // must absorb rather than double-commit the batch
    retryingCommit(s, root, dmlGuard = false) {
      if (lastCommittedTag(s, root).contains(tag)) None
      else Some(appendSnapshotAttempt(s, root, df, statsCol, Some(tag),
        statsBloom = false))
    }

  /** The LAST TAGGED version's tag: the replay probe for the
    * idempotent sinks. Scans backwards past UNTAGGED versions —
    * maintenance commits (delete/merge/compact/vacuum cadence ops)
    * are untagged, so one landing between a batch's commit and its
    * at-least-once replay must not hide the batch's tag (a bare
    * tail-only probe would re-append the batch, silently duplicating
    * data). Still O(1 + maintenance-since-last-batch) header reads —
    * streams tag every batch, so the walk is one or two manifests in
    * steady state, and each probe reads ONE header line. Sequential
    * foreachBatch replays make the first tagged hit sufficient: a
    * replayed tag can only be the newest tagged version's.
    *
    * CONTRACT — ONE tagged writer per store: the first-tagged-hit
    * probe assumes all tagged commits come from a single sequential
    * stream (untagged maintenance ops may interleave freely). Two
    * tagged writers sharing a root can hide each other's newest tag
    * (writer B's tag lands between writer A's commit and A's
    * at-least-once replay → A re-appends, silently duplicating).
    * Fan-in topologies must tag with per-writer prefixes AND probe
    * per-writer ([[committedTags]]), or give each stream its own
    * store — exactly Delta's one-`txnAppId`-per-writer rule. */
  private def lastCommittedTag(s: SparkSession, root: String): Option[String] =
    snapshotVersions(s, root).reverseIterator
      .map(v => manifestTag(s, root, v))
      .collectFirst { case Some(t) => t }

  /** Tags of all COMMITTED versions, in version order — an O(versions)
    * inspection helper (audits, tests); the per-batch replay check in
    * [[snapshotAppendOnce]] probes only the tail. */
  def committedTags(s: SparkSession, root: String): Seq[String] =
    snapshotVersions(s, root).flatMap(v => manifestTag(s, root, v))

  /** Tag-probe counter: test instrumentation pinning that streaming
    * ingest reads O(1) manifest headers per batch (SnapshotIngestSpec). */
  private[graft] val tagProbes = new java.util.concurrent.atomic.AtomicLong

  /** A committed version's batch tag, read from the manifest's first
    * line only — one open + one line, never the whole file list. */
  def manifestTag(s: SparkSession, root: String, v: Long): Option[String] = {
    tagProbes.incrementAndGet()
    Manifest.readTag(s, root, v)
  }

  /** Shared publish tail: land `df`'s files under an attempt-private
    * directory, commit `parentLines ++ newLines` as ONE manifest.
    *
    * The manifest's format is [[graft.snapshot.Manifest]]'s. Tag and
    * stats ride the manifest rename, so they are atomic with the file
    * list: no sidecar can be half-committed or clobbered by a racing
    * loser. Stats for the NEW files cost one projection-pruned scan
    * of just-written data (one column, no shuffle past the per-file
    * agg — bounded collect, one row per new file); files whose
    * min/max are NULL (all-NULL stats column) simply get no bounds
    * and are always kept by pruned reads — the documented degrade
    * path, never a failure. `parentLines` carries reused files'
    * entries forward untouched, so an append never re-reads the
    * parent's data.
    *
    * The attempt id makes data directories disjoint across racing or
    * crashed publishers: nobody ever deletes or overwrites another
    * attempt's files, the manifest rename picks at most one winner,
    * and a loser removes only its OWN debris. Crash debris (an
    * attempt dir with no manifest) is invisible to readers and
    * reclaimed by [[vacuumSnapshots]]' orphan sweep once its version
    * slot is decided.
    *
    * `cdf` — the commit's CHANGE-DATA-FEED row sets `(inserted,
    * deleted)`, the Delta CDF shape for rewrite commits whose file
    * delta does NOT equal their row delta (delete/merge/compact;
    * appends need none — their added files ARE their inserts). The
    * change parquet lands attempt-private BEFORE the manifest
    * rename; the winner renames it to `changes-v<N>` right after
    * winning, so the only way a committed rewrite lacks its feed is
    * a crash inside that one-rename window — and consumers
    * ([[changeFeedSync]], [[readSnapshotChangeFeed]]) treat a
    * missing feed as "fall back to the full read", never as "no
    * changes" (an EMPTY committed feed, e.g. compaction's, means
    * exactly no logical changes).
    *
    * The attempt-private writes are independent, so they run AT ONCE:
    * the data files with their stats/Bloom pass on the calling thread,
    * the feed's `ins` and `del` and the deletion vectors on a small
    * daemon pool ([[SqlShims.submitCaptured]], which carries the
    * caller's job group, description and active session to their
    * jobs). All of them land before the manifest is written. On any
    * failure the commit waits for every write, deletes only this
    * attempt's debris and rethrows the original exception unwrapped;
    * no version is committed. No write re-infers a schema: the stats
    * and DV re-reads pass the schema of the frame they wrote. */
  private def commitVersion(s: SparkSession, root: String, df: DataFrame,
      parentLines: Seq[ManifestEntry], statsCol: Option[String],
      tag: Option[String], statsBloom: Boolean = false,
      parentRef: Option[Long] = None,
      cdf: Option[(DataFrame, DataFrame)] = None,
      expectParent: Option[Long] = None,
      dvNew: Option[DataFrame] = None,
      writeData: Boolean = true): Long = {
    require(parentRef.isEmpty || parentLines.isEmpty,
      "a delta manifest names its parent instead of carrying its lines")
    import org.apache.hadoop.fs.Path
    val rootP = new Path(root)
    val fs = fsOf(s, rootP)
    fs.mkdirs(new Path(rootP, "_manifests"))
    val next = snapshotVersions(s, root).lastOption.getOrElse(0L) + 1L
    val att = java.util.UUID.randomUUID().toString.take(8)
    val tmpData = new Path(rootP, s".tmp-data-v$next-$att")
    val dataDir = new Path(rootP, s"data-v$next-$att")
    val dvDirName = s"dv-v$next-$att"
    val tmpDv = new Path(rootP, s".tmp-dv-v$next-$att")
    val tmpCh = new Path(rootP, s".tmp-changes-v$next-$att")
    // Everything below up to the manifest write lands ATTEMPT-PRIVATE,
    // so the independent writes run at once: the change feed's `ins`
    // and `del` and the deletion vectors on the commit pool, the data
    // files and their stats on this thread. A small commit is bound by
    // its count of fixed-cost Spark jobs, not by bytes, so overlapping
    // them shortens it. A failure anywhere waits for the
    // rest, removes this attempt's debris and rethrows the original
    // exception unwrapped (callers match on its type and message).
    def debris(): Unit =
      Seq(tmpData, dataDir, tmpDv, new Path(rootP, dvDirName), tmpCh)
        .foreach(fs.delete(_, true))
    // change feed: repartition(1) forces a schema-carrying part file
    // even for empty row sets (a bare empty write can emit no part
    // files, which an empty-feed read could not re-infer a schema from)
    val feedWrites = cdf.toSeq.flatMap { case (ins, del) =>
      Seq("ins" -> ins, "del" -> del).map { case (name, rows) =>
        SqlShims.submitCaptured(s) {
          commitTaskHook(name)
          rows.repartition(1).write.mode("overwrite")
            .parquet(new Path(tmpCh, name).toString)
        }
      }
    }
    // MERGE-ON-READ deletion vectors: `dvNew` carries the CUMULATIVE
    // (f, pos) deleted rows for a subset of parentLines' files — land
    // them attempt-private under the dir the re-pointed lines will
    // name (pre-commit, like data: the rename below publishes the
    // manifest that references it; a loser deletes its own dir).
    val dvWrite = dvNew.map { rows =>
      SqlShims.submitCaptured(s) {
        commitTaskHook("dv")
        rows.write.mode("overwrite").parquet(tmpDv.toString)
        val dvDir = new Path(rootP, dvDirName)
        require(fs.rename(tmpDv, dvDir), s"publish: dv rename failed for v$next")
        // counted from the renamed dir: Spark's file listing treats a
        // dot-prefixed name as hidden
        val counts = s.read.schema(rows.schema).parquet(dvDir.toString)
          .groupBy(col("f")).agg(count(lit(1)).as("n"))
          .collect() // bounded: one row per DV'd file
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        if (counts.isEmpty) fs.delete(dvDir, true)
        counts
      }
    }
    val statsColumns: Seq[String] = statsCol.toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val written: Either[Throwable, Seq[ManifestEntry]] =
      try Right(if (!writeData) Nil else writeDataFiles(s, df, tmpData,
        dataDir, next, statsColumns, statsBloom))
      catch { case e: Throwable => Left(e) }
    written.left.toOption.orElse(firstFailure(feedWrites ++ dvWrite))
      .foreach { e => debris(); throw e }
    val newLines = written.toOption.get
    val dvCounts: Map[String, Long] = dvWrite.fold(Map.empty[String, Long])(_.get())
    // re-point the named files' lines at THIS commit's dv dir (their
    // old field, if any, is superseded — dvNew is cumulative)
    val effectiveParent = parentLines.map(e => dvCounts.get(e.path)
      .fold(e)(n => e.copy(dv = Some(ManifestEntry.Dv(dvDirName, n)))))
    // The version's MERGED SCHEMA rides the manifest as a `#schema:`
    // header (with a `#ts:` commit stamp) so readers resolve both
    // from ONE header read — never a footer sweep over the file list.
    // Parent schema comes from the parent's own header (one small
    // read, keeps the delta-append hot path O(batch)); a pre-header
    // parent pays a single migration footer sweep here, at COMMIT
    // time (already a data-writing operation), after which the chain
    // is header-resolved forever.
    val parent = expectParent.filter(_ >= 1L)
    val parentHeaders = parent.map(Manifest.readHeaders(s, root, _))
    val parentSchema = parent.flatMap { p =>
      parentHeaders.flatMap(_.schema).orElse {
        val pf = manifestFiles(s, root, p)
        if (pf.isEmpty) None
        else Some(s.read.option("mergeSchema", "true").parquet(pf: _*).schema)
      }
    }
    val schema = parentSchema.fold(allNullable(df.schema))(
      mergeSchemas(_, allNullable(df.schema)))
    // The store's declared stats columns ride the manifest as a
    // `#statscols:` header (union of this commit's and the parent's
    // — one parent header read, shared with the schema resolution
    // above), so catalog/DSv2 reads can DEFAULT their pruning columns
    // instead of requiring every reader to re-declare what the
    // writers indexed. Best-effort metadata: files without stats
    // entries are kept regardless, and an explicit statsCol option
    // still overrides.
    val allStatsCols =
      (parentHeaders.flatMap(_.statsCols).getOrElse(Nil) ++ statsColumns).distinct
    // `#dvs:` header — the O(1) "this version carries deletion
    // vectors" probe every read path checks before choosing the
    // plain scan plan. Full-listing commits answer from their own
    // lines; a delta append inherits the parent's flag (its carried
    // lines may hold dv fields this manifest never sees).
    val dvs = (effectiveParent ++ newLines).exists(_.dv.isDefined) ||
      parentRef.exists(p => snapshotHasDvs(s, root, p))
    val text = Manifest.renderText(
      Manifest.Headers(tag, parentRef, Some(schema.json),
        Some(System.currentTimeMillis()),
        Some(allStatsCols).filter(_.nonEmpty), dvs),
      effectiveParent ++ newLines)
    val tmp = new Path(rootP, s"_manifests/.tmp-v$next-$att")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    val dst = new Path(rootP, s"_manifests/v$next.manifest")
    // Before contending, repair the slot if a previous claimant
    // crashed between its claim and its rename — otherwise a dead
    // claim bricks the slot (and the store) forever.
    repairSlot(s, root, next)
    // The commit point, with OPTIMISTIC CONFLICT DETECTION (the
    // Delta-log commit shape). Three hazards, all closed here:
    //  1. slot clobber, same JVM — the per-root lock plus
    //     exists-check restores exactly-one-winner for same-process
    //     racers (streaming sinks + maintenance ops share a JVM).
    //  2. slot clobber, CROSS-PROCESS — POSIX rename silently
    //     OVERWRITES, and Hadoop's local create(overwrite=false) is
    //     an exists-check + create, not atomic. The slot is therefore
    //     CLAIMED first via a genuinely atomic create-exclusive
    //     ([[claimSlot]]: O_EXCL on local filesystems, atomic create
    //     on HDFS); only the claim's single winner renames onto the
    //     slot, so two JVMs can never both commit the same version.
    //     Object stores without atomic create-exclusive still need a
    //     CAS log; the reader contract is unchanged.
    //  3. lost update — a commit planned against parent P whose
    //     manifest carries P's lines (or a #parent:P ref) silently
    //     DROPS any version that landed after P, even when its own
    //     slot is free (merge plans vs v1, append commits v2, merge
    //     wins v3 → v2's files vanish from the lineage). `expectParent`
    //     re-checks, inside the lock, that the version the caller
    //     planned against is still the latest; a moved head loses.
    // A loser cleans only its OWN debris and throws — callers retry
    // the operation, which replans against the new head and re-lands
    // the batch's data under a fresh attempt id (no loss, no orphan).
    // A winner that crashes between claim and rename is finished by
    // the next writer's [[repairSlot]] — its manifest was fully
    // written before the claim, so the repair is a pure rename.
    val claimP = new Path(rootP, s"_manifests/.claim-v$next")
    val won = ScaleOps.commitLocks
      .computeIfAbsent(rootP.toUri.toString, _ => new Object)
      .synchronized {
        if (!expectParent.forall(
            _ == snapshotVersions(s, root).lastOption.getOrElse(0L)) ||
          fs.exists(dst)) false
        else if (!claimSlot(fs, claimP, att)) false
        // Re-verify OWNERSHIP immediately before the rename: a
        // claimant stalled past CLAIM_GRACE_MS (GC pause / VM freeze)
        // can have its claim swept-and-reclaimed by another writer —
        // renaming anyway would overwrite that writer's committed
        // manifest (two winners, one version). A claim that is no
        // longer ours is NOT deleted; it belongs to the new owner.
        else if (!claimContent(fs, claimP).contains(att)) false
        // The slot may have been DECIDED while we claimed (the winner
        // deletes its marker after renaming, re-opening the claim for
        // a decided slot): renaming here would clobber the committed
        // manifest, so re-check before the rename, not just before
        // the claim. Our own now-meaningless marker goes with us.
        else if (fs.exists(dst)) { fs.delete(claimP, false); false }
        else if (fs.rename(tmp, dst)) true
        else { fs.delete(claimP, false); false } // undo: slot stays free
      }
    if (!won) {
      // A stalled claimant can also have been taken for DEAD and had
      // its own fully-written commit FINISHED by a repairer
      // ([[repairSlot]]): the committed manifest then references OUR
      // attempt's data directory. Deleting that "debris" would erase
      // committed data — detect the case (our attempt id rides every
      // data line we wrote) and return as the winner instead.
      // Ownership evidence, in preference order: (a) a data line
      // carrying our attempt id (any commit that wrote files); (b)
      // for an EMPTY commit (no data lines to ride the id on — e.g.
      // catalog CREATE TABLE, an empty append), the committed
      // manifest's text equalling the tmp text we wrote byte-for-byte
      // — the #ts: millisecond stamp plus parent/schema headers make
      // a different writer's accidental identical text practically
      // impossible (and if two empty commits ARE textually identical,
      // treating either writer as the winner commits the same store
      // state). Without (b), a repairer finishing our empty commit
      // made us throw "lost the race" on our own committed version.
      val committedOurs =
        committedByRepairer(s, dst, att, newLines.nonEmpty, text)
      if (!committedOurs) { // lost the commit race — clean own debris
        fs.delete(tmp, false)
        fs.delete(dataDir, true)
        if (dvCounts.nonEmpty) fs.delete(new Path(rootP, dvDirName), true)
        if (cdf.isDefined) fs.delete(tmpCh, true)
        throw new IllegalStateException(
          s"publish: lost the commit race for v$next")
      }
    }
    // committed: publish the feed under its version name (a crash in
    // this window leaves a committed version without its feed —
    // consumers fall back to the full read, documented above; a
    // repairer that finished this commit also renamed the feed, in
    // which case the tmp is already gone)
    if (cdf.isDefined && fs.exists(tmpCh) &&
        !fs.rename(tmpCh, new Path(rootP, s"changes-v$next")))
      fs.delete(tmpCh, true)
    // the claim has served its purpose once the manifest exists —
    // contenders re-check the slot AFTER claiming, so re-opening the
    // marker for a decided slot is safe, and markers no longer
    // accumulate one-per-version in _manifests/ forever
    fs.delete(claimP, false)
    // a freshly committed slot can only be cached stale if the store
    // was deleted and re-created under the same root (fixtures do) —
    // drop every memoized #dvs: answer at-or-above the slot
    val qr = qualifiedRoot(s, root)
    dvHeaderCache.keySet.removeIf(k => k._1 == qr && k._2 >= next)
    next
  }

  /** The data half of [[commitVersion]]: write `df` under `tmpData`,
    * rename it to the attempt's `dataDir`, and return one manifest
    * entry per new part file with its size and, per stats column, its
    * zone-map bounds (and Bloom when `statsBloom`).
    *
    * `writeData = false` callers skip this: a METADATA-ONLY commit
    * (the pure MoR delete: new lines are re-pointed parent lines, no
    * data moves). Spark deliberately writes one schema-carrying part
    * file even for an empty frame, so "write an empty df" is NOT a
    * no-op — it would add one stray empty file per point delete. */
  private def writeDataFiles(s: SparkSession, df: DataFrame,
      tmpData: org.apache.hadoop.fs.Path, dataDir: org.apache.hadoop.fs.Path,
      next: Long, statsColumns: Seq[String],
      statsBloom: Boolean): Seq[ManifestEntry] = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(s, dataDir)
    commitTaskHook("data")
    df.write.mode("overwrite").parquet(tmpData.toString)
    require(fs.rename(tmpData, dataDir), s"publish: data rename failed for v$next")
    val newStatus = fs.listStatus(dataDir)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.toString)
    val newFiles = newStatus.map(_.getPath.toString).toSeq
    // per-file byte sizes, stamped on each manifest line (`sz:<n>`)
    // so downstream byte-budget planning never re-stats the files
    val sizeOf: Map[String, Long] =
      newStatus.map(st => st.getPath.getName -> st.getLen).toMap
    // the re-reads below pass the written frame's schema: inferring it
    // from the files just written would cost a Spark job per commit
    def written = s.read.schema(df.schema).parquet(dataDir.toString)
    // `statsColumns` may name SEVERAL columns; stats for all of them
    // come from ONE projection-pruned pass (min/max per column per
    // file), and Blooms for all of them from one more — the write
    // amplification is two extra column-pruned scans of the
    // just-written batch regardless of how many columns index.
    val bounds: Map[String, Seq[(String, Long, Long)]] =
      if (statsColumns.isEmpty || newFiles.isEmpty) Map.empty
      else {
        // Each column's min/max in STAT SPACE ([[statSpaceAgg]]):
        // integral columns as themselves, dates as epoch days,
        // timestamps as epoch micros, strings as their raw min/max
        // (encoded to the 8-byte prefix after the collect — the agg
        // itself must compare FULL strings, or "ab…"/"ab…" ties
        // would pick an arbitrary representative). A column with no
        // stat-space mapping is skipped: its files go unstatted and
        // pruned reads keep them, the standing degrade contract.
        val statted = statsColumns.filter(c =>
          statSpaceAgg(df.schema, c).isDefined)
        val aggs = statted.flatMap { c =>
          val (lo, hi) = statSpaceAgg(df.schema, c).get
          Seq(lo.as(s"__lo_$c"), hi.as(s"__hi_$c"))
        }
        if (aggs.isEmpty) Map.empty
        else written
          .groupBy(input_file_name().as("f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            val per = statted.flatMap { c =>
              for {
                lo <- statSpaceDecode(r.getAs[Any](s"__lo_$c"))
                hi <- statSpaceDecode(r.getAs[Any](s"__hi_$c"))
              } yield (c, lo, hi)
            }
            new Path(r.getString(0)).getName -> per
          }.toMap
      }
    val blooms: Map[String, Map[String, String]] =
      if (!statsBloom || statsColumns.isEmpty || newFiles.isEmpty) Map.empty
      else {
        // per file AND column, the ≤BLOOM_BITS distinct set-bit
        // positions of the column's keys (map-side partial agg
        // collapses each partition to ≤BLOOM_BITS rows per
        // (file, column) before the exchange). Collect is bounded by
        // newFiles · columns · BLOOM_BITS.
        val tagged = statsColumns.map(c =>
          struct(lit(c).as("c"), bloomPosArray(col(c)).as("ps")))
        written
          .select(input_file_name().as("f"),
            explode(array(tagged: _*)).as("cp"))
          .select(col("f"), col("cp.c").as("c"),
            explode(col("cp.ps")).as("pos")) // null ps (null key) drops
          .groupBy(col("f"), col("c")).agg(collect_set(col("pos")).as("ps"))
          .collect()
          .groupBy(r => new Path(r.getString(0)).getName)
          .map { case (f, rows) => f -> rows.map(r =>
            r.getString(1) -> bloomHex(r.getSeq[Long](2))).toMap }
      }
    newFiles.map { f =>
      val name = new Path(f).getName
      val bl = blooms.getOrElse(name, Map.empty)
      // one declared column keeps the legacy POSITIONAL form (name "")
      // that existing stores, oracles and specs read unchanged
      val stats = bounds.getOrElse(name, Seq.empty).map { case (c, lo, hi) =>
        (if (statsColumns.size <= 1) "" else c) ->
          ManifestEntry.ColStats(lo, hi, bl.get(c))
      }
      ManifestEntry(f, stats, Some(sizeOf(name)))
    }
  }

  /** Waits for EVERY future, then returns the first failure among them
    * in list order, unwrapped from the future's ExecutionException —
    * the commit's debris cleanup must not race a write still landing.
    * An interrupt of the waiting thread is recorded as a failure and
    * the wait goes on: the interrupting `stop()` also cancels the
    * jobs behind these futures through their captured job group. */
  private def firstFailure(
      futures: Seq[java.util.concurrent.Future[_]]): Option[Throwable] = {
    var first = Option.empty[Throwable]
    var interrupt = Option.empty[InterruptedException]
    futures.foreach { f =>
      var done = false
      while (!done) try { f.get(); done = true } catch {
        case e: java.util.concurrent.ExecutionException =>
          first = first.orElse(Some(e.getCause)); done = true
        case e: InterruptedException =>
          interrupt = interrupt.orElse(Some(e)); first = first.orElse(Some(e))
      }
    }
    // an interrupt that is not the failure rethrown keeps its flag set
    if (interrupt.exists(i => !first.contains(i)))
      Thread.currentThread().interrupt()
    first
  }

  /** Test instrumentation: called with "data", "ins", "del" or "dv" as
    * each of a commit's concurrent writes starts, on the thread that
    * runs it — a spec throws from here to fail exactly one of them. */
  @volatile private[graft] var commitTaskHook: String => Unit = _ => ()

  private val COMMIT_RETRIES = 3

  /** BOUNDED RE-PLAN-AND-RETRY for commits that lose the optimistic
    * race: `body` plans against the CURRENT head and commits with
    * expectParent; a loser re-runs it (re-reading the new head,
    * re-landing its data under a fresh attempt id) when the
    * interleaved commits COMMUTE with the operation:
    *
    *  - APPENDS (`dmlGuard = false`) retry against anything — an
    *    append planned after ANY commit is the same append, and the
    *    serial order "their commit, then ours" is exactly what the
    *    retry produces. Two concurrent streaming sinks now both land
    *    instead of one throwing.
    *  - DML/maintenance (`dmlGuard = true`) retries only when every
    *    intervening hop is a PURE APPEND (the line-grain check):
    *    re-running a DELETE/UPDATE/MERGE against "head + some new
    *    rows" applies the statement to the new table state, the
    *    serializable outcome. An intervening REWRITE (another DML,
    *    compaction, z-order) conflicts — the statement's planning
    *    premises changed under it — and the loser still refuses
    *    loudly, the Delta ConcurrentModificationException stance.
    *
    * The retry cap ([[COMMIT_RETRIES]]) and the jittered backoff
    * bound claim-slot livelock between symmetric retriers. */
  private[graft] def retryingCommit[T](s: SparkSession, root: String,
      dmlGuard: Boolean)(body: => T): T = {
    var attempt = 0
    while (true) {
      val before = snapshotVersions(s, root).lastOption.getOrElse(0L)
      try return body
      catch {
        case e: IllegalStateException if e.getMessage != null &&
            e.getMessage.contains("lost the commit race") =>
          attempt += 1
          if (attempt > COMMIT_RETRIES) throw e
          if (dmlGuard) {
            val now = snapshotVersions(s, root)
            val intervening = now.filter(_ > before)
            val appendsOnly = intervening.forall(v =>
              now.contains(v - 1) && isPureAppendHop(s, root, v - 1, v))
            if (!appendsOnly) throw new IllegalStateException(
              "concurrent rewrite commit(s) " +
                s"${intervening.mkString(", ")} conflict with this " +
                "operation; inspect the new head and re-run it " +
                "deliberately", e)
          }
          Thread.sleep(50L + scala.util.Random.nextInt(150))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Did a repairer finish OUR commit? — consulted by a writer that
    * lost the in-lock race (see the committedOurs note in
    * [[commitVersion]]). Evidence, in preference order: (a) a
    * committed data line carrying our attempt id (any commit that
    * wrote files); (b) for an EMPTY commit (no data lines to ride the
    * id on — catalog CREATE TABLE, an empty append), the committed
    * manifest's text equalling the tmp text we wrote byte-for-byte:
    * the `#ts:` millisecond stamp plus parent/schema headers make a
    * DIFFERENT writer's accidental identical text practically
    * impossible — and if two empty commits ARE textually identical,
    * either writer winning commits the same store state. Without (b)
    * a repairer finishing a crashed empty commit made its own writer
    * throw "lost the commit race" on its own committed version. */
  private[graft] def committedByRepairer(s: SparkSession,
      dst: org.apache.hadoop.fs.Path, att: String,
      wroteFiles: Boolean, text: String): Boolean =
    fsOf(s, dst).exists(dst) && scala.util.Try {
      if (wroteFiles) Manifest.readLines(s, dst).exists(_.contains(s"-$att"))
      else Manifest.readLines(s, dst) == text.split('\n').toSeq
    }.getOrElse(false)

  /** Per-store commit-point locks (same-JVM exactly-one-winner; see
    * the commit-point note in [[commitVersion]]). */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Atomically claim a version slot by CREATE-EXCLUSIVE on the claim
    * marker — the cross-process arbitration [[commitVersion]]'s JVM
    * lock cannot provide. On `file:` paths Hadoop's
    * create(overwrite=false) is exists-check + create (a race
    * window), so the claim uses the kernel's O_EXCL via
    * File.createNewFile; on HDFS-like stores create(overwrite=false)
    * is itself atomic (namenode-arbitrated). The marker's content is
    * the claimant's attempt id, which is what lets [[repairSlot]]
    * finish a crashed winner's rename. Returns true iff THIS call
    * created the marker. */
  private[graft] def claimSlot(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, att: String): Boolean =
    try {
      val uri = p.toUri
      if (uri.getScheme == null || uri.getScheme == "file") {
        val f = new java.io.File(uri.getPath)
        f.getParentFile.mkdirs()
        // CREATE_NEW: one open(O_CREAT|O_EXCL) carrying the content
        // write — the marker is never observable as an empty file the
        // way a separate createNewFile-then-write left it, so
        // [[repairSlot]] can always read WHOSE claim it is judging
        java.nio.file.Files.write(f.toPath, att.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } else {
        val out = fs.create(p, false)
        try out.write(att.getBytes("UTF-8")) finally out.close()
        true
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.io.IOException => false // claim exists (or raced)
    }

  /** The claim marker's content (the claimant's attempt id), None if
    * the marker is missing or unreadable. */
  private def claimContent(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** A claimant alive mid-rename holds its claim for microseconds;
    * anything this much older with no manifest is a crash. */
  private val CLAIM_GRACE_MS = 30000L

  /** Finish (or sweep) a CRASHED claimant's commit for slot `n`: the
    * protocol writes the full manifest to its attempt-private tmp
    * BEFORE claiming, so a claim with no committed manifest and an
    * existing tmp is a fully-written commit that only lacks its
    * rename — complete it (the crashed writer WINS its slot; its data
    * renamed in even earlier). A claim with neither manifest nor tmp
    * is unreachable by the protocol (tampering/partial restore):
    * swept so it cannot brick the slot. Both actions wait out
    * [[CLAIM_GRACE_MS]] so a LIVE claimant between claim and rename
    * is never raced on its own slot. */
  private def repairSlot(s: SparkSession, root: String, n: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val claimP = new Path(root, s"_manifests/.claim-v$n")
    val dst = new Path(root, s"_manifests/v$n.manifest")
    val fs = fsOf(s, claimP)
    if (!fs.exists(claimP) || fs.exists(dst)) return
    val age = System.currentTimeMillis() -
      fs.getFileStatus(claimP).getModificationTime
    if (age < CLAIM_GRACE_MS) return
    val att = claimContent(fs, claimP).getOrElse("")
    val tmp = new Path(root, s"_manifests/.tmp-v$n-$att")
    if (att.nonEmpty && fs.exists(tmp)) {
      // finish the crashed winner's WHOLE publish, not just the
      // manifest: its change feed (if the commit wrote one) also sits
      // attempt-private — leaving it there makes a repaired rewrite
      // permanently feed-less (changeFeedHops/SnapshotStream over the
      // hop would throw forever, and vacuum would sweep the orphan)
      if (fs.rename(tmp, dst)) {
        val tmpCh = new Path(root, s".tmp-changes-v$n-$att")
        if (fs.exists(tmpCh))
          fs.rename(tmpCh, new Path(root, s"changes-v$n"))
        fs.delete(claimP, false) // served its purpose: dst exists
      }
    } else {
      // sweep only a claim PROVEN abandoned: re-check the age AFTER
      // the read — empty content can also be a claim caught between
      // a non-local store's create and its content write, and the
      // first mtime may predate a clock-skewed re-read
      val age2 = System.currentTimeMillis() -
        (try fs.getFileStatus(claimP).getModificationTime
         catch { case _: java.io.IOException => return })
      if (age2 >= CLAIM_GRACE_MS) fs.delete(claimP, false)
    }
  }

  /** Orphan-sweep grace for release attempt dirs (Delta's vacuum
    * retention idea at a publish-window scale). */
  private val RELEASE_SWEEP_GRACE_MS = 15L * 60 * 1000

  /** The MERGED SCHEMA of a committed version, from its manifest's
    * `#schema:` header — written at commit time (evolving on
    * append/merge/evolve commits), so resolving a table's schema is
    * ONE manifest header read instead of a mergeSchema footer sweep
    * over every data file in the version (the Delta/Iceberg
    * schema-in-the-log rationale: at 10⁴-10⁵ files a planning-time
    * footer sweep dwarfs the pruned read it plans). None for
    * manifests committed before the header existed — callers fall
    * back to the footer sweep, once. */
  private[graft] def snapshotSchema(s: SparkSession, root: String,
      v: Long): Option[StructType] =
    Manifest.readHeaders(s, root, v).schema

  /** The stats columns a version's history declared, from its
    * `#statscols:` header (written at commit, union-inherited through
    * the parent chain) — the default pruning columns for catalog and
    * DSv2 reads that don't declare their own. None for pre-header
    * manifests. */
  private[graft] def snapshotStatsCols(s: SparkSession, root: String,
      v: Long): Option[String] =
    Manifest.readHeaders(s, root, v).statsCols.map(_.mkString(","))

  /** A committed version's commit instant from its `#ts:` header
    * (written at commit), falling back to the manifest's mtime for
    * pre-header manifests. The header makes TIMESTAMP AS OF survive
    * backup/restore/rsync of the store — mtimes don't. */
  private[graft] def snapshotCommitTs(s: SparkSession, root: String,
      v: Long): Long =
    Manifest.readHeaders(s, root, v).ts.getOrElse {
      val man = Manifest.path(root, v)
      fsOf(s, man).getFileStatus(man).getModificationTime
    }

  /** Field-union schema merge (the parquet-mergeSchema result, computed
    * from metadata): left's fields in order, right's new fields
    * appended; a field absent from either side is nullable (some files
    * lack it — read-time null-fill), and a name held by both must
    * agree on type — the store evolves by ADDING columns, never by
    * retyping them. */
  /** All fields nullable, RECURSIVELY — what a parquet footer sweep
    * infers (row groups can't prove non-nullability, and Spark's file
    * relations apply the recursive asNullable), so header-resolved
    * and legacy-swept schemas agree byte-for-byte even for nested
    * struct/array/map columns. */
  private[graft] def allNullable(st: StructType): StructType =
    nullableType(st).asInstanceOf[StructType]

  private def nullableType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(nullableType(et), containsNull = true)
    case MapType(kt, vt, _) =>
      MapType(nullableType(kt), nullableType(vt), valueContainsNull = true)
    case other => other
  }

  private[graft] def mergeSchemas(a: StructType, b: StructType): StructType = {
    val bByName = b.fields.map(f => f.name -> f).toMap
    val aNames = a.fieldNames.toSet
    val merged = a.fields.map { fa =>
      bByName.get(fa.name) match {
        case Some(fb) =>
          fa.copy(dataType = mergeTypes(fa.name, fa.dataType, fb.dataType),
            nullable = fa.nullable || fb.nullable)
        case None => fa.copy(nullable = true)
      }
    }
    StructType(merged ++
      b.fields.filterNot(f => aNames(f.name)).map(_.copy(nullable = true)))
  }

  /** Type merge for a column both sides hold: equality up to
    * NULLABILITY at every nesting level (nested struct fields may
    * also be ADDED, the parquet-mergeSchema rule) — a struct column
    * differing from the parent's only in nested-field nullability is
    * the same column, not "incompatible schema evolution". Genuinely
    * different leaf types still throw: the store evolves by adding
    * columns, never by retyping them. */
  private def mergeTypes(name: String, a: DataType, b: DataType): DataType =
    (a, b) match {
      case (x, y) if x == y => x
      case (sa: StructType, sb: StructType) => mergeSchemas(sa, sb)
      case (ArrayType(ea, n1), ArrayType(eb, n2)) =>
        ArrayType(mergeTypes(name, ea, eb), n1 || n2)
      case (MapType(ka, va, n1), MapType(kb, vb, n2)) =>
        MapType(mergeTypes(name, ka, kb), mergeTypes(name, va, vb), n1 || n2)
      case _ => throw new IllegalArgumentException(
        s"incompatible schema evolution for column '$name': " +
          s"${a.simpleString} vs ${b.simpleString}")
    }

  /** A committed version's file list. */
  private[graft] def manifestFiles(s: SparkSession, root: String, v: Long): Seq[String] =
    Manifest.read(s, root, v).files

  /** Is hop parent→v a PURE APPEND (child's manifest carries every
    * parent LINE verbatim, plus new ones)? — the incremental-consumer
    * cue. The check is on LINES, not file paths: a merge-on-read
    * delete keeps the exact file SET and changes only a line's `dv:`
    * field, so a path-level subset test would call it an append and
    * silently emit an EMPTY hop where a delete happened. Appends
    * always carry parent lines verbatim (delta manifests by
    * construction, checkpoints by copy), so the stricter test never
    * demotes a real append. */
  private[graft] def isPureAppendHop(s: SparkSession, root: String,
      parent: Long, v: Long): Boolean =
    Manifest.read(s, root, v).appendsTo(Manifest.read(s, root, parent))

  // ---------------------------------------------------------------
  // Stat space — ONE Long-typed manifest format indexes integral,
  // date, timestamp AND string columns, each mapped into Long
  // ORDER-PRESERVINGLY (the Iceberg lower/upper-bound idea with the
  // string bound truncated to 8 bytes and packed, instead of a
  // typed sidecar format)
  // ---------------------------------------------------------------

  /** A string's first 8 UTF-8 bytes packed big-endian (zero-padded),
    * sign-flipped so SIGNED Long order equals unsigned byte order —
    * which is Spark's default UTF8_BINARY string order. Monotone:
    * a <= b implies prefix64(a) <= prefix64(b), so a file's
    * [prefix64(min), prefix64(max)] is a sound encoded zone (any
    * in-file value v has min <= v <= max, hence its prefix lands
    * inside the interval) and any comparison literal maps to a
    * SUPERSET range check. Truncation only ever loosens the zone —
    * degrade-to-keep, never a wrong skip. */
  private[graft] def stringPrefix64(str: String): Long = {
    val b = str.getBytes("UTF-8")
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L)
      i += 1
    }
    v ^ Long.MinValue
  }

  /** Upper bound (in prefix64 space) of EVERY string starting with
    * `p`: p's first 8 bytes padded with 0xFF — the `startsWith`
    * pruning bound. For `p` of 8+ bytes the floor and this ceiling
    * coincide on p's own prefix, which is exactly right. */
  private[graft] def stringPrefix64Hi(p: String): Long = {
    val b = p.getBytes("UTF-8")
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0xffL)
      i += 1
    }
    v ^ Long.MinValue
  }

  /** [[stringPrefix64]] as a COLUMN (codegen'd builtins only — no
    * UDF): first 8 UTF-8 bytes, hex-packed, right-zero-padded,
    * decoded base-16, sign-flipped by subtracting 2^63 (unsigned u
    * XOR MinValue == u − 2^63 over the 64-bit ring, and the decimal
    * intermediate holds the full unsigned range exactly). Value
    * parity with the JVM function is pinned in ZOrderSpec. */
  private[graft] def stringPrefix64Col(c: Column): Column =
    (conv(rpad(hex(substring(encode(c, "UTF-8"), 1, 8)), 16, "0"), 16, 10)
      .cast(DecimalType(21, 0)) -
      lit(new java.math.BigDecimal("9223372036854775808")))
      .cast(LongType)

  /** The (min, max) aggregate pair that lands column `c` in stat
    * space, by the WRITTEN schema's type: integral as itself, DATE as
    * epoch days, TIMESTAMP as epoch micros (both already Long-shaped,
    * discrete, order-preserving), STRING (default binary collation
    * only — a non-binary collation's order is not byte order, so its
    * prefixes prove nothing) as the raw min/max string, encoded by
    * [[statSpaceDecode]] on the driver. None = the column doesn't map
    * and its files go unstatted (always kept). */
  private def statSpaceAgg(schema: StructType,
      c: String): Option[(Column, Column)] =
    schema.fields.find(_.name.equalsIgnoreCase(c)).flatMap(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some((min(col(c)).cast(LongType), max(col(c)).cast(LongType)))
      case DateType =>
        Some((min(unix_date(col(c))).cast(LongType),
          max(unix_date(col(c))).cast(LongType)))
      case TimestampType =>
        Some((min(unix_micros(col(c))), max(unix_micros(col(c)))))
      case StringType =>
        Some((min(col(c)), max(col(c))))
      case _ => None
    })

  /** A collected [[statSpaceAgg]] value to its Long stat-space form:
    * already-encoded numerics pass through, strings take their
    * 8-byte prefix, NULL (an all-NULL column in that file) yields no
    * bound. */
  private def statSpaceDecode(v: Any): Option[Long] = v match {
    case null => None
    case l: java.lang.Long => Some(l)
    case i: java.lang.Integer => Some(i.longValue)
    case str: String => Some(stringPrefix64(str))
    case _ => None
  }

  /** A committed version's per-file byte sizes (`sz:` fields) — an
    * inspection helper over [[Manifest.Listing.sizes]]. */
  private[graft] def manifestFileSizes(s: SparkSession, root: String,
      v: Long): Map[String, Long] =
    Manifest.read(s, root, v).sizes

  // ---------------------------------------------------------------
  // Deletion vectors — merge-on-read row-level deletes
  // ---------------------------------------------------------------

  /** Deletion vectors (the manifest's `dv:` fields, the Delta/Iceberg
    * merge-on-read shape): reads anti-join each file's deleted
    * positions out, writes that rewrite a file drop its field (the
    * rewrite materialized the deletes), and a version carrying any
    * vector also carries the `#dvs:` header every read path checks.
    *
    * file path → (dv dir, deleted count) at version `v` — an
    * inspection helper over [[Manifest.Listing.dvs]]. */
  private[graft] def manifestDvs(s: SparkSession, root: String,
      v: Long): Map[String, (String, Long)] =
    Manifest.read(s, root, v).dvs.map { case (f, d) => f -> (d.dir, d.count) }

  /** Does version `v` carry ANY deletion vector? — one manifest
    * header read (`#dvs:`, stamped at commit), never a line scan.
    * MEMOIZED per (qualified root, version): the analyzer's
    * fixed-point iterations probe this for EVERY snapshot relation
    * in a plan, and a committed version's manifest is immutable, so
    * the first header read answers forever. The one way a (root, v)
    * key could go stale — a store deleted and re-created under the
    * same root (test fixtures do) — is covered by [[commitVersion]]
    * invalidating every cached key at-or-above the version it
    * commits. */
  private val dvHeaderCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Boolean]
  private def qualifiedRoot(s: SparkSession, root: String): String = {
    val p = new org.apache.hadoop.fs.Path(root)
    fsOf(s, p).makeQualified(p).toString
  }
  private[graft] def snapshotHasDvs(s: SparkSession, root: String,
      v: Long): Boolean =
    dvHeaderCache.computeIfAbsent((qualifiedRoot(s, root), v),
      _ => Manifest.readHeaders(s, root, v).dvs)

  /** The CURRENT deleted (f, pos) rows of the given manifest lines —
    * each referenced dv dir read RESTRICTED TO THE FILES WHOSE LINE
    * CURRENTLY POINTS AT IT, then unioned. The per-dir restriction
    * is correctness, not just hygiene: a shared dir can hold a
    * SUPERSEDED row set for a file whose line has since re-pointed
    * elsewhere (file A moved to dv-v3 while file B still references
    * dv-v2, which carries A's older rows) — a flat "union all dirs,
    * filter by file name" would return A's stale positions TWICE,
    * and the MoR write paths would persist the duplicates into the
    * next commit's dir and overcount its manifest `dv:` field.
    * Empty-schema frame when no line carries a vector. */
  private[graft] def dvRowsOf(s: SparkSession, root: String,
      lines: Seq[ManifestEntry]): DataFrame = {
    val withDv = lines.flatMap(e => e.dv.map(e.path -> _.dir))
    if (withDv.isEmpty)
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("f", StringType),
          StructField("pos", LongType))))
    else withDv.groupBy(_._2).map { case (dir, pairs) =>
      s.read.parquet(new org.apache.hadoop.fs.Path(root, dir).toString)
        .filter(col("f").isin(pairs.map(_._1): _*))
        .select(col("f"), col("pos"))
    }.reduce(_.unionByName(_))
  }

  /** Should the lines' DV row set BROADCAST for the anti-join? —
    * decided from manifest metadata alone, sized in BYTES, not rows:
    * a (file_path STRING, pos LONG) row costs roughly the path's
    * length plus ~24B of row overhead, so 2M rows of long URIs can
    * be a multi-hundred-MB driver broadcast a flat row threshold
    * would wave through. The manifest already knows each line's
    * per-file deleted count; Σ count × (path + 24) ≤ 32 MB
    * broadcasts, anything bigger shuffles. */
  private[graft] def dvSideBroadcastable(lines: Seq[ManifestEntry]): Boolean =
    lines.flatMap(e => e.dv.map(_.count * (e.path.length + 24L)))
      .sum <= (32L << 20)

  /** DV-AWARE READ of a set of manifest lines — THE read doorway
    * every path that opens snapshot data files goes through once a
    * store can carry deletion vectors. Clean lines read straight
    * (and keep Spark's plain scan plan); DV'd lines read with the
    * parquet reader's (file_path, row_index) metadata attached and
    * LEFT ANTI join their dirs' (f, pos) rows out — the deleted-row
    * count is known from the manifest, so a small DV side broadcasts
    * (metadata-driven join strategy, no stats estimation roulette).
    * `schema` (the version's merged header schema) null-fills evolved
    * columns; without it `merged` selects plain vs mergeSchema
    * footer resolution, preserving each caller's historic contract. */
  private[graft] def readLinesDv(s: SparkSession, root: String,
      lines: Seq[ManifestEntry], schema: Option[StructType],
      merged: Boolean): DataFrame = {
    def rd(files: Seq[String]): DataFrame = schema match {
      case Some(sc) => s.read.schema(sc).parquet(files: _*)
      case None if merged =>
        s.read.option("mergeSchema", "true").parquet(files: _*)
      case None => readParquetPlain(s, files)
    }
    val (dvd, clean) = lines.partition(_.dv.isDefined)
    if (dvd.isEmpty) rd(clean.map(_.path))
    else {
      val delDf = dvRowsOf(s, root, dvd)
        .select(col("f").as("__graft_dv_f"), col("pos").as("__graft_dv_p"))
      val del = if (dvSideBroadcastable(dvd)) broadcast(delDf) else delDf
      val masked = rd(dvd.map(_.path))
        .withColumn("__graft_dv_f", col("_metadata.file_path"))
        .withColumn("__graft_dv_p", col("_metadata.row_index"))
        .join(del, Seq("__graft_dv_f", "__graft_dv_p"), "left_anti")
        .drop("__graft_dv_f", "__graft_dv_p")
      if (clean.isEmpty) masked
      else masked.unionByName(rd(clean.map(_.path)), allowMissingColumns = true)
    }
  }

  /** `s.read.parquet(files)` without its schema-inference Spark job:
    * the schema comes from the same single footer that inference
    * would read ([[SqlShims.parquetFooterSchema]]), read in this
    * process — a job saved on every snapshot read and lookup. */
  private[graft] def readParquetPlain(s: SparkSession,
      files: Seq[String]): DataFrame =
    SqlShims.parquetFooterSchema(s, files)
      .fold(s.read)(s.read.schema(_)).parquet(files: _*)

  // ---------------------------------------------------------------
  // Per-file Bloom fingerprints — point-lookup file skipping
  // ---------------------------------------------------------------

  /** Bloom sizing: BLOOM_BITS bits, BLOOM_K probes per key. At the
    * fixture's ~600 keys/file the false-keep rate is ≈(1-e^(-K·n/m))^K
    * ≈ 4%; production sizes m to the store's rows-per-file target the
    * same way Parquet's own column-index blooms are sized. */
  private val BLOOM_BITS = 4096
  private val BLOOM_K = 4

  /** The key's BLOOM_K set-bit positions as a Column: disjoint 13-bit
    * windows of one xxhash64 — ONE hash evaluation per row, positions
    * sliced from it (the standard double-hash-free scheme for small
    * K). NULL keys genuinely set no bits — the explicit isNull guard
    * matters because xxhash64(NULL) is NOT null (it returns the
    * seed), which would silently pin one fixed bit pattern into
    * every null-holding file; a NULL array explode-drops instead,
    * and an equality lookup can never match null anyway. Lookup-side
    * positions are computed by evaluating THIS SAME expression (see
    * [[bloomKeyPositions]]), so publish and probe cannot diverge on
    * hash semantics by construction. */
  private def bloomPosArray(key: Column): Column =
    when(key.isNull, lit(null).cast(ArrayType(LongType)))
      .otherwise(array((0 until BLOOM_K).map { i =>
        shiftrightunsigned(xxhash64(key), i * 13).bitwiseAND(lit(BLOOM_BITS - 1L))
      }: _*))

  /** Set-bit positions → fixed-width hex (64 longs, big-endian per
    * long), the manifest line's Bloom field. */
  private def bloomHex(positions: Seq[Long]): String = {
    val words = new Array[Long](BLOOM_BITS / 64)
    positions.foreach { p =>
      words((p >> 6).toInt) |= (1L << (p & 63))
    }
    words.map(w => f"$w%016x").mkString
  }

  private def bloomTest(hex: String, positions: Seq[Long]): Boolean =
    positions.forall { p =>
      val w = java.lang.Long.parseUnsignedLong(
        hex.substring((p >> 6).toInt * 16, (p >> 6).toInt * 16 + 16), 16)
      ((w >>> (p & 63).toInt) & 1L) == 1L
    }

  /** Probe positions for each lookup key, computed by evaluating the
    * SAME Catalyst expression the publish side aggregated — a 1-row
    * LocalTableScan job per call (driver-local, no shuffle), bounded
    * by the key count. */
  private def bloomKeyPositions(s: SparkSession,
      keys: Seq[Long]): Map[Long, Seq[Long]] = {
    import s.implicits._
    keys.toDF("k")
      .select(col("k"), bloomPosArray(col("k")).as("ps"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
  }

  /** BLOOM-SKIPPED POINT LOOKUP: plan only the manifest files whose
    * zone-map interval contains ≥1 key AND whose Bloom fingerprint
    * passes ≥1 key, then filter the survivors to the key set. Zone
    * maps answer RANGE queries on the clustering column but are
    * useless when every file's [min,max] spans the id space (data
    * clustered by something else — here, by source); the Bloom field
    * prunes by MEMBERSHIP regardless of layout. At 100 TB this is
    * the difference between opening K files for a K-key lookup and
    * scanning the corpus: the Iceberg/Delta point-read shape
    * (Parquet bloom column indexes play the same role one level
    * down). Files without a fingerprint are kept — pruning only ever
    * skips files PROVEN key-free, so correctness never depends on
    * the sidecar. */
  def readSnapshotKeyLookup(s: SparkSession, root: String,
      version: Option[Long], colName: String, keys: Seq[Long]): DataFrame = {
    val v = resolveVersion(s, root, version)
    val m = Manifest.read(s, root, v)
    val bounds = m.bounds(colName)
    val blooms = m.blooms(colName)
    val posOf = bloomKeyPositions(s, keys.distinct)
    val kept = m.entries.filter { e =>
      keys.exists { k =>
        bounds.get(e.path).forall { case (mn, mx) => k >= mn && k <= mx } &&
          blooms.get(e.path).forall(bloomTest(_, posOf(k)))
      }
    }
    // an empty store (a delete can rewrite the last file away) has
    // no footer to borrow a schema from — surface that, don't NPE
    require(m.entries.nonEmpty,
      s"snapshot v$v lists no data files; key lookup has no schema source")
    val base = if (kept.nonEmpty)
      readLinesDv(s, root, kept, schema = None, merged = false)
      // every file proven key-free: one footer for the schema, 0 rows
      else readParquetPlain(s, m.files.take(1)).limit(0)
    base.filter(col(colName).isin(keys.distinct: _*))
  }

  /** One column's pruning constraints for [[pruneFiles]] —
    * conjunctive across columns: a file survives only if EVERY
    * constrained column's stats allow it. `keys` are point values in
    * STAT SPACE (the Long encoding of [[statSpaceDecode]]) and drive
    * the zone-interval membership check; `nativeKeys` (same order as
    * `keys` when present) are the values IN THE COLUMN'S NATIVE TYPE
    * and additionally drive Bloom probing — the fingerprint hashed
    * the native type at publish, so probing with anything else would
    * compute wrong positions and could FALSELY prune. No nativeKeys
    * = zone check only, Blooms ignored (never wrong, just weaker). */
  private[graft] case class ColConstraint(col: String, lo: Option[Long],
      hi: Option[Long], keys: Option[Seq[Long]],
      nativeKeys: Option[Seq[Any]] = None)

  /** File planning for the DataSource V2 table
    * ([[graft.sources.SnapshotDataSource]]) and the DML rewrites: the
    * listing's files minus everything some constraint's zone maps
    * prove out of range and its Bloom fields prove key-free — the one
    * pruning discipline readSnapshotPruned / readSnapshotKeyLookup
    * apply, composed and exposed so ARBITRARY Catalyst plans (joins,
    * aggregates, SQL text) prune the same way through
    * `spark.read.format("graft-snapshot")`. Files without stats/Bloom
    * fields are kept — pruning only ever skips files PROVEN
    * irrelevant. */
  private[graft] def pruneFiles(s: SparkSession, m: Manifest.Listing,
      constraints: Seq[ColConstraint]): Seq[String] = {
    val active = constraints.filter(c =>
      c.lo.isDefined || c.hi.isDefined || c.keys.isDefined)
    active.foldLeft(m.files) { (remaining, con) =>
      val bounds = m.bounds(con.col)
      val blooms =
        if (con.nativeKeys.exists(_.nonEmpty)) m.blooms(con.col)
        else Map.empty[String, String]
      val posOf = con.nativeKeys.map(nk => bloomKeyPositionsTyped(s, nk.distinct))
        .getOrElse(Map.empty)
      // (stat-space key, native key or null) pairs: the encoded key
      // drives the zone check, the native one (when the caller could
      // provide it) additionally probes the Bloom
      val pairs = con.keys.map { enc =>
        con.nativeKeys match {
          case Some(nk) if nk.size == enc.size => enc.zip(nk)
          case _ => enc.map(e => (e, null: Any))
        }
      }
      remaining.filter { f =>
        val inRange = bounds.get(f).forall { case (mn, mx) =>
          con.lo.forall(_ <= mx) && con.hi.forall(_ >= mn)
        }
        val hasKey = pairs.forall(_.exists { case (k, nat) =>
          bounds.get(f).forall { case (mn, mx) => k >= mn && k <= mx } &&
            (nat == null ||
              blooms.get(f).forall(bloomTest(_, posOf(nat))))
        })
        inRange && hasKey
      }
    }
  }

  /** `version`, or the latest, checked to be committed. */
  private def resolveVersion(s: SparkSession, root: String,
      version: Option[Long]): Long = {
    val vs = snapshotVersions(s, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"snapshot v$v not committed (have ${vs.mkString(",")})")
    v
  }

  /** Probe positions for NATIVELY TYPED lookup keys (long or string
    * — the two types the connector key-prunes), computed by
    * evaluating the same Catalyst expression the publish side
    * aggregated ([[bloomPosArray]]): a 1-row-per-key LocalTableScan
    * job, driver-local, bounded by the key count. Typing matters —
    * xxhash64 hashes a long and its decimal string differently, so
    * probing with the wrong type would prove presence/absence of the
    * WRONG value. */
  private def bloomKeyPositionsTyped(s: SparkSession,
      keys: Seq[Any]): Map[Any, Seq[Long]] = {
    import s.implicits._
    if (keys.isEmpty) return Map.empty
    val df = keys.head match {
      case _: String => keys.map(_.asInstanceOf[String]).toDF("k")
      case _ => keys.map { case n: java.lang.Number => n.longValue }.toDF("k")
    }
    df.select(col("k"), bloomPosArray(col("k")).as("ps"))
      .collect()
      .map(r => (r.get(0): Any) -> r.getSeq[Long](1).toSeq).toMap
  }

  // ---------------------------------------------------------------
  // Named refs — movable pointers into the version history
  // ---------------------------------------------------------------

  /** Point named ref `name` at committed version `v` — the
    * Iceberg-branch/git-tag shape over the snapshot store: "prod"
    * advances only when validation passes, rollback is re-pointing
    * at the old version (no data moves), and every consumer that
    * resolves by ref switches ATOMICALLY. A ref is a sequence of
    * one-line files `_refs/<name>/r<seq>`; retarget commits the next
    * seq by rename (the store's one commit discipline), resolve
    * reads the highest committed seq, so a crashed retarget is
    * invisible debris swept by the next one. Superseded seqs are
    * cleaned after commit. A ref PINS its target against
    * [[vacuumSnapshots]] — retention never expires a version a ref
    * still names. */
  def setRef(s: SparkSession, root: String, name: String, v: Long): Unit = {
    import org.apache.hadoop.fs.Path
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid ref name '$name'")
    require(snapshotVersions(s, root).contains(v),
      s"cannot point ref '$name' at uncommitted version v$v")
    val dir = new Path(root, s"_refs/$name")
    val fs = fsOf(s, dir)
    fs.mkdirs(dir)
    // sweep crashed-retarget debris, then commit the next seq
    fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith(".tmp-"))
      .foreach(fs.delete(_, false))
    val next = refSeqs(s, dir).lastOption.getOrElse(0L) + 1L
    val att = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(dir, s".tmp-r$next-$att")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, new Path(dir, s"r$next"))) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"ref '$name': lost the retarget race for seq $next")
    }
    refSeqs(s, dir).dropRight(1)
      .foreach(q => fs.delete(new Path(dir, s"r$q"), false))
  }

  private def refSeqs(s: SparkSession,
      dir: org.apache.hadoop.fs.Path): Seq[Long] = {
    val fs = fsOf(s, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("r") && n.drop(1).forall(_.isDigit) =>
        n.drop(1).toLong }
      .toSeq.sorted
  }

  /** The version ref `name` currently points at. */
  def resolveRef(s: SparkSession, root: String, name: String): Long = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(root, s"_refs/$name")
    val fs = fsOf(s, dir)
    val seqs = refSeqs(s, dir)
    require(seqs.nonEmpty, s"no committed ref '$name' under $root")
    val in = fs.open(new Path(dir, s"r${seqs.last}"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
    finally in.close()
  }

  /** Every committed ref and its target — vacuum's pin set. */
  def refTargets(s: SparkSession, root: String): Map[String, Long] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(root, "_refs")
    val fs = fsOf(s, dir)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath.getName)
      .flatMap(n => scala.util.Try(n -> resolveRef(s, root, n)).toOption)
      .toMap
  }

  /** Read the snapshot a named ref points at. */
  def readSnapshotAt(s: SparkSession, root: String, ref: String): DataFrame =
    readSnapshot(s, root, Some(resolveRef(s, root, ref)))

  /** Expire every snapshot but the newest `keep`, deleting only data
    * files REFERENCED BY NO retained manifest — with [[appendSnapshot]]
    * in play a file can back many versions, so expiry is reference
    * counting, never "delete the version's directory". The expired
    * manifests are removed last (a crash mid-vacuum leaves a version
    * whose re-vacuum is a no-op for already-deleted files). Returns
    * (files deleted, bytes reclaimed). Destructive — the dry-run
    * accounting that should run first is [[s05VacuumPlan]]. */
  def vacuumSnapshots(s: SparkSession, root: String, keep: Int,
      releaseGraceMs: Long = RELEASE_SWEEP_GRACE_MS): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    require(keep >= 1, "vacuum must retain at least one version")
    val fs = fsOf(s, new Path(root))
    val vs = snapshotVersions(s, root)
    // a NAMED REF pins its target: "keep the newest K" never expires
    // a version a ref still points at (a dangling prod ref would be
    // a protocol hole, not an operator error)
    val pinned = refTargets(s, root).values.toSet
    val retainedVs = vs.filter(v => pinned(v) || vs.takeRight(keep).contains(v))
    val expired = vs.filterNot(retainedVs.contains)
    val listing = vs.map(v => v -> Manifest.read(s, root, v)).toMap
    val referenced = retainedVs.flatMap(listing(_).files).toSet
    val reclaim = expired.flatMap(listing(_).files)
      .distinct.filterNot(referenced)
    // a retained DELTA manifest may chain through an expired parent:
    // materialize its resolved `v<N>.full` listing FIRST (pure cache,
    // rename-committed, idempotent — a crash here just re-runs), so
    // deleting expired manifests can never orphan a retained read
    if (expired.nonEmpty) retainedVs.foreach { v =>
      val fullP = Manifest.fullPath(root, v)
      if (listing(v).headers.parent.isDefined && !fs.exists(fullP)) {
        val tmp = new Path(root, s"_manifests/.tmp-v$v.full")
        val out = fs.create(tmp, true)
        try out.write(Manifest.renderText(Manifest.Headers(), listing(v).entries)
          .getBytes("UTF-8"))
        finally out.close()
        if (!fs.rename(tmp, fullP)) fs.delete(tmp, false)
      }
    }
    var bytes = 0L
    var reclaimedDv = 0L
    reclaim.foreach { f =>
      val p = new Path(f)
      if (fs.exists(p)) { bytes += fs.getFileStatus(p).getLen; fs.delete(p, false) }
    }
    // DELETION-VECTOR reference counting: a dv dir lives exactly as
    // long as some RETAINED manifest line points at it (carry-forward
    // shares dirs across versions the way appends share data files).
    // Unreferenced dirs of DECIDED slots are expired history — their
    // bytes count into the reclaim total (the write-side cost of
    // merge-on-read is bounded BY THIS sweep plus compaction's
    // materialization, and both are auditable).
    val referencedDv = retainedVs.flatMap(listing(_).dvs.values.map(_.dir)).toSet
    val dvDirRe = "dv-v(\\d+)(-.*)?".r
    vs.lastOption.foreach { last =>
      fs.listStatus(new Path(root)).filter(_.isDirectory).foreach { d =>
        d.getPath.getName match {
          case dvDirRe(vStr, _) if vStr.toLong <= last &&
              !referencedDv(d.getPath.getName) =>
            bytes += fs.listStatus(d.getPath).filter(_.isFile)
              .map(_.getLen).sum
            reclaimedDv += 1
            fs.delete(d.getPath, true)
          case _ =>
        }
      }
    }
    expired.foreach { v =>
      // an expired version's release report goes with it — report
      // files are version-private (never shared), so no refcounting
      val relP = new Path(root, s"_manifests/v$v.release")
      if (fs.exists(relP)) {
        releaseFiles(s, root, v).foreach { f =>
          val p = new Path(f)
          if (fs.exists(p)) { bytes += fs.getFileStatus(p).getLen; fs.delete(p, false) }
        }
        fs.delete(relP, false)
      }
      fs.delete(Manifest.path(root, v), false)
      fs.delete(Manifest.fullPath(root, v), false)
      fs.delete(new Path(root, s"_manifests/v$v.stats"), false) // legacy sidecars
      fs.delete(new Path(root, s"_manifests/v$v.tag"), false)
      fs.delete(new Path(root, s"_manifests/.claim-v$v"), false)
      // an expired version's change feed goes with it — feed files
      // are version-private (never shared), like release reports
      fs.delete(new Path(root, s"changes-v$v"), true)
    }
    // Orphan sweep: attempt directories (`data-v<N>[-attempt]`) whose
    // version slot is already DECIDED (N <= last committed) and none
    // of whose files any retained manifest references are crash/race
    // debris — losers cleaned their own, but a hard crash between the
    // data rename and the manifest rename leaves one. An in-flight
    // attempt is always at version lastCommitted+1 (or will lose its
    // rename), so the N <= last guard never touches live work.
    val dataDirRe = "(?:data|release)-v(\\d+)(-.*)?".r
    // attempt-private tmp debris a hard crash can leave BEFORE its
    // rename: `.tmp-data-v<N>-<att>` (crash inside the parquet
    // write) and `.tmp-changes-v<N>-<att>` (crash between the data
    // rename and the commit point, or inside the one-rename feed
    // publish window). Swept only when the slot is decided AND the
    // dir has aged past the grace — a claimed-but-mid-rename commit
    // at N == last must not have its feed swept from under it.
    val tmpDirRe = "\\.tmp-(?:data|changes|dv)-v(\\d+)-.*".r
    val retained = retainedVs
    val referencedRel = retained
      .filter(v => fs.exists(new Path(root, s"_manifests/v$v.release")))
      .flatMap(v => releaseFiles(s, root, v)).toSet
    vs.lastOption.foreach { last =>
      fs.listStatus(new Path(root)).filter(_.isDirectory).foreach { d =>
        d.getPath.getName match {
          case dataDirRe(vStr, _) if vStr.toLong <= last =>
            // a RELEASE attempt legitimately targets an already-
            // committed version, so "N <= last" cannot prove it dead
            // the way it does for data attempts (always at last+1).
            // An mtime grace period keeps the sweep off in-flight
            // release publishes; publishRelease ALSO re-verifies its
            // files after the pointer rename — belt and braces.
            val young = d.getPath.getName.startsWith("release-") &&
              System.currentTimeMillis() - d.getModificationTime <
                releaseGraceMs
            val fls = fs.listStatus(d.getPath).filter(_.isFile)
              .filter(_.getPath.getName.startsWith("part-"))
            if (!young && fls.forall(f => !referenced(f.getPath.toString) &&
                !referencedRel(f.getPath.toString)))
              fs.delete(d.getPath, true)
          case tmpDirRe(vStr) if vStr.toLong <= last &&
              System.currentTimeMillis() - d.getModificationTime >
                releaseGraceMs =>
            fs.delete(d.getPath, true)
          case _ =>
        }
      }
    }
    // orphan tmp manifests (`.tmp-v<N>-<att>` whose claimant crashed
    // pre-claim, or `.tmp-v<N>.full` from a crashed materialization)
    // of decided slots — same grace discipline as the data debris.
    // `.claim-v<N>` markers of DECIDED slots (N <= last committed)
    // are swept the same way: winners delete their own marker after
    // renaming, so a surviving one is an aborted contender's (every
    // live contender of a decided slot re-checks the manifest after
    // claiming and aborts) — claims only arbitrate UNdecided slots.
    val tmpManRe = "\\.tmp-v(\\d+)(-.*|\\.full)".r
    val claimRe = "\\.claim-v(\\d+)".r
    vs.lastOption.foreach { last =>
      fs.listStatus(new Path(root, "_manifests")).filter(_.isFile)
        .foreach { st =>
          st.getPath.getName match {
            case tmpManRe(vStr, _) if vStr.toLong <= last &&
                System.currentTimeMillis() - st.getModificationTime >
                  releaseGraceMs =>
              fs.delete(st.getPath, false)
            case claimRe(vStr) if vStr.toLong <= last &&
                System.currentTimeMillis() - st.getModificationTime >
                  releaseGraceMs =>
              fs.delete(st.getPath, false)
            case _ =>
          }
        }
    }
    (reclaim.size.toLong + reclaimedDv, bytes)
  }

  /** TIMESTAMP AS OF resolution (the Delta/Iceberg time-travel
    * twin of version pinning): the newest version COMMITTED at or
    * before `tsMillis`, from each manifest's `#ts:` commit stamp
    * ([[snapshotCommitTs]]; pre-header manifests fall back to mtime).
    * The stamp rides the commit rename, so history order survives
    * backup/restore/rsync of the store — mtimes alone don't. Errors
    * when the store is empty or every version is newer than the asked
    * instant (asking for "the table before it existed" deserves a
    * loud answer, not v1). O(versions) header reads, no data read. */
  def resolveAsOfTimestamp(s: SparkSession, root: String,
      tsMillis: Long): Long = {
    val vs = snapshotVersions(s, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val committed = vs.filter(snapshotCommitTs(s, root, _) <= tsMillis)
    require(committed.nonEmpty,
      s"no snapshot of $root existed at $tsMillis " +
        s"(earliest commit is v${vs.head})")
    committed.last
  }

  /** Read a published snapshot — `version` pins time travel, None
    * reads the latest COMMITTED version. The returned frame scans
    * only the manifest's file list; later publishes cannot change
    * what it reads. */
  def readSnapshot(s: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val v = resolveVersion(s, root, version)
    val m = Manifest.read(s, root, v)
    if (!snapshotHasDvs(s, root, v)) // one header probe; keeps the
      readParquetPlain(s, m.files) // plain scan plan
    else readLinesDv(s, root, m.entries, schema = None, merged = false)
  }

  /** ZONE-MAP-PRUNED snapshot read: plan only the manifest files
    * whose `[min, max]` sidecar interval intersects `[lo, hi]`, then
    * apply the predicate to the survivors — Iceberg/Delta-style scan
    * planning from metadata alone. At 100 TB the difference is the
    * whole game: a range query over range-clustered data opens the
    * handful of files that can contain it instead of listing —
    * let alone reading — a million. Files without a stats entry
    * (published before stats, or a different schema) are always
    * kept, so pruning can only skip files PROVEN empty for the
    * predicate; correctness never depends on the sidecar. */
  def readSnapshotPruned(s: SparkSession, root: String, version: Option[Long],
      colName: String, lo: Long, hi: Long): DataFrame = {
    val m = Manifest.read(s, root, resolveVersion(s, root, version))
    val stats = m.bounds(colName)
    val kept = m.entries.filter(e =>
      stats.get(e.path).forall { case (mn, mx) => mx >= lo && mn <= hi })
    val base = if (kept.nonEmpty)
      readLinesDv(s, root, kept, schema = None, merged = false)
    else s.read.parquet(m.files: _*)
      // schema-only; predicate yields 0 rows (no DV masking needed)
    base.filter(col(colName) >= lo && col(colName) <= hi)
  }

  // ---------------------------------------------------------------
  // s07 — release reports committed against snapshot versions
  // ---------------------------------------------------------------

  /** Commit a RELEASE REPORT against committed snapshot version `v`:
    * the provenance bundle (dataset card + mix plan + decon matrix +
    * dedup accounting — see [[releaseReportOf]]) a training run
    * resolves WITH the data, so "train on v7" names bytes and their
    * provenance in one atomic read.
    *
    * Same commit discipline as the data: report parquet lands under
    * an attempt-private directory, then a pointer file naming
    * exactly those files is renamed to `_manifests/v<N>.release` —
    * the rename is the commit point. A release can only be published
    * FOR a committed version (publishing against an uncommitted slot
    * throws), and readers require both the manifest and the pointer,
    * so a report is visible exactly when its version is: atomically
    * with, and only with, its manifest. Racing/crashed publishers
    * follow the data path's rules — disjoint attempt dirs, loser
    * cleans its own debris, vacuum sweeps orphans. Re-publishing an
    * already-released version is a no-op returning false
    * (idempotent, like the batch-tag check). */
  def publishRelease(s: SparkSession, root: String, v: Long,
      report: DataFrame): Boolean = {
    import org.apache.hadoop.fs.Path
    require(snapshotVersions(s, root).contains(v),
      s"cannot publish a release for uncommitted snapshot v$v")
    if (hasRelease(s, root, v)) return false
    val rootP = new Path(root)
    val fs = fsOf(s, rootP)
    val att = java.util.UUID.randomUUID().toString.take(8)
    val dir = new Path(rootP, s"release-v$v-$att")
    report.write.parquet(dir.toString)
    val files = fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
    val tmp = new Path(rootP, s"_manifests/.tmp-v$v.release-$att")
    val out = fs.create(tmp, true)
    try out.write(files.mkString("\n").getBytes("UTF-8")) finally out.close()
    val dst = new Path(rootP, s"_manifests/v$v.release")
    val won = commitLocks.computeIfAbsent(rootP.toUri.toString, _ => new Object)
      .synchronized { !fs.exists(dst) && fs.rename(tmp, dst) }
    if (!won) { // lost the race — another release won
      fs.delete(tmp, false)
      fs.delete(dir, true)
      return false
    }
    // A release attempt targets an ALREADY-committed version, so a
    // concurrent vacuum's orphan sweep may have reaped the attempt
    // dir before the pointer rename (the in-flight-data protection —
    // "attempts live at lastCommitted+1" — doesn't apply here).
    // Re-verify after publishing; on loss, roll the pointer back and
    // report failure so the caller republishes (the report is a pure
    // function of the pinned version — a retry rebuilds it exactly).
    if (files.forall(f => fs.exists(new Path(f)))) true
    else {
      fs.delete(dst, false)
      fs.delete(dir, true)
      false
    }
  }

  /** Whether committed version `v` carries a committed release. */
  def hasRelease(s: SparkSession, root: String, v: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(root, s"_manifests/v$v.release")
    fsOf(s, p).exists(p) && snapshotVersions(s, root).contains(v)
  }

  /** A committed release's parquet file list. */
  private def releaseFiles(s: SparkSession, root: String, v: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root, s"_manifests/v$v.release")
    val fs = fsOf(s, p)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Read the release report committed against version `v` — fails
    * when the version or its release is not committed (debris from a
    * crashed publish is invisible, exactly like data). */
  def readRelease(s: SparkSession, root: String, v: Long): DataFrame = {
    require(hasRelease(s, root, v),
      s"no committed release for snapshot v$v under $root")
    s.read.parquet(releaseFiles(s, root, v): _*)
  }

  /** The RELEASE REPORT content — the provenance bundle of a corpus
    * release, in one long-format frame (section, grain, k1, k2,
    * metric, lv, dv): the t23 dataset card (all three rollup grains),
    * the t36 token-budget mix plan, the c38 multi-suite
    * decontamination matrix summarized to suite×method flagged-doc
    * counts, and the c43 dedup-adjusted token accounting. All four
    * faces already carry their own oracles; the report is their
    * composition over ONE input frame — computed from the pinned
    * snapshot read, so the committed report describes exactly the
    * bytes its version names. Integer metrics ride `lv` (exact
    * BIGINT), ratio metrics ride `dv`. */
  private[graft] def releaseReportOf(s: SparkSession, docs: DataFrame): DataFrame = {
    val nullL = lit(null).cast(LongType)
    val nullD = lit(null).cast(DoubleType)
    val nullS = lit(null).cast(StringType)
    def rows(df: DataFrame, section: String, grain: Column, k1: Column,
        k2: Column, metric: String, lv: Column, dv: Column): DataFrame =
      df.select(lit(section).as("section"), grain.cast(LongType).as("grain"),
        k1.cast(StringType).as("k1"), k2.cast(StringType).as("k2"),
        lit(metric).as("metric"), lv.cast(LongType).as("lv"),
        dv.cast(DoubleType).as("dv"))
    // each face materializes once and feeds its metric slices from
    // the (tiny) checkpointed result — never a per-metric re-scan
    val card = CorpusStats.datasetCardOf(docs).localCheckpoint()
    val mix = TextOps.mixPlanOfDocs(s, docs) // already driver-built rows
    val dec = DedupOps.multiSuiteFlags(docs)
      .groupBy(col("suite"), col("method"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .localCheckpoint()
    val tok = DedupOps.effectiveTokensOf(docs).localCheckpoint()
    val parts =
      Seq("n_docs", "n_tokens", "n_chars").map(m =>
        rows(card, "card", col("lvl"), col("source"), col("lang"),
          m, col(m), nullD)) ++
      Seq(rows(card, "card", col("lvl"), col("source"), col("lang"),
        "avg_quality", nullL, col("avg_quality"))) ++
      Seq("weight", "n_tok", "cap_tok", "alloc_tok", "epochs_x1000",
        "capped").map(m =>
        rows(mix, "mix", lit(0L), col("lang"), nullS, m, col(m), nullD)) ++
      Seq(rows(dec, "decon", lit(0L), col("suite"), col("method"),
        "n_docs", col("n_docs"), nullD)) ++
      Seq("raw_docs", "raw_tokens", "kept_docs", "kept_tokens",
        "dup_tokens").map(m =>
        rows(tok, "tokens", lit(0L), col("source"), nullS, m, col(m), nullD))
    parts.reduce(_.unionByName(_))
  }

  /** Build-once committed release for the fixture store's v2 (the
    * full-corpus version) — drift-guarded transitively: a corpus
    * change rebuilds the store (wiping releases with it), and a
    * report-logic change must bump [[ensureSnapshots]]' layout
    * revision like any persisted-artifact change. */
  private[graft] def ensureRelease(s: SparkSession, d: String): String = {
    val root = ensureSnapshots(s, d)
    if (!hasRelease(s, root, 2L))
      publishRelease(s, root, 2L,
        releaseReportOf(s, readSnapshot(s, root, Some(2L))))
    root
  }

  /** s07 — the RELEASE REPORT read back THROUGH the committed store:
    * resolve the fixture's v2 release pointer and return its rows.
    * The oracle recomputes all four faces from the raw corpus (their
    * own oracle SQLs composed verbatim), so value equality proves the
    * whole lifecycle — snapshot publish, report computation over the
    * pinned read, atomic release commit, pointer read-back — and a
    * training run that names v2 gets data + provenance that agree.
    * Commit-protocol properties (atomic-with-manifest, crash debris
    * invisible, vacuum reclamation) are pinned in ReleaseSpec. */
  def s07ReleaseReport(s: SparkSession, d: String): DataFrame =
    readRelease(s, ensureRelease(s, d), 2L)
      .orderBy(col("section"), col("grain"), col("k1"), col("k2"),
        col("metric"))

  /** Files per snapshot publish in the fixture store — small enough
    * that sf0.001 still fills every range bucket, large enough that
    * s06's range predicate proves real pruning (reads 2-3 of 8). */
  private val SNAP_FILES = 8

  private def snapRoot(s: SparkSession, d: String): String =
    new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"),
      s"graft_snap_${Integer.toHexString(d.hashCode)}").toString

  /** Build-once fixture history for s03/s04/s05 (drift-token
    * guarded, the c13b lifecycle): v1 = the deterministic half-split
    * of documents (h60 bucket < 50 — replayable in the oracle), v2 =
    * the OTHER half APPENDED (so v2 reads as the full corpus and its
    * manifest REUSES v1's files), v3 = a compaction REWRITE of the
    * full corpus (same content, all-new files). The token carries a
    * layout revision so stores published under the older 2-version
    * history rebuild. */
  private[graft] def ensureSnapshots(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d)
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout5§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      val docs = Tables.documents(s, d)
      val bucket = graft.functions.Portable.h60(concat(lit("snap:"),
        col("doc_id").cast(StringType))) % 100
      // each publish is range-clustered on doc_id so the zone-map
      // stats are selective (layout4+): per file, [min,max] doc_id
      // spans ~1/SNAP_FILES of the id space instead of all of it
      def ranged(df: DataFrame): DataFrame =
        df.repartitionByRange(SNAP_FILES, col("doc_id"))
      publishSnapshot(s, root, ranged(docs.filter(bucket < 50)),
        statsCol = Some("doc_id"))
      appendSnapshot(s, root, ranged(docs.filter(bucket >= 50)),
        statsCol = Some("doc_id"))
      publishSnapshot(s, root, ranged(docs), statsCol = Some("doc_id"))
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** s03 — READ-AT-VERSION over the snapshot store: per-version,
    * per-language doc and character totals for the pinned v1 read
    * and the pinned v2 (append-completed) read. The oracle replays both versions'
    * CONTENTS from the raw corpus (v1 via the split predicate), so
    * value equality proves the manifests captured exactly the right
    * files — time travel answers from data, not trust. */
  def s03SnapshotRead(s: SparkSession, d: String): DataFrame = {
    val root = ensureSnapshots(s, d)
    def stats(df: DataFrame, v: Long): DataFrame = df
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast(LongType).as("n_chars"))
      .select(lit(v).as("version"), col("lang"), col("n_docs"), col("n_chars"))
    stats(readSnapshot(s, root, Some(1L)), 1L)
      .unionByName(stats(readSnapshot(s, root, Some(2L)), 2L))
      .orderBy(col("version"), col("lang"))
  }

  /** s04 — SNAPSHOT DIFF: what a new corpus version adds over the
    * previous one, per language — the planning query every
    * incremental pipeline runs before processing a release ("how
    * much is actually new?") and the natural companion of the
    * version-pinned artifact stores (c13b/c22c process exactly the
    * added slice). Reads BOTH versions through the manifest store
    * (never the raw directory), anti-joins on doc_id, and reports
    * added/carried counts and added bytes.
    *
    * Scale shape: one equi-join keyed on doc_id between two manifest
    * reads — the v1 side projects the key only, so the join carries
    * (id, id) pairs, and the agg collapses to language grain. The
    * oracle replays both versions' membership from the raw corpus
    * via the publish split predicate, so value equality again proves
    * the manifests captured exactly the right files. */
  def s04SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val root = ensureSnapshots(s, d)
    val v1 = readSnapshot(s, root, Some(1L))
      .select(col("doc_id")).withColumn("__in1", lit(1L))
    readSnapshot(s, root, Some(2L))
      .join(v1, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(
        sum(when(col("__in1").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("__in1").isNull, length(col("text")).cast(LongType))
          .otherwise(0L)).as("added_chars"),
        sum(when(col("__in1").isNotNull, 1L).otherwise(0L)).as("n_carried"))
      .orderBy(col("lang"))
  }

  /** Files ADDED between two committed versions — a pure manifest
    * set-difference, no data read and no listing. */
  private[graft] def snapshotAddedFiles(s: SparkSession, root: String,
      vFrom: Long, vTo: Long): Seq[String] =
    Manifest.read(s, root, vTo).addedOver(Manifest.read(s, root, vFrom)).map(_.path)

  /** INCREMENTAL (change-data-feed-shaped) read: the rows version
    * `vTo` ADDED over `vFrom`, resolved at FILE grain from the two
    * manifests alone — because [[appendSnapshot]] reuses the parent's
    * files, the appended slice is exactly the manifest set
    * difference, so the incremental consumer (c13b's batch-vs-store
    * dedup, c22c's index refresh, a downstream sync) reads ONLY the
    * new bytes: no join, no shuffle, no scan of the carried data.
    * That is the 100 TB story — s04's content diff costs a
    * corpus-wide anti-join to answer the same question when you
    * cannot trust the file history; this read is free when you can.
    * File grain is also its honest limit: a REWRITE version (s05's
    * compaction) shares no files with its parent, so its "delta" is
    * its whole content — the consumer falls back to s04's content
    * diff when `addedFraction` says the version was not a pure
    * append. Both reads stay correct; only cost differs. */
  def readSnapshotChanges(s: SparkSession, root: String,
      vFrom: Long, vTo: Long): DataFrame = {
    val vs = snapshotVersions(s, root)
    require(vs.contains(vFrom) && vs.contains(vTo),
      s"versions v$vFrom, v$vTo must both be committed (have ${vs.mkString(",")})")
    require(vFrom <= vTo, s"change read runs forward (v$vFrom > v$vTo)")
    val added = snapshotAddedFiles(s, root, vFrom, vTo)
    if (added.isEmpty) readSnapshot(s, root, Some(vTo)).limit(0)
    else s.read.parquet(added: _*)
  }

  /** The committed change feed of version `v`, if the commit wrote
    * one: `(inserted, deleted)` row frames. None ⇒ the commit wrote
    * no feed (appends don't need one; or the one-rename publish
    * window crashed) — callers must fall back to a full read, never
    * assume "no changes". An EMPTY pair (compaction) means exactly
    * no logical changes. */
  def snapshotChangeFiles(s: SparkSession, root: String,
      v: Long): Option[(DataFrame, DataFrame)] = {
    import org.apache.hadoop.fs.Path
    val chP = new Path(root, s"changes-v$v")
    if (!fsOf(s, chP).exists(chP)) None
    else Some((s.read.parquet(new Path(chP, "ins").toString),
      s.read.parquet(new Path(chP, "del").toString)))
  }

  /** CHANGE-DATA-FEED READ (the Delta `table_changes` shape): every
    * row the store inserted or deleted over `(vFrom, vTo]`, tagged
    * `_change_type` ('insert' | 'delete') and `_commit_version`. Per
    * hop, in preference order: a PURE APPEND (parent files ⊆ child
    * files) reads only the added files as inserts — free at file
    * grain, no feed needed; a rewrite hop with a committed feed
    * ([[snapshotChangeFiles]]) reads exactly the feed — work
    * proportional to the hop's ROW delta even when its file delta is
    * the whole store (the s08 fallback this closes); a rewrite hop
    * with no feed (pre-feed history, or the publish-window crash)
    * throws — the caller decides between [[s04SnapshotDiff]]'s
    * content diff and a full re-read, because both cost a corpus
    * scan this API exists to avoid. An update is decomposed as
    * delete(preimage) + insert(postimage) in the SAME commit
    * version. */
  def readSnapshotChangeFeed(s: SparkSession, root: String,
      vFrom: Long, vTo: Long): DataFrame = {
    val vs = snapshotVersions(s, root)
    require(vs.contains(vFrom) && vs.contains(vTo),
      s"versions v$vFrom, v$vTo must both be committed (have ${vs.mkString(",")})")
    require(vFrom <= vTo, s"change-feed read runs forward (v$vFrom > v$vTo)")
    changeFeedHops(s, root, vFrom, vTo)
  }

  /** The change-feed hop loop behind [[readSnapshotChangeFeed]] and
    * the streaming source ([[graft.streaming.SnapshotStream]]): every
    * hop in `(afterV, toV]`, tagged. `afterV` need not be committed —
    * afterV=0 means "from the beginning", where the earliest retained
    * version's hop is its FULL content as inserts (the bootstrap hop:
    * for v1 that IS its delta; for a vacuum-trimmed head it is the
    * cumulative state a fresh consumer needs). A hop whose parent
    * version was vacuumed away mid-history, or reached by a resume
    * (afterV > 0), throws — the delta cannot be proven, and emitting
    * a full read as if it were one would silently duplicate
    * everything downstream. */
  private[graft] def changeFeedHops(s: SparkSession, root: String,
      afterV: Long, toV: Long): DataFrame = {
    val vs = snapshotVersions(s, root)
    val hops = vs.filter(v => v > afterV && v <= toV)
    val empty = readSnapshot(s, root, Some(toV)).limit(0)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(0L))
    hops.foldLeft(empty) { (acc, v) =>
      val hopRows =
        if (!vs.contains(v - 1)) {
          if (afterV == 0L && v == vs.head)
            readSnapshot(s, root, Some(v))
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(v))
          else throw new IllegalStateException(
            s"change-feed hop v$v has no committed parent v${v - 1} " +
              "(vacuumed?); the delta cannot be proven — re-read the " +
              "versions directly (s04 content diff) instead")
        } else {
          val parent = v - 1
          val pureAppend = isPureAppendHop(s, root, parent, v)
          if (pureAppend)
            readSnapshotChanges(s, root, parent, v)
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(v))
          else snapshotChangeFiles(s, root, v) match {
            case Some((ins, del)) =>
              // allowMissingColumns: after an evolve-on-merge the
              // postimages carry columns the preimages never had
              ins.withColumn("_change_type", lit("insert"))
                .unionByName(del.withColumn("_change_type", lit("delete")),
                  allowMissingColumns = true)
                .withColumn("_commit_version", lit(v))
            case None => throw new IllegalStateException(
              s"v$v is a rewrite with no committed change feed; " +
                "read the versions directly (s04 content diff) instead")
          }
        }
      acc.unionByName(hopRows, allowMissingColumns = true)
    }
  }

  /** The ONE read doorway for DML rewrites (delete/update/merge
    * touched-file reads): the named manifest lines' files, read under
    * the VERSION's merged header schema — on a schema-evolved store a
    * footer-inferred schema over the touched SUBSET can lack a column
    * other files carry, and a rewrite through it would silently drop
    * those values (reads null-fill afterwards). Pre-header stores pay
    * the one mergeSchema footer sweep over the touched files only. */
  private def readTouched(s: SparkSession, root: String, m: Manifest.Listing,
      lines: Seq[ManifestEntry]): DataFrame =
    // DV-aware: a rewrite that read a DV'd file raw would resurrect
    // its deleted rows INTO the rewrite — the one way a committed
    // delete could silently un-happen
    readLinesDv(s, root, lines, m.headers.schema, merged = true)

  /** COPY-ON-WRITE row-level DELETE: commit a new version whose
    * content is the latest version's minus rows with `colName` in
    * `[lo, hi]`, rewriting ONLY the files whose zone-map interval
    * intersects the range — every provably-untouched file's manifest
    * line (path AND stats) carries forward verbatim, its data never
    * read. This is the Delta/Iceberg copy-on-write DELETE shape, and
    * at 100 TB it is the difference between "right to be forgotten"
    * costing a full-corpus rewrite and costing a handful of files: a
    * range-clustered store rewrites ~range-fraction of its bytes,
    * metadata decides which (the same decision [[readSnapshotPruned]]
    * makes for reads — one zone-map discipline serves both). Files
    * WITHOUT stats are conservatively rewritten (absence can't be
    * proven), so correctness never depends on the sidecar here
    * either. A delete whose range intersects NO file is a no-op
    * returning the current version — nothing changed, nothing to
    * commit. Readers pinned to older versions are untouched
    * (snapshot isolation); the deleted rows' bytes are actually
    * reclaimed when [[vacuumSnapshots]] expires the pre-delete
    * versions — commit removes rows from the LINEAGE, vacuum removes
    * them from DISK, and both steps are audit-visible versions.
    * General predicates delete the same way once the caller supplies
    * a conservative enclosing range on the stats column (or rewrites
    * everything when it can't). Returns the committed version. */
  def deleteFromSnapshot(s: SparkSession, root: String, colName: String,
      lo: Long, hi: Long): Long =
    retryingCommit(s, root, dmlGuard = true)(
      deleteFromSnapshotAttempt(s, root, colName, lo, hi))

  private def deleteFromSnapshotAttempt(s: SparkSession, root: String,
      colName: String, lo: Long, hi: Long): Long = {
    val vs = snapshotVersions(s, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val v = vs.last
    val m = Manifest.read(s, root, v)
    val bounds = m.bounds(colName)
    val (touched, untouched) = m.entries.partition(e =>
      bounds.get(e.path).forall { case (mn, mx) => mx >= lo && mn <= hi })
    if (touched.isEmpty) return v
    val keepStats = (m.statsColumns :+ colName).distinct
    // NULLs are outside every range: keep them (a bare NOT BETWEEN
    // would silently delete null-keyed rows through three-valued logic)
    val base = readTouched(s, root, m, touched)
    val kept = base.filter(col(colName).isNull ||
      !(col(colName) >= lo && col(colName) <= hi))
    val dropped = base.filter(col(colName) >= lo && col(colName) <= hi)
    commitVersion(s, root, kept, parentLines = untouched,
      statsCol = Some(keepStats.mkString(",")), tag = None,
      cdf = Some((kept.limit(0), dropped)), expectParent = Some(v))
  }

  /** COPY-ON-WRITE DELETE for an ARBITRARY row-level predicate — the
    * engine face behind SQL `DELETE FROM cat.t WHERE …`
    * (SupportsDelete on the DSv2 table). Same discipline as
    * [[deleteFromSnapshot]]: `constraints` — the pushed filters
    * mapped into stat space by the connector, exactly what a pruned
    * READ would derive — pick the candidate files through
    * [[pruneFiles]]; every provably predicate-free file's
    * manifest line (stats, Blooms and all) carries forward verbatim,
    * its data never read. `pred` evaluates with SQL three-valued
    * logic: only rows where it is TRUE are deleted (NULL keeps — the
    * WHERE-clause contract; the zone planning is a SUPERSET of the
    * TRUE rows by construction, so the two layers can never
    * disagree). Rewritten files re-stat every named stats column the
    * store carries plus its declared header columns; the commit
    * lands with a change feed of the dropped rows. Returns the
    * committed version (or the current one when no file can hold a
    * match — a no-op needs no commit). */
  /** MoR policy gate: `mor` forces merge-on-read, `cow` forces the
    * rewrite, `auto` (the SQL default) picks merge-on-read when the
    * touched-file FRACTION is at most
    * `spark.graft.snapshot.morMaxTouchedFraction` (default 0.2) —
    * the regime where rewriting whole files to drop a few rows is
    * pure write amplification (the round-12 CDC-sink scale-killer: a
    * 1,000-key micro-batch spread over 1,000 files of a 100 TB store
    * rewrote ~1,000 files per trigger, forever). A broad delete
    * keeps the copy-on-write path: its rewrite IS the materialization
    * and leaves no read-side debt. */
  private def morChosen(s: SparkSession, mode: String,
      touched: Int, total: Int): Boolean = mode match {
    case "mor" => true
    case "cow" => false
    case "auto" =>
      val frac = s.conf
        .get("spark.graft.snapshot.morMaxTouchedFraction", "0.2").toDouble
      total > 0 && touched.toDouble / total <= frac
    case other => throw new IllegalArgumentException(
      s"snapshot DML mode must be auto|cow|mor, got '$other'")
  }

  /** The touched files' LIVE rows (existing deletion vectors already
    * anti-joined out) with `__graft_dv_f`/`__graft_dv_p` position
    * columns attached — the MoR write paths' shared read: new DV
    * positions come from these columns, preimages from the rows. */
  private def readTouchedWithPos(s: SparkSession, root: String,
      m: Manifest.Listing, lines: Seq[ManifestEntry]): DataFrame = {
    val files = lines.map(_.path)
    val raw = (m.headers.schema match {
      case Some(sc) => s.read.schema(sc)
      case None => s.read.option("mergeSchema", "true")
    }).parquet(files: _*)
      .withColumn("__graft_dv_f", col("_metadata.file_path"))
      .withColumn("__graft_dv_p", col("_metadata.row_index"))
    val oldDf = dvRowsOf(s, root, lines)
      .select(col("f").as("__graft_dv_f"), col("pos").as("__graft_dv_p"))
    // manifest-known DV byte size decides the join strategy, the
    // same metadata-driven broadcast as readLinesDv
    val old = if (dvSideBroadcastable(lines)) broadcast(oldDf) else oldDf
    raw.join(old, Seq("__graft_dv_f", "__graft_dv_p"), "left_anti")
  }

  private[graft] def deleteWhereSnapshot(s: SparkSession, root: String,
      pred: Column, constraints: Seq[ColConstraint],
      mode: String = "auto"): Long =
    retryingCommit(s, root, dmlGuard = true)(
      deleteWhereSnapshotAttempt(s, root, pred, constraints, mode))

  private def deleteWhereSnapshotAttempt(s: SparkSession, root: String,
      pred: Column, constraints: Seq[ColConstraint],
      mode: String): Long = {
    val vs = snapshotVersions(s, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val v = vs.last
    val m = Manifest.read(s, root, v)
    val cand = pruneFiles(s, m, constraints).toSet
    val lines = m.entries
    val (touched, untouched) = lines.partition(e => cand(e.path))
    if (touched.isEmpty) return v
    val keepStats = (m.statsColumns ++ m.headers.statsCols.getOrElse(Nil)).distinct
    val hit = coalesce(pred, lit(false))
    if (morChosen(s, mode, touched.size, lines.size)) {
      // MERGE-ON-READ: the deleted rows' (file, position) pairs land
      // as a deletion vector; NO data file is written or rewritten —
      // a point delete costs one tiny parquet dir plus a manifest,
      // whatever the store size. Reads anti-join the positions out;
      // compaction materializes them away on its own cadence.
      val live = readTouchedWithPos(s, root, m, touched)
      val hits = live.filter(hit)
      if (hits.limit(1).count() == 0L) return v // nothing matched: no-op
      val dropped = hits.drop("__graft_dv_f", "__graft_dv_p")
      val dvRows = dvRowsOf(s, root, touched).unionByName(
        hits.select(col("__graft_dv_f").as("f"),
          col("__graft_dv_p").as("pos")))
      return commitVersion(s, root, dropped.limit(0),
        parentLines = untouched ++ touched, statsCol = None, tag = None,
        cdf = Some((dropped.limit(0), dropped)), expectParent = Some(v),
        dvNew = Some(dvRows), writeData = false)
    }
    // read with the VERSION's merged header schema: on a schema-
    // evolved store the touched subset's footer-inferred schema can
    // lack a column some OTHER touched file carries — a bare
    // s.read.parquet would silently drop those values from the
    // rewrite (mergeIntoSnapshot's mergeSchema rationale, applied to
    // every DML rewrite read)
    val base = readTouched(s, root, m, touched)
    val kept = base.filter(!hit)
    val dropped = base.filter(hit)
    commitVersion(s, root, kept, parentLines = untouched,
      statsCol = Some(keepStats.mkString(",")).filter(_.nonEmpty),
      tag = None, cdf = Some((kept.limit(0), dropped)),
      expectParent = Some(v))
  }

  /** COPY-ON-WRITE UPDATE for an ARBITRARY row-level predicate — the
    * engine face behind SQL `UPDATE cat.t SET … WHERE …`. The exact
    * [[deleteWhereSnapshot]] discipline (constraints prune candidate
    * files, untouched lines carry forward verbatim, three-valued
    * predicate, change feed of before/after images), with the
    * rewrite REPLACING matching rows by their SET projection instead
    * of dropping them: each assigned column becomes
    * `when(pred, value).otherwise(col)` cast back to its own type,
    * so non-matching rows are bit-identical ride-alongs. Returns the
    * committed version (current one when no file can hold a match). */
  private[graft] def updateWhereSnapshot(s: SparkSession, root: String,
      pred: Column, sets: Seq[(String, Column)],
      constraints: Seq[ColConstraint], mode: String = "auto"): Long =
    retryingCommit(s, root, dmlGuard = true)(
      updateWhereSnapshotAttempt(s, root, pred, sets, constraints, mode))

  private def updateWhereSnapshotAttempt(s: SparkSession, root: String,
      pred: Column, sets: Seq[(String, Column)],
      constraints: Seq[ColConstraint], mode: String): Long = {
    val vs = snapshotVersions(s, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val v = vs.last
    val m = Manifest.read(s, root, v)
    val cand = pruneFiles(s, m, constraints).toSet
    val lines = m.entries
    val (touched, untouched) = lines.partition(e => cand(e.path))
    if (touched.isEmpty) return v
    val keepStats = (m.statsColumns ++ m.headers.statsCols.getOrElse(Nil)).distinct
    if (morChosen(s, mode, touched.size, lines.size)) {
      // MERGE-ON-READ UPDATE = DV the old images + APPEND the new:
      // write amplification is the MATCHED rows' bytes, not the
      // touched files' — the point-update regime
      val schema = m.headers.schema.getOrElse(
        readSnapshotMerged(s, root, Some(v)).schema)
      val live = readTouchedWithPos(s, root, m, touched)
      val hits = live.filter(coalesce(pred, lit(false)))
      if (hits.limit(1).count() == 0L) return v
      val before = hits.drop("__graft_dv_f", "__graft_dv_p")
      val setFor = sets.map { case (c, e) => c.toLowerCase -> e }.toMap
      val after = before.select(schema.fields.toIndexedSeq.map { f =>
        setFor.get(f.name.toLowerCase) match {
          case Some(value) => value.cast(f.dataType).as(f.name)
          case None => col(f.name)
        }
      }: _*)
      val dvRows = dvRowsOf(s, root, touched).unionByName(
        hits.select(col("__graft_dv_f").as("f"),
          col("__graft_dv_p").as("pos")))
      return commitVersion(s, root, after,
        parentLines = untouched ++ touched,
        statsCol = Some(keepStats.mkString(",")).filter(_.nonEmpty),
        tag = None, cdf = Some((after, before)), expectParent = Some(v),
        dvNew = Some(dvRows))
    }
    // merged header schema — same rationale as deleteWhereSnapshot
    val base = readTouched(s, root, m, touched)
    // the match flag is evaluated on the OLD row image and carried
    // through the projection — re-evaluating the predicate on
    // updated values would mislabel rows whose SET changes the very
    // column the WHERE tests
    val hit = coalesce(pred, lit(false))
    val setFor = sets.map { case (c, e) => c.toLowerCase -> e }.toMap
    // the flag column's name must not collide with a table that
    // already carries one — suffix until free (deterministic walk)
    val hitCol = Iterator.from(0).map(i => s"__graft_hit$i")
      .find(n => !base.columns.exists(_.equalsIgnoreCase(n))).get
    val flagged = base.withColumn(hitCol, hit)
    val rewritten = flagged.select((base.schema.fields.map { f =>
      setFor.get(f.name.toLowerCase) match {
        case Some(value) =>
          when(col(hitCol), value.cast(f.dataType))
            .otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    } :+ col(hitCol)).toIndexedSeq: _*)
    val before = base.filter(hit)
    val after = rewritten.filter(col(hitCol)).drop(hitCol)
    commitVersion(s, root, rewritten.drop(hitCol),
      parentLines = untouched,
      statsCol = Some(keepStats.mkString(",")).filter(_.nonEmpty),
      tag = None, cdf = Some((after, before)), expectParent = Some(v))
  }

  /** COPY-ON-WRITE MERGE (upsert) as a snapshot version — the
    * Delta/Iceberg `MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT
    * MATCHED INSERT` write path, keyed on `keyCol`: rows of the
    * latest version whose key appears in `updates` are REPLACED by
    * the update row, keys absent from the store are INSERTED, and
    * every other row rides along untouched.
    *
    * Scale shape, in order:
    * 1. PLANNING is a metadata join: the version's per-file zone-map
    *    intervals (a few hundred bytes per file, driver-held) are
    *    broadcast against the update batch, and a file is TOUCHED
    *    only if some update key lands inside its interval (files
    *    without stats are always touched — the degrade contract).
    *    The collect is file-grain (paths only), bounded by the files
    *    the batch actually hits — never by corpus or batch size. At
    *    100 TB this is the whole game: a batch updating one day's
    *    docs rewrites that day's files, not the corpus.
    * 2. REWRITE reads exactly the touched files, drops their rows
    *    whose key matches an update (one shuffled LEFT ANTI join at
    *    key grain — null-keyed base rows never match and always
    *    survive), unions ALL updates (an update key in no touched
    *    file can be in NO file, so it is exactly the insert set),
    *    and commits with untouched manifest lines carried forward
    *    verbatim — stats, Bloom fields and all.
    *
    * `updates` must have UNIQUE keys (checked with one bounded
    * 2-column agg; duplicate keys would make the merge
    * order-dependent — the caller picks last-wins upstream, e.g.
    * c42's per-batch dedup) and, unless `evolveSchema` is set, no
    * columns the store lacks — with the flag, new columns EVOLVE the
    * schema (Delta's mergeSchema-on-MERGE): rewritten rows null-fill
    * them, untouched files stay physically column-free, and
    * [[readSnapshotMerged]] null-fills those at read time. Readers
    * pinned to the parent version are isolated; vacuum reclaims
    * replaced files once the parent expires. Returns the committed
    * version. */
  def mergeIntoSnapshot(s: SparkSession, root: String, keyCol: String,
      updates: DataFrame, tag: Option[String] = None,
      evolveSchema: Boolean = false, mode: String = "auto"): Long =
    retryingCommit(s, root, dmlGuard = true)(
      mergeIntoSnapshotAttempt(s, root, splitKeys(keyCol), updates, tag,
        evolveSchema, mode))

  /** `keyCol` may name a COMPOSITE key, comma-separated — every
    * member joins, plans and stats. */
  private def splitKeys(keyCol: String): Seq[String] = {
    val ks = keyCol.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    require(ks.nonEmpty, "merge key must name at least one column")
    ks
  }

  private def mergeIntoSnapshotAttempt(s: SparkSession, root: String,
      keyCols: Seq[String], updates: DataFrame, tag: Option[String],
      evolveSchema: Boolean, mode: String): Long = {
    // The duplicate-key check runs on the commit pool WHILE this
    // thread plans the touched files: both are fixed-cost Spark jobs
    // over the batch. Its refusal still wins — it is awaited before
    // any planning outcome, failure included, is acted on.
    val dupCheck = SqlShims.submitCaptured(s) {
      val dup = updates.agg(count(lit(1)).as("n"),
        count_distinct(col(keyCols.head),
          keyCols.tail.map(col): _*).as("k")).collect()(0) // bounded: one row
      require(dup.getLong(0) == dup.getLong(1),
        s"merge updates must have unique non-null '${keyCols.mkString(",")}' keys " +
          s"(${dup.getLong(0)} rows, ${dup.getLong(1)} distinct keys)")
    }
    val planned: Either[Throwable, Option[MergePlan]] =
      try Right(planMerge(s, root, keyCols, updates, evolveSchema))
      catch { case e: Throwable => Left(e) }
    firstFailure(Seq(dupCheck)).orElse(planned.left.toOption)
      .foreach(e => throw e)
    val MergePlan(v, m, keepStats, anyBounds, touched, untouched) =
      planned.toOption.get.getOrElse {
        // merging into an empty store bootstraps it: everything is an
        // insert, so v1 = the batch (the CREATE TABLE AS face of MERGE)
        return commitVersion(s, root, updates, parentLines = Nil,
          statsCol = Some(keyCols.mkString(",")), tag, expectParent = Some(0L))
      }
    if (touched.isEmpty)
      return commitVersion(s, root, updates, parentLines = untouched,
        statsCol = if (anyBounds) Some(keepStats.mkString(",")) else None,
        tag, cdf = Some((updates, updates.limit(0))), expectParent = Some(v))
    if (morChosen(s, mode, touched.size, m.entries.size)) {
      // MERGE-ON-READ upsert — the CDC-sink write-amplification fix:
      // matched preimages become DV positions, the WHOLE batch lands
      // as new appended files (replaced keys' new images + inserts),
      // and NOT ONE touched file is rewritten. A steady stream of
      // small upserts now costs O(batch) writes per trigger instead
      // of O(touched files); compaction materializes the DVs away on
      // its own cadence, exactly like the small-file tail.
      val live = readTouchedWithPos(s, root, m, touched)
      val matchedRows = live.join(updates.select(keyCols.map(col): _*),
        keyCols, "left_semi")
      val replaced = matchedRows.drop("__graft_dv_f", "__graft_dv_p")
      val dvRows = dvRowsOf(s, root, touched).unionByName(
        matchedRows.select(col("__graft_dv_f").as("f"),
          col("__graft_dv_p").as("pos")))
      return commitVersion(s, root, updates,
        parentLines = untouched ++ touched,
        statsCol = if (anyBounds) Some(keepStats.mkString(",")) else None,
        tag, cdf = Some((updates, replaced)), expectParent = Some(v),
        dvNew = Some(dvRows))
    }
    // version's merged header schema: post-evolution, touched files
    // may disagree on columns among themselves — the header schema
    // null-fills whatever any file physically lacks (planMerge's
    // require already decided whether NEW columns are allowed in)
    val base = readTouched(s, root, m, touched)
    val survivors = base.join(updates.select(keyCols.map(col): _*),
      keyCols, "left_anti")
    // CDF decomposes an update into delete(preimage) + insert(row):
    // replaced = touched-file rows whose key a batch row matches
    val replaced = base.join(updates.select(keyCols.map(col): _*),
      keyCols, "left_semi")
    commitVersion(s, root,
      survivors.unionByName(updates, allowMissingColumns = true),
      parentLines = untouched,
      statsCol = if (anyBounds) Some(keepStats.mkString(",")) else None,
      tag, cdf = Some((updates, replaced)), expectParent = Some(v))
  }

  /** What [[mergeIntoSnapshotAttempt]] plans against the head `v`:
    * its listing, the stats columns a rewrite keeps, whether any key
    * carries zone maps, and the key-touched / untouched split. */
  private case class MergePlan(v: Long, m: Manifest.Listing,
      keepStats: Seq[String], anyBounds: Boolean,
      touched: Seq[ManifestEntry], untouched: Seq[ManifestEntry])

  /** The planning half of [[mergeIntoSnapshotAttempt]]; None for an
    * empty store. */
  private def planMerge(s: SparkSession, root: String, keyCols: Seq[String],
      updates: DataFrame, evolveSchema: Boolean): Option[MergePlan] = {
    val vs = snapshotVersions(s, root)
    if (vs.isEmpty) return None
    val v = vs.last
    val m = Manifest.read(s, root, v)
    // a rewrite keeps indexing every NAMED stats column the store
    // already carries (plus its own keys), so a multi-column store's
    // rewritten files don't silently lose their second zone map
    val keepStats = (m.statsColumns ++ keyCols).distinct
    val anyBounds = keyCols.exists(m.bounds(_).nonEmpty)
    // EVOLVE-ON-MERGE (the Delta mergeSchema composition of s14 and
    // s11): with evolveSchema the batch may CARRY columns the store
    // lacks — rewritten survivors null-fill them, untouched files
    // stay physically column-free and [[readSnapshotMerged]]
    // null-fills at read time. Without the flag a new column is a
    // loud refusal (schema drift should be an explicit migration
    // decision, not a typo's side effect). The reference schema is
    // the VERSION's merged one: its `#schema:` header, or for a
    // pre-header manifest the mergeSchema footer sweep — post-
    // evolution files legitimately disagree column-wise.
    val storeCols = m.headers.schema.map(_.fieldNames.toSeq)
      .getOrElse(readSnapshotMerged(s, root, Some(v)).columns.toSeq)
    val newCols = updates.columns.toSet -- storeCols
    require(evolveSchema || newCols.isEmpty,
      s"merge batch carries columns the store lacks (${newCols.mkString(",")}); " +
        "pass evolveSchema=true to evolve, or project them away")
    val (touched, untouched) = keysTouchedLines(s, m, updates,
      keyCols.map(k => k -> k))
    Some(MergePlan(v, m, keepStats, anyBounds, touched, untouched))
  }

  /** Batch-tagged IDEMPOTENT merge — [[snapshotAppendOnce]]'s
    * streaming-sink commit contract for the UPSERT path: merge
    * `updates` as the next version tagged `tag` unless the last
    * committed version already carries that tag (an at-least-once
    * replay → None, nothing written). Same O(1) tail probe, same
    * argument: foreachBatch replays are strictly sequential, so a
    * replayed tag can only be the latest committed version's. The
    * stream's contract is ≤1 row per key per micro-batch (the
    * compacted-CDC-topic shape); a violating batch fails loudly in
    * the merge's unique-key check rather than committing an
    * order-dependent answer. */
  def snapshotMergeOnce(s: SparkSession, root: String, keyCol: String,
      updates: DataFrame, tag: String): Option[Long] =
    // retry wraps probe AND attempt (see snapshotAppendOnce)
    retryingCommit(s, root, dmlGuard = true) {
      if (lastCommittedTag(s, root).contains(tag)) None
      else Some(mergeIntoSnapshotAttempt(s, root, splitKeys(keyCol),
        updates, Some(tag), evolveSchema = false, mode = "auto"))
    }

  /** The MERGE planning metadata join shared by the canonical upsert
    * and the general SQL executor: a manifest line is TOUCHED iff it
    * has no key zone map (degrade contract) or some update key lands
    * inside its `[min, max]` interval. Broadcast of the driver-held
    * per-file intervals against the batch; the collect is file-grain
    * paths, bounded by what the batch actually hits. */
  private def keyTouchedLines(s: SparkSession, lines: Seq[ManifestEntry],
      bounds: Map[String, (Long, Long)], updates: DataFrame,
      keyCol: String): (Seq[ManifestEntry], Seq[ManifestEntry]) = {
    import s.implicits._
    val statted = lines.map(_.path).filter(bounds.contains)
    val hit: Set[String] =
      if (statted.isEmpty) Set.empty
      else {
        val bdf = broadcast(statted.map { f =>
          val (mn, mx) = bounds(f); (f, mn, mx)
        }.toDF("__f", "__mn", "__mx"))
        updates.select(col(keyCol).as("__k"))
          .join(bdf, col("__k") >= col("__mn") && col("__k") <= col("__mx"))
          .select(col("__f")).distinct()
          .collect().map(_.getString(0)).toSet // bounded: touched paths
      }
    lines.partition(e => !bounds.contains(e.path) || hit(e.path))
  }

  /** COMPOSITE-KEY touched-file planning: each (target key, source
    * key) pair prunes independently — a file is untouched as soon as
    * ANY pair's zone map proves no update key lands in its interval.
    * Per-pair independence is a SUPERSET of the true row match (a
    * real match needs every key column in range simultaneously), so
    * intersecting the per-pair touched sets can only keep extra
    * files, never lose a match — the same degrade-to-keep contract
    * as single-key planning, and at 100 TB a two-column key prunes
    * with whichever of its columns the store happens to cluster on. */
  private def keysTouchedLines(s: SparkSession, m: Manifest.Listing,
      updates: DataFrame, pairs: Seq[(String, String)])
      : (Seq[ManifestEntry], Seq[ManifestEntry]) = {
    val untouchedFiles = pairs.flatMap { case (tKey, sKey) =>
      val bounds = m.bounds(tKey)
      if (bounds.isEmpty) Nil
      else keyTouchedLines(s, m.entries, bounds, updates, sKey)._2.map(_.path)
    }.toSet
    m.entries.partition(e => !untouchedFiles.contains(e.path))
  }

  /** One clause of a GENERAL SQL MERGE, pre-lowered by the resolution
    * rule ([[graft.plans.ResolveSnapshotMerge]]): `kind` is
    * update/delete/insert, `condition` and the assignment values are
    * Columns over the joined frame's `__t_`/`__s_`-prefixed columns
    * (target/source images of the merge key join). */
  private[graft] case class GeneralMergeClause(kind: String,
      condition: Option[Column], assigns: Seq[(String, Column)])

  /** GENERAL COPY-ON-WRITE MERGE — the full SQL MERGE shape family
    * (clause conditions, `WHEN MATCHED … THEN DELETE`, partial SET
    * lists, several WHEN clauses in order), which is what applying a
    * CDC insert/update/delete envelope as ONE statement needs
    * (reference: BaseDBApp.java:52-62's type field routed row-grain —
    * here `WHEN MATCHED AND s.type='delete' THEN DELETE`):
    *
    * {{{
    *   MERGE INTO cat.t USING batch s ON t.k = s.k
    *   WHEN MATCHED AND s.op = 'delete' THEN DELETE
    *   WHEN MATCHED THEN UPDATE SET val = s.val          -- partial SET
    *   WHEN NOT MATCHED AND s.op != 'delete' THEN INSERT *
    * }}}
    *
    * Same scale shape as [[mergeIntoSnapshot]] — zone-map planning
    * picks the touched files, untouched manifest lines carry forward
    * verbatim — with the row rewrite generalized to SQL MERGE
    * semantics: one full-outer join of the touched rows against the
    * batch at key grain, each row routed by the FIRST clause whose
    * condition is TRUE (a NULL condition keeps/drops per the
    * WHEN-clause contract, exactly like WHERE), matched rows with no
    * firing clause ride along unchanged, source rows with no firing
    * NOT MATCHED clause are discarded. Partial SET lists update ONLY
    * the assigned columns — every other column carries the target's
    * value — and INSERT lists null-fill unassigned columns. The
    * commit lands with a change feed decomposing updates into
    * delete(preimage)/insert(postimage) rows. Source keys must be
    * unique (order-dependent multi-matches refuse loudly, the
    * SQL-standard cardinality rule). Returns the committed version. */
  private[graft] def mergeGeneralSnapshot(s: SparkSession, root: String,
      keys: Seq[(String, String)], updates: DataFrame,
      matched: Seq[GeneralMergeClause],
      notMatched: Seq[GeneralMergeClause],
      bySource: Seq[GeneralMergeClause] = Nil,
      mode: String = "auto",
      evolved: Option[StructType] = None): Long =
    retryingCommit(s, root, dmlGuard = true)(
      mergeGeneralSnapshotAttempt(s, root, keys, updates,
        matched, notMatched, bySource, mode, evolved))

  private def mergeGeneralSnapshotAttempt(s: SparkSession, root: String,
      keys: Seq[(String, String)], updates: DataFrame,
      matched: Seq[GeneralMergeClause],
      notMatched: Seq[GeneralMergeClause],
      bySource: Seq[GeneralMergeClause],
      mode: String, evolved: Option[StructType]): Long = {
    require(keys.nonEmpty, "general MERGE needs at least one key pair")
    val srcKeyCols = keys.map(_._2)
    val dup = updates.agg(count(lit(1)).as("n"),
      count_distinct(col(srcKeyCols.head),
        srcKeyCols.tail.map(col): _*).as("k")).collect()(0) // bounded: one row
    require(dup.getLong(0) == dup.getLong(1),
      s"merge source must have unique non-null '${srcKeyCols.mkString(",")}' " +
        s"keys (${dup.getLong(0)} rows, ${dup.getLong(1)} distinct keys)")
    val vs = snapshotVersions(s, root)
    require(vs.nonEmpty, s"no committed snapshots under $root — " +
      "CREATE the table (or publish v1) before a general MERGE")
    val v = vs.last
    val m = Manifest.read(s, root, v)
    val keepStats = (m.statsColumns ++ keys.map(_._1)).distinct
    val anyBounds = keys.exists(k => m.bounds(k._1).nonEmpty)
    val headerSchema = m.headers.schema.getOrElse(
      readSnapshotMerged(s, root, Some(v)).schema)
    // EVOLVE-ON-MERGE for the general shapes: `evolved` appends the
    // statement's NEW target columns (source columns the store
    // lacks, star-expanded or analyzer-evolved) — rewritten/kept
    // rows null-fill them, untouched files stay physically
    // column-free, and the commit's merged `#schema:` header evolves
    // the store exactly like the canonical upsert's path.
    val schema = evolved.fold(headerSchema)(ev =>
      mergeSchemas(headerSchema, allNullable(ev)))
    // NOT MATCHED BY SOURCE clauses act on target rows whose key is
    // ABSENT from the batch — which can live in ANY file, so the
    // key-zone planning cannot bound the rewrite: every line is
    // touched by construction ("make target mirror source" IS a full
    // rewrite). Without such clauses the zone maps bound it as ever.
    val (touched, untouched) =
      if (bySource.nonEmpty) (m.entries, Seq.empty[ManifestEntry])
      else keysTouchedLines(s, m, updates, keys)
    // MERGE-ON-READ for the general shapes too (bySource excluded —
    // its rewrite is every file by definition, so CoW IS the right
    // materialization): fired-on target rows become DV positions,
    // updated post-images and inserts append, ride-along rows stay
    // in their files — the CDC envelope's per-trigger write drops to
    // O(batch) exactly like the canonical upsert's.
    val useMor = bySource.isEmpty && touched.nonEmpty &&
      morChosen(s, mode, touched.size, m.entries.size)
    val base =
      if (touched.isEmpty)
        s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          schema)
      else if (useMor) readTouchedWithPos(s, root, m, touched)
      else readTouched(s, root, m, touched)
    val clash = (base.columns.filterNot(_.startsWith("__graft_dv_")) ++
      updates.columns).filter(c =>
      c.startsWith("__t_") || c.startsWith("__s_") || c == "__graft_act")
    require(clash.isEmpty,
      s"general MERGE reserves __t_/__s_/__graft_act column names; " +
        s"rename: ${clash.mkString(", ")}")
    // position columns (MoR) ride UNprefixed beside the __t_ images;
    // evolved columns the touched files physically lack null-fill
    // here so every routed output column has a target image to keep
    val missing = schema.fields.toIndexedSeq.filterNot(f =>
      base.columns.exists(_.equalsIgnoreCase(f.name)))
    val t = base.select(base.columns.map(c =>
      if (c.startsWith("__graft_dv_")) col(c)
      else col(c).as(s"__t_$c")).toSeq ++
      missing.map(f => lit(null).cast(f.dataType).as(s"__t_${f.name}")) :+
      lit(true).as("__t_p"): _*)
    val u = updates.select(
      updates.columns.map(c => col(c).as(s"__s_$c")).toSeq :+
        lit(true).as("__s_p"): _*)
    val j = t.join(u, keys.map { case (tk, sk) =>
        col(s"__t_$tk") === col(s"__s_$sk")
      }.reduce(_ && _), "full_outer")
    // Row routing: action codes — MATCHED update clause i → i, NOT
    // MATCHED insert clause i → 1000+i, NOT MATCHED BY SOURCE update
    // clause i → 2000+i, any DELETE → -2 (drop), no clause fires →
    // -1 (matched/target-only rows KEEP; source-only rows DROP).
    // when() treats a NULL clause condition as not firing, the WHERE
    // contract.
    def chainOf(cls: Seq[GeneralMergeClause], base: Int,
        dflt: Column): Column =
      cls.zipWithIndex.foldRight(dflt) { case ((cl, i), els) =>
        val code = cl.kind match {
          case "delete" => -2
          case _ => base + i
        }
        when(cl.condition.getOrElse(lit(true)), lit(code)).otherwise(els)
      }
    val act = when(col("__t_p").isNotNull && col("__s_p").isNotNull,
        chainOf(matched, 0, lit(-1)))
      .when(col("__s_p").isNotNull, chainOf(notMatched, 1000, lit(-2)))
      .otherwise(chainOf(bySource, 2000, lit(-1)))
    val jA = j.withColumn("__graft_act", act)
    val alive = jA.filter(col("__graft_act") =!= lit(-2))
    def assignFor(cl: GeneralMergeClause,
        f: StructField): Option[Column] =
      cl.assigns.find(_._1.equalsIgnoreCase(f.name)).map(_._2)
    val outCols = schema.fields.toIndexedSeq.map { f =>
      val keep = col(s"__t_${f.name}")
      val routed = (matched.zipWithIndex.collect {
        case (cl, i) if cl.kind == "update" =>
          i -> assignFor(cl, f).getOrElse(keep)
      } ++ notMatched.zipWithIndex.map { case (cl, i) =>
        (1000 + i) -> assignFor(cl, f)
          .getOrElse(lit(null).cast(f.dataType))
      } ++ bySource.zipWithIndex.collect {
        case (cl, i) if cl.kind == "update" =>
          (2000 + i) -> assignFor(cl, f).getOrElse(keep)
      }).foldRight(keep: Column) { case ((code, value), els) =>
        when(col("__graft_act") === lit(code), value).otherwise(els)
      }
      routed.cast(f.dataType).as(f.name)
    }
    // MoR: only rows a clause REPLACED or CREATED are written (the
    // update/insert post-images); keeps stay in their files. CoW:
    // every surviving row of the touched files is rewritten.
    val result =
      if (useMor) alive.filter(col("__graft_act") >= lit(0))
        .select(outCols: _*)
      else alive.select(outCols: _*)
    // change feed: updated/deleted preimages out, updated postimages
    // and inserts in (compaction-style empty sides when a clause
    // family is absent)
    val preCols = schema.fields.toIndexedSeq.map(f =>
      col(s"__t_${f.name}").cast(f.dataType).as(f.name))
    val updIdx = matched.zipWithIndex.collect {
      case (cl, i) if cl.kind == "update" => i } ++
      bySource.zipWithIndex.collect {
        case (cl, i) if cl.kind == "update" => 2000 + i }
    val deletedPre = jA.filter(col("__t_p").isNotNull &&
        (col("__graft_act") === lit(-2) ||
          col("__graft_act").isin(updIdx.map(Int.box): _*)))
      .select(preCols: _*)
    val insertedPost = alive.filter(col("__graft_act") >= lit(0))
      .select(outCols: _*)
    if (useMor) {
      // every target row a clause FIRED on leaves its file via a DV
      // position (updates move to new files, deletes just go)
      val fired = jA.filter(col("__t_p").isNotNull &&
        col("__graft_act") =!= lit(-1))
      val dvRows = dvRowsOf(s, root, touched).unionByName(
        fired.select(col("__graft_dv_f").as("f"),
          col("__graft_dv_p").as("pos")))
      commitVersion(s, root, result, parentLines = untouched ++ touched,
        statsCol = if (anyBounds) Some(keepStats.mkString(",")) else None,
        tag = None, cdf = Some((insertedPost, deletedPre)),
        expectParent = Some(v), dvNew = Some(dvRows))
    } else
      commitVersion(s, root, result, parentLines = untouched,
        statsCol = if (anyBounds) Some(keepStats.mkString(",")) else None,
        tag = None, cdf = Some((insertedPost, deletedPre)),
        expectParent = Some(v))
  }

  /** OPTIMIZE (small-file compaction) as a snapshot version: bin the
    * latest version's UNDERSIZED files (< targetBytes/2) together and
    * rewrite them as ~targetBytes files; right-sized files carry
    * their manifest lines (path and stats) forward verbatim, never
    * read. Planning is metadata-only — file lengths from the
    * filesystem, never a data scan — and the rewrite reads exactly
    * the undersized bytes, so compacting a 100 TB store that is
    * mostly right-sized costs only the small-file tail that
    * streaming ingest accumulates ([[snapshotAppendOnce]] writes one
    * file set per micro-batch; this is the standing remedy, run on a
    * cadence like vacuum). With `statsCol` set the rewrite is
    * range-partitioned on it, so the compacted files keep selective
    * zone-map intervals and [[readSnapshotPruned]] stays sharp;
    * content is bit-identical to the parent by construction, which
    * is what the oracle checks. Fewer than two undersized files is a
    * no-op returning the current version. Parent versions still
    * reference the old small files — vacuum reclaims them once the
    * pre-compaction versions expire. Returns the committed version. */
  def compactSnapshot(s: SparkSession, root: String, targetBytes: Long,
      statsCol: Option[String] = None): Long =
    retryingCommit(s, root, dmlGuard = true)(
      compactSnapshotAttempt(s, root, targetBytes, statsCol))

  private def compactSnapshotAttempt(s: SparkSession, root: String,
      targetBytes: Long, statsCol: Option[String]): Long = {
    import org.apache.hadoop.fs.Path
    require(targetBytes > 0, "targetBytes must be positive")
    val vs = snapshotVersions(s, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val v = vs.last
    val fs = fsOf(s, new Path(root))
    val m = Manifest.read(s, root, v)
    // the `sz:` field when the line carries one, else one stat
    def len(e: ManifestEntry) =
      e.size.getOrElse(fs.getFileStatus(new Path(e.path)).getLen)
    val (small, big) = m.entries.partition(len(_) < targetBytes / 2)
    // DV'd right-sized files join the rewrite REGARDLESS of size:
    // compaction is the standing MATERIALIZER for merge-on-read
    // deletion vectors — the rewrite drops the DV'd rows physically,
    // the new lines carry no dv field, and vacuum reclaims the dirs
    // once the pre-compaction versions expire. Same cadence argument
    // as the small-file tail: MoR writes cheap debt, compaction pays
    // it down in bulk.
    val (dvBig, cleanBig) = big.partition(_.dv.isDefined)
    val rewrite = small ++ dvBig
    if (small.size <= 1 && dvBig.isEmpty) return v
    val totalSmall = rewrite.map(len).sum
    val nOut = math.max(1L, (totalSmall + targetBytes - 1) / targetBytes).toInt
    // the clustering key is the FIRST declared column (a multi-column
    // caller range-clusters on the leading key); the commit keeps
    // indexing every named stats column the store already carries
    // plus everything the caller declared, so compacting a
    // multi-column store never drops its second zone map
    val clusterKey = statsCol.flatMap(
      _.split(',').map(_.trim).find(_.nonEmpty))
    val src = readLinesDv(s, root, rewrite, schema = None, merged = false)
    val packed = clusterKey match {
      case Some(c) => src.repartitionByRange(nOut, col(c))
      case None => src.coalesce(nOut)
    }
    val keepStats = (m.statsColumns ++
      statsCol.toSeq.flatMap(_.split(',').map(_.trim)).filter(_.nonEmpty))
      .distinct
    // compaction changes no rows: an EMPTY committed feed, so
    // incremental consumers fold nothing instead of recomputing
    // (DV materialization keeps that contract — the dropped rows
    // were already logically deleted by the DV commit's own feed)
    commitVersion(s, root, packed, parentLines = cleanBig,
      statsCol = if (keepStats.isEmpty) None
        else Some(keepStats.mkString(",")),
      tag = None,
      cdf = Some((packed.limit(0), packed.limit(0))), expectParent = Some(v))
  }

  /** Full-recompute counter: test instrumentation pinning that
    * [[changeFeedSync]] takes the incremental path on pure appends
    * and falls back to recompute only on rewrite/delete hops. */
  private[graft] val syncRecomputes = new java.util.concurrent.atomic.AtomicLong

  /** INCREMENTAL DOWNSTREAM CONSUMER over the snapshot change feed:
    * maintain a derived per-language (n_docs, n_chars) profile of
    * the store at `outDir`, folding in only what each new version
    * ADDED. Each call reads the committed state, walks the versions
    * past it, and per hop: a PURE APPEND (parent's file set ⊆
    * child's — one metadata containment check, the s08 cue) folds
    * just the added files' profile; a rewrite hop with a COMMITTED
    * CHANGE FEED ([[snapshotChangeFiles]] — every delete/merge/
    * compact commit writes one) folds the feed's inserted rows in
    * and deleted rows out (a signed fold; compaction's empty feed
    * folds nothing); only a feed-less rewrite (pre-feed history, the
    * publish-window crash, or a cursor already vacuumed from the
    * store) recomputes from the full version read — correct either
    * way, only cost differs, and the recompute counter pins that the
    * fallback stays rare. This is the materialized-view maintenance
    * loop every derived table at 100 TB runs: per sync, work
    * proportional to the DELTA, not the corpus — now across EVERY
    * hop kind, not just appends.
    *
    * State commits use the store's own discipline: the new profile
    * lands under a temp dir, then ONE rename to `state-v<N>` is the
    * commit point — current state = highest committed state dir, so
    * a crash between data and rename leaves invisible debris and a
    * replayed sync simply redoes the same versions from the same
    * committed cursor (idempotent: the fold re-reads the SAME deltas
    * against the SAME state). Superseded state dirs are cleaned
    * after commit. Returns the versions consumed this call. */
  def changeFeedSync(s: SparkSession, root: String, outDir: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val outP = new Path(outDir)
    val fs = fsOf(s, outP)
    fs.mkdirs(outP)
    def stateVersions(): Seq[Long] = fs.listStatus(outP)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("state-v") =>
        n.stripPrefix("state-v").toLong }
      .toSeq.sorted
    val vs = snapshotVersions(s, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val cursor = stateVersions().lastOption
    val todo = vs.filter(v => cursor.forall(_ < v))
    if (todo.isEmpty) return Nil
    def profile(df: DataFrame): DataFrame = df
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast(LongType).as("n_chars"))
    // fold in memory across the pending hops; ONE state commit at
    // the end — sync granularity is the call, not the version
    var state: DataFrame = cursor match {
      case Some(c) => s.read.parquet(new Path(outP, s"state-v$c").toString)
      case None => profile(readSnapshot(s, root, Some(todo.head))).limit(0)
    }
    var prev: Option[Long] = cursor.filter(vs.contains)
    todo.foreach { v =>
      val pureAppend = prev.exists(p => isPureAppendHop(s, root, p, v))
      // signed fold: additive profiles subtract cleanly, and a lang
      // whose docs all vanish drops out (matching a recompute)
      def fold(deltas: DataFrame): DataFrame =
        state.withColumn("__sign", lit(1L)).unionByName(deltas)
          .groupBy(col("lang"))
          .agg(sum(col("n_docs") * col("__sign")).as("n_docs"),
            sum(col("n_chars") * col("__sign")).as("n_chars"))
          .where(col("n_docs") > 0)
      state =
        if (pureAppend)
          fold(profile(readSnapshotChanges(s, root, prev.get, v))
            .withColumn("__sign", lit(1L)))
        else if (prev.isDefined && snapshotChangeFiles(s, root, v).isDefined) {
          // rewrite hop WITH a committed feed: work ∝ the hop's row
          // delta (delete/merge/compact never recompute the corpus)
          val (ins, del) = snapshotChangeFiles(s, root, v).get
          fold(profile(ins).withColumn("__sign", lit(1L))
            .unionByName(profile(del).withColumn("__sign", lit(-1L))))
        } else { // bootstrap (no cursor) is a full read by nature, not a fallback
          if (prev.isDefined) syncRecomputes.incrementAndGet()
          profile(readSnapshot(s, root, Some(v)))
        }
      prev = Some(v)
    }
    // crash debris from an earlier sync (state written, rename never
    // reached) is invisible to readers; reclaim it here
    fs.listStatus(outP).map(_.getPath)
      .filter(_.getName.startsWith(".tmp-state-"))
      .foreach(fs.delete(_, true))
    val target = todo.last
    val att = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(outP, s".tmp-state-v$target-$att")
    state.write.mode("overwrite").parquet(tmp.toString)
    val dst = new Path(outP, s"state-v$target")
    if (!fs.rename(tmp, dst)) fs.delete(tmp, true) // lost to a racing sync
    stateVersions().dropRight(1)
      .foreach(v => fs.delete(new Path(outP, s"state-v$v"), true))
    todo
  }

  /** The committed derived state [[changeFeedSync]] maintains. */
  def readSyncedState(s: SparkSession, outDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val outP = new Path(outDir)
    val fs = fsOf(s, outP)
    val vs = fs.listStatus(outP).map(_.getPath.getName)
      .collect { case n if n.startsWith("state-v") =>
        n.stripPrefix("state-v").toLong }.sorted
    require(vs.nonEmpty, s"no committed sync state under $outDir")
    s.read.parquet(new Path(outP, s"state-v${vs.last}").toString)
  }

  /** s08 — the incremental read as an oracle-gated query: per-language
    * doc/char profile of what v2 ADDED over v1, answered from the
    * manifest file delta (the appended half's files, nothing else —
    * SnapshotSpec pins the file count via inputFiles). The oracle
    * replays the publish split predicate over the raw corpus, so
    * value equality proves the file-grain delta carries EXACTLY the
    * appended rows — the guarantee an incremental pipeline leans on
    * when it processes "just the new files" of each release. */
  def s08IncrementalRead(s: SparkSession, d: String): DataFrame = {
    val root = ensureSnapshots(s, d)
    readSnapshotChanges(s, root, 1L, 2L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast(LongType).as("n_chars"))
      .orderBy(col("lang"))
  }

  /** Delete-range bounds shared by the s09 fixture and its oracle:
    * [25%, 35%] of the id space by integer arithmetic (one bounded
    * 1-row collect), so every scale factor deletes a genuinely
    * selective slice that leaves most files untouched. */
  private def deleteBounds(s: SparkSession, d: String): (Long, Long) = {
    val mx = Tables.documents(s, d).agg(max(col("doc_id")))
      .collect()(0).getLong(0) // bounded: one row
    (mx * 25 / 100, mx * 35 / 100)
  }

  /** Build-once fixture for s09 (own store — the main fixture's
    * versions are pinned by s03–s08 and must not gain a delete):
    * v1 = the full corpus range-clustered on doc_id, v2 = the
    * copy-on-write delete of the [25%, 35%] id slice. Drift-token
    * guarded like every persisted artifact. */
  private[graft] def ensureDeleteStore(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_del"
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout3§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      publishSnapshot(s, root,
        Tables.documents(s, d).repartitionByRange(SNAP_FILES, col("doc_id")),
        statsCol = Some("doc_id"))
      val (lo, hi) = deleteBounds(s, d)
      deleteFromSnapshot(s, root, "doc_id", lo, hi)
      // the release-train refs s12 reads through: "prod" rides the
      // delete, "pre_delete" pins the history (and survives vacuum)
      setRef(s, root, "pre_delete", 1L)
      setRef(s, root, "prod", 2L)
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** s09 — COPY-ON-WRITE DELETE read back through the store: the
    * per-language profile of the post-delete version. The oracle
    * replays the delete predicate's complement over the raw corpus,
    * so value equality proves the rewrite dropped EXACTLY the target
    * rows and the carried files EXACTLY the rest — the "right to be
    * forgotten" contract. The file-grain claims (untouched files
    * reused verbatim, only intersecting files rewritten, older
    * versions isolated, vacuum reclaims the pre-delete bytes) are
    * pinned in SnapshotDeleteSpec on a scratch store. */
  def s09CowDelete(s: SparkSession, d: String): DataFrame =
    readSnapshot(s, ensureDeleteStore(s, d), None)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast(LongType).as("n_chars"))
      .orderBy(col("lang"))

  /** s12 — NAMED-REF reads: the per-language profile through BOTH of
    * the delete store's refs — "pre_delete" (pinned at v1, the full
    * corpus) and "prod" (riding the delete at v2). The oracle
    * replays both targets' contents from the raw corpus, so value
    * equality proves ref resolution lands on exactly the right
    * version — the release-train contract where "train on prod"
    * names bytes atomically and rollback is a re-point, not a data
    * move. Retarget atomicity, crash-debris invisibility, and the
    * vacuum pin (a ref'd old version survives keep-newest retention
    * with its files) are pinned in RefSpec on a scratch store. */
  def s12RefRead(s: SparkSession, d: String): DataFrame = {
    val root = ensureDeleteStore(s, d)
    def prof(ref: String): DataFrame =
      readSnapshotAt(s, root, ref)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast(LongType).as("n_chars"))
        .select(lit(ref).as("ref"), col("lang"), col("n_docs"), col("n_chars"))
    prof("pre_delete").unionByName(prof("prod"))
      .orderBy(col("ref"), col("lang"))
  }

  /** Build-once fixture for s13 (own store): the full corpus
    * clustered BY SOURCE (hash repartition), so every file's doc_id
    * zone-map interval spans essentially the whole id space and
    * range pruning is useless — the layout where only the Bloom
    * field can skip files for a point lookup. Published with
    * statsBloom, one version. */
  private[graft] def ensureBloomStore(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_blm"
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout2§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      publishSnapshot(s, root,
        Tables.documents(s, d).repartition(SNAP_FILES, col("source")),
        statsCol = Some("doc_id"), statsBloom = true)
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** s13 — BLOOM-SKIPPED POINT LOOKUPS through the source-clustered
    * store: fetch five spread doc_ids (0, ¼, ½, ¾, max of the id
    * space — integer arithmetic from one bounded 1-row collect) via
    * [[readSnapshotKeyLookup]]. The oracle selects the same keys from
    * the raw corpus, so value equality proves Bloom planning never
    * skips a file that holds a requested key — while the skipping
    * itself (lookups open a fraction of the files range pruning
    * would have to keep) is pinned at file grain in BloomSkipSpec
    * via inputFiles on a scratch store. */
  def s13BloomLookup(s: SparkSession, d: String): DataFrame = {
    val root = ensureBloomStore(s, d)
    val mx = Tables.documents(s, d).agg(max(col("doc_id")))
      .collect()(0).getLong(0) // bounded: one row
    val keys = Seq(0L, mx / 4, mx / 2, mx * 3 / 4, mx).distinct
    readSnapshotKeyLookup(s, root, None, "doc_id", keys)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The s14 upsert batch, deterministic from the corpus: every doc
    * in the [45%, 55%] id slice updated (text 'U:'-prefixed, source
    * re-tagged 'merged', n_chars bumped by the 2 added chars) plus
    * max(doc_id)/50 + 1 brand-new inserted docs above the id space —
    * the daily-refresh shape: a batch of re-crawled pages and a tail
    * of never-seen ones. Mirrored verbatim in the s14 oracle. */
  private def mergeBatch(s: SparkSession, d: String, mx: Long): DataFrame = {
    val upd = Tables.documents(s, d)
      .filter(col("doc_id") >= mx * 45 / 100 && col("doc_id") <= mx * 55 / 100)
      .select(col("doc_id"), concat(lit("U:"), col("text")).as("text"),
        col("lang"), lit("merged").as("source"),
        (col("n_chars") + 2L).as("n_chars"))
    val ins = s.range(mx + 1, mx + 2 + mx / 50)
      .select(col("id").as("doc_id"),
        concat(lit("new doc "), col("id").cast(StringType)).as("text"),
        lit("xx").as("lang"), lit("merged").as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
    upd.unionByName(ins)
  }

  /** Build-once fixture for s14 (own store): v1 = the full corpus
    * range-clustered on doc_id, v2 = [[mergeIntoSnapshot]] of the
    * deterministic [[mergeBatch]]. Drift-token guarded. */
  private[graft] def ensureMergeStore(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_mrg"
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout2§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      publishSnapshot(s, root,
        Tables.documents(s, d).repartitionByRange(SNAP_FILES, col("doc_id")),
        statsCol = Some("doc_id"))
      val mx = Tables.documents(s, d).agg(max(col("doc_id")))
        .collect()(0).getLong(0) // bounded: one row
      mergeIntoSnapshot(s, root, "doc_id", mergeBatch(s, d, mx))
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** s14 — COPY-ON-WRITE MERGE read back through the store: the
    * per-(lang, source) profile of the post-merge version. The
    * oracle replays the merge relationally over the raw corpus
    * (originals minus updated keys, plus updates, plus inserts), so
    * value equality proves the file-pruned rewrite replaced EXACTLY
    * the matched rows, inserted exactly the new keys, and carried
    * every other row — the daily-upsert contract. File-grain claims
    * (untouched files reused verbatim, only interval-hit files
    * rewritten, parent isolation, unique-key refusal) are pinned in
    * MergeSpec on a scratch store. */
  def s14MergeUpsert(s: SparkSession, d: String): DataFrame =
    readSnapshot(s, ensureMergeStore(s, d), None)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("sum_chars"),
        sum(length(col("text"))).cast(LongType).as("text_chars"))
      .orderBy(col("lang"), col("source"))

  /** s17 — the DSv2 TABLE read ([[graft.sources.SnapshotDataSource]],
    * `spark.read.format("graft-snapshot")`): s06's pruned range
    * profile re-asked through ORDINARY Catalyst — the predicate is a
    * plain `.filter`, and the connector turns it into manifest-level
    * zone-map pruning during pushdown (SnapshotDataSourceSpec pins
    * the file counts; the same mechanism serves SQL text and joins).
    * Sharing s06's oracle proves the composed path answers exactly
    * what the bespoke reader answered — the point of making pruning
    * a table property instead of a function. */
  def s17Dsv2Read(s: SparkSession, d: String): DataFrame = {
    val root = ensureSnapshots(s, d)
    val mx = Tables.documents(s, d).agg(max(col("doc_id")))
      .collect()(0).getLong(0) // bounded: one row
    val (lo, hi) = (mx * 2 / 10, mx * 4 / 10)
    s.read.format("graft-snapshot")
      .option("statsCol", "doc_id").option("version", "3")
      .load(root)
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast(LongType).as("n_chars"))
      .orderBy(col("lang"))
  }

  /** Build-once fixture for s18 (own store): the corpus plus a
    * deterministic integral `quality` column (s16's score), laid out
    * on the 2-D Z-ORDER curve over (doc_id, quality) so BOTH columns'
    * per-file zone maps are selective at once — the layout where a
    * multi-column stats map actually pays (range-clustering on one
    * column makes the other's intervals span everything). Published
    * with `statsCol = "doc_id,quality"` + Blooms: the manifest's
    * per-column named stats form. Drift-token guarded. */
  private[graft] def ensureMultiStatsStore(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_mc"
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout2§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      val zed = Tables.documents(s, d)
        .withColumn("quality",
          graft.functions.Portable.h60(concat(lit("q:"),
            col("doc_id").cast(StringType))) % 100)
        .withColumn("zx", pmod(col("doc_id"), lit(1L << Z_BITS)))
        .withColumn("z", expr(zExprSql("zx", "quality", "div")))
        .repartitionByRange(SNAP_FILES, col("z"))
        .sortWithinPartitions(col("z"))
        .drop("zx", "z")
      publishSnapshot(s, root, zed,
        statsCol = Some("doc_id,quality"), statsBloom = true)
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** s18 — MULTI-COLUMN pruned read through the DSv2 table: one
    * predicate constrains doc_id AND quality, and the connector
    * prunes with BOTH columns' manifest zone maps conjunctively (a
    * file survives only if every constrained column's interval
    * intersects — SnapshotDataSourceSpec pins that each single-column
    * filter prunes and the conjunction prunes strictly harder). The
    * oracle recomputes the deterministic quality score over the raw
    * corpus and applies the same predicate, so value equality proves
    * two-column pruning never drops a qualifying row. */
  def s18MulticolRead(s: SparkSession, d: String): DataFrame = {
    val root = ensureMultiStatsStore(s, d)
    val mx = Tables.documents(s, d).agg(max(col("doc_id")))
      .collect()(0).getLong(0) // bounded: one row
    val (lo, hi) = (mx * 1 / 10, mx * 3 / 10)
    s.read.format("graft-snapshot")
      .option("statsCol", "doc_id,quality")
      .load(root)
      .filter(col("doc_id") >= lo && col("doc_id") <= hi &&
        col("quality") >= 40 && col("quality") <= 70)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality")).cast(LongType).as("sum_q"),
        sum(length(col("text"))).cast(LongType).as("n_chars"))
      .orderBy(col("lang"))
  }

  /** Build-once fixture store for s21: the corpus clustered by the
    * STRING column `source` (plus a derived DATE column `day` =
    * 2024-01-01 + doc_id % 60 — deterministic, replayable in the
    * oracle), published with stats declared on BOTH (`source,day`)
    * and Blooms enabled. Range-clustering on `source` gives each
    * file a narrow [min,max] source interval, so the string zone
    * maps — 8-byte UTF-8 prefixes packed into the manifest's Long
    * fields — are genuinely selective, the layout every corpus store
    * partitioned-by-source has at 100 TB. */
  private[graft] def ensureStringStatsStore(s: SparkSession,
      d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_ss"
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout1§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      val clustered = Tables.documents(s, d)
        .withColumn("day",
          date_add(to_date(lit("2024-01-01")),
            pmod(col("doc_id"), lit(60L)).cast(IntegerType)))
        .repartitionByRange(SNAP_FILES, col("source"), col("doc_id"))
        .sortWithinPartitions(col("source"), col("doc_id"))
      publishSnapshot(s, root, clustered,
        statsCol = Some("source,day"), statsBloom = true)
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** s21 — STRING/DATE-STATS PRUNED READ: a source-range plus
    * day-range slice of the string-clustered store, answered through
    * the DSv2 connector so the STRING zone maps (prefix64-encoded
    * manifest bounds) and the DATE zone maps (epoch-day bounds)
    * prune at the FILE grain before parquet even opens. This is the
    * predicate shape corpus queries actually run — `source`/`lang`/
    * date strings, not integral ids — and the oracle replays the
    * same slice (with the same derived day) from the raw table, so
    * value equality proves string-stats pruning never skips a
    * qualifying file. File counts are pinned in StringStatsSpec. */
  def s21StringPrunedRead(s: SparkSession, d: String): DataFrame = {
    val root = ensureStringStatsStore(s, d)
    s.read.format("graft-snapshot").load(root)
      .filter(col("source") >= "src12" && col("source") <= "src15" &&
        col("day") >= to_date(lit("2024-01-05")) &&
        col("day") <= to_date(lit("2024-02-25")))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast(LongType).as("n_chars"))
      .orderBy(col("source"), col("lang"))
  }

  /** OPTIMIZE ZORDER as a snapshot commit (Delta's `OPTIMIZE …
    * ZORDER BY (x, y)`): rewrite the latest version's content
    * re-clustered on the 2-D Morton curve over `(colX, colY)` and
    * commit it as a new FULL version carrying MULTI-COLUMN stats
    * (zone maps on both curve dimensions, optional Blooms), so
    * predicates on EITHER column — and especially on both — prune
    * through [[pruneFiles]]' conjunctive per-column check.
    * This is the standing remedy for a store whose ingest order
    * matches neither read key (the source-clustered shape s13 works
    * around with Blooms): one rewrite, and both read keys get
    * selective intervals. Logical content is unchanged, so the
    * commit's change feed is EMPTY (compaction's contract — a
    * downstream sync sees "no logical changes", never a phantom
    * full-corpus diff). Readers pinned to the parent are isolated;
    * vacuum reclaims the old layout when the parent expires. Returns
    * the committed version. */
  def zorderSnapshot(s: SparkSession, root: String, colX: String,
      colY: String, files: Int, statsBloom: Boolean = false): Long =
    zorderSnapshotK(s, root, Seq(colX, colY), files, statsBloom)

  /** The k-DIMENSIONAL generalization: interleave the low
    * `63 / k` (capped at [[Z_BITS]]) bits of each column round-robin
    * into one Morton value, recluster on it, and declare ALL k
    * columns in the commit's stats — every curve dimension then
    * range-prunes through the conjunctive per-column check. Bits per
    * dimension shrink as k grows (63-bit BIGINT budget); what
    * changes is curve RESOLUTION, i.e. how fine the per-file
    * bounding boxes are — never correctness, since the zone maps
    * are computed from the DATA, not from the curve. Practical k is
    * 2-4 (Delta's guidance): each added dimension dilutes every
    * dimension's locality. */
  def zorderSnapshotK(s: SparkSession, root: String, cols: Seq[String],
      files: Int, statsBloom: Boolean = false): Long =
    retryingCommit(s, root, dmlGuard = true)(
      zorderSnapshotKAttempt(s, root, cols, files, statsBloom))

  private def zorderSnapshotKAttempt(s: SparkSession, root: String,
      cols: Seq[String], files: Int, statsBloom: Boolean): Long = {
    require(cols.size >= 2, s"z-order needs >= 2 columns, got $cols")
    require(cols.size <= 8, s"z-order over ${cols.size} columns has " +
      "no locality left; cluster on fewer keys")
    val bits = math.min(Z_BITS, 63 / cols.size)
    val vs = snapshotVersions(s, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val v = vs.last
    val df = readSnapshotMerged(s, root, Some(v))
    // Each curve dimension maps through the SAME order-preserving
    // stat-space encodings the manifest zone maps use (integral as
    // itself, DATE → epoch days, TIMESTAMP → epoch micros, STRING →
    // packed 8-byte UTF-8 prefix) — a bare cast-to-Long silently
    // NULLed every string/date dimension, committing a clustering
    // claim the layout didn't deliver. Unmappable types refuse
    // loudly, the store's one degrade discipline.
    def encoded(c: String): Column = {
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"z-order column '$c' is not in the store's schema"))
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          col(f.name).cast(LongType)
        case DateType => unix_date(col(f.name)).cast(LongType)
        case TimestampType => unix_micros(col(f.name))
        case StringType => stringPrefix64Col(col(f.name))
        case other => throw new UnsupportedOperationException(
          s"z-order dimension '$c' (${other.simpleString}) has no " +
            "order-preserving stat-space mapping — cluster on an " +
            "integral/date/timestamp/string key instead")
      }
    }
    // Dimensions are MIN-MAX SCALED into the curve's 2^bits buckets
    // (one bounded agg row for all dimensions' encoded extrema): the
    // old low-bits pmod wrapped any dimension whose values exceed
    // 2^bits — and a string prefix64 ALWAYS does (its low bits are
    // byte 8, constant zero for short strings). Scaling is resolution
    // only, never correctness: zone maps are computed from the DATA.
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(encoded(c)).as(s"__lo$i"), max(encoded(c)).as(s"__hi$i"))
    }
    val ext = df.agg(aggs.head, aggs.tail: _*).collect()(0) // bounded: one row
    val dims = cols.indices.map(i => s"__zd$i")
    val zed = cols.indices
      .foldLeft(df) { (acc, i) =>
        val (lo, hi) = (Option(ext.getAs[java.lang.Long](s"__lo$i")),
          Option(ext.getAs[java.lang.Long](s"__hi$i")))
        val scaled = (lo, hi) match {
          case (Some(mn), Some(mx)) if mx > mn =>
            // double arithmetic THROUGHOUT (the Long difference can
            // overflow: string prefixes span nearly the full signed
            // range): precision loss past 2^53 can shift a row one
            // BUCKET, never a wrong answer (curve resolution). The
            // quotient is < 2^bits by construction; clamp anyway so a
            // rounding artifact can't escape the bucket domain.
            least(lit((1L << bits) - 1L),
              floor((encoded(cols(i)).cast(DoubleType) -
                lit(mn.doubleValue)) *
                lit((1L << bits).toDouble) /
                lit((mx.doubleValue - mn.doubleValue) + 1.0))
                .cast(LongType))
          case _ => lit(0L) // constant or all-NULL dimension
        }
        // NULLs cluster at the curve origin (a NULL dim would NULL
        // the whole interleave and strand rows in one range bucket)
        acc.withColumn(dims(i), coalesce(scaled, lit(0L)))
      }
      .withColumn("__z", expr(zExprSqlK(dims, "div", bits)))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop(dims :+ "__z": _*)
    commitVersion(s, root, zed, parentLines = Nil,
      statsCol = Some(cols.mkString(",")), tag = None,
      statsBloom = statsBloom,
      cdf = Some((zed.limit(0), zed.limit(0))), expectParent = Some(v))
  }

  /** Build-once fixture for s20 (own store): v1 = the corpus
    * SOURCE-clustered (both read keys' zone maps span everything —
    * the layout where range pruning is useless on every column), v2
    * = [[zorderSnapshot]] on (doc_id, n_chars). Drift-token
    * guarded. */
  private[graft] def ensureZorderStore(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_zo"
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    // layout3: round-13 typed/min-max-scaled curve dimensions — a
    // cached layout2 store was clustered by the old low-bits pmod
    val want = "layout3§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      publishSnapshot(s, root,
        Tables.documents(s, d).repartition(SNAP_FILES, col("source")))
      zorderSnapshot(s, root, "doc_id", "n_chars", SNAP_FILES)
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** s20 — Z-ORDER RECLUSTER read back: a 2-D predicate
    * (doc_id range × n_chars range) through the DSv2 table over the
    * re-clustered version. The oracle applies the same predicate to
    * the raw corpus, so value equality proves the rewrite changed
    * LAYOUT, never content; the pruning payoff (both columns'
    * intervals selective after one rewrite, conjunction strictly
    * harder) is pinned at file grain in SnapshotDataSourceSpec. */
  def s20ZorderRecluster(s: SparkSession, d: String): DataFrame = {
    val root = ensureZorderStore(s, d)
    val mx = Tables.documents(s, d).agg(max(col("doc_id")))
      .collect()(0).getLong(0) // bounded: one row
    val (lo, hi) = (mx * 2 / 10, mx * 4 / 10)
    s.read.format("graft-snapshot").load(root) // statsCols via header
      .filter(col("doc_id") >= lo && col("doc_id") <= hi &&
        col("n_chars") >= 100L && col("n_chars") <= 400L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Build-once fixture for s19 (own store + its own CATALOG
    * registration): v1 = the full corpus published through the API,
    * v2 = a deterministic batch APPENDED through the SQL write
    * surface — `df.writeTo("<cat>.<table>").append()` — so the row
    * proves the catalog write path commits through the same protocol
    * the API uses. The catalog name is derived from the sf dir (a
    * CatalogManager instance is cached per name after first load, so
    * a per-dir name keeps warehouses from cross-binding). Returns the
    * table's fully-qualified SQL name. Drift-token guarded. */
  private[graft] def ensureCatalogStore(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_cat"
    val catName = s"graft_cat_${Integer.toHexString(d.hashCode)}"
    val tableName = new Path(root).getName
    s.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$catName.warehouse",
      new Path(root).getParent.toString)
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout2§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      publishSnapshot(s, root,
        Tables.documents(s, d).repartitionByRange(SNAP_FILES, col("doc_id")),
        statsCol = Some("doc_id"))
      val mx = Tables.documents(s, d).agg(max(col("doc_id")))
        .collect()(0).getLong(0) // bounded: one row
      // the SQL-surface append: a deterministic re-keyed slice (ids
      // above the existing space, lang re-tagged) — mirrored verbatim
      // in the oracle
      Tables.documents(s, d)
        .filter(col("doc_id") < mx / 20)
        .withColumn("doc_id", col("doc_id") + mx + 1L)
        .withColumn("lang", lit("zz"))
        .writeTo(s"$catName.$tableName").append()
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    s"$catName.$tableName"
  }

  /** s19 — the SQL WRITE surface read back: after the catalog append
    * ([[ensureCatalogStore]]), the per-lang profile of the table AS
    * SQL TEXT sees base + batch exactly once. The oracle replays the
    * append relationally over the raw corpus, so value equality
    * proves `writeTo(...).append()` landed the batch through the
    * commit protocol (version bump, delta manifest, conflict rules —
    * SnapshotCatalogSpec pins the file-grain claims); the write and
    * read surfaces are now both plain SQL. */
  def s19CatalogAppend(s: SparkSession, d: String): DataFrame = {
    val table = ensureCatalogStore(s, d)
    s.sql(
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM $table GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** Build-once fixture for s22 (TWIN stores): the same corpus
    * projection published identically twice, then the same row-level
    * delete (`doc_id % 31 = 0`) committed MERGE-ON-READ (deletion
    * vectors; file set untouched) in one store and COPY-ON-WRITE
    * (files rewritten) in the other. Returns (morRoot, cowRoot) —
    * the two stores must be value-identical forever after, which is
    * exactly what the s22 oracle (and SnapshotDvSpec's direct twin
    * comparison) checks. Drift-token guarded. */
  private[graft] def ensureDvStores(s: SparkSession,
      d: String): (String, String) = {
    import org.apache.hadoop.fs.Path
    val morRoot = snapRoot(s, d) + "_dvm"
    val cowRoot = snapRoot(s, d) + "_dvc"
    val tokP = new Path(morRoot, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout1§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(morRoot), true)
      fs.delete(new Path(cowRoot), true)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .repartitionByRange(SNAP_FILES, col("doc_id"))
      val pred = pmod(col("doc_id"), lit(31L)) === 0L
      for ((root, mode) <- Seq(morRoot -> "mor", cowRoot -> "cow")) {
        publishSnapshot(s, root, docs, statsCol = Some("doc_id"))
        deleteWhereSnapshot(s, root, pred, constraints = Nil, mode = mode)
      }
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    (morRoot, cowRoot)
  }

  /** s22 — MERGE-ON-READ deletion vectors read back through the SQL
    * face: the `(source, lang)` profile of the MoR-deleted store via
    * `spark.read.format("graft-snapshot")` — the version carries
    * `dv:` fields, so [[graft.plans.ResolveSnapshotDvRead]] swaps the
    * scan for the anti-joined composed read. The oracle replays the
    * delete relationally over the raw corpus; by construction the
    * COW twin answers identically (SnapshotDvSpec compares the twins
    * row-for-row and pins the write-amplification claims: the MoR
    * commit wrote ZERO data files, the CoW commit rewrote its
    * touched files). */
  def s22DvRead(s: SparkSession, d: String): DataFrame = {
    val (morRoot, _) = ensureDvStores(s, d)
    s.read.format("graft-snapshot").load(morRoot)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("sum_chars"))
      .orderBy(col("source"), col("lang"))
  }

  /** Build-once fixture for s23 (own store + its own catalog
    * registration): v1 = the (doc_id, source, lang, n_chars) corpus
    * projection range-clustered on doc_id, then ONE general SQL
    * MERGE replaying a mixed CDC batch — conditional DELETE
    * (doc_id % 97 = 0), PARTIAL-SET update (lang := 'xx' where
    * doc_id % 89 = 0, n_chars untouched) and conditional INSERT (a
    * re-keyed slice tagged source='merged') — through
    * [[graft.plans.ResolveSnapshotMerge]]'s general executor.
    * Drift-token guarded. Returns the table's SQL name. */
  private[graft] def ensureGeneralMergeStore(s: SparkSession,
      d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_gmrg"
    val catName = s"graft_mrg_${Integer.toHexString(d.hashCode)}"
    val tableName = new Path(root).getName
    s.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$catName.warehouse",
      new Path(root).getParent.toString)
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout1§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      publishSnapshot(s, root,
        docs.repartitionByRange(SNAP_FILES, col("doc_id")),
        statsCol = Some("doc_id"))
      val mx = docs.agg(max(col("doc_id")))
        .collect()(0).getLong(0) // bounded: one row
      // the mixed batch: unique keys across the three op families by
      // construction (deletes/updates disjoint on existing ids,
      // inserts keyed above the id space)
      val dels = docs.filter(pmod(col("doc_id"), lit(97L)) === 0L)
        .select(col("doc_id"), lit("delete").as("op"),
          lit(null).cast(StringType).as("lang"),
          lit(null).cast(LongType).as("n_chars"))
      val upds = docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0L &&
          pmod(col("doc_id"), lit(89L)) === 0L)
        .select(col("doc_id"), lit("update").as("op"),
          lit("xx").as("lang"), lit(null).cast(LongType).as("n_chars"))
      val ins = docs.filter(col("doc_id") < mx / 20)
        .select((col("doc_id") + mx + 1L).as("doc_id"),
          lit("insert").as("op"), lit("zz").as("lang"), col("n_chars"))
      dels.unionByName(upds).unionByName(ins)
        .createOrReplaceTempView(s"${tableName}_batch")
      s.sql(
        s"""MERGE INTO $catName.$tableName AS t
           |USING ${tableName}_batch AS u ON t.doc_id = u.doc_id
           |WHEN MATCHED AND u.op = 'delete' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET lang = u.lang
           |WHEN NOT MATCHED AND u.op = 'insert' THEN
           |  INSERT (doc_id, source, lang, n_chars)
           |  VALUES (u.doc_id, 'merged', u.lang, u.n_chars)""".stripMargin)
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    s"$catName.$tableName"
  }

  /** s23 — the GENERAL SQL MERGE shape family read back: after ONE
    * statement replayed a mixed CDC envelope (conditional DELETE +
    * partial-SET UPDATE + conditional INSERT — the
    * insert/update/delete row-typing of the reference's CDC feed,
    * gmall-realtime BaseDBApp.java:52-62, applied as SQL), the
    * (source, lang) profile of the table. The oracle replays the
    * three clause families relationally over the raw corpus, so value
    * equality proves clause order, partial-SET isolation (n_chars
    * untouched by the update clause) and conditional insert routing
    * — while the file-grain copy-on-write claims are pinned in
    * SnapshotMergeGeneralSpec. */
  def s23MergeGeneral(s: SparkSession, d: String): DataFrame = {
    val table = ensureGeneralMergeStore(s, d)
    s.sql(
      s"""SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM $table GROUP BY source, lang ORDER BY source, lang""".stripMargin)
  }

  /** Build-once fixture for s16 (own store): v1 = the full corpus
    * range-clustered on doc_id (no quality column exists), v2 =
    * [[mergeIntoSnapshot]] with `evolveSchema = true` of
    * [[mergeBatch]] CARRYING a new deterministic `quality` column —
    * the upsert batch itself evolves the schema, composing s14's
    * merge with s11's evolution. Drift-token guarded. */
  private[graft] def ensureEvoMergeStore(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_evomrg"
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout2§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      publishSnapshot(s, root,
        Tables.documents(s, d).repartitionByRange(SNAP_FILES, col("doc_id")),
        statsCol = Some("doc_id"))
      val mx = Tables.documents(s, d).agg(max(col("doc_id")))
        .collect()(0).getLong(0) // bounded: one row
      mergeIntoSnapshot(s, root, "doc_id",
        mergeBatch(s, d, mx).withColumn("quality",
          graft.functions.Portable.h60(concat(lit("q:"),
            col("doc_id").cast(StringType))) % 100),
        evolveSchema = true)
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** s16 — EVOLVE-ON-MERGE read back through the store: the upsert
    * batch added a `quality` column the base never had; the merged-
    * schema read of the post-merge version must carry quality for
    * EXACTLY the batch's rows (updates + inserts) and null-fill every
    * carried row — including rows in files the merge rewrote, whose
    * survivors were null-filled at WRITE time, and rows in untouched
    * files that stay physically column-free. The oracle replays the
    * merge relationally with the same deterministic score, so value
    * equality proves both fill paths and the merge semantics at once
    * — the composition of s14 (MERGE) and s11 (ADD COLUMN) a daily
    * upsert pipeline hits the day its schema grows. */
  def s16EvolveMerge(s: SparkSession, d: String): DataFrame =
    readSnapshotMerged(s, ensureEvoMergeStore(s, d))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality").isNotNull, 1L).otherwise(0L))
          .as("n_with_quality"),
        sum(col("quality")).cast(LongType).as("sum_quality"),
        sum(length(col("text"))).cast(LongType).as("text_chars"))
      .orderBy(col("lang"))

  /** Build-once fixture for s15 (own store): the mixed history every
    * long-lived table accumulates — v1 = publish of the lower id
    * half, v2 = append of the rest, v3 = copy-on-write delete of the
    * [25%, 35%] slice, v4 = merge of [[mergeBatch]] (updates +
    * inserts), v5 = compaction — so the change feed crosses one hop
    * of every commit kind. Drift-token guarded. */
  private[graft] def ensureCdfStore(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_cdf"
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout2§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max(col("doc_id")))
        .collect()(0).getLong(0) // bounded: one row
      def ranged(df: DataFrame): DataFrame =
        df.repartitionByRange(SNAP_FILES, col("doc_id"))
      publishSnapshot(s, root, ranged(docs.filter(col("doc_id") <= mx / 2)),
        statsCol = Some("doc_id"))
      appendSnapshot(s, root, ranged(docs.filter(col("doc_id") > mx / 2)),
        statsCol = Some("doc_id"))
      deleteFromSnapshot(s, root, "doc_id", mx * 25 / 100, mx * 35 / 100)
      mergeIntoSnapshot(s, root, "doc_id", mergeBatch(s, d, mx))
      val total = manifestFiles(s, root, 4L)
        .map(f => fs.getFileStatus(new Path(f)).getLen).sum
      compactSnapshot(s, root, math.max(1L, total / 4), Some("doc_id"))
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** s15 — CHANGE-DATA-FEED READ over the mixed history: every row
    * the store inserted or deleted across the delete (v3), merge
    * (v4) and compaction (v5) hops, rolled up per (version,
    * change_type). The oracle replays each hop's row delta
    * relationally over the raw corpus — the delete slice, the
    * merge's replaced preimages, the merge batch itself, and NO v5
    * rows (compaction's committed feed is empty) — so value equality
    * proves the per-commit feeds carry EXACTLY each rewrite's row
    * delta: the guarantee that lets an incremental consumer fold
    * every hop kind without ever re-scanning the corpus (the s08
    * fallback this closes). */
  def s15ChangeFeed(s: SparkSession, d: String): DataFrame = {
    val root = ensureCdfStore(s, d)
    readSnapshotChangeFeed(s, root, 2L, 5L)
      .groupBy(col("_commit_version").as("version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("text"))).cast(LongType).as("n_chars"),
        sum(col("doc_id")).cast(LongType).as("sum_id"))
      .orderBy(col("version"), col("change_type"))
  }

  /** Build-once fixture for s10 (own store): the small-file history
    * streaming ingest produces — v1/v2/v3 = three range-clustered
    * appends of corpus thirds (3 × SNAP_FILES files), then v4 =
    * [[compactSnapshot]] at a target of ~¼ of the total bytes, so
    * every ingest file is undersized and the rewrite bin-packs them
    * into a handful of range-partitioned files. */
  private[graft] def ensureCompactStore(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_opt"
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout2§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      val docs = Tables.documents(s, d)
      val bucket = graft.functions.Portable.h60(concat(lit("snap:"),
        col("doc_id").cast(StringType))) % 100
      def ranged(df: DataFrame): DataFrame =
        df.repartitionByRange(SNAP_FILES, col("doc_id"))
      publishSnapshot(s, root, ranged(docs.filter(bucket < 34)),
        statsCol = Some("doc_id"))
      appendSnapshot(s, root, ranged(docs.filter(bucket >= 34 && bucket < 67)),
        statsCol = Some("doc_id"))
      appendSnapshot(s, root, ranged(docs.filter(bucket >= 67)),
        statsCol = Some("doc_id"))
      val total = manifestFiles(s, root, 3L)
        .map(f => fs.getFileStatus(new Path(f)).getLen).sum
      compactSnapshot(s, root, math.max(1L, total / 4), Some("doc_id"))
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** s10 — OPTIMIZE (small-file compaction) read back through a
    * ZONE-MAP-PRUNED scan of the compacted version: the per-language
    * profile of the [50%, 70%] id slice. Answering through
    * [[readSnapshotPruned]] makes the oracle prove BOTH compaction
    * claims at once — content is bit-identical to the pre-compaction
    * corpus, and the REWRITTEN files' freshly-collected zone-map
    * stats still plan a correct pruned read (a compaction that
    * scrambled clustering or stats would answer wrong or read
    * everything). File-grain claims (right-sized files reused,
    * undersized files bin-packed, file count drops, parent versions
    * isolated) are pinned in SnapshotCompactSpec on a scratch
    * store. */
  def s10CompactRead(s: SparkSession, d: String): DataFrame = {
    val root = ensureCompactStore(s, d)
    val mx = Tables.documents(s, d).agg(max(col("doc_id")))
      .collect()(0).getLong(0) // bounded: one row
    val (lo, hi) = (mx * 5 / 10, mx * 7 / 10)
    readSnapshotPruned(s, root, None, "doc_id", lo, hi)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast(LongType).as("n_chars"))
      .orderBy(col("lang"))
  }

  /** SCHEMA-EVOLVED snapshot read: the manifest's file list under a
    * UNION schema (`mergeSchema`), so versions published before a
    * column existed read with that column null-filled — ADD COLUMN
    * on a 100 TB corpus costs ZERO rewrite: old files stay exactly
    * as committed (and keep backing pinned old-version readers),
    * only new publishes carry the new column, and the merged read
    * reconciles at scan time from file footers alone. The standing
    * Iceberg/Delta evolution contract, at the store's file grain.
    * Rename/retype need a column-id layer on top (out of scope —
    * name-based matching is the documented limit here, as in plain
    * parquet); ADD is the evolution a training corpus actually does
    * (new quality scores, new provenance fields, new labels). */
  def readSnapshotMerged(s: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val v = resolveVersion(s, root, version)
    val m = Manifest.read(s, root, v)
    if (!snapshotHasDvs(s, root, v))
      s.read.option("mergeSchema", "true").parquet(m.files: _*)
    else readLinesDv(s, root, m.entries, schema = None, merged = true)
  }

  /** Build-once fixture for s11 (own store): v1 = the corpus's
    * h60-bucket<50 half WITHOUT a quality column, v2 = the other
    * half appended WITH `quality` = h60("q:"||doc_id) % 100 — a
    * deterministic, oracle-replayable score. v1's files never carry
    * the column; the merged read must null-fill them. */
  private[graft] def ensureEvolutionStore(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val root = snapRoot(s, d) + "_evo"
    val tokP = new Path(root, "_token")
    val fs = fsOf(s, tokP)
    val want = "layout2§" + corpusToken(s, d, "documents.parquet")
    val have =
      if (!fs.exists(tokP)) None
      else {
        val in = fs.open(tokP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new Path(root), true)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
      val bucket = graft.functions.Portable.h60(concat(lit("snap:"),
        col("doc_id").cast(StringType))) % 100
      def ranged(df: DataFrame): DataFrame =
        df.repartitionByRange(SNAP_FILES, col("doc_id"))
      publishSnapshot(s, root, ranged(docs.filter(bucket < 50)),
        statsCol = Some("doc_id"))
      appendSnapshot(s, root, ranged(docs.filter(bucket >= 50)
        .withColumn("quality", graft.functions.Portable.h60(concat(lit("q:"),
          col("doc_id").cast(StringType))) % 100)),
        statsCol = Some("doc_id"))
      val out = fs.create(tokP, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** s11 — SCHEMA EVOLUTION read back through the store: per-language
    * doc counts with quality coverage and totals over the merged-
    * schema read of v2, where v1's files were published BEFORE the
    * quality column existed. The oracle replays the evolution from
    * the raw corpus (quality present exactly for the appended half,
    * with the same deterministic score), so value equality proves the
    * merged read null-fills old files and carries new files' values —
    * ADD COLUMN without rewriting a byte of committed data. The
    * file-grain claim (v1 files physically lack the column yet still
    * back the merged read) is pinned in SchemaEvolutionSpec. */
  def s11SchemaEvolution(s: SparkSession, d: String): DataFrame =
    readSnapshotMerged(s, ensureEvolutionStore(s, d), Some(2L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("quality")).as("n_with_quality"),
        sum(col("quality")).cast(LongType).as("sum_quality"))
      .orderBy(col("lang"))

  /** s05 retention policy: keep the newest KEEP_VERSIONS snapshots. */
  private val KEEP_VERSIONS = 2

  /** s05 — VACUUM PLAN: the dry-run accounting a retention pass
    * publishes before [[vacuumSnapshots]] deletes anything — per
    * version, its retain/expire status under the keep-newest-2
    * policy, its full document count, and how many documents the
    * version actually ADDED over its parent (an [[appendSnapshot]]
    * adds its delta; a compaction rewrite adds zero — that is how
    * the plan tells "history worth keeping" from "rewrite noise").
    * Every count reads through the manifests, so value equality
    * against the raw-corpus oracle proves the whole lifecycle —
    * publish, file-reusing append, compaction — produced manifests
    * naming exactly the right files. The FILE-grain claims (append
    * reuses the parent's files; vacuum reclaims only unreferenced
    * files; a retained reader survives vacuum) are pinned in
    * SnapshotSpec, where destructive vacuum can run on a scratch
    * store.
    *
    * Scale shape: one scan + one id-grain anti-join-shaped count per
    * version — linear in the history's total bytes, no wider than
    * s04's diff. */
  def s05VacuumPlan(s: SparkSession, d: String): DataFrame = {
    val root = ensureSnapshots(s, d)
    val vs = snapshotVersions(s, root)
    val cut = vs.size - KEEP_VERSIONS
    vs.zipWithIndex.map { case (v, i) =>
      val cur = readSnapshot(s, root, Some(v)).select(col("doc_id"))
      val prev =
        if (i == 0) cur.limit(0)
        else readSnapshot(s, root, Some(vs(i - 1))).select(col("doc_id"))
      val status = if (i < cut) "expired" else "retained"
      cur.join(prev.withColumn("__p", lit(1L)), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__p").isNull, 1L).otherwise(0L)).as("n_added"))
        .select(lit(v).as("version"), lit(status).as("status"),
          col("n_docs"), col("n_added"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  /** s06 — ZONE-MAP-PRUNED range read over the snapshot store: the
    * per-language profile of the doc_id slice [20%, 40%] of the id
    * space, answered at v3 (the range-clustered compaction rewrite)
    * through [[readSnapshotPruned]] — the manifest's min/max sidecar
    * plans 2-3 of the version's [[SNAP_FILES]] files and the rest
    * are never opened (pinned in SnapshotPruneSpec via inputFiles;
    * the oracle proves the pruned scan still returns exactly the
    * full-scan answer). This is the metadata half of data skipping —
    * s01's z-order is the row-group half; together they are how a
    * 100 TB table answers a selective query from a few files'
    * footers instead of a full listing-and-scan.
    *
    * The range bounds derive from max(doc_id) by integer arithmetic
    * (a 1-row bounded collect), so every scale factor exercises a
    * genuinely selective slice. */
  def s06PrunedRead(s: SparkSession, d: String): DataFrame = {
    val root = ensureSnapshots(s, d)
    val mx = Tables.documents(s, d).agg(max(col("doc_id")))
      .collect()(0).getLong(0) // bounded: one row
    val (lo, hi) = (mx * 2 / 10, mx * 4 / 10)
    readSnapshotPruned(s, root, Some(3L), "doc_id", lo, hi)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast(LongType).as("n_chars"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // Z-order layout — multi-dimensional data skipping
  // ---------------------------------------------------------------

  /** Bits per dimension for the 2-D Morton (Z-order) curve. 16 bits
    * each interleave into a 32-bit value — far inside BIGINT. At
    * 100 TB, widen to 21+21 or quantize each dimension to its value
    * histogram first; only curve RESOLUTION changes. */
  private[graft] val Z_BITS = 16

  /** The bit-interleave z = …y1x1y0x0 as pure integer arithmetic —
    * ((x div 2^i) % 2)·2^(2i) + ((y div 2^i) % 2)·2^(2i+1), unrolled.
    * Division/modulo only, so the SAME generated string runs through
    * Spark's parser (divOp = "div", whole-stage-codegen'd — no UDF)
    * and DuckDB's (divOp = "//") — the oracle replays the curve
    * exactly rather than trusting a reimplementation. */
  private[graft] def zExprSql(x: String, y: String, divOp: String): String =
    zExprSqlK(Seq(x, y), divOp, Z_BITS)

  /** The k-dimensional round-robin interleave — bit i of dimension d
    * lands at position k·i + d. Same dual-dialect discipline as the
    * 2-D form (div/%-only arithmetic runs through Spark's parser AND
    * DuckDB's). */
  private[graft] def zExprSqlK(cols: Seq[String], divOp: String,
      bits: Int): String = {
    val k = cols.size
    (0 until bits).flatMap(i => cols.zipWithIndex.map { case (c, d) =>
      s"(($c $divOp ${1L << i}) % 2) * ${1L << (k * i + d)}"
    }).mkString(" + ")
  }

  /** Write `df` laid out along the z-curve of (xCol, yCol): range-
    * partition by z into `files` files, z-sorted inside each. Every
    * file then covers a BOUNDED RECTANGLE-ISH region of (x, y) space,
    * so parquet row-group min/max statistics prune a box predicate on
    * EITHER dimension — the layout for the 100 TB fact table queried
    * by (customer, date) boxes, where a linear sort on one column
    * leaves the other column's min/max spanning everything in every
    * file. ZOrderSpec pins the skipping advantage by scan metrics. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      files: Int): Unit =
    df.withColumn("__z", expr(zExprSql(
        s"CAST($xCol AS BIGINT)", s"CAST($yCol AS BIGINT)", "div")))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** s01 — the z-curve itself as an oracle-checked query: every order
    * keyed by (customer-id mod 2^15, days since 1992-01-01) with its
    * Morton code, ordered along the curve. The ORDER here IS the
    * layout [[writeZOrdered]] materializes — checking it end-to-end
    * checks the interleave arithmetic both engines must agree on. */
  private def bucketTables(d: String): (String, String, String) = {
    val tag = Integer.toHexString(d.hashCode)
    (s"graft_bkt_lineitem_$tag", s"graft_bkt_orders_$tag", s"graft_bkt_meta_$tag")
  }

  /** Persist lineitem and orders bucketed + bucket-sorted on the
    * join key — the co-location layout for the 100 TB fact tables,
    * guarded by the corpus-drift token like every persisted
    * artifact. Build-once; every later fact⋈fact join on the key is
    * a local merge with NO shuffle exchange on either side. */
  def buildBucketedFacts(s: SparkSession, d: String): Unit = {
    val (liT, ordT, metaT) = bucketTables(d)
    Seq(liT, ordT, metaT).foreach(dropStale(s, _))
    writeBucketed(Tables.lineitem(s, d), liT, "l_orderkey", buckets = 8)
    writeBucketed(Tables.orders(s, d), ordT, "o_orderkey", buckets = 8)
    s.createDataFrame(Seq(Tuple1(factsToken(s, d))))
      .toDF("token").write.mode("overwrite").format("parquet").saveAsTable(metaT)
  }

  /** Drift token covering BOTH persisted fact tables — a regenerated
    * orders.parquet with an unchanged lineitem must still trigger a
    * rebuild (the store holds both). */
  private def factsToken(s: SparkSession, d: String): String =
    corpusToken(s, d, "lineitem.parquet") + "§" +
      corpusToken(s, d, "orders.parquet")

  /** s02 — the fact⋈fact join ANSWERED FROM the bucketed layout:
    * order-priority quantity rollup over lineitem⋈orders where both
    * sides read as bucket-sorted parquet, so the sort-merge join
    * needs no Exchange and no Sort (BucketingSpec pins that plan
    * property; this query makes the layout's ANSWERS oracle-gated
    * too — the DuckDB twin runs the plain join, and value equality
    * proves layout independence). Money flows through DECIMAL
    * before the final DOUBLE cast (the b1 discipline), so the sum
    * is order-independent and engine-exact. */
  def s02BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (liT, ordT, metaT) = bucketTables(d)
    def token(): Option[String] =
      if (!s.catalog.tableExists(metaT)) None
      else s.table(metaT).collect().headOption.map(_.getString(0))
    if (!token().contains(factsToken(s, d)))
      buildBucketedFacts(s, d)
    val li = s.table(liT)
    val ord = s.table(ordT)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(12, 2)))
          .cast(DoubleType).as("total_qty"),
        count(lit(1)).as("line_ct"))
      .orderBy(col("o_orderpriority"))
  }

  def s01Zorder(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("zx", pmod(col("o_custkey").cast(LongType), lit(32768L)))
      .withColumn("zy", datediff(col("o_orderdate").cast(DateType),
        lit("1992-01-01").cast(DateType)).cast(LongType))
      .withColumn("z", expr(zExprSql("zx", "zy", "div")))
      .select(col("o_orderkey"), col("zx"), col("zy"), col("z"))
      .orderBy(col("z"), col("o_orderkey"))

  /** a08 restated through the salted path — hot-key-safe keyed
    * aggregation with identical results (shared oracle). The
    * countDistinct becomes exact set-union across salt partitions. */
  def a08Salted(s: SparkSession, d: String): DataFrame =
    saltedAgg(
      Tables.events(s, d),
      key = col("user_id"), saltFrom = col("event_id"), salts = 16,
      aggs = Seq(
        ("event_ct", count(lit(1)), (p: Column) => sum(p)),
        ("type_ct", collect_set(col("event_type")),
          (p: Column) => size(array_distinct(flatten(collect_list(p)))).cast(LongType)),
        ("value_sum", sum(col("value").cast(DecimalType(12, 2))),
          (p: Column) => sum(p).cast(DoubleType))))
      .select(col("__key").as("user_id"), col("event_ct"), col("type_ct"), col("value_sum"))
      .orderBy(col("user_id"))

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a08_salted" -> a08Salted,
    "s01_zorder" -> s01Zorder,
    "s02_bucketed_join" -> s02BucketedJoin,
    "s03_snapshot_read" -> s03SnapshotRead,
    "s04_snapshot_diff" -> s04SnapshotDiff,
    "s05_vacuum_plan" -> s05VacuumPlan,
    "s06_pruned_read" -> s06PrunedRead,
    "s07_release_report" -> s07ReleaseReport,
    "s08_incremental_read" -> s08IncrementalRead,
    "s09_cow_delete" -> s09CowDelete,
    "s10_compact_read" -> s10CompactRead,
    "s11_schema_evolution" -> s11SchemaEvolution,
    "s12_ref_read" -> s12RefRead,
    "s13_bloom_lookup" -> s13BloomLookup,
    "s14_merge_upsert" -> s14MergeUpsert,
    "s15_change_feed" -> s15ChangeFeed,
    "s16_evolve_merge" -> s16EvolveMerge,
    "s17_dsv2_read" -> s17Dsv2Read,
    "s18_multicol_read" -> s18MulticolRead,
    "s19_catalog_append" -> s19CatalogAppend,
    "s20_zorder_recluster" -> s20ZorderRecluster,
    "s21_string_pruned" -> s21StringPrunedRead,
    "s22_dv_read" -> s22DvRead,
    "s23_merge_general" -> s23MergeGeneral)

  // identical semantics ⇒ identical oracle as a08_keyed_agg
  /** s07's oracle: the four faces' own oracle SQLs composed verbatim
    * (each as a MATERIALIZED CTE over its unchanged text), unpivoted
    * into the report's long format — the report is trustworthy
    * because every section replays an already-oracle-checked query. */
  private def s07Sql: String = {
    val t23 = CorpusStats.oracle("t23_dataset_card")
    val t36 = TextOps.oracle("t36_mix_plan")
    val c38 = DedupOps.oracle("c38_multisuite_decon")
    val c43 = DedupOps.oracle("c43_effective_tokens")
    s"""WITH relc AS MATERIALIZED (SELECT * FROM ($t23) q),
       |relm AS MATERIALIZED (SELECT * FROM ($t36) q),
       |reld AS MATERIALIZED (
       |  SELECT suite, method, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM (SELECT doc_id, suite, unnest(string_split(methods, ',')) AS method
       |        FROM ($c38) q)
       |  GROUP BY suite, method),
       |relt AS MATERIALIZED (SELECT * FROM ($c43) q)
       |SELECT section, grain, k1, k2, metric, lv, dv FROM (
       |  SELECT 'card' AS section, lvl AS grain, source AS k1, lang AS k2,
       |         'n_docs' AS metric, n_docs AS lv, CAST(NULL AS DOUBLE) AS dv FROM relc
       |  UNION ALL SELECT 'card', lvl, source, lang, 'n_tokens', n_tokens, NULL FROM relc
       |  UNION ALL SELECT 'card', lvl, source, lang, 'n_chars', n_chars, NULL FROM relc
       |  UNION ALL SELECT 'card', lvl, source, lang, 'avg_quality', NULL, avg_quality FROM relc
       |  UNION ALL SELECT 'mix', 0, lang, NULL, 'weight', weight, NULL FROM relm
       |  UNION ALL SELECT 'mix', 0, lang, NULL, 'n_tok', n_tok, NULL FROM relm
       |  UNION ALL SELECT 'mix', 0, lang, NULL, 'cap_tok', cap_tok, NULL FROM relm
       |  UNION ALL SELECT 'mix', 0, lang, NULL, 'alloc_tok', alloc_tok, NULL FROM relm
       |  UNION ALL SELECT 'mix', 0, lang, NULL, 'epochs_x1000', epochs_x1000, NULL FROM relm
       |  UNION ALL SELECT 'mix', 0, lang, NULL, 'capped', capped, NULL FROM relm
       |  UNION ALL SELECT 'decon', 0, suite, method, 'n_docs', n_docs, NULL FROM reld
       |  UNION ALL SELECT 'tokens', 0, source, NULL, 'raw_docs', raw_docs, NULL FROM relt
       |  UNION ALL SELECT 'tokens', 0, source, NULL, 'raw_tokens', raw_tokens, NULL FROM relt
       |  UNION ALL SELECT 'tokens', 0, source, NULL, 'kept_docs', kept_docs, NULL FROM relt
       |  UNION ALL SELECT 'tokens', 0, source, NULL, 'kept_tokens', kept_tokens, NULL FROM relt
       |  UNION ALL SELECT 'tokens', 0, source, NULL, 'dup_tokens', dup_tokens, NULL FROM relt
       |) ORDER BY section, grain, k1 NULLS FIRST, k2 NULLS FIRST, metric""".stripMargin
  }

  override val oracle: Map[String, String] = Map(
    "s07_release_report" -> s07Sql,
    "a08_salted" ->
      """SELECT user_id, COUNT(*) AS event_ct,
        |       COUNT(DISTINCT event_type) AS type_ct,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "s01_zorder" ->
      s"""WITH b AS (
         |  SELECT o_orderkey,
         |         CAST(o_custkey % 32768 AS BIGINT) AS zx,
         |         CAST(date_diff('day', DATE '1992-01-01',
         |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS zy
         |  FROM orders)
         |SELECT o_orderkey, zx, zy,
         |       CAST(${zExprSql("zx", "zy", "//")} AS BIGINT) AS z
         |FROM b ORDER BY z, o_orderkey""".stripMargin,
    "s02_bucketed_join" ->
      """SELECT o_orderpriority,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
        |       CAST(COUNT(*) AS BIGINT) AS line_ct
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // replays both snapshot versions' CONTENTS from the raw corpus:
    // v1 is the deterministic h60 half-split, v2 the full table
    "s03_snapshot_read" ->
      s"""SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS version, lang,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(length(text)) AS BIGINT) AS n_chars
         |  FROM documents
         |  WHERE ${graft.functions.Portable.h60Sql("'snap:' || CAST(doc_id AS VARCHAR)")} % 100 < 50
         |  GROUP BY lang
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT) AS version, lang,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(length(text)) AS BIGINT) AS n_chars
         |  FROM documents GROUP BY lang)
         |ORDER BY version, lang""".stripMargin,
    // the v1→v2 file delta carries exactly the appended half: the
    // publish split predicate's complement
    "s08_incremental_read" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(length(text)) AS BIGINT) AS n_chars
         |FROM documents
         |WHERE ${graft.functions.Portable.h60Sql("'snap:' || CAST(doc_id AS VARCHAR)")} % 100 >= 50
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // v1 membership = the publish split predicate; added = the rest
    "s04_snapshot_diff" ->
      s"""SELECT lang,
         |  CAST(SUM(CASE WHEN NOT in1 THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         |  CAST(SUM(CASE WHEN NOT in1 THEN length(text) ELSE 0 END) AS BIGINT) AS added_chars,
         |  CAST(SUM(CASE WHEN in1 THEN 1 ELSE 0 END) AS BIGINT) AS n_carried
         |FROM (
         |  SELECT lang, text,
         |    ${graft.functions.Portable.h60Sql("'snap:' || CAST(doc_id AS VARCHAR)")} % 100 < 50 AS in1
         |  FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "s05_vacuum_plan" ->
      s"""SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS version, 'expired' AS status,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(*) AS BIGINT) AS n_added
         |  FROM documents
         |  WHERE ${graft.functions.Portable.h60Sql("'snap:' || CAST(doc_id AS VARCHAR)")} % 100 < 50
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), 'retained',
         |         CAST(count(*) AS BIGINT),
         |         CAST(SUM(CASE WHEN ${graft.functions.Portable.h60Sql("'snap:' || CAST(doc_id AS VARCHAR)")} % 100 >= 50
         |                  THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM documents
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT), 'retained',
         |         CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
         |  FROM documents)
         |ORDER BY version""".stripMargin,
    // "pre_delete" resolves to the full corpus, "prod" to the
    // post-delete complement — ref resolution proven by content
    "s12_ref_read" ->
      """SELECT * FROM (
        |  SELECT 'pre_delete' AS ref, lang,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY lang
        |  UNION ALL
        |  SELECT 'prod' AS ref, lang,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |  FROM documents
        |  WHERE NOT (doc_id >= (SELECT max(doc_id) * 25 // 100 FROM documents)
        |         AND doc_id <= (SELECT max(doc_id) * 35 // 100 FROM documents))
        |  GROUP BY lang)
        |ORDER BY ref, lang""".stripMargin,
    // the post-delete version must carry exactly the complement of
    // the [25%, 35%] id slice
    "s09_cow_delete" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |FROM documents
        |WHERE NOT (doc_id >= (SELECT max(doc_id) * 25 // 100 FROM documents)
        |       AND doc_id <= (SELECT max(doc_id) * 35 // 100 FROM documents))
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // quality exists exactly for the appended (bucket >= 50) half,
    // with the same deterministic h60 score; v1 files null-fill
    "s11_schema_evolution" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN b >= 50 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_with_quality,
         |       CAST(SUM(CASE WHEN b >= 50 THEN q % 100 END) AS BIGINT)
         |         AS sum_quality
         |FROM (SELECT lang,
         |        ${graft.functions.Portable.h60Sql("'snap:' || CAST(doc_id AS VARCHAR)")} % 100 AS b,
         |        ${graft.functions.Portable.h60Sql("'q:' || CAST(doc_id AS VARCHAR)")} AS q
         |      FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // the compacted version's pruned range read must still return
    // exactly the raw table's slice (content AND fresh stats correct)
    "s10_compact_read" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id >= (SELECT max(doc_id) * 5 // 10 FROM documents)
        |  AND doc_id <= (SELECT max(doc_id) * 7 // 10 FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // v3's content is the full corpus; the pruned read must still
    // return exactly the raw table's slice
    "s06_pruned_read" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id >= (SELECT max(doc_id) * 2 // 10 FROM documents)
        |  AND doc_id <= (SELECT max(doc_id) * 4 // 10 FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the same slice asked through the DSv2 table: pruning moved
    // into Catalyst pushdown, answer must not move at all
    "s17_dsv2_read" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id >= (SELECT max(doc_id) * 2 // 10 FROM documents)
        |  AND doc_id <= (SELECT max(doc_id) * 4 // 10 FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // Bloom planning may only SKIP files proven key-free, so the
    // lookup must return exactly the raw table's rows for the keys
    "s13_bloom_lookup" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d, mx
        |WHERE d.doc_id IN (0, mx.m // 4, mx.m // 2, mx.m * 3 // 4, mx.m)
        |ORDER BY d.doc_id""".stripMargin,
    // the merge replayed relationally: originals minus updated keys,
    // plus the update slice, plus the inserted tail
    "s14_merge_upsert" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |upd AS (
        |  SELECT doc_id, 'U:' || text AS text, lang,
        |         'merged' AS source, n_chars + 2 AS n_chars
        |  FROM documents, mx
        |  WHERE doc_id >= mx.m * 45 // 100 AND doc_id <= mx.m * 55 // 100),
        |ins AS (
        |  SELECT CAST(x AS BIGINT) AS doc_id,
        |         'new doc ' || CAST(x AS VARCHAR) AS text,
        |         'xx' AS lang, 'merged' AS source,
        |         CAST(length('new doc ' || CAST(x AS VARCHAR)) AS BIGINT) AS n_chars
        |  FROM (SELECT unnest(range(m + 1, m + 2 + m // 50)) AS x FROM mx)),
        |merged AS (
        |  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        |  FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM upd)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(SUM(length(text)) AS BIGINT) AS text_chars
        |FROM merged GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    // each rewrite hop's row delta replayed relationally: v3 deletes
    // the [25%, 35%] slice, v4 deletes the merge's replaced
    // preimages ([45%, 55%], disjoint from the deleted slice) and
    // inserts the whole batch, v5 (compaction) contributes no rows
    "s15_change_feed" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |del3 AS (
        |  SELECT doc_id, text FROM documents, mx
        |  WHERE doc_id >= mx.m * 25 // 100 AND doc_id <= mx.m * 35 // 100),
        |del4 AS (
        |  SELECT doc_id, text FROM documents, mx
        |  WHERE doc_id >= mx.m * 45 // 100 AND doc_id <= mx.m * 55 // 100),
        |ins4 AS (
        |  SELECT doc_id, 'U:' || text AS text FROM del4
        |  UNION ALL
        |  SELECT CAST(x AS BIGINT) AS doc_id,
        |         'new doc ' || CAST(x AS VARCHAR) AS text
        |  FROM (SELECT unnest(range(m + 1, m + 2 + m // 50)) AS x FROM mx))
        |SELECT CAST(version AS BIGINT) AS version, change_type,
        |       CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(sum_id AS BIGINT) AS sum_id
        |FROM (
        |  SELECT 3 AS version, 'delete' AS change_type, count(*) AS n_rows,
        |         SUM(length(text)) AS n_chars, SUM(doc_id) AS sum_id FROM del3
        |  UNION ALL
        |  SELECT 4, 'delete', count(*), SUM(length(text)), SUM(doc_id) FROM del4
        |  UNION ALL
        |  SELECT 4, 'insert', count(*), SUM(length(text)), SUM(doc_id) FROM ins4)
        |ORDER BY version, change_type""".stripMargin,
    // the evolve-on-merge replayed relationally: quality exists for
    // exactly the batch's rows (updates + inserts), with the same
    // deterministic score; every carried row null-fills
    "s16_evolve_merge" ->
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
         |upd AS (
         |  SELECT doc_id, 'U:' || text AS text, lang,
         |         ${graft.functions.Portable.h60Sql("'q:' || CAST(doc_id AS VARCHAR)")} % 100 AS quality
         |  FROM documents, mx
         |  WHERE doc_id >= mx.m * 45 // 100 AND doc_id <= mx.m * 55 // 100),
         |ins AS (
         |  SELECT CAST(x AS BIGINT) AS doc_id,
         |         'new doc ' || CAST(x AS VARCHAR) AS text,
         |         'xx' AS lang,
         |         ${graft.functions.Portable.h60Sql("'q:' || CAST(x AS VARCHAR)")} % 100 AS quality
         |  FROM (SELECT unnest(range(m + 1, m + 2 + m // 50)) AS x FROM mx)),
         |merged AS (
         |  SELECT d.doc_id, d.text, d.lang, CAST(NULL AS BIGINT) AS quality
         |  FROM documents d
         |  WHERE d.doc_id NOT IN (SELECT doc_id FROM upd)
         |  UNION ALL SELECT doc_id, text, lang, quality FROM upd
         |  UNION ALL SELECT doc_id, text, lang, quality FROM ins)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN quality IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_with_quality,
         |       CAST(SUM(quality) AS BIGINT) AS sum_quality,
         |       CAST(SUM(length(text)) AS BIGINT) AS text_chars
         |FROM merged GROUP BY lang ORDER BY lang""".stripMargin,
    // the two-column pruned read replayed over the raw corpus with
    // the same deterministic quality score and the same predicate —
    // value equality proves conjunctive multi-column pruning never
    // drops a qualifying row (file-grain pruning counts are pinned
    // in SnapshotDataSourceSpec)
    "s18_multicol_read" ->
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
         |q AS (
         |  SELECT doc_id, lang, text,
         |         ${graft.functions.Portable.h60Sql("'q:' || CAST(doc_id AS VARCHAR)")} % 100 AS quality
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(quality) AS BIGINT) AS sum_q,
         |       CAST(SUM(length(text)) AS BIGINT) AS n_chars
         |FROM q, mx
         |WHERE doc_id >= mx.m * 1 // 10 AND doc_id <= mx.m * 3 // 10
         |  AND quality >= 40 AND quality <= 70
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // the catalog append replayed relationally: base plus the
    // deterministic re-keyed slice, profiled per lang
    "s19_catalog_append" ->
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
         |app AS (
         |  SELECT doc_id + m + 1 AS doc_id, 'zz' AS lang, n_chars
         |  FROM documents, mx WHERE doc_id < m // 20),
         |allr AS (
         |  SELECT lang, n_chars FROM documents
         |  UNION ALL SELECT lang, n_chars FROM app)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM allr GROUP BY lang ORDER BY lang""".stripMargin,
    // the z-order rewrite changed layout, never content: the same
    // 2-D predicate over the raw corpus must answer identically
    "s20_zorder_recluster" ->
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM documents, mx
         |WHERE doc_id >= mx.m * 2 // 10 AND doc_id <= mx.m * 4 // 10
         |  AND n_chars >= 100 AND n_chars <= 400
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // the string/date-pruned slice replayed over the raw corpus with
    // the same derived day column — value equality proves the
    // prefix64 string zone maps and epoch-day date zone maps never
    // skipped a qualifying file (string comparison is binary byte
    // order in BOTH engines for this ASCII domain)
    "s21_string_pruned" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |FROM (SELECT *,
        |        DATE '2024-01-01' + CAST(doc_id % 60 AS INTEGER) AS day
        |      FROM documents)
        |WHERE source >= 'src12' AND source <= 'src15'
        |  AND day >= DATE '2024-01-05' AND day <= DATE '2024-02-25'
        |GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    // the merge-on-read delete replayed relationally: value equality
    // proves the deletion vectors hide EXACTLY the deleted rows
    // through the SQL read face (and the CoW twin, compared directly
    // in SnapshotDvSpec, proves the two write paths commit the same
    // logical content)
    "s22_dv_read" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 31 <> 0
        |GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    // the general MERGE replayed relationally: matched %97 keys
    // deleted, matched %89 keys re-langed with n_chars UNTOUCHED
    // (partial SET), the re-keyed slice inserted under
    // source='merged' — clause order and conditions in plain SQL
    "s23_merge_general" ->
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
         |surv AS (
         |  SELECT source,
         |         CASE WHEN doc_id % 89 = 0 THEN 'xx' ELSE lang END AS lang,
         |         n_chars
         |  FROM documents WHERE doc_id % 97 <> 0),
         |ins AS (
         |  SELECT 'merged' AS source, 'zz' AS lang, n_chars
         |  FROM documents, mx WHERE doc_id < m // 20),
         |allr AS (
         |  SELECT * FROM surv UNION ALL SELECT * FROM ins)
         |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM allr GROUP BY source, lang
         |ORDER BY source, lang""".stripMargin)
}
