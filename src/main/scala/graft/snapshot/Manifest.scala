package graft.snapshot

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** One data line of a snapshot manifest: a committed data file and
  * what the manifest knows about it. `stats` holds zone-map bounds
  * in stat space, in line order; the reserved name "" marks the
  * POSITIONAL single-column form, any other name the NAMED form.
  * `size` is the file's byte length (absent on lines committed
  * before the field existed), `dv` its deletion vector. */
final case class ManifestEntry(path: String,
    stats: Seq[(String, ManifestEntry.ColStats)] = Nil,
    size: Option[Long] = None,
    dv: Option[ManifestEntry.Dv] = None) {

  /** Column `c`'s stats: the named entry, else — only when
    * `allowPositional` — the positional one. A positional line does
    * not record WHICH column it indexes, so the fallback is sound only
    * when the caller can vouch for the column's identity
    * ([[Manifest.Listing.positionalOk]]); otherwise the file counts
    * as stats-absent and is kept. */
  def statsFor(c: String, allowPositional: Boolean): Option[ManifestEntry.ColStats] =
    stats.collectFirst { case (`c`, st) => st }
      .orElse(if (allowPositional) stats.collectFirst { case ("", st) => st } else None)
}

object ManifestEntry {
  /** One column's per-file bounds in stat space, with its optional
    * Bloom fingerprint (fixed-width hex). */
  final case class ColStats(lo: Long, hi: Long, bloom: Option[String] = None)

  /** A deletion vector: root-relative dir of (f, pos) rows naming the
    * file's deleted row positions, and the deleted-row count. */
  final case class Dv(dir: String, count: Long)
}

/** The snapshot store's MANIFEST — the one module that knows its
  * format. A committed version `N` is the file
  * `_manifests/v<N>.manifest`; its rename into place is the commit
  * point, so everything below becomes visible atomically.
  *
  * A manifest is UTF-8 text, lines joined by `\n` (no trailing
  * newline): optional header lines, then one data line per file.
  *
  * Headers, in this order, each present only when it has a value:
  *  - `#tag:<tag>` — the streaming batch tag (idempotent sinks). It
  *    is always the FIRST line when present, so the replay probe
  *    reads one line ([[readTag]]).
  *  - `#parent:<v>` — a DELTA manifest: its data lines are only this
  *    commit's; the version's listing is the parent's resolved
  *    listing followed by them ([[read]]).
  *  - `#schema:<json>` — the version's merged Spark schema.
  *  - `#ts:<millis>` — the commit instant.
  *  - `#statscols:<c1,c2,…>` — every stats column the store's history
  *    declared (union through the parent chain).
  *  - `#dvs:1` — some line of the resolved listing carries a deletion
  *    vector.
  * Manifests committed before `#schema:`/`#ts:`/`#statscols:` existed
  * carry at most `#tag:` and `#parent:`.
  *
  * A data line is tab-separated: the file path, then its zone-map
  * stats, then `sz:<bytes>`, then `dv:<dir>:<count>`:
  *  - no stats: `path` (or `path\tsz:…`);
  *  - POSITIONAL, one column whose name the store or the caller
  *    declares: `path\tlo\thi[\tbloom]`;
  *  - NAMED, one field per column: `path\tc=lo:hi[:bloom]\t…`, written
  *    when a commit declares more than one stats column.
  * Bounds are Longs in stat space (integral as itself, dates as epoch
  * days, timestamps as epoch micros, strings as their 8-byte prefix);
  * a Bloom is 1,024 hex digits. Lines committed before `sz:` lack it.
  * `dv:` names the file's deletion vector: `dir` is a root-relative
  * directory of parquet (f, pos) rows — the file's deleted row
  * positions in `_metadata.row_index` space, `f` the path exactly as
  * `_metadata.file_path` and this line render it — and `count` their
  * number. The set is CUMULATIVE: a later delete on the same file
  * writes the union into its own commit's dir and re-points the field.
  *
  * `_manifests/v<N>.full` is the resolved listing of a delta version
  * (data lines only), materialized by vacuum before it deletes an
  * expired link of the chain; when present, reads use it instead of
  * walking the chain.
  *
  * [[parse]] and [[render]] are exact inverses on every line shape
  * above, so carried-forward lines stay byte-identical. */
object Manifest {
  import ManifestEntry.{ColStats, Dv}

  private val Tag = "#tag:"
  private val Parent = "#parent:"
  private val Schema = "#schema:"
  private val Ts = "#ts:"
  private val StatsCols = "#statscols:"
  private val Dvs = "#dvs:"
  private val Size = "sz:"
  private val DvField = "dv:"

  /** A manifest's header values; see the format above. */
  final case class Headers(tag: Option[String] = None,
      parent: Option[Long] = None, schemaJson: Option[String] = None,
      ts: Option[Long] = None, statsCols: Option[Seq[String]] = None,
      dvs: Boolean = false) {
    def schema: Option[StructType] =
      schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])

    def lines: Seq[String] =
      tag.map(Tag + _).toSeq ++ parent.map(Parent + _) ++
        schemaJson.map(Schema + _) ++ ts.map(Ts + _) ++
        statsCols.map(StatsCols + _.mkString(",")) ++
        (if (dvs) Seq(Dvs + "1") else Nil)
  }

  /** A version's RESOLVED listing (parent chain walked) with its own
    * headers — what planning reads once and then queries. */
  final case class Listing(headers: Headers, entries: Seq[ManifestEntry]) {
    def files: Seq[String] = entries.map(_.path)

    /** May column `c` resolve POSITIONAL stats? Yes for `c` = "" (the
      * caller declares the column); yes with no `#statscols:` header
      * (pre-header stores hold only positional lines, so the caller's
      * declaration is the only identity there is); else only when the
      * header names exactly {`c`} — then every single-column commit
      * in the history indexed `c`. Resolving a positional line for
      * some other column would prune with the wrong bounds. */
    def positionalOk(c: String): Boolean =
      c.isEmpty || headers.statsCols.forall(d =>
        d.size == 1 && d.head.equalsIgnoreCase(c))

    /** File → (lo, hi) for every line with stats for column `c`. */
    def bounds(c: String = ""): Map[String, (Long, Long)] = {
      val pos = positionalOk(c)
      entries.flatMap(e => e.statsFor(c, pos).map(st => e.path -> (st.lo, st.hi))).toMap
    }

    /** File → Bloom hex for every line with a Bloom for column `c`. */
    def blooms(c: String = ""): Map[String, String] = {
      val pos = positionalOk(c)
      entries.flatMap(e => e.statsFor(c, pos).flatMap(_.bloom).map(e.path -> _)).toMap
    }

    def sizes: Map[String, Long] =
      entries.flatMap(e => e.size.map(e.path -> _)).toMap

    def dvs: Map[String, Dv] =
      entries.flatMap(e => e.dv.map(e.path -> _)).toMap

    /** Does this listing carry every line of `parent` verbatim — a
      * PURE APPEND hop? Line grain on purpose: a merge-on-read delete
      * keeps the file SET and changes only a line's `dv:` field. */
    def appendsTo(parent: Listing): Boolean =
      parent.entries.toSet.subsetOf(entries.toSet)

    /** The entries for files `parent` does not list. */
    def addedOver(parent: Listing): Seq[ManifestEntry] = {
      val before = parent.files.toSet
      entries.filterNot(e => before(e.path))
    }

    /** Every NAMED stats column some line carries, sorted. */
    def statsColumns: Seq[String] =
      entries.flatMap(_.stats.map(_._1).filter(_.nonEmpty)).distinct.sorted
  }

  /** One data line → its entry. Throws on a field no writer emits. */
  def parse(line: String): ManifestEntry = {
    val arr = line.split('\t')
    val (meta, statFields) = arr.toSeq.drop(1).partition(f =>
      isSize(f) || f.startsWith(DvField))
    def bad = throw new IllegalArgumentException(s"malformed manifest line: $line")
    val size = meta.collectFirst { case f if isSize(f) => f.drop(Size.length).toLong }
    val dv = meta.collectFirst { case f if f.startsWith(DvField) =>
      val body = f.drop(DvField.length)
      val cut = body.lastIndexOf(':')
      if (cut < 0) bad
      Dv(body.substring(0, cut), body.substring(cut + 1).toLong)
    }
    val stats = statFields match {
      case Seq() => Nil
      case Seq(lo, hi, rest @ _*) if !lo.contains('=') && rest.size <= 1 =>
        Seq("" -> ColStats(lo.toLong, hi.toLong, rest.headOption))
      case named if named.forall(_.contains('=')) => named.map { f =>
        val cut = f.indexOf('=')
        f.substring(cut + 1).split(':') match {
          case Array(lo, hi) => f.substring(0, cut) -> ColStats(lo.toLong, hi.toLong)
          case Array(lo, hi, bl) =>
            f.substring(0, cut) -> ColStats(lo.toLong, hi.toLong, Some(bl))
          case _ => bad
        }
      }
      case _ => bad
    }
    ManifestEntry(arr(0), stats, size, dv)
  }

  /** The data line of an entry: the exact inverse of [[parse]]. */
  def render(e: ManifestEntry): String = {
    val stats = e.stats match {
      case Seq(("", st)) => Seq(st.lo.toString, st.hi.toString) ++ st.bloom
      case named => named.map { case (c, st) =>
        (Seq(st.lo, st.hi).map(_.toString) ++ st.bloom).mkString(s"$c=", ":", "")
      }
    }
    ((e.path +: stats) ++ e.size.map(Size + _) ++
      e.dv.map(d => s"$DvField${d.dir}:${d.count}")).mkString("\t")
  }

  private def isSize(f: String): Boolean =
    f.length > Size.length && f.startsWith(Size) &&
      f.drop(Size.length).forall(_.isDigit)

  /** Header lines → values; unknown keys are ignored. */
  def parseHeaders(lines: Seq[String]): Headers = {
    def get(p: String) = lines.collectFirst { case l if l.startsWith(p) => l.drop(p.length) }
    Headers(get(Tag), get(Parent).map(_.toLong), get(Schema),
      get(Ts).map(_.toLong),
      get(StatsCols).filter(_.nonEmpty)
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq),
      get(Dvs).isDefined)
  }

  /** A whole manifest's text. */
  def renderText(h: Headers, entries: Seq[ManifestEntry]): String =
    (h.lines ++ entries.map(render)).mkString("\n")

  /** A whole manifest's lines → (headers, own data entries). */
  def parseText(lines: Seq[String]): (Headers, Seq[ManifestEntry]) = {
    val (hs, data) = lines.partition(_.startsWith("#"))
    (parseHeaders(hs), data.map(parse))
  }

  // ---------------------------------------------------------------
  // Reading committed versions
  // ---------------------------------------------------------------

  def path(root: String, v: Long): Path = new Path(root, s"_manifests/v$v.manifest")
  def fullPath(root: String, v: Long): Path = new Path(root, s"_manifests/v$v.full")

  private def fsOf(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Every line of the file at `p`. */
  def readLines(s: SparkSession, p: Path): Seq[String] = {
    val in = fsOf(s, p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private def withReader[T](s: SparkSession, root: String, v: Long)(
      f: java.io.BufferedReader => T): T = {
    val p = path(root, v)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fsOf(s, p).open(p), "UTF-8"))
    try f(in) finally in.close()
  }

  /** A committed version's batch tag, from the manifest's first line
    * only — one open and one line read. */
  def readTag(s: SparkSession, root: String, v: Long): Option[String] =
    withReader(s, root, v)(in => Option(in.readLine()))
      .filter(_.startsWith(Tag)).map(_.drop(Tag.length))

  /** A committed version's headers, reading only the leading `#`
    * lines — never the file list. */
  def readHeaders(s: SparkSession, root: String, v: Long): Headers =
    parseHeaders(withReader(s, root, v)(in =>
      Iterator.continually(in.readLine())
        .takeWhile(l => l != null && l.startsWith("#")).toList))

  /** A committed version's resolved listing: its `v<N>.full` when
    * vacuum materialized one, else its own lines after its parent's
    * resolved ones. The chain is bounded by the append path's
    * checkpoint cadence. */
  def read(s: SparkSession, root: String, v: Long): Listing =
    readFull(s, root, v).fold(readChain(s, root, v))(
      Listing(readHeaders(s, root, v), _))

  private def readFull(s: SparkSession, root: String,
      v: Long): Option[Seq[ManifestEntry]] = {
    val p = fullPath(root, v)
    if (fsOf(s, p).exists(p)) Some(parseText(readLines(s, p))._2) else None
  }

  private def readChain(s: SparkSession, root: String, v: Long): Listing = {
    val (h, own) = parseText(readLines(s, path(root, v)))
    Listing(h, h.parent.fold(own)(p =>
      readFull(s, root, p).getOrElse(readChain(s, root, p).entries) ++ own))
  }
}
