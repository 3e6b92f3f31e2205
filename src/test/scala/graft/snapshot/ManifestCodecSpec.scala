package graft.snapshot

import graft.SparkSpec
import graft.operators.ScaleOps
import graft.snapshot.ManifestEntry.{ColStats, Dv}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The manifest codec: [[Manifest.parse]] and [[Manifest.render]] are
  * exact inverses on every data-line shape, and the golden manifests
  * under `src/test/resources/graft/snapshot/golden/` — texts the store
  * wrote before the codec existed — parse to the expected entries and
  * headers, and are what the codec renders for the same commits.
  *
  * The goldens hold `ROOT` in place of the store's root. All but one
  * come from the sequence [[commitGoldenHistory]] replays;
  * `preheader.manifest` is `full.manifest` with its `#schema:`,
  * `#ts:` and `#statscols:` headers and its `sz:` fields removed —
  * the shape manifests had before those existed. */
class ManifestCodecSpec extends SparkSpec {

  private def golden(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/snapshot/golden/$name.manifest")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  // ---- the round-trip property ----

  private val hex = Gen.oneOf("0123456789abcdef".toSeq)
  private def hexOf(n: Int) = Gen.listOfN(n, hex).map(_.mkString)
  private val genPath = for {
    dir <- Gen.oneOf("file:/tmp/store", "hdfs://nn:8020/w/t", "/w/lang=en")
    v <- Gen.choose(1, 99)
    att <- hexOf(8)
    part <- Gen.choose(0, 99999)
  } yield f"$dir/data-v$v-$att/part-$part%05d-c000.snappy.parquet"
  private val genStats = for {
    a <- Gen.choose(Long.MinValue, Long.MaxValue)
    b <- Gen.choose(Long.MinValue, Long.MaxValue)
    bloom <- Gen.option(hexOf(1024))
  } yield ColStats(math.min(a, b), math.max(a, b), bloom)
  private val genCol = for {
    h <- Gen.alphaChar
    t <- Gen.listOfN(6, Gen.oneOf(Gen.alphaNumChar, Gen.const('_')))
  } yield (h +: t).mkString
  private val genShape: Gen[Seq[(String, ColStats)]] = Gen.oneOf(
    Gen.const(Nil), // path-only
    genStats.map(st => Seq("" -> st)), // positional
    for { // named, one to four columns
      n <- Gen.choose(1, 4)
      cols <- Gen.listOfN(n, genCol).map(_.distinct)
      stats <- Gen.listOfN(cols.size, genStats)
    } yield cols.zip(stats))
  private val genEntry = for {
    path <- genPath
    stats <- genShape
    size <- Gen.option(Gen.choose(0L, Long.MaxValue)) // None: pre-`sz:`
    dv <- Gen.option(for {
      v <- Gen.choose(1, 99); att <- hexOf(8); n <- Gen.choose(0L, 1000000L)
    } yield Dv(s"dv-v$v-$att", n))
  } yield ManifestEntry(path, stats, size, dv)

  test("render(parse(l)) == l for every line shape, with and without dv:") {
    (1 to 500).foreach { i =>
      val e = genEntry.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val l = Manifest.render(e)
      assert(Manifest.parse(l) === e, l)
      assert(Manifest.render(Manifest.parse(l)) === l)
    }
  }

  test("hand-written legacy lines round-trip; malformed fields are refused") {
    Seq("f", "f\t1\t2", "f\t-3\t7\tab", "f\tsz:9", "f\t1\t2\tsz:9",
      "f\tid=1:2\tq=-5:5:ff\tsz:9", "f\tdv:dv-v3-0a:2",
      "f\t1\t2\tsz:9\tdv:dv-v3-0a:2", "f\tid=1:2\tdv:dv-v3-0a:2")
      .foreach(l => assert(Manifest.render(Manifest.parse(l)) === l, l))
    Seq("f\tx", "f\t1\t2\t3\t4", "f\tid=1", "f\tdv:nocount")
      .foreach(l => intercept[IllegalArgumentException](Manifest.parse(l)))
  }

  // ---- goldens ----

  private val part = (i: Int, uuid: String, att: String, v: Int) =>
    s"ROOT/data-v$v-$att/part-0000$i-$uuid-c000.snappy.parquet"
  private val v1 = (i: Int) =>
    part(i, "7ac4b2e8-90a1-45c2-baa3-fe91e0b9bb69", "5b759596", 1)
  private val v2Delta =
    part(0, "fcd57e03-6319-435b-a8c3-3e0b5036a32d", "27e9eee8", 2)
  private val named = (i: Int) =>
    part(i, "d438499d-c048-496e-8a0f-02c2ababc56e", "a640df02", 2)

  private def parsed(name: String) =
    Manifest.parseText(golden(name).split('\n').toSeq)

  test("golden texts round-trip byte for byte") {
    Seq("full", "delta", "dv", "named-bloom", "named", "named-dv", "plain",
      "preheader").foreach { n =>
      val (h, es) = parsed(n)
      assert(Manifest.renderText(h, es) === golden(n), n)
    }
  }

  test("a full positional listing with Blooms parses to its entries") {
    val (h, es) = parsed("full")
    assert(h.tag.isEmpty && h.parent.isEmpty && !h.dvs)
    assert(h.statsCols === Some(Seq("id")))
    assert(h.schema.map(_.fieldNames.toSeq) === Some(Seq("id", "q", "s")))
    assert(h.ts.isDefined)
    assert(es.map(e => (e.path, e.stats.map(st => (st._1, st._2.lo, st._2.hi)),
      e.size, e.dv)) === Seq(
      (v1(0), Seq(("", 0L, 9L)), Some(1054L), None),
      (v1(1), Seq(("", 10L, 19L)), Some(1063L), None),
      (v1(2), Seq(("", 20L, 29L)), Some(1061L), None)))
    assert(es.forall(_.stats.head._2.bloom.exists(_.length == 1024)))
  }

  test("a #parent: delta names its parent and carries only its own line") {
    val (h, es) = parsed("delta")
    assert(h.tag === Some("batch:7"))
    assert(h.parent === Some(1L))
    assert(h.statsCols === Some(Seq("id")))
    assert(es === Seq(ManifestEntry(v2Delta,
      Seq("" -> ColStats(100L, 129L)), Some(1281L))))
  }

  test("a DV'd version: #dvs: header, dv: fields on the touched lines") {
    val (h, es) = parsed("dv")
    assert(h.dvs && h.parent.isEmpty && h.tag.isEmpty)
    assert(es.map(_.path) === Seq(v1(0), v1(1), v1(2), v2Delta))
    val dvs = Manifest.Listing(h, es).dvs
    assert(dvs.keySet === Set(v1(0), v1(2)))
    assert(dvs.values.map(_.count).toSeq === Seq(1L, 1L))
    assert(dvs.values.map(_.dir).toSet.size === 1 &&
      dvs.values.head.dir.startsWith("dv-v3-"))
    // carried lines keep their stats: the dv: field rides after sz:
    assert(es.head.stats === parsed("full")._2.head.stats)
  }

  test("named multi-column lines: per-column bounds, Blooms and dv:") {
    val (hb, eb) = parsed("named-bloom")
    assert(hb.statsCols === Some(Seq("id", "q")))
    assert(eb.forall(e => e.stats.map(_._1) == Seq("id", "q") &&
      e.stats.forall(_._2.bloom.isDefined)))
    val (h, es) = parsed("named-dv")
    val m = Manifest.Listing(h, es)
    assert(m.bounds("id") === Map(named(0) -> (0L, 14L), named(1) -> (15L, 29L)))
    assert(m.bounds("q") === Map(named(0) -> (0L, 10L), named(1) -> (0L, 10L)))
    assert(m.bounds("") === Map.empty) // no positional line to resolve
    assert(m.statsColumns === Seq("id", "q"))
    assert(m.sizes === Map(named(0) -> 1144L, named(1) -> 1148L))
    assert(m.dvs.map { case (f, d) => f -> d.count } === Map(named(0) -> 1L))
  }

  test("a pre-header manifest: no schema, no ts, positional stats usable") {
    val (h, es) = parsed("preheader")
    assert(h === Manifest.Headers())
    assert(es.map(_.path) === Seq(v1(0), v1(1), v1(2)))
    assert(es.forall(_.size.isEmpty))
    val m = Manifest.Listing(h, es)
    // no #statscols: header — the caller's declared column is the only
    // identity a positional line has
    assert(m.positionalOk("id") && m.positionalOk("anything"))
    assert(m.bounds("id") === Map(v1(0) -> (0L, 9L), v1(1) -> (10L, 19L),
      v1(2) -> (20L, 29L)))
    assert(m.blooms("id").size === 3 && m.sizes.isEmpty)
    // with the header, a positional line resolves only for its column
    val declared = m.copy(headers = Manifest.Headers(statsCols = Some(Seq("id"))))
    assert(declared.bounds("id").size === 3 && declared.bounds("q").isEmpty)
  }

  // ---- new commits render what the store wrote before ----

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def root(t: String): String = {
    val r = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_manifest_golden_$t")
    fs(r.toString).delete(r, true)
    fs(r.toString).makeQualified(r).toString
  }

  /** The commits the goldens were written by. */
  private def commitGoldenHistory(pos: String, multi: String): Unit = {
    def base(n: Int) = spark.range(0, 30, 1, n)
      .withColumn("q", (col("id") * 7) % 11)
      .withColumn("s", concat(lit("r"), col("id").cast("string")))
    ScaleOps.publishSnapshot(spark, pos, base(3), statsCol = Some("id"),
      statsBloom = true)
    ScaleOps.appendSnapshot(spark, pos,
      base(1).withColumn("id", col("id") + 100), statsCol = Some("id"),
      tag = Some("batch:7"))
    ScaleOps.deleteWhereSnapshot(spark, pos,
      col("id") === 4L || col("id") === 25L, Nil, mode = "mor")
    ScaleOps.publishSnapshot(spark, multi, base(2), statsCol = Some("id,q"),
      statsBloom = true)
    ScaleOps.publishSnapshot(spark, multi, base(2), statsCol = Some("id,q"))
    ScaleOps.deleteWhereSnapshot(spark, multi, col("id") === 3L, Nil,
      mode = "mor")
    ScaleOps.publishSnapshot(spark, multi, base(2))
  }

  /** Commit stamps, attempt ids and part-file uuids differ per run. */
  private def normalized(text: String): String = text
    .replaceAll("#ts:\\d+", "#ts:")
    .replaceAll("(data|dv)-v(\\d+)-[0-9a-f]{8}", "$1-v$2-ATT")
    .replaceAll("part-(\\d+)-[0-9a-f-]{36}-", "part-$1-UUID-")

  test("new commits render the manifest text the goldens hold") {
    val (pos, multi) = (root("pos"), root("multi"))
    commitGoldenHistory(pos, multi)
    def committed(r: String, v: Long) =
      Manifest.readLines(spark, Manifest.path(r, v)).mkString("\n")
        .replace(r, "ROOT")
    Seq(pos -> Seq(1L -> "full", 2L -> "delta", 3L -> "dv"),
      multi -> Seq(1L -> "named-bloom", 2L -> "named", 3L -> "named-dv",
        4L -> "plain")).foreach { case (r, vs) =>
      vs.foreach { case (v, n) =>
        assert(normalized(committed(r, v)) === normalized(golden(n)), n)
      }
    }
    // and the resolved listings read back the rows the history implies
    assert(ScaleOps.readSnapshot(spark, pos).count() === 58L)
    assert(ScaleOps.readSnapshot(spark, multi).count() === 30L)
  }
}
