package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in `src/main/scala` that leaves Spark to infer
  * its schema — a `.read` chain reaching `.parquet(` without a
  * `.schema(` — costs a one-task Spark job each time a frame is built.
  * Fixed-schema reads go through [[Tables.readParquet]] instead; the
  * few reads that need Spark's inference are listed here with their
  * reason, so a new read site cannot quietly bring the job back. */
class ParquetReadGuardSpec extends AnyFunSuite {
  private val discovery = "partition discovery over batch=<id> subdirectories"
  private val merging = "mergeSchema: the union of every footer, not one"

  /** (file under src/main/scala, trimmed source line of the `.read`) → reason */
  private val allowed: Map[(String, String), String] = Map(
    ("graft/Tables.scala",
      ".fold(s.read.parquet(paths: _*))(s.read.schema(_).parquet(paths: _*))") ->
      "the helper's own fallback to Spark's inference",
    ("graft/streaming/Jobs.scala", """val edges = spark.read.parquet(s"$dir/edges")""") -> discovery,
    ("graft/streaming/Jobs.scala", """val hourly = spark.read.parquet(s"$dir/buckets")""") -> discovery,
    ("graft/streaming/Jobs.scala", """spark.read.parquet(s"$dir/chunks")""") -> discovery,
    ("graft/operators/ScaleOps.scala", "spark.read.parquet(path).repartition(n)") ->
      "compact: a generic user path, read as Spark reads it",
    ("graft/operators/ScaleOps.scala",
      """else Some(s.read.option("mergeSchema", "true").parquet(pf: _*).schema)""") -> merging,
    ("graft/operators/ScaleOps.scala",
      """s.read.option("mergeSchema", "true").parquet(files: _*)""") -> merging,
    ("graft/operators/ScaleOps.scala",
      """s.read.option("mergeSchema", "true").parquet(m.files: _*)""") -> merging,
    ("graft/sources/SnapshotDataSource.scala",
      """s.read.option("mergeSchema", "true").parquet(files: _*).schema""") -> merging)

  private val root = new java.io.File("src/main/scala")
  private val readToken = """\.read(?=\s*\.)""".r
  private val terminal = """\.(parquet|format|json|csv|orc|text|table|load|jdbc)\(""".r

  /** The trimmed line of every inferring parquet read in one source,
    * comment lines skipped. */
  private def scan(lines: Seq[String]): Seq[String] = {
    val code = lines.map { l =>
      val t = l.trim
      if (t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) "" else l
    }
    val text = code.mkString("\n")
    val lineStarts = code.scanLeft(0)(_ + _.length + 1)
    readToken.findAllMatchIn(text).toSeq.flatMap { m =>
      val chain = text.substring(m.start, math.min(text.length, m.start + 400))
      terminal.findFirstMatchIn(chain)
        .filter(t => t.group(1) == "parquet" && !chain.take(t.start).contains(".schema("))
        .map(_ => code(lineStarts.lastIndexWhere(_ <= m.start)).trim)
    }
  }

  /** (file, trimmed line) of every inferring parquet read in src/main/scala. */
  private def inferringReads(): Seq[(String, String)] = {
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.sortBy(_.getName).flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    files(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      scan(lines).map(root.toPath.relativize(f.toPath).toString -> _)
    }
  }

  test("every schema-inferring parquet read in src/main is on the allowlist") {
    assert(root.isDirectory, s"run from the repository root (no ${root.getPath})")
    val found = inferringReads()
    val unlisted = found.filterNot(allowed.contains)
    assert(unlisted.isEmpty, "parquet reads that infer their schema (one Spark job " +
      "per frame built): use Tables.readParquet, or allowlist with a reason:\n" +
      unlisted.map { case (f, l) => s"  $f: $l" }.mkString("\n"))
    val stale = allowed.keySet -- found
    assert(stale.isEmpty, s"allowlisted reads no longer in the source: $stale")
  }

  test("the scan flags bare, option and multi-line chains, and nothing else") {
    val src = Seq(
      """val a = spark.read.parquet(p)""",
      """val b = s.read.option("mergeSchema", "true").parquet(fs: _*)""",
      """val c = (if (x) s.read.schema(sc)""",
      """  else s.read.option("k", "v"))""",
      """  .parquet(p)""",
      """val d = s.read.schema(sc).parquet(p)""",
      """val e = s.read.format("graft-snapshot").load(root)""",
      """val f = s.readStream.parquet(p)""",
      """  * `s.read.parquet(files)` in a comment""",
      """// s.read.parquet(p)""")
    assert(scan(src) === Seq(src(0), src(1), src(3)).map(_.trim))
  }
}
