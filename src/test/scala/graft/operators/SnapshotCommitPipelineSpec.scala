package graft.operators

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The commit pipeline's concurrent writes: a failure in any one of
  * them commits nothing and surfaces unwrapped, the caller's job group
  * and description reach every job, a merge commit infers no schema,
  * and the change feeds are the row sets a one-write-at-a-time commit
  * produces. */
class SnapshotCommitPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_commitpipe_$tag").toString
    fs(root).delete(new Path(root), true)
    root
  }

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** 400 rows range-clustered on id into 4 files, statscol id. */
  private def seeded(tag: String): String = {
    val root = freshRoot(tag)
    ScaleOps.publishSnapshot(spark, root,
      (0L until 400L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")),
      statsCol = Some("id"))
    root
  }

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("id", "s").as[(Long, String)].collect().sortBy(_._1).toSeq

  private def listing(root: String): Set[String] =
    fs(root).listStatus(new Path(root)).map(_.getPath.getName).toSet

  private class InjectedFault(where: String)
      extends RuntimeException(s"injected into $where")

  /** Job-start properties of every job that started inside `body`. */
  private def jobsOf(body: => Unit): Seq[java.util.Properties] = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).getOrElse(new java.util.Properties))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener events arrive asynchronously: wait until every
      // started job has also ended, and the count holds still
      val deadline = System.currentTimeMillis() + 30000
      var seen = -1
      while ((started.size != ended.get || started.size != seen) &&
          System.currentTimeMillis() < deadline) {
        seen = started.size
        Thread.sleep(200)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    started.toArray(Array.empty[java.util.Properties]).toSeq
  }

  private val batch = Seq((5L, "U5"), (150L, "U150"), (1000L, "I1000"))

  test("a failure in one concurrent write commits nothing, leaves no debris and surfaces unwrapped") {
    for ((where, mode) <- Seq("data" -> "cow", "ins" -> "cow",
        "del" -> "cow", "dv" -> "mor")) {
      val root = seeded(s"fault_$where")
      val before = listing(root)
      ScaleOps.commitTaskHook = w => if (w == where) throw new InjectedFault(w)
      val e = try intercept[InjectedFault](
          ScaleOps.mergeIntoSnapshot(spark, root, "id", batch.toDF("id", "s"),
            mode = mode))
        finally ScaleOps.commitTaskHook = _ => ()
      assert(e.getMessage === s"injected into $where")
      assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L), where)
      assert(listing(root) === before, s"debris after a failed $where write")
      // the store is intact: the same merge now commits v2
      assert(ScaleOps.mergeIntoSnapshot(spark, root, "id",
        batch.toDF("id", "s"), mode = mode) === 2L)
      assert(rows(ScaleOps.readSnapshot(spark, root)).size === 401)
    }
  }

  test("a require failing inside a pool write stays an IllegalArgumentException") {
    val root = seeded("require")
    ScaleOps.commitTaskHook = w => require(w != "del", "refused del")
    val e = try intercept[IllegalArgumentException](
        ScaleOps.mergeIntoSnapshot(spark, root, "id", batch.toDF("id", "s")))
      finally ScaleOps.commitTaskHook = _ => ()
    assert(e.getMessage.contains("refused del"))
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L))
  }

  test("the duplicate-key refusal wins over a concurrent planning failure") {
    val root = seeded("dupwins")
    // duplicate keys AND a column the store lacks: both checks fail,
    // the duplicate-key one is reported, as when it ran first
    val bad = Seq((5L, "a", 1L), (5L, "b", 2L)).toDF("id", "s", "extra")
    val e = intercept[IllegalArgumentException](
      ScaleOps.mergeIntoSnapshot(spark, root, "id", bad))
    assert(e.getMessage.contains("unique non-null 'id' keys"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      ScaleOps.mergeIntoSnapshot(spark, root, "id",
        Seq((5L, "a", 1L)).toDF("id", "s", "extra")))
    assert(e2.getMessage.contains("columns the store lacks (extra)"))
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L))
  }

  test("the caller's job group and description reach every commit job") {
    val root = seeded("group")
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[String]
    ScaleOps.commitTaskHook = w => threads.add(s"$w@${Thread.currentThread().getName}")
    val sc = spark.sparkContext
    val jobs = try jobsOf {
      sc.setJobGroup("commit-spec-group", "commit-spec merge", interruptOnCancel = true)
      try ScaleOps.mergeIntoSnapshot(spark, root, "id", batch.toDF("id", "s"))
      finally sc.clearJobGroup()
    } finally ScaleOps.commitTaskHook = _ => ()
    assert(jobs.nonEmpty)
    jobs.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") === "commit-spec-group")
      assert(p.getProperty("spark.job.description") === "commit-spec merge")
    }
    // the feed writes really ran on the commit pool
    val ran = threads.toArray(Array.empty[String]).toSeq
    assert(ran.filter(t => t.startsWith("ins@") || t.startsWith("del@"))
      .forall(_.contains("graft-snapshot-commit")), ran)
    assert(ran.count(_.contains("graft-snapshot-commit")) === 2, ran)
  }

  test("a merge commit and a snapshot read launch no schema-inference job") {
    val root = seeded("noinfer")
    // control: schema inference is a Spark job outside any SQL
    // execution, which is how the checks below recognise one
    val v1Dir = ScaleOps.readSnapshot(spark, root).inputFiles.head
    val control = jobsOf(spark.read.parquet(v1Dir))
    assert(control.nonEmpty &&
      control.forall(_.getProperty("spark.sql.execution.id") == null))
    val merge = jobsOf(ScaleOps.mergeIntoSnapshot(spark, root, "id",
      batch.toDF("id", "s")))
    assert(merge.nonEmpty)
    assert(merge.forall(_.getProperty("spark.sql.execution.id") != null),
      s"${merge.count(_.getProperty("spark.sql.execution.id") == null)} " +
        "merge-commit jobs ran outside a SQL execution")
    // building a read frame takes its schema from one footer: no job
    // at all for a scan, only the Bloom-position query for a lookup
    assert(jobsOf(ScaleOps.readSnapshot(spark, root)).isEmpty)
    assert(jobsOf(ScaleOps.readSnapshotKeyLookup(spark, root, None, "id",
      Seq(5L, 150L))).forall(_.getProperty("spark.sql.execution.id") != null))
  }

  test("change feeds equal the row sets of one-write-at-a-time commits") {
    val root = seeded("feeds")
    def feed(v: Long): (Seq[(Long, String)], Seq[(Long, String)]) = {
      val (ins, del) = ScaleOps.snapshotChangeFiles(spark, root, v).get
      (rows(ins), rows(del))
    }
    def preimages(v: Long, keys: Seq[Long]): Seq[(Long, String)] =
      rows(ScaleOps.readSnapshot(spark, root, Some(v))).filter(r => keys.contains(r._1))
    // copy-on-write merge: ins = the batch, del = the replaced preimages
    val b2 = Seq((5L, "U5"), (150L, "U150"), (1000L, "I1000"))
    assert(ScaleOps.mergeIntoSnapshot(spark, root, "id", b2.toDF("id", "s"),
      mode = "cow") === 2L)
    assert(feed(2L) === (b2.sortBy(_._1), preimages(1L, b2.map(_._1))))
    // merge-on-read merge: same feed, deletion vectors instead of rewrites
    val b3 = Seq((6L, "M6"), (151L, "M151"), (1001L, "I1001"))
    assert(ScaleOps.mergeIntoSnapshot(spark, root, "id", b3.toDF("id", "s"),
      mode = "mor") === 3L)
    assert(feed(3L) === (b3.sortBy(_._1), preimages(2L, b3.map(_._1))))
    // insert-only merge: ins = the batch, empty del
    val b4 = Seq((2000L, "I2000"))
    assert(ScaleOps.mergeIntoSnapshot(spark, root, "id", b4.toDF("id", "s")) === 4L)
    assert(feed(4L) === (b4, Nil))
    // copy-on-write range delete: empty ins, del = the deleted rows
    val v5 = ScaleOps.deleteFromSnapshot(spark, root, "id", 10L, 19L)
    assert(feed(v5) === (Nil, preimages(4L, 10L to 19L)))
    // the feed replays the store: v1 + every hop's feed = the head
    val replayed = (2L to v5).foldLeft(rows(ScaleOps.readSnapshot(spark, root, Some(1L))).toMap) {
      (st, v) => val (ins, del) = feed(v); st -- del.map(_._1) ++ ins
    }
    assert(replayed.toSeq.sortBy(_._1) === rows(ScaleOps.readSnapshot(spark, root)))
  }

  test("a read's footer schema equals Spark's inferred one on plain, evolved, nested and DV stores") {
    import org.apache.spark.sql.types._
    def same(root: String, v: Long): Unit = {
      val files = ScaleOps.manifestFiles(spark, root, v)
      val inferred = spark.read.parquet(files: _*).schema
      assert(ScaleOps.readSnapshot(spark, root, Some(v)).schema === inferred, s"$root v$v")
      assert(ScaleOps.readParquetPlain(spark, files).schema === inferred)
      assert(ScaleOps.readParquetPlain(spark, files.reverse).schema === inferred)
    }
    // plain
    val plain = seeded("schema_plain")
    same(plain, 1L)
    // evolved, the s11 fixture's shape: v2 appends files carrying a
    // `quality` column that v1's files lack
    val evo = seeded("schema_evo")
    ScaleOps.appendSnapshot(spark, evo,
      (400L until 410L).map(i => (i, s"r$i", i % 100)).toDF("id", "s", "quality"))
    same(evo, 2L)
    // nested-evolved: a struct gains a field and loses non-nullability
    val nested = freshRoot("schema_nested")
    val strict = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("meta", StructType(Seq(
        StructField("w", IntegerType, nullable = false))), nullable = false)))
    ScaleOps.publishSnapshot(spark, nested, spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, Row(10))), strict))
    val loose = StructType(Seq(
      StructField("id", LongType),
      StructField("meta", StructType(Seq(
        StructField("w", IntegerType), StructField("lang", StringType))))))
    ScaleOps.appendSnapshot(spark, nested, spark.createDataFrame(
      java.util.Arrays.asList(Row(2L, Row(20, "en"))), loose))
    same(nested, 2L)
    // DV: a merge-on-read delete, read through the DV-masking plan
    val dv = seeded("schema_dv")
    val v2 = ScaleOps.deleteWhereSnapshot(spark, dv, col("id") === 7L,
      Seq(ScaleOps.ColConstraint("id", Some(7L), Some(7L), None)), mode = "mor")
    assert(ScaleOps.snapshotHasDvs(spark, dv, v2))
    same(dv, v2)
    assert(rows(ScaleOps.readSnapshot(spark, dv)).size === 399)
  }
}
