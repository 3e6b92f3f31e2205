package graft.operators

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Commit retry on a lost optimistic race: appends re-plan against
  * the new head and land (commutative); DML retries only over
  * intervening PURE APPENDS and still refuses after a conflicting
  * rewrite — the Delta ConcurrentModificationException stance. */
class SnapshotRetrySpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_retry_$tag").toString
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(root), true)
    root
  }

  test("two concurrent appends BOTH land (the loser retries against the new head)") {
    val root = freshRoot("two")
    ScaleOps.publishSnapshot(spark, root,
      Seq((0L, "base")).toDF("id", "s"), statsCol = Some("id"))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val fails = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    (1 to 2).foreach { i =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try ScaleOps.appendSnapshot(spark, root,
            Seq((i * 100L, s"w$i")).toDF("id", "s"), Some("id"))
          catch { case t: Throwable => fails.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(fails.isEmpty, s"a concurrent append failed: ${fails.peek()}")
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L, 3L))
    assert(ScaleOps.readSnapshot(spark, root).select("s").as[String]
      .collect().sorted.toSeq === Seq("base", "w1", "w2"))
  }

  test("retry loop: an append loser re-runs; a DML loser refuses after a rewrite hop, retries after an append hop") {
    val root = freshRoot("unit")
    ScaleOps.publishSnapshot(spark, root,
      (0L until 40L).map(i => (i, s"r$i")).toDF("id", "s"),
      statsCol = Some("id"))
    // append loser: first attempt simulates losing to a concurrent
    // append (the interleaved commit lands, then the loss surfaces)
    var calls = 0
    val got = ScaleOps.transact(spark, root, dmlGuard = false) { head =>
      calls += 1
      if (calls == 1) {
        ScaleOps.appendSnapshot(spark, root,
          Seq((100L, "interleaved")).toDF("id", "s"), Some("id"))
        throw new ScaleOps.CommitConflict(2L)
      }
      Right(ScaleOps.Commit(Seq((101L, "mine")).toDF("id", "s"),
        parentLines = head.listing.entries, statsCols = Seq("id")))
    }
    assert(calls === 2 && got === Some(3L))
    assert(ScaleOps.readSnapshot(spark, root).count() === 42L)
    // DML loser over an intervening APPEND: retried
    calls = 0
    ScaleOps.transact(spark, root, dmlGuard = true) { head =>
      calls += 1
      if (calls == 1) {
        ScaleOps.appendSnapshot(spark, root,
          Seq((102L, "late")).toDF("id", "s"), Some("id"))
        throw new ScaleOps.CommitConflict(4L)
      }
      Left(head.v)
    }
    assert(calls === 2)
    // DML loser over an intervening REWRITE: refused loudly
    val e = intercept[IllegalStateException] {
      ScaleOps.transact(spark, root, dmlGuard = true) { _ =>
        ScaleOps.deleteFromSnapshot(spark, root, "id", 0L, 5L) // rewrite hop
        throw new ScaleOps.CommitConflict(5L)
      }
    }
    assert(e.getMessage.contains("conflict"), e.getMessage)
    // non-race failures are never retried
    calls = 0
    intercept[IllegalArgumentException] {
      ScaleOps.transact(spark, root, dmlGuard = false) { _ =>
        calls += 1
        throw new IllegalArgumentException("unrelated")
      }
    }
    assert(calls === 1)
  }

  test("CALL procedures: optimize / zorder / vacuum run from SQL text") {
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      "graft_proc_spec").toString
    val fs = new Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(wh), true)
    spark.conf.set("spark.sql.catalog.gproc",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gproc.warehouse", wh)
    val root = new Path(wh, "t1").toString
    spark.sql("CREATE TABLE gproc.t1 (id BIGINT, q BIGINT, s STRING) " +
      "TBLPROPERTIES ('statscol' = 'id')")
    // several small appends = the small-file tail optimize exists for
    (0 until 3).foreach { k =>
      (0L until 100L).map(i => (k * 100L + i, (k * 100L + i) % 7, s"r$k-$i"))
        .toDF("id", "q", "s").writeTo("gproc.t1").append()
    }
    // zorder from SQL: a new full version clustered on (id, q)
    val zv = spark.sql(
      "CALL gproc.system.zorder('t1', 'id,q', 4)").as[Long].head()
    assert(zv === 5L)
    assert(ScaleOps.snapshotStatsCols(spark, root, zv)
      .exists(h => h.split(',').contains("q")))
    // optimize from SQL (NULL stats_col: plain bin-pack) — all four
    // z-ordered files are "small" at this fixture size, so they pack
    val ov = spark.sql(
      "CALL gproc.system.optimize('t1', 1073741824, NULL)").as[Long].head()
    assert(ov === 6L)
    assert(spark.sql("SELECT count(*) FROM gproc.t1").as[Long].head() === 300L)
    // vacuum from SQL returns reclaim accounting and trims history
    val (files, bytes) = spark.sql(
      "CALL gproc.system.vacuum('t1', 1)").as[(Long, Long)].head()
    assert(files > 0L && bytes > 0L, s"vacuum reclaimed ($files, $bytes)")
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(6L))
    assert(spark.sql("SELECT count(*) FROM gproc.t1").as[Long].head() === 300L)
    // SHOW PROCEDURES surfaces the three verbs
    val shown = spark.sql("SHOW PROCEDURES IN gproc.system")
      .collect().map(_.toString).mkString(",")
    Seq("optimize", "vacuum", "zorder").foreach(p =>
      assert(shown.contains(p), s"SHOW PROCEDURES missing $p: $shown"))
  }
}
