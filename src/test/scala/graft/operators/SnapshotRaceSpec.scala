package graft.operators

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** Concurrent writers racing for the same version slot: exactly one
  * commit wins, the loser detects the race, cleans only its own
  * debris, and a retry lands on the next slot — no row lost, no
  * orphan visible to readers, for append×append and append×merge. */
class SnapshotRaceSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_race_$tag").toString

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "lang", "text")

  /** Run both thunks as simultaneously as a latch can make them;
    * each retries on a lost commit race (the documented client
    * contract: the operation recomputes the next slot). Returns the
    * per-writer committed versions. */
  private def race(a: () => Long, b: () => Long): (Long, Long) = {
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    def contend(op: () => Long): java.util.concurrent.Future[Long] =
      pool.submit { () =>
        gate.await()
        var committed = -1L
        var attempts = 0
        while (committed < 0) {
          attempts += 1
          require(attempts <= 10, "race retry runaway")
          try committed = op()
          catch { case e: IllegalStateException
            if e.getMessage.contains("lost the commit race") => () }
        }
        committed
      }
    val fa = contend(a); val fb = contend(b)
    gate.countDown()
    try (fa.get(120, TimeUnit.SECONDS), fb.get(120, TimeUnit.SECONDS))
    finally pool.shutdown()
  }

  test("append × append: one winner per slot, retry lands the loser, no rows lost") {
    val root = freshDir("aa")
    fs(root).delete(new Path(root), true)
    ScaleOps.publishSnapshot(spark, root, docs((1L, "en", "base")))
    val (va, vb) = race(
      () => ScaleOps.appendSnapshot(spark, root, docs((2L, "de", "batch a"))),
      () => ScaleOps.appendSnapshot(spark, root, docs((3L, "fr", "batch b"))))
    // both landed, on distinct slots, with no gap
    assert(Set(va, vb) === Set(2L, 3L))
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L, 3L))
    val ids = ScaleOps.readSnapshot(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L))
    // the loser's first attempt left nothing a reader can see, and
    // every manifest-listed file exists (no clobbered winner)
    val listed = (1L to 3L)
      .flatMap(v => ScaleOps.readSnapshot(spark, root, Some(v)).inputFiles)
    listed.foreach(f => assert(fs(root).exists(new Path(f)), s"missing $f"))
    // claim markers do not accumulate: each winner deletes its own
    // after the rename (one marker per committed version forever was
    // the round-10 leak)
    val claims = fs(root).listStatus(new Path(root, "_manifests"))
      .map(_.getPath.getName).filter(_.startsWith(".claim-"))
    assert(claims.isEmpty, s"leaked claim markers: ${claims.mkString(",")}")
  }

  test("the slot claim is genuinely atomic: N contenders, exactly one winner") {
    val root = freshDir("claim")
    val f = fs(root)
    f.delete(new Path(root), true)
    f.mkdirs(new Path(root, "_manifests"))
    val claimP = new Path(root, "_manifests/.claim-v1")
    val pool = Executors.newFixedThreadPool(8)
    val gate = new CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger
    val fs8 = (1 to 8).map { i =>
      pool.submit { () =>
        gate.await()
        if (ScaleOps.claimSlot(f, claimP, s"att$i")) wins.incrementAndGet()
      }
    }
    gate.countDown()
    fs8.foreach(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(wins.get() === 1, "create-exclusive admitted more than one claimant")
    // re-claiming a taken slot always fails
    assert(!ScaleOps.claimSlot(f, claimP, "late"))
  }

  test("a claimant that crashed between claim and rename is finished by the next writer") {
    val root = freshDir("repair")
    val f = fs(root)
    f.delete(new Path(root), true)
    ScaleOps.publishSnapshot(spark, root, docs((1L, "en", "base")))
    val v2 = ScaleOps.appendSnapshot(spark, root, docs((2L, "de", "zwei")))
    assert(v2 === 2L)
    // simulate the crash window: v2's manifest back to its tmp name,
    // an aged claim marker carrying the attempt id — exactly the
    // state a writer killed between claimSlot and rename leaves
    val att = "deadbeef"
    val man = new Path(root, "_manifests/v2.manifest")
    val tmp = new Path(root, s"_manifests/.tmp-v2-$att")
    assert(f.rename(man, tmp))
    val claimP = new Path(root, "_manifests/.claim-v2")
    f.delete(claimP, false) // replace the real commit's marker with
    assert(ScaleOps.claimSlot(f, claimP, att)) // the crashed attempt's
    f.setTimes(claimP, System.currentTimeMillis() - 120000L, -1)
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L))
    // the next writer repairs the slot (crashed winner commits), then
    // loses it and retries onto the next — the documented contract
    val v3 =
      try ScaleOps.appendSnapshot(spark, root, docs((3L, "fr", "trois")))
      catch {
        case e: IllegalStateException
          if e.getMessage.contains("lost the commit race") =>
          ScaleOps.appendSnapshot(spark, root, docs((3L, "fr", "trois")))
      }
    assert(v3 === 3L)
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L, 3L))
    assert(ScaleOps.readSnapshot(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // a stale claim with NO tmp (unreachable by protocol) is swept,
    // not a permanent brick
    val claim4 = new Path(root, "_manifests/.claim-v4")
    assert(ScaleOps.claimSlot(f, claim4, "ghost-att"))
    f.setTimes(claim4, System.currentTimeMillis() - 120000L, -1)
    assert(ScaleOps.appendSnapshot(spark, root, docs((4L, "zh", "si"))) === 4L)
  }

  test("repair finishes a crashed REWRITE's change feed, not just its manifest") {
    val root = freshDir("repairfeed")
    val f = fs(root)
    f.delete(new Path(root), true)
    ScaleOps.publishSnapshot(spark, root,
      docs((1L, "en", "one"), (2L, "de", "zwei")), statsCol = Some("doc_id"))
    // a committed rewrite (merge writes a change feed) …
    val v2 = ScaleOps.mergeIntoSnapshot(spark, root, "doc_id",
      docs((2L, "de", "zwei neu"), (3L, "fr", "trois")))
    assert(v2 === 2L)
    assert(f.exists(new Path(root, "changes-v2")))
    // … wound back to the exact crash state: manifest at its tmp
    // name, feed attempt-private, an aged claim carrying the attempt
    val att = "deadfeed"
    assert(f.rename(new Path(root, "_manifests/v2.manifest"),
      new Path(root, s"_manifests/.tmp-v2-$att")))
    assert(f.rename(new Path(root, "changes-v2"),
      new Path(root, s".tmp-changes-v2-$att")))
    f.delete(new Path(root, "_manifests/.claim-v2"), false)
    assert(ScaleOps.claimSlot(f, new Path(root, "_manifests/.claim-v2"), att))
    f.setTimes(new Path(root, "_manifests/.claim-v2"),
      System.currentTimeMillis() - 120000L, -1)
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L))
    // the next writer repairs the slot — manifest AND feed — then
    // retries onto v3 (the documented lost-race contract)
    val v3 =
      try ScaleOps.appendSnapshot(spark, root, docs((9L, "zh", "jiu")))
      catch {
        case e: IllegalStateException
          if e.getMessage.contains("lost the commit race") =>
          ScaleOps.appendSnapshot(spark, root, docs((9L, "zh", "jiu")))
      }
    assert(v3 === 3L)
    assert(f.exists(new Path(root, "changes-v2")),
      "repair left the rewrite feed-less")
    assert(!f.exists(new Path(root, s".tmp-changes-v2-$att")))
    // the repaired hop serves its change feed — no permanent throw
    val feed = ScaleOps.readSnapshotChangeFeed(spark, root, 1L, 2L)
    assert(feed.filter(col("_change_type") === "insert").count() === 2L)
    assert(feed.filter(col("_change_type") === "delete").count() === 1L)
  }

  test("a FRESH claim (live claimant mid-rename) is never raced on its slot") {
    val root = freshDir("fresh")
    val f = fs(root)
    f.delete(new Path(root), true)
    ScaleOps.publishSnapshot(spark, root, docs((1L, "en", "base")))
    // a fresh claim without a manifest: the claimant may be alive
    // microseconds before its rename — a contender must neither
    // steal nor sweep the slot, so its own commit loses
    val claimP = new Path(root, "_manifests/.claim-v2")
    assert(ScaleOps.claimSlot(f, claimP, "live-att"))
    val e = intercept[IllegalStateException] {
      ScaleOps.appendSnapshot(spark, root, docs((2L, "de", "zwei")))
    }
    assert(e.getMessage.contains("lost the commit race"))
    assert(f.exists(claimP), "a fresh claim was swept")
  }

  test("a repaired EMPTY commit is recognized by its own writer") {
    // An empty commit (catalog CREATE TABLE, empty append) has no
    // data lines to carry the attempt id, so ownership detection
    // falls back to text identity: the committed manifest must equal
    // the tmp text this writer wrote. Pin both directions.
    val root = freshDir("emptyown")
    val f = fs(root)
    f.delete(new Path(root), true)
    f.mkdirs(new Path(root, "_manifests"))
    val dst = new Path(root, "_manifests/v1.manifest")
    val ourText = "#schema:{}\n#ts:1723780000000"
    val out = f.create(dst, true)
    out.write(ourText.getBytes("UTF-8")); out.close()
    // empty commit, identical text → ours (the repairer finished it)
    assert(ScaleOps.committedByRepairer(spark, dst, "abcd1234",
      wroteFiles = false, ourText))
    // empty commit, different text → someone else's commit, we lost
    assert(!ScaleOps.committedByRepairer(spark, dst, "abcd1234",
      wroteFiles = false, "#schema:{}\n#ts:1723780099999"))
    // file-writing commit still keys on the attempt id in data lines
    assert(!ScaleOps.committedByRepairer(spark, dst, "abcd1234",
      wroteFiles = true, ourText))
    val dst2 = new Path(root, "_manifests/v2.manifest")
    val withLine = "#ts:1\nfile:///x/data-v2-abcd1234/part-0.parquet"
    val out2 = f.create(dst2, true)
    out2.write(withLine.getBytes("UTF-8")); out2.close()
    assert(ScaleOps.committedByRepairer(spark, dst2, "abcd1234",
      wroteFiles = true, withLine))
    // no committed manifest at all → never ours
    assert(!ScaleOps.committedByRepairer(spark,
      new Path(root, "_manifests/v9.manifest"), "abcd1234",
      wroteFiles = false, ourText))
  }

  test("append × merge: both land under contention with merge semantics intact") {
    // a handful of iterations: the lost-update hazard (merge plans vs
    // v1, append commits v2, merge wins v3 carrying only v1's lines)
    // is timing-dependent — conflict detection must hold every time
    for (iter <- 1 to 3) {
    val root = freshDir(s"am$iter")
    fs(root).delete(new Path(root), true)
    ScaleOps.publishSnapshot(spark, root,
      docs((1L, "en", "one"), (2L, "de", "zwei"))
        .repartitionByRange(2, col("doc_id")),
      statsCol = Some("doc_id"))
    val (va, vb) = race(
      () => ScaleOps.appendSnapshot(spark, root, docs((5L, "fr", "cinq")),
        statsCol = Some("doc_id")),
      () => ScaleOps.mergeIntoSnapshot(spark, root, "doc_id",
        docs((2L, "de", "zwei neu"), (9L, "zh", "jiu"))))
    assert(Set(va, vb) === Set(2L, 3L))
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L, 3L))
    // final content: base + append + merge (update applied, insert in)
    val rows = ScaleOps.readSnapshot(spark, root)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rows === Map(1L -> "one", 2L -> "zwei neu",
      5L -> "cinq", 9L -> "jiu"))
    // version lineage is consistent whichever order won
    (1L to 3L).foreach { v =>
      val n = ScaleOps.readSnapshot(spark, root, Some(v)).count()
      assert(n >= 2, s"v$v readable")
    }
    }
  }

  test("a same-tag replay race commits once: appendOnce and mergeOnce pairs") {
    val root = freshDir("replay")
    fs(root).delete(new Path(root), true)
    ScaleOps.publishSnapshot(spark, root,
      docs((1L, "en", "one"), (2L, "de", "zwei")), statsCol = Some("doc_id"))
    // Two replays of one tagged batch at once. Each writer's first data
    // write waits for the other's, so both plan against the same head:
    // one wins the slot, and the loser's retry must find the winner's
    // tag and absorb the batch instead of committing it again.
    def racePair(op: () => Option[Long]): Seq[Option[Long]] = {
      val planned = new CountDownLatch(2)
      ScaleOps.commitTaskHook = {
        case "data" => planned.countDown(); planned.await(60, TimeUnit.SECONDS)
        case _ => ()
      }
      val pool = Executors.newFixedThreadPool(2)
      try Seq.fill(2)(pool.submit(() => op())).map(_.get(120, TimeUnit.SECONDS))
      finally { ScaleOps.commitTaskHook = _ => (); pool.shutdown() }
    }
    val appended = racePair(() => ScaleOps.snapshotAppendOnce(spark, root,
      docs((3L, "fr", "trois")), "batch:1"))
    assert(appended.sorted === Seq(None, Some(2L)))
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L))
    // the merge updates a stored key, so the winner's commit is a
    // rewrite: the loser absorbs the replay rather than refusing it
    val merged = racePair(() => ScaleOps.snapshotMergeOnce(spark, root,
      "doc_id", docs((2L, "de", "zwei neu"), (4L, "zh", "si")), "batch:2"))
    assert(merged.sorted === Seq(None, Some(3L)))
    assert(ScaleOps.snapshotVersions(spark, root) === Seq(1L, 2L, 3L))
    assert(ScaleOps.readSnapshot(spark, root).select("doc_id", "text")
      .as[(Long, String)].collect().sorted.toSeq ===
      Seq(1L -> "one", 2L -> "zwei neu", 3L -> "trois", 4L -> "si"))
  }
}
