package graft

/** Dev tool: time a named subset of `SparkEntry.queries` without the
  * full Bench sweep — `runMain graft.BenchOne q1,q2 [warmupName]`.
  * Same session config and noop-sink materialization as [[Bench]];
  * prints one `ABLINE name cold warm_med3` line per query (cold =
  * first run in-process, warm = median of 3 reps). For iterating on
  * a single operator's plan; the round-official numbers remain
  * Bench's. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val warmup = if (args.length > 1) args(1) else "a08_keyed_agg"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Dev knob (round-15 scaling sweep): extra session confs as
    // comma-separated k=v pairs — e.g. maxPartitionBytes, so a
    // synthetic many-small-files corpus can expose operator scaling
    // instead of being capped by scan-split packing. NOT read by the
    // driver-contract Bench main.
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(",")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      }
    val spark = Sessions.local(Sessions.cpus(32), extra)
    spark.sparkContext.setLogLevel("ERROR")
    def t(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    t(warmup)
    names.foreach { q =>
      val cold = t(q)
      val warm = Seq.fill(3)(t(q)).sorted.apply(1)
      println(f"ABLINE $q cold=$cold%.2f warm_med3=$warm%.2f")
    }
    spark.stop()
  }
}
