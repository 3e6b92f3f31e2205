package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape the graft mains and the test suite run
  * on: `local[cpus]` with `cpus` shuffle partitions, UTC session time,
  * graft's extensions (`GraftExtensions`, which also size Spark's
  * generated-class cache) and no UI. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The session on `local[cpus]`, with `conf` set on top of the shape
    * above. Like `getOrCreate`, it returns the running session when
    * there is one. */
  def local(cpus: Int, conf: Iterable[(String, String)] = Nil): SparkSession =
    conf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
