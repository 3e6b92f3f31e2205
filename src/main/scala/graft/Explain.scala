package graft

/** Plan-audit main: executes selected queries at the given SF and
  * prints the FINAL (post-AQE) physical plan, plus a one-line summary
  * of the facts that matter at scale — join strategies chosen, scan
  * pushdown, window group limits, codegen coverage. Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(Sessions.cpus(8))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // collect() executes THIS DataFrame's adaptive plan; a noop
      // save would execute a copy and leave df's plan unfinalized
      // (isFinalPlan=false, no codegen markers). Audit at small SF.
      df.collect()
      // summarize only the FINAL plan (the toString appends the
      // pre-AQE "Initial Plan" section, which would double-count)
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)".r
        .findAllIn(plan).toSeq.groupBy(identity).map { case (k, v) => s"$k×${v.size}" }
      val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(plan).toSeq.count(!_.contains("[]"))
      val wgl = "WindowGroupLimit".r.findAllIn(plan).size
      // final plans mark whole-stage codegen regions as "*(n)"
      val codegen = "\\*\\(\\d+\\)".r.findAllIn(plan).toSeq
        .distinct.size
      println(s"##### $name joins=${joins.mkString(",")} pushedFilterScans=$pushed " +
        s"windowGroupLimit=$wgl codegenSpans=$codegen")
      println(plan)
      println()
    }
    spark.stop()
  }
}
