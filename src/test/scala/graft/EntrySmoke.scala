package graft
/** Driver-contract smoke: entry() must return rows > 0 at sf0.001. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    assert(n > 0)
    spark.stop()
  }
}
