package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * ScalaTest runs suites sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // keep the shared session alive

  /** Job-start properties of every job that started inside `body`. */
  protected def jobsOf(body: => Any): Seq[java.util.Properties] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
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
}

object SparkSpec {
  lazy val session: SparkSession =
    Sessions.local(4, Seq("spark.app.name" -> "graft-test"))
}
