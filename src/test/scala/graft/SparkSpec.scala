package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for test suites (one per suite, lazily built). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Spark jobs launched by `body` on this thread, counted by a listener.
    * Jobs carry the launching thread's local properties, so a tag set here
    * tells them apart from any other thread's; a marker job launched after
    * `body` reaches the listener after every job `body` launched.
    */
  protected def jobsLaunchedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("graft.test.tag")))
          .filter(_.startsWith(tag)).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.tag", tag)
      body
      sc.setLocalProperty("graft.test.tag", tag + "/marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(tag + "/marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(tag + "/marker"), "marker job never reached the listener")
      seen.size - 1
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
  }
}

