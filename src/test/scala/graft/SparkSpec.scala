package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture: the graft session on local[4], whatever
  * the box (test data is tiny; a wider fan-out would be pure scheduling
  * overhead).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs `body` starts, counted by a listener; the bus is drained
    * on both sides so no other action's events are counted. */
  def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.PlanBridge
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    PlanBridge.drainListeners(sc)
    sc.addSparkListener(counter)
    try body
    finally { PlanBridge.drainListeners(sc); sc.removeSparkListener(counter) }
    jobs.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession = SessionConf.local(4)
}
