package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole test JVM (Test/fork := true gives the
  * suite its own JVM; suites share the session to avoid per-suite
  * startup).
  */
object TestSpark {
  lazy val spark: SparkSession = Engine.session(4)
}

/** Base for all specs: shared session + tiny helpers. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** sf0.001 testdata dir (smallest; specs that read testdata use it). */
  val sfDir = "/root/testdata/sf0.001"

  /** The number of Spark jobs `body` starts. */
  def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    // listener events post asynchronously; give the bus time to drain
    // so a late job-start can't escape a zero-jobs assertion
    try { body; Thread.sleep(1500) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  /** Runs `body` with one session conf set to `value`, restoring it after. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
