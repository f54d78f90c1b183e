package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `body`'s value and the number of Spark jobs that started while it
    * ran, from any thread: a listener counts every job start between two
    * one-task marker jobs, so a job's late listener-bus event still lands
    * inside the window it belongs to.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkSpec.MarkerKey))).getOrElse(""))
    }
    val token = s"jobs-${System.nanoTime()}"
    def mark(edge: String): Unit = {
      sc.setLocalProperty(SparkSpec.MarkerKey, s"$token-$edge")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SparkSpec.MarkerKey, null)
    }
    def skipTo(marker: String): Int = {
      var n = 0
      var seen = ""
      while (seen != marker) {
        seen = Option(starts.poll(30, TimeUnit.SECONDS))
          .getOrElse(fail(s"no job-start event for $marker within 30 s"))
        if (seen != marker) n += 1
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      mark("start")
      val out = body
      mark("end")
      skipTo(s"$token-start")
      (out, skipTo(s"$token-end"))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  private val MarkerKey = "graft.spec.marker"

  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
