package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test helper: the description of every Spark job a block starts, in
  * start order (empty for a job run without one). Public listener API
  * only. */
object JobRecorder {

  private final class Listener extends SparkListener {
    val descriptions = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      descriptions.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(""))
  }

  /** Run `body` and return its result with the jobs it started. Listener
    * events arrive asynchronously but in order, so a marker job run after
    * `body` is seen last: once it arrives, every job of `body` has. */
  def record[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val listener = new Listener
    sc.addSparkListener(listener)
    try {
      val out = body
      val marker = s"job-recorder-marker-${UUID.randomUUID}"
      val caller = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("spark.job.description", caller)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!listener.descriptions.contains(marker)) {
        assert(System.nanoTime() < deadline, "marker job never reported")
        Thread.sleep(10)
      }
      (out, listener.descriptions.asScala.toSeq.takeWhile(_ != marker))
    } finally sc.removeSparkListener(listener)
  }
}
