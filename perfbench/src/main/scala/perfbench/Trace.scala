package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are epoch microseconds
  * so benchmark spans and Spark's own stage times share one clock. */
final case class Span(id: Long, parent: Long, request: String, name: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Spans are kept until the run ends and are
  * written out once by [[Trace.toJson]]. */
final class Trace {
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val baseNanos = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L

  def nowUs: Long = baseUs + (System.nanoTime() - baseNanos) / 1000L

  /** Run `body` inside a span named `name`; returns its result and span id. */
  def span[T](request: String, parent: Long, name: String)(
      body: Long => T): T = {
    val id = nextId.getAndIncrement()
    val t0 = nowUs
    try body(id)
    finally spans.add(Span(id, parent, request, name, t0, nowUs))
  }

  def add(request: String, parent: Long, name: String, startUs: Long,
          endUs: Long): Unit =
    spans.add(Span(nextId.getAndIncrement(), parent, request, name,
      startUs, endUs))

  def all: Seq[Span] = spans.asScala.toSeq

  def toJson(ss: Seq[Span]): String = ss.sortBy(_.startUs).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"request":${Json.str(s.request)},""" +
      s""""name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Executor-side counters of one request, summed over its tasks. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, gcMs, waitMs = 0L
  var inputBytes, inputRecords = 0L
  var shuffleWriteBytes, shuffleWriteRecords = 0L
  var shuffleReadBytes, shuffleReadRecords = 0L
  var spillBytes, outputBytes, outputRecords = 0L
}

/** Spark listener that attributes jobs, stages and tasks to benchmark
  * requests through the job group id each request sets on its thread
  * (`spark.jobGroup.id`, prefix [[Probe.Prefix]]); other jobs are ignored.
  * Public listener API only. */
final class Probe extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[(Int, Int), Long]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  /** (request, stageId, attempt) -> task durations in ms */
  private val taskMs = new ConcurrentHashMap[(String, Int, Int),
    mutable.ArrayBuffer[Long]]()
  val stageSpans = new ConcurrentLinkedQueue[(String, Int, Int, Long, Long)]()
  /** attributed jobs that have started but not yet ended */
  private val running = ConcurrentHashMap.newKeySet[Int]()
  private val events = new AtomicLong()

  private def counter(g: String): Counters =
    counters.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (g.startsWith(Probe.Prefix)) {
      running.add(e.jobId)
      val c = counter(g)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (running.remove(e.jobId)) events.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    Option(stageGroup.get(si.stageId)).foreach { g =>
      stageSubmitMs.put((si.stageId, si.attemptNumber()),
        si.submissionTime.getOrElse(System.currentTimeMillis()))
      val c = counter(g)
      c.synchronized(c.stages += 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageGroup.get(si.stageId)).foreach { g =>
      for (a <- si.submissionTime; b <- si.completionTime)
        stageSpans.add((g, si.stageId, si.attemptNumber(), a * 1000L, b * 1000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      events.incrementAndGet()
      val c = counter(g)
      val ti = e.taskInfo
      val submit = Option(stageSubmitMs.get((e.stageId, e.stageAttemptId)))
        .getOrElse(ti.launchTime)
      c.synchronized {
        c.tasks += 1
        if (!ti.successful) c.failedTasks += 1
        c.waitMs += math.max(0L, ti.launchTime - submit)
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
          c.outputRecords += m.outputMetrics.recordsWritten
        }
      }
      taskMs.computeIfAbsent((g, e.stageId, e.stageAttemptId),
        _ => new mutable.ArrayBuffer[Long]()).synchronized {
        taskMs.get((g, e.stageId, e.stageAttemptId)) += ti.duration
      }
    }

  /** Block until every attributed job has ended and no attributed event
    * arrived for 200 ms (events reach listeners asynchronously, after the
    * action has returned). */
  def quiesce(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
           (!running.isEmpty || last != events.get())) {
      last = events.get()
      Thread.sleep(200)
    }
  }

  def countersOf(request: String): Counters =
    Option(counters.get(request)).getOrElse(new Counters)

  /** Largest over (lower) median task duration in the request's longest
    * stage; 1.0 means evenly sized tasks. */
  def skewOf(request: String): Option[Double] = {
    val mine = stageSpans.asScala.filter(_._1 == request)
    if (mine.isEmpty) None
    else {
      val (_, sid, att, a, b) = mine.maxBy(s => s._5 - s._4)
      Option(taskMs.get((request, sid, att))).filter(_.nonEmpty).map { ds =>
        val sorted = ds.synchronized(ds.sorted)
        sorted.last.toDouble / math.max(1L, sorted((sorted.size - 1) / 2))
      }
    }
  }
}

object Probe {
  val Prefix = "bench-"
}

/** Minimal JSON writing helpers. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case '\r' => b ++= "\\r"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
