package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.{Caching, GraftExtensions, SparkEntry, Tables}
import graft.functions.GraftFunctions

/** Benchmark harness for one workload run. It calls only the library's
  * public entry points (`graft.Tables`, `graft.SparkEntry.queries`,
  * `graft.queries.TextOps`, `graft.Caching`, `graft.functions`) and times
  * each call from outside; with tracing on it also records spans and a
  * [[Probe]] listener. Every request's result is fingerprinted (or, for
  * sinks, written) so the caller can check it.
  *
  * Usage: Harness <config.properties>. Writes `result.json` (and, when
  * traced, `trace.json`) into the configured output directory.
  */
object Harness {

  val MixQueries: Seq[String] = Seq("q02_filter_project", "q03_topn_orders",
    "q06_join_semi", "q01_pricing_summary", "sql_wordcount_topn",
    "events_daily", "sim_topk", "sim_ivf_topk", "text_bm25_topk")

  /** One completed (or failed) request. Layer times are microseconds. */
  final case class Req(client: Int, index: Int, name: String, traced: Boolean,
                       group: String, startUs: Long, endUs: Long,
                       hash: String, out: String, error: String,
                       layerUs: Map[String, Long], tableCalls: Int,
                       cachedBytes: Long, cachedRdds: Int)

  final class Config(p: java.util.Properties) {
    def apply(k: String): String = Option(p.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"missing config $k"))
    val workload: String = this("workload")
    val dataDir: String = this("data_dir")
    val outDir: String = this("out_dir")
    val seconds: Double = this("seconds").toDouble
    val traced: Boolean = this("trace") == "1"
    val seed: Long = this("seed").toLong
    val cores: Int = this("cores").toInt
    val clients: Int = this("clients").toInt
    val setupRounds: Int = this("setup_rounds").toInt
    val warmupPasses: Int = this("warmup_passes").toInt
    /** start-order number of the measured request whose result is
      * deliberately falsified (self-test); -1 for none */
    val corrupt: Int = this("corrupt").toInt
    val localDir: String = this("local_dir")
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)), UTF_8)
    try props.load(in) finally in.close()
    val cfg = new Config(props)
    new Harness(cfg).run()
  }

  /** Canonical, engine-neutral text of a cell: doubles by IEEE-754 bits,
    * timestamps as UTC epoch microseconds. Mirrored by `check.py`. */
  def cell(v: Any): String = v match {
    case null => "\\N"
    case d: java.lang.Double =>
      f"d:${java.lang.Double.doubleToRawLongBits(d)}%016x"
    case f: java.lang.Float =>
      f"d:${java.lang.Double.doubleToRawLongBits(f.toDouble)}%016x"
    case b: java.lang.Boolean => if (b) "true" else "false"
    case n: java.lang.Number => n.toString
    case s: String => s.replace("\\", "\\\\").replace("\t", "\\t")
      .replace("\n", "\\n")
    case t: java.sql.Timestamp => "t:" + micros(t.toInstant)
    case t: java.time.Instant => "t:" + micros(t)
    case t: java.time.LocalDateTime =>
      "t:" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "date:" + d.toLocalDate
    case d: java.time.LocalDate => "date:" + d
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000).toLong)

  def fingerprint(rows: Seq[Row]): String = {
    val text = rows.map(_.toSeq.map(cell).mkString("\t")).mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(text.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }
}

final class Harness(cfg: Harness.Config) {
  import Harness._

  private val trace = new Trace
  private val probe = new Probe
  private var spark: SparkSession = _
  /** tables each query reads, discovered from its first plan's input files */
  private val tablesOf = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private val sinkSeq = new java.util.concurrent.atomic.AtomicInteger()
  /** measured requests started so far, over all clients */
  private val measured = new java.util.concurrent.atomic.AtomicInteger()

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", cfg.localDir)
      .config("spark.sql.warehouse.dir", cfg.localDir + "/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def loadTable(s: SparkSession, dir: String, t: String): DataFrame =
    if (t == "events") Tables.events(s, dir) else Tables.table(s, dir, t)

  private def requestNames: Seq[String] = cfg.workload match {
    case "wordcount_topn" => Seq("wordcount_topn")
    case "dedup_lsh" => Seq("dedup_lsh")
    case "interactive_mix" => MixQueries
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Run one request: load tables, build, plan, execute (or write), check
    * storage, release. Layers are timed always; spans only when traced. */
  private def request(s: SparkSession, client: Int, index: Int, name: String,
                      traced: Boolean): Req = {
    val group = s"${Probe.Prefix}c$client-r$index"
    val sc = s.sparkContext
    if (cfg.traced) sc.setJobGroup(group, name, interruptOnCancel = false)
    val layerUs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def layer[T](parent: Long, lname: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try {
        if (traced) trace.span(group, parent, lname)(_ => body) else body
      } finally layerUs(lname) += (System.nanoTime() - t0) / 1000L
    }
    // warm-up requests have index -1 and are never falsified
    val falsify = index >= 0 && measured.getAndIncrement() == cfg.corrupt
    var hash = ""
    var out = ""
    var error = ""
    var calls = 0
    var cachedBytes = 0L
    var cachedRdds = 0
    val dir = cfg.dataDir
    val t0 = trace.nowUs
    try {
      val body: Long => Unit = rid => {
        Option(tablesOf.get(name)).foreach { ts =>
          layer(rid, "tables")(ts.foreach { t => loadTable(s, dir, t); calls += 1 })
        }
        def build(q: String): DataFrame = layer(rid, "queries") {
          if (q == "wordcount_topn")
            graft.queries.TextOps.wordcountTopN(s, dir, 20)
          else SparkEntry.queries(q)(s, dir)
        }
        def plan(df: DataFrame): Unit =
          layer(rid, "planner")(df.queryExecution.executedPlan)
        val built = mutable.ArrayBuffer.empty[DataFrame]
        if (name == "dedup_lsh") {
          out = s"${cfg.outDir}/sink/${sinkSeq.getAndIncrement()}"
          for ((q, sub) <- Seq("dedup_minhash_lsh" -> "pairs",
                               "dedup_components" -> "components")) {
            var df = build(q)
            built += df
            plan(df)
            // components has one row per document, so dropping them all
            // always falsifies the result
            if (falsify && sub == "components") df = df.limit(0)
            layer(rid, "sink")(df.write.parquet(s"$out/$sub"))
          }
        } else {
          val df = build(name)
          built += df
          plan(df)
          val rows = layer(rid, "exec")(df.collect().toSeq)
          hash = fingerprint(if (falsify) rows :+ Row("falsified") else rows)
        }
        if (traced) {
          val info = sc.getRDDStorageInfo
          cachedBytes = info.map(r => r.memSize + r.diskSize).sum
          cachedRdds = info.count(_.numCachedPartitions > 0)
        }
        layer(rid, "caching.release")(Caching.releaseAll(s))
        if (!tablesOf.containsKey(name))
          tablesOf.put(name, built.flatMap(_.inputFiles).map { f =>
            f.substring(f.lastIndexOf('/') + 1).stripSuffix(".parquet")
          }.distinct.sorted.toSeq)
      }
      if (traced) trace.span(group, 0L, "request")(body) else body(0L)
    } catch {
      case t: Throwable =>
        error = (t.getClass.getName + ": " + t.getMessage).take(500)
        try Caching.releaseAll(s) catch { case _: Throwable => () }
    } finally if (cfg.traced) sc.clearJobGroup()
    Req(client, index, name, traced, group, t0, trace.nowUs, hash, out, error,
      layerUs.toMap, calls, cachedBytes, cachedRdds)
  }

  /** Run `names` concurrently over the client sessions (warm-up). */
  private def warm(sessions: Seq[SparkSession], names: Seq[String]): Unit = {
    val queue = new ConcurrentLinkedQueue[String](names.asJava)
    val threads = sessions.zipWithIndex.map { case (cs, c) =>
      new Thread(() => {
        var n = queue.poll()
        while (n != null) {
          val r = request(cs, c, -1, n, traced = false)
          if (r.error.nonEmpty) System.err.println(s"[perfbench] warm-up $n: ${r.error}")
          n = queue.poll()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
  }

  /** One set-up round: (re)start the session and load every input table
    * through the library's readers. */
  private def setupRound(): Unit = {
    if (spark != null) { Caching.releaseAll(spark); spark.stop() }
    spark = newSession()
    Files.list(Paths.get(cfg.dataDir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).toSeq.sorted
      .foreach(t => loadTable(spark, cfg.dataDir, t))
  }

  def run(): Unit = {
    Files.createDirectories(Paths.get(cfg.outDir))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    def nowS = System.currentTimeMillis() * 1e-3
    val roundsS = (0 until cfg.setupRounds).map { r =>
      val t0 = if (r == 0) jvmStartMs * 1e-3 else nowS
      setupRound()
      nowS - t0
    }
    // warm-up passes over every request type, on the client sessions
    val tWarm = nowS
    val sessions =
      if (cfg.workload == "interactive_mix")
        (0 until cfg.clients).map(_ => spark.newSession())
      else Seq(spark)
    val passesS = (0 until cfg.warmupPasses).map { _ =>
      val t0 = nowS; warm(sessions, requestNames); nowS - t0
    }
    val warmS = nowS - tWarm
    if (cfg.traced) spark.sparkContext.addSparkListener(probe)

    // closed loop: each client issues its next request when the last ends
    val reqs = new ConcurrentLinkedQueue[Req]()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val startUs = trace.nowUs
    val deadlineUs = startUs + (cfg.seconds * 1e6).toLong
    val threads = sessions.zipWithIndex.map { case (cs, c) =>
      new Thread(() => {
        // seeded sequence: the request types in a fresh seeded order per
        // cycle, so every window sees a near-even mix of types
        val rng = new scala.util.Random(cfg.seed * 1000003L + c)
        var cycle = Seq.empty[String]
        var i = 0
        while (trace.nowUs < deadlineUs) {
          if (cycle.isEmpty) cycle = rng.shuffle(requestNames)
          reqs.add(request(cs, c, i, cycle.head,
            traced = cfg.traced && i % 2 == 0))
          cycle = cycle.tail
          i += 1
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9

    val extra = mutable.ArrayBuffer.empty[(String, String)]
    if (cfg.traced) {
      probe.quiesce(10000)
      extra += "probes" -> kernelProbes()
      extra += "trace_file" -> Json.str(writeTrace())
    }
    val all = reqs.asScala.toSeq.sortBy(r => (r.startUs, r.client))
    val json = Json.obj(Seq(
      "workload" -> Json.str(cfg.workload),
      "cores" -> cfg.cores.toString,
      "clients" -> sessions.size.toString,
      "setup_rounds_s" -> Json.arr(roundsS.map(Json.num)),
      "warmup_s" -> Json.num(warmS),
      "warmup_passes_s" -> Json.arr(passesS.map(Json.num)),
      "measure_start_us" -> startUs.toString,
      "measure_cpu_s" -> Json.num(cpuS),
      "requests" -> Json.arr(all.map(reqJson)),
      "peak_rss_kb" -> peakRssKb.toString) ++ extra)
    Files.write(Paths.get(cfg.outDir, "result.json"), json.getBytes(UTF_8))
    spark.stop()
  }

  private def reqJson(r: Req): String = {
    val base = Seq(
      "client" -> r.client.toString, "index" -> r.index.toString,
      "name" -> Json.str(r.name), "traced" -> r.traced.toString,
      "start_us" -> r.startUs.toString, "end_us" -> r.endUs.toString,
      "hash" -> Json.str(r.hash), "out" -> Json.str(r.out),
      "error" -> Json.str(r.error),
      "layer_us" -> Json.obj(r.layerUs.toSeq.sorted.map {
        case (k, v) => k -> v.toString }),
      "table_calls" -> r.tableCalls.toString)
    val counters = if (!r.traced) Nil else {
      val c = probe.countersOf(r.group)
      Seq("cached_bytes" -> r.cachedBytes.toString,
        "cached_rdds" -> r.cachedRdds.toString,
        "task_skew" -> probe.skewOf(r.group).map(Json.num).getOrElse("null"),
        "counters" -> Json.obj(Seq(
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "failed_tasks" -> c.failedTasks, "run_ms" -> c.runMs,
          "gc_ms" -> c.gcMs, "wait_ms" -> c.waitMs,
          "input_bytes" -> c.inputBytes, "input_records" -> c.inputRecords,
          "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "shuffle_write_records" -> c.shuffleWriteRecords,
          "shuffle_read_bytes" -> c.shuffleReadBytes,
          "shuffle_read_records" -> c.shuffleReadRecords,
          "spill_bytes" -> c.spillBytes, "output_bytes" -> c.outputBytes,
          "output_records" -> c.outputRecords).map { case (k, v) =>
            k -> v.toString }))
    }
    Json.obj(base ++ counters)
  }

  /** Stage spans from the listener, each parented to the innermost
    * benchmark span of its request that contains the stage's start. */
  private def writeTrace(): String = {
    val own = trace.all
    val byReq = own.groupBy(_.request)
    probe.stageSpans.asScala.foreach { case (g, sid, att, a, b) =>
      val parent = byReq.getOrElse(g, Nil)
        .filter(s => s.startUs <= a && a <= s.endUs)
        .sortBy(_.durUs).headOption.map(_.id).getOrElse(0L)
      trace.add(g, parent, s"stage.$sid.$att", a, b)
    }
    val path = Paths.get(cfg.outDir, "trace.json")
    Files.write(path, trace.toJson(trace.all).getBytes(UTF_8))
    path.toString
  }

  /** Median of three timed runs of `f`, seconds. */
  private def median3(f: => Unit): Double = {
    val ts = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(1)
  }

  /** Standalone kernel projections over the workload's own input, plus the
    * LSH precision readout on the dedup corpus. */
  private def kernelProbes(): String = {
    val s = spark
    GraftFunctions.ensureRegistered(s)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val docs = Tables.documents(s, cfg.dataDir).select(col("text"))
      .persist(StorageLevel.MEMORY_ONLY)
    docs.count()
    val shingleS = median3(noop(docs.select(GraftFunctions.shingleHashes(col("text")))))
    val sh = docs.select(GraftFunctions.shingles(col("text")).as("sh"))
      .persist(StorageLevel.MEMORY_ONLY)
    sh.count()
    val minhashS = median3(noop(sh.select(GraftFunctions.minhashSig(col("sh")))))
    sh.unpersist(blocking = true); docs.unpersist(blocking = true)
    val dotS =
      if (!Files.exists(Paths.get(cfg.dataDir, "embeddings.parquet"))) 0.0
      else {
        val emb = Tables.embeddings(s, cfg.dataDir).select(col("embedding"))
          .persist(StorageLevel.MEMORY_ONLY)
        emb.count()
        val t = median3(noop(emb.select(
          GraftFunctions.dot(col("embedding"), col("embedding")))))
        emb.unpersist(blocking = true)
        t
      }
    val precision =
      if (cfg.workload != "dedup_lsh") 0.0
      else {
        val r = SparkEntry.queries("dedup_precision_lsh")(s, cfg.dataDir)
          .collect().head
        Caching.releaseAll(s)
        Option(r.getAs[java.lang.Double]("precision")).map(_.doubleValue)
          .getOrElse(0.0)
      }
    Json.obj(Seq("shingle_hashes_s" -> Json.num(shingleS),
      "minhash_sig_s" -> Json.num(minhashS), "dot_s" -> Json.num(dotS),
      "lsh_precision" -> Json.num(precision)))
  }

  private def peakRssKb: Long =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
        .getOrElse(0L)
    } catch { case _: Throwable => 0L }
}

/** Dumps the library's DuckDB oracle SQL for the benchmark's queries as
  * JSON (`Oracles <out.json>`), so the checker can compute expected
  * results before the Spark run. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val names = Harness.MixQueries ++ Seq("dedup_minhash_lsh", "dedup_components")
    val json = Json.obj(names.map(n => n -> Json.str(SparkEntry.oracleSql(n))))
    Files.write(Paths.get(args(0)), json.getBytes(UTF_8))
  }
}
