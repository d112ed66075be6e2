package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators._
import graft.sources.{FileSources, WritePath}
import graft.streaming.StreamOps

/** Benchmark harness JVM. `perfbench/run.py` makes the inputs, writes a
  * plan file and launches this main; the main drives the engine only
  * through its public entry points, records every operation and listener
  * event in memory, and writes them as one JSON document at the end.
  *
  * Usage:
  *   Main registry <out.json>   query name -> module and oracle SQL
  *   Main run <plan.json>       run one workload as the plan describes
  */
object Main {
  private val mapper = new ObjectMapper()

  /** The 18 registry modules, in `SparkEntry`'s order. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> Relational.queries,
    "Normalize" -> Normalize.queries,
    "Analytics" -> Analytics.queries,
    "Windows" -> Windows.queries,
    "Similarity" -> Similarity.queries,
    "TextOps" -> TextOps.queries,
    "Corpus" -> Corpus.queries,
    "Multimodal" -> Multimodal.queries,
    "Ranking" -> Ranking.queries,
    "Mining" -> Mining.queries,
    "Stats" -> Stats.queries,
    "Behavior" -> Behavior.queries,
    "Series" -> Series.queries,
    "RowLevelOps" -> RowLevelOps.queries,
    "PipelineOps" -> PipelineOps.queries,
    "StreamOps" -> StreamOps.queries,
    "FileSources" -> FileSources.queries,
    "WritePath" -> WritePath.queries)

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("registry", out) => writeRegistry(Paths.get(out))
    case Seq("run", plan) => run(mapper.readTree(Paths.get(plan).toFile))
    case _ =>
      System.err.println("usage: Main registry <out.json> | Main run <plan.json>")
      sys.exit(2)
  }

  private def writeRegistry(out: Path): Unit = {
    val all = SparkEntry.queries.keySet
    val oracle = SparkEntry.oracleSql
    val reg = new JMap[String, Any]()
    for ((module, qs) <- modules; name <- qs.keys.toSeq.sorted) {
      val e = new JMap[String, Any]()
      e.put("module", module)
      e.put("oracle", oracle.get(name).orNull)
      reg.put(name, e)
    }
    require(reg.keySet.asScala == all,
      "module list out of step with SparkEntry.queries: " +
        (all -- reg.keySet.asScala).toSeq.sorted.mkString(","))
    Files.writeString(out, mapper.writeValueAsString(reg))
  }

  /** The session `graft.Bench` builds, sized to this host's cores, with
    * every scratch location inside the benchmark's work directory. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", "graft.hadoop.GraftLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.hadoop.GraftLocalFs")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(plan: JsonNode): Unit = {
    val work = Paths.get(plan.get("work").asText)
    val cores = plan.get("cores").asInt
    val out = new JMap[String, Any]()
    out.put("jvm_start_ms", java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val spark = session(cores, work)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    out.put("session_ready_ms", Clock.nowMs)
    val gauge = new HostGauge(spark, cores)
    gauge.sample("start")
    out.put("gauge_done_ms", Clock.nowMs)
    val h = new Harness(spark, rec, plan, work, gauge)
    try plan.get("workload").asText match {
      case "batch_mix" => h.batch(out)
      case "stream_live" => h.stream(out)
      case "cow_upsert" => h.cow(out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable => out.put("fatal", e.toString)
    } finally {
      gauge.sample("end")
      // Let the buses drain: late task-end events still attribute
      // correctly (by op key), they only need to have arrived.
      val waitUntil = System.currentTimeMillis() + 5000
      while (rec.quietMs < 300 && System.currentTimeMillis() < waitUntil) Thread.sleep(50)
      out.put("ops", Json.ops(h.ops.toSeq))
      rec.synchronized(Json.recorder(rec, out))
      out.put("progress", new JList[Any](progress.progress))
      out.put("gauge", gauge.json)
      out.put("gauge_ticks", gauge.ticksJson)
      out.put("vm_hwm_kb", HostGauge.vmHwmKb)
      Files.writeString(work.resolve("jvm_out.json"), mapper.writeValueAsString(out))
      // Everything is written and run.py removes the run directory, so the
      // JVM ends here without Spark's orderly shutdown, which took a second
      // or more of every run.
      Runtime.getRuntime.halt(0)
    }
  }
}

/** The three workload drivers. Each timed loop runs until the plan's
  * deadline, then the untimed output check runs. */
final class Harness(spark: SparkSession, rec: Recorder, plan: JsonNode, work: Path,
                     gauge: HostGauge) {
  private val sc = spark.sparkContext
  private val mapper = new ObjectMapper()
  private val fixture = plan.get("fixture").asText
  private val seconds = plan.get("seconds").asDouble
  private val trace = plan.get("trace").asBoolean
  private val opTimeoutMs = plan.get("op_timeout_s").asDouble * 1000
  val ops = mutable.ArrayBuffer.empty[Op]
  private var opSeq = 0
  private val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  /** Run `body` as one op under its own job group, with the harness
    * deadline enforced by cancelling that group. */
  def op(name: String, kind: String, phase: String)(body: Op => Unit): Op = {
    if (phase != "warm") gauge.tick()
    val o = synchronized {
      opSeq += 1
      val o = new Op(s"op-$opSeq", name, kind, phase)
      ops += o
      o
    }
    @volatile var timedOut = false
    val timer = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut = true; sc.cancelJobGroup(o.id) }
    }, opTimeoutMs.toLong, java.util.concurrent.TimeUnit.MILLISECONDS)
    sc.setJobGroup(o.id, name, interruptOnCancel = false)
    try {
      body(o)
      o.ok = !timedOut
      if (timedOut) o.error = "harness deadline"
    } catch {
      case e: Throwable =>
        o.error = (if (timedOut) "harness deadline: " else "") +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      timer.cancel(false)
      o.endMs = Clock.nowMs
      sc.clearJobGroup()
    }
    o
  }

  private def mark(out: JMap[String, Any], key: String): Unit = out.put(key, Clock.nowMs)

  /** A traced run splits its window in halves, untraced then traced (the
    * tracing overhead is traced ÷ untraced; the warm-up has levelled off
    * by then); an untraced run is one window. */
  private def windows: Seq[(String, Double)] =
    if (trace) Seq("untraced", "traced").map(_ -> seconds / 2)
    else Seq("untraced" -> seconds)

  private def timed(out: JMap[String, Any])(loop: (String, Double) => Unit): Unit = {
    mark(out, "timed_start_ms")
    for ((phase, len) <- windows) {
      rec.enabled = phase == "traced"
      loop(phase, Clock.nowMs + len * 1000)
    }
    gauge.tick()
    rec.enabled = false
    mark(out, "timed_end_ms")
  }

  // ---- batch_mix ---------------------------------------------------------

  def batch(out: JMap[String, Any]): Unit = {
    val names = plan.get("queries").elements().asScala.map(_.asText).toVector
    val checkDir = work.resolve("check")
    def run(n: String, phase: String): Unit =
      op(n, "query", phase) { o =>
        val df = SparkEntry.queries(n)(spark, fixture)
        o.builtMs = Clock.nowMs
        df.write.format("noop").mode("overwrite").save()
      }
    // Cold pass, on one client: staging, caches and codegen warm up here,
    // and its results are the ones checked against the oracle (a
    // concurrent pass can reorder a float sum's partial results).
    for (n <- names) {
      op(n, "query", "warm") { o =>
        val df = SparkEntry.queries(n)(spark, fixture)
        o.builtMs = Clock.nowMs
        df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(n).toString)
      }
      graft.Tables.clearSelfJoinCache()
    }
    // Warm passes: the JIT is still compiling the shared planning and
    // execution paths through the second and third execution. It counts
    // executions, not wall time, so they run on one client thread per core.
    def concurrently(items: Seq[String])(body: String => Unit): Unit = {
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](items.asJava)
      val clients = (0 until plan.get("cores").asInt).map { k =>
        new Thread(() => {
          var n = queue.poll()
          while (n != null) { body(n); n = queue.poll() }
        }, s"perfbench-warm-$k")
      }
      clients.foreach(_.start())
      clients.foreach(_.join())
      graft.Tables.clearSelfJoinCache()
    }
    concurrently(Seq.fill(plan.get("warm_passes").asInt)(names).flatten)(run(_, "warm"))
    mark(out, "setup_done_ms")
    // The panel round-robin until the window has elapsed and every query
    // has run at least once in it.
    timed(out) { (phase, deadline) =>
      var k = 0
      while (Clock.nowMs < deadline || k < names.size) {
        run(names(k % names.size), phase)
        graft.Tables.clearSelfJoinCache()
        k += 1
      }
    }
  }

  // ---- stream_live -------------------------------------------------------

  /** Session rows the stream emitted: user, start µs, end µs, n, sum. */
  private val emitted = new java.util.concurrent.ConcurrentLinkedQueue[JList[Any]]()

  private def sessionRows(df: DataFrame): Array[JList[Any]] =
    df.select(col("user_id"), unix_micros(col("sw.start")), unix_micros(col("sw.end")),
        col("n"), col("sum_v")).collect()
      .map(r => new JList[Any]((0 until 5).map(r.get).asJava))

  /** `sessionCounts` on the state-store confs StreamOps sets, in append
    * mode (Spark rejects update mode for session windows); the sink
    * collects each batch's closed sessions to the driver. */
  private def sessionQuery(source: DataFrame, ckpt: Path, keep: Boolean,
                           availableNow: Boolean) =
    StreamOps.startWithStatePartitions(spark) {
      val w = StreamOps.sessionCounts(source)
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = sessionRows(b)
          if (keep) rows.foreach(emitted.add)
        }
      (if (availableNow) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
       else w).start()
    }

  def stream(out: JMap[String, Any]): Unit = {
    val s = plan.get("stream")
    val liveDir = Paths.get(s.get("live_dir").asText)
    // Warm-up, first the same query over a few files, run to completion,
    // as one query per core at once (the JIT counts executions, not wall
    // time); then the live query on the generator's first files, on the
    // live schedule. The timed window opens when the first timed file is due.
    val warm = s.get("warm_dirs").elements().asScala.zipWithIndex.map { case (d, k) =>
      sessionQuery(StreamOps.eventsStreamDsv2(spark, d.asText),
        work.resolve(s"warm-ckpt-$k"), keep = false, availableNow = true)
    }.toVector
    warm.foreach(_.awaitTermination())
    val q = sessionQuery(StreamOps.eventsStreamDsv2(spark, liveDir.toString),
      work.resolve("ckpt"), keep = true, availableNow = false)
    out.put("stream_query_id", q.id.toString)
    Files.writeString(work.resolve("stream.ready"), "")
    val timedMarker = work.resolve("stream.timed")
    val genDone = work.resolve("gen.done")
    val warmStop = Clock.nowMs + plan.get("drain_s").asDouble * 1000
    while (!Files.exists(timedMarker) && !Files.exists(genDone) && Clock.nowMs < warmStop)
      Thread.sleep(5)
    mark(out, "setup_done_ms")
    val hardStop = Clock.nowMs + (seconds + plan.get("drain_s").asDouble) * 1000
    mark(out, "timed_start_ms")
    // The generator keeps the schedule; tracing follows the same halves
    // as `windows` (past the window, untraced).
    val start = Clock.nowMs
    var lastTick = 0.0
    // Gauge readings between micro-batches, not against them.
    def tickWhenIdle(): Unit =
      if (Clock.nowMs - lastTick >= 250 && !q.status.isTriggerActive) {
        gauge.tick(); lastTick = Clock.nowMs
      }
    while (!Files.exists(genDone) && Clock.nowMs < hardStop) {
      rec.enabled = trace && ((Clock.nowMs - start) / (seconds * 500)).toInt == 1
      tickWhenIdle()
      Thread.sleep(20)
    }
    rec.enabled = false
    val files = if (Files.exists(genDone)) Files.readString(genDone).trim.toInt else -1
    def committed: Int = Option(q.lastProgress).map(p =>
      mapper.readTree(p.sources.head.endOffset).asInt).getOrElse(0)
    while (files >= 0 && committed < files && Clock.nowMs < hardStop && q.isActive) {
      tickWhenIdle()
      Thread.sleep(20)
    }
    gauge.tick()
    mark(out, "timed_end_ms")
    out.put("stream_files", files)
    out.put("stream_committed", committed)
    out.put("stream_error", q.exception.map(_.getMessage).getOrElse(""))
    q.stop()
    // Untimed check input: the same shape as a batch query over every
    // generated file.
    out.put("stream_rows", new JList[Any](emitted))
    val all = spark.read.parquet(liveDir.toString).withColumn("ts", graft.Tables.usToTs("ts"))
    out.put("stream_batch_rows", new JList[Any](sessionRows(StreamOps.sessionCounts(all)).toSeq.asJava))
  }

  // ---- cow_upsert --------------------------------------------------------

  private def cowFiles(t: String): Map[String, Long] =
    spark.sql(s"SELECT file, n_bytes FROM $t.files").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def cow(out: JMap[String, Any]): Unit = {
    val c = plan.get("cow")
    RowLevelOps.ensureCatalog(spark)
    val stmts = mapper.readTree(Paths.get(c.get("statements").asText).toFile)
      .elements().asScala.toVector
    val baseRows = c.get("base_rows").asLong
    def create(t: String, rows: Long, slices: Int): Unit = {
      spark.sql(s"CREATE TABLE $t (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING)")
      val step = (rows + slices - 1) / slices
      for (k <- 0 until slices)
        spark.sql(s"""INSERT INTO $t
          |SELECT /*+ COALESCE(1) */ event_id, CAST(ts AS TIMESTAMP), user_id,
          |       event_type, value, props
          |FROM parquet.`$fixture/events.parquet`
          |WHERE event_id >= ${k * step} AND event_id < ${(k + 1) * step}""".stripMargin)
    }
    val t = "graft_cow.bench.events"
    val targetBytes = c.get("optimize_target_bytes").asLong
    def maintain(): Unit = {
      spark.sql(s"CALL graft_cow.optimize('bench.events', ${targetBytes}L)").collect()
      spark.sql(s"CALL graft_cow.expire_snapshots('bench.events', " +
        s"${System.currentTimeMillis() * 1000L}L)").collect()
    }
    create(t, baseRows, c.get("base_files").asInt)
    // Start from the compacted layout the periodic maintenance keeps.
    maintain()
    // Live files at the last traced commit: what the next one added/removed.
    var files: Map[String, Long] = null
    val fileLog = new JList[Any]()
    var i = 0
    def next(phase: String): Unit = {
      val s = stmts(i)
      val kind = s.get("kind").asText
      i += 1
      if (rec.enabled && files == null) files = cowFiles(t)
      op(s"stmt-$i", kind, phase) { o =>
        kind match {
          case "maintenance" =>
            maintain()
          case "point" | "range" =>
            val r = spark.sql(s.get("sql").asText.replace("{t}", t)).head()
            o.result = (0 until r.length).map(k =>
              if (r.isNullAt(k)) "null" else r.get(k).toString).mkString(",")
          case _ =>
            spark.sql(s.get("sql").asText.replace("{t}", t)).collect()
        }
      }
      if (rec.enabled && kind != "point" && kind != "range") {
        val now = cowFiles(t)
        val added = now.keySet -- files.keySet
        val e = new JMap[String, Any]()
        e.put("stmt", i)
        e.put("added", added.size)
        e.put("removed", (files.keySet -- now.keySet).size)
        e.put("bytes_added", added.toSeq.map(now).sum)
        e.put("live", now.size)
        e.put("manifests", spark.sql(s"SELECT count(*) FROM $t.history").head().getLong(0))
        fileLog.add(e)
        files = now
      }
    }
    // Warm-up: the sequence's first statements, on the table itself.
    for (_ <- 0 until c.get("warm_statements").asInt) next("warm")
    mark(out, "setup_done_ms")
    timed(out) { (phase, deadline) =>
      // Until the window has elapsed and a whole cycle of the statement
      // mix has run in it.
      val first = i
      while ((Clock.nowMs < deadline || i - first < c.get("min_statements").asInt) &&
             i < stmts.size) next(phase)
    }
    out.put("cow_executed", i)
    out.put("cow_file_log", fileLog)
    spark.sql(s"SELECT event_id, unix_micros(ts) AS ts_us, user_id, event_type, value, props " +
      s"FROM $t ORDER BY event_id").coalesce(1).write.mode("overwrite")
      .parquet(work.resolve("cow_final").toString)
  }
}

/** Fixed CPU kernel and fixed tiny Spark job, timed at the start and end
  * of every run: the artifact carries its own host-speed reading. Inside
  * the timed window, short readings (`tick`) record the CPU accounting
  * and a few ms of the same kernel, which `run.py` adjusts timings by. */
final class HostGauge(spark: SparkSession, cores: Int) {
  private val samples = new JMap[String, Any]()
  @volatile private var sink = 0L

  private def kernelMs(iters: Int): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink += x
    (System.nanoTime() - t0) / 1e6
  }

  private def jobMs(): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 400000, 1, cores).selectExpr("sum(id * 7 % 13)").collect()
    (System.nanoTime() - t0) / 1e6
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def sample(at: String): Unit = {
    val m = new JMap[String, Any]()
    m.put("cpu_ms", median(Seq.fill(3)(kernelMs(20000000))))
    m.put("job_ms", median(Seq.fill(3)(jobMs())))
    samples.put(at, m)
  }

  def json: JMap[String, Any] = samples

  private val ticks = mutable.ArrayBuffer.empty[(Double, Double, Seq[Long])]

  /** The aggregate `cpu` line of /proc/stat (user, nice, system, idle,
    * iowait, irq, softirq, steal, ...), in jiffies. */
  private def cpuLine(): Seq[Long] =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong).toSeq).getOrElse(Seq.empty)

  /** One reading inside the timed window (before every op and at its
    * end, or between a stream's micro-batches): the CPU accounting and
    * ~5 ms of the kernel. */
  def tick(): Unit = {
    val at = Clock.nowMs
    val cpu = cpuLine()
    ticks.synchronized(ticks += ((at, kernelMs(2000000), cpu)))
  }

  def ticksJson: JList[Any] = ticks.synchronized(new JList[Any](ticks.map { case (t, k, c) =>
    new JList[Any]((Seq[Any](t, k) ++ c).asJava)
  }.asJava))
}

object HostGauge {
  /** Peak resident set of this JVM (heap, metaspace and native memory
    * such as RocksDB), from /proc. */
  def vmHwmKb: Long =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L))
      .getOrElse(-1L)
}

/** Recorded data as plain Java collections for Jackson. */
object Json {
  def ops(ops: Seq[Op]): JList[Any] = new JList[Any](ops.map { o =>
    val m = new JMap[String, Any]()
    m.put("id", o.id); m.put("name", o.name); m.put("kind", o.kind)
    m.put("phase", o.phase); m.put("start_ms", o.startMs)
    m.put("built_ms", if (o.builtMs.isNaN) null else o.builtMs)
    m.put("end_ms", o.endMs); m.put("ok", o.ok); m.put("error", o.error)
    m.put("result", o.result)
    m
  }.asJava)

  def recorder(r: Recorder, out: JMap[String, Any]): Unit = {
    out.put("jobs", new JList[Any](r.jobs.map { j =>
      val m = new JMap[String, Any]()
      m.put("id", j.id); m.put("op", j.op); m.put("start_ms", j.startMs)
      m.put("end_ms", j.endMs)
      m
    }.asJava))
    out.put("stages", new JList[Any](r.stages.values.map { s =>
      val m = new JMap[String, Any]()
      m.put("id", s.id); m.put("op", s.op); m.put("job", s.job)
      m.put("submitted_ms", s.submittedMs); m.put("completed_ms", s.completedMs)
      m
    }.toSeq.asJava))
    val totals = new JMap[String, Any]()
    r.totals.foreach { case (op, t) =>
      val m = new JMap[String, Any]()
      m.put("tasks", t.tasks); m.put("run_ms", t.runMs); m.put("cpu_ms", t.cpuNs / 1e6)
      m.put("duration_ms", t.durationMs); m.put("launch_ms", t.launchMs)
      m.put("gc_ms", t.gcMs); m.put("shuffle_read_bytes", t.shuffleReadBytes)
      m.put("shuffle_write_bytes", t.shuffleWriteBytes)
      m.put("fetch_wait_ms", t.fetchWaitMs); m.put("spill_bytes", t.spillBytes)
      m.put("input_bytes", t.inputBytes); m.put("input_records", t.inputRecords)
      m.put("peak_tasks", t.peak)
      totals.put(op, m)
    }
    out.put("task_totals", totals)
    out.put("executions", new JList[Any](r.executions.values.map { x =>
      val m = new JMap[String, Any]()
      m.put("id", x.id); m.put("start_ms", x.startMs); m.put("aqe_updates", x.aqeUpdates)
      m
    }.toSeq.asJava))
    out.put("plannings", new JList[Any](r.plannings.map { p =>
      val m = new JMap[String, Any]()
      m.put("end_ms", p.endMs)
      p.phases.foreach { case (k, (s, e)) => m.put(k + "_start_ms", s); m.put(k + "_end_ms", e) }
      m
    }.asJava))
  }
}
