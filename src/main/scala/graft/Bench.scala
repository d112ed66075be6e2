package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default matches the driver contract (local[32]); the round-10
    // mixed-cores incident was a sweep relaunched WITHOUT the env var
    // silently dropping to a local[4] default and producing exponents
    // that measured the launch command. Override only deliberately.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Scaling legibility (round-20 verdict item #2): at sf0.1 every query
    // sits on a ~0.3-0.5 s fixed-cost floor, so the driver's 8-vs-32-core
    // wall-clock ratios cannot distinguish "scales" from "serial". Emit the
    // evidence directly instead: a listener tracks the MAX number of
    // concurrently-running tasks observed during each query's timed run —
    // a query that fans 32 tasks wide is demonstrably parallel even when
    // its wall-clock is floor-bound. Reported as a separate top-level
    // "parallelism" map (additions-only; the timed methodology, query set
    // and totals are untouched). Listener-bus lag can smear a couple of
    // task-end events across query boundaries; the map is evidence of
    // available parallelism, not a precise per-query census.
    val runningTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(
          t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = {
        val r = runningTasks.incrementAndGet()
        maxTasks.getAndUpdate(m => math.max(m, r)): Unit
      }
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        runningTasks.decrementAndGet(): Unit
    })
    val parallelism = scala.collection.mutable.Map.empty[String, Int]
    // noop-write materialization: every output column is fully evaluated
    // (count() would let Catalyst prune projected expressions, silently
    // under-measuring expression cost). Two passes, best-of-2 per query:
    // single-shot numbers on a shared box carry ±2x scheduler noise.
    // A failed query yields None — logged to stderr and EXCLUDED from the
    // per-query map and total, instead of silently contributing its
    // time-to-exception to the suite number; a query that failed both
    // passes is named in the artifact's "failed" list.
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      // Label the jobs (guide §1.5) and reset the concurrency high-water
      // mark to the in-flight count (normally 0 between queries).
      spark.sparkContext.setJobDescription(name)
      maxTasks.set(runningTasks.get())
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        parallelism(name) = math.max(parallelism.getOrElse(name, 0), maxTasks.get())
        Some(sec)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      } finally {
        spark.sparkContext.setJobDescription(null)
        // Drain self-join caches between queries: entries only need to
        // live within their own query, and letting a dozen queries'
        // subtrees accumulate inflates LATE-suite numbers via storage-
        // pool eviction pressure (observed: q_triangles 3.3 s solo vs
        // 5.7 s at suite position 150+). Strictly colder, never warmer.
        graft.Tables.clearSelfJoinCache()
      }
    }
    // Dev-loop filter (comma-separated names): bench one operator without
    // the full suite. Unset = the driver's full run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(SparkEntry.selectQueries(_, "SPARK_GRAFT_ONLY"))
    val ordered = only.getOrElse(SparkEntry.queries).toSeq.sortBy(_._1)
    // Untimed warmup on the BENCHED dataset: session boot, codegen, parquet
    // reader, shuffle paths — otherwise whichever query runs first absorbs
    // ~5 s of one-off cost and numbers aren't comparable across rounds.
    // timeOnce's own try/catch keeps a missing path from killing the run.
    ordered.headOption.foreach { case (n, f) => timeOnce(n, f) }
    // Staging steps are one-time SETUP (per-query numbers measure the
    // algorithm, not the Nth rebuild of shared infrastructure) — but their
    // cost SCALES with the fixture, so the scaling bench can opt into
    // timing them (SPARK_GRAFT_TIME_STAGING=1): each appears in the
    // queries map under a `_stage_*` pseudo-key. Unset (the driver's
    // per-round run), behavior and output are unchanged.
    val timeStaging = sys.env.get("SPARK_GRAFT_TIME_STAGING").contains("1")
    val stagingTimes = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    def staged(name: String)(work: => Unit): Unit = {
      val t0 = System.nanoTime()
      try {
        work
        if (timeStaging) stagingTimes += name -> (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name staging failed: ${e.getMessage}")
      }
    }
    GraftSession.staging.foreach { case (name, stage) =>
      staged(name)(stage(spark, sfDir))
    }
    val pass1 = ordered.map { case (n, f) => n -> timeOnce(n, f) }.toMap
    val best = ordered.map { case (n, f) =>
      n -> (pass1(n).toSeq ++ timeOnce(n, f).toSeq)
    }
    val results = best.collect { case (n, t) if t.nonEmpty => n -> t.min } ++
      stagingTimes
    val failed = best.collect { case (n, t) if t.isEmpty => s"\"$n\"" }
      .sorted.mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // _stage_* pseudo-entries are reported but never counted in the suite
    // total: the total is the round-over-round comparable number.
    val counted = results.filterNot(_._1.startsWith("_"))
    val total = if (counted.nonEmpty) counted.map(_._2).sum else 0.0
    // cpus is IN the artifact: a sweep once compared local[4] numbers
    // against a local[32] anchor because the config lived only in the
    // launch command — self-describing artifacts make that impossible.
    val par = parallelism.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":$qs,"parallelism":$par,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // The driver captures the tail of stdout and has truncated the head of
    // this (long) line in past rounds; persist the full artifact to a file
    // so the per-query map always survives intact.
    try {
      // A filtered dev-loop run must not clobber the durable full-suite
      // artifact (it did in r8: a 5-query run overwrote the r7 map).
      val defaultOut =
        if (only.isDefined) "/tmp/bench_filtered.json" else "bench/bench_full.json"
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(out, line + "\n")
      System.err.println(s"[bench] full artifact written to $out")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
