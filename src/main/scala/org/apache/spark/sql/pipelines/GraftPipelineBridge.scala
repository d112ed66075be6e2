package org.apache.spark.sql.pipelines

import scala.collection.mutable
import scala.collection.mutable.ListBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.pipelines.common.FlowStatus
import org.apache.spark.sql.pipelines.graph._
import org.apache.spark.sql.pipelines.logging.{FlowProgress, PipelineEvent}
import org.apache.spark.sql.streaming.Trigger

/** Bridge into Spark 4.1's DECLARATIVE PIPELINES runtime
  * (`spark-pipelines_2.13-4.1.2.jar` — the SDP engine donated from the
  * DLT lineage): the Scala graph API (`GraphRegistrationContext` →
  * `DataflowGraph` → `PipelineUpdateContextImpl` → `PipelineExecution`)
  * is scoped `private[pipelines]`/`private[sql]` in 4.1 (the shipped
  * user entry points are the Python CLI + spark-connect handlers), so —
  * exactly like [[org.apache.spark.sql.GraftSqlBridge]] for the Column ⇄
  * Expression seam — this one-object shim lives in the
  * `org.apache.spark.sql.pipelines` package and exposes a minimal public
  * surface: declare batch tables from SQL, run the triggered update
  * in-process, hand back the pipeline's event log.
  *
  * What the runtime does with the declaration (none of it reimplemented
  * here — the POINT is exercising the shipped engine): topologically
  * sorts flows by their table references, analyzes each flow's plan
  * against upstream PIPELINE tables, materializes every table into the
  * session catalog (`DatasetManager`), and executes flows with
  * dependency-aware scheduling + retries (`TriggeredGraphExecution`).
  */
object GraftPipelineBridge extends Logging {

  /** One declared batch table: `name` materializes in `database` from
    * `sql`, which may reference other declared tables by name — those
    * references become the dataflow edges.
    */
  final case class TableSpec(name: String, sql: String)

  /** Declare and run a batch pipeline; returns the event log lines the
    * runtime emitted (flow queued/running/finished transitions), which
    * callers can assert scheduling order on. Tables materialize as
    * `spark_catalog.<database>.<name>` parquet tables readable by any
    * follow-up query.
    *
    * Failed flows are not retried: the first flow failure fails the
    * pipeline (the shipped triggered scheduler would retry with backoff
    * first). There is no wall-clock cap; each flow runs until it
    * completes or fails.
    */
  def runBatchPipeline(spark: SparkSession, database: String,
                       tables: Seq[TableSpec], storageRoot: String): Seq[String] = {
    val ctx = new GraphRegistrationContext(
      defaultCatalog = "spark_catalog", defaultDatabase = database,
      defaultSqlConf = Map.empty)
    tables.foreach { t =>
      val ident = TableIdentifier(t.name, Some(database), Some("spark_catalog"))
      ctx.registerTable(Table(
        identifier = ident,
        specifiedSchema = None,
        partitionCols = None,
        clusterCols = None,
        normalizedPath = None,
        properties = Map.empty,
        comment = None,
        origin = QueryOrigin.empty,
        isStreamingTable = false,
        format = Some("parquet")))
      val plan = spark.sessionState.sqlParser.parsePlan(t.sql)
      ctx.registerFlow(new UnresolvedFlow(
        identifier = ident,
        destinationIdentifier = ident,
        func = FlowAnalysis.createFlowFunctionFromLogicalPlan(plan),
        queryContext = QueryContext(Some("spark_catalog"), Some(database)),
        sqlConf = Map.empty,
        once = false,
        origin = QueryOrigin.empty))
    }
    val graph = ctx.toDataflowGraph
    val events = ListBuffer.empty[String]
    // Flow-completion tracker fed by the SAME event stream callers see:
    // the scheduler below gates downstream starts on the upstream flow's
    // COMPLETED progress event having been RECORDED (not merely its
    // future having fired), so the event log keeps the strict
    // completed-before-dependent-runs order the shipped scheduler has.
    val completed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val updateCtx = new PipelineUpdateContextImpl(
      unresolvedGraph = graph,
      eventCallback = e => {
        completedFlow(e).foreach(completed.add(_): Unit)
        events.synchronized { events += e.toString }: Unit
      },
      refreshTables = AllTables,
      fullRefreshTables = NoTables,
      storageRoot = storageRoot)
    runTriggeredBatch(updateCtx, completed)
    events.synchronized(events.toList)
  }

  /** The display name of the flow a COMPLETED progress event reports
    * (the event logger sets the origin's `flowName` to the flow's
    * `displayName`), read from the event's structured details.
    */
  private[pipelines] def completedFlow(e: PipelineEvent): Option[String] =
    e.details match {
      case FlowProgress(FlowStatus.COMPLETED) => e.origin.flowName
      case _ => None
    }

  /** Resolve, materialize and execute a BATCH dataflow graph with
    * millisecond-granularity completion detection.
    *
    * Why not `pipelineExecution.runPipeline()`: the shipped
    * `TriggeredGraphExecution` scheduler thread sleeps
    * `spark.sql.pipelines.execution.streamstate.pollingInterval` — an
    * INTEGER-second conf, `Thread.sleep(conf * 1000)` — between wave
    * launches, so a pipeline of W dependency waves of sub-100 ms batch
    * flows pays a ~(W+1)-second floor regardless of flow cost (measured
    * 3.2-3.3 s on the 2-wave q_sdp_pipeline fixture; setting the conf to
    * 0 was measured in round 19 to break completion detection). At
    * production flow durations the poll is invisible; at benchmark flow
    * durations it IS the number. This method keeps every shipped engine
    * piece that does real work — `DataflowGraph.resolve`/`validate`,
    * `DatasetManager.materializeDatasets`, `FlowPlanner` via
    * `GraphExecution.planAndStartFlow` (which also emits the standard
    * QUEUED/PLANNING/STARTING/RUNNING/COMPLETED event-log lifecycle) —
    * and replaces only the fixed-cadence wave loop with an event-driven
    * await on the flow futures themselves.
    *
    * Failure semantics are FAIL-FAST (first flow failure propagates,
    * after the engine's own `recordFailed` event fires through
    * `planAndStartFlow`'s completion hook); the shipped scheduler would
    * retry with backoff first. None of the declared pipelines exercise
    * retry, and a bench/verify run must fail loudly, not 2^n-backoff
    * through a deterministic failure.
    */
  private def runTriggeredBatch(env: PipelineUpdateContext,
                                completed: java.util.Set[String]): Unit = {
    val resolved = env.unresolvedGraph.resolve().validate()
    val materialized = DatasetManager.materializeDatasets(resolved, env)
    val exec = new GraphExecution(materialized, env) {
      // Batch flows never consult the trigger; same default as the
      // triggered scheduler uses for `once` flows.
      override def streamTrigger(flow: Flow): Trigger = Trigger.AvailableNow()
      override def awaitCompletion(): Unit = ()
      override def getRunTerminationReason: RunTerminationReason =
        RunCompletion()
    }
    exec.start() // stream listener registration — parity with the shipped path
    try {
      val flows = materialized.resolvedFlows
      flows.foreach(env.flowProgressEventLogger.recordQueued)
      // Upstream gating uses the graph's own transitive upstream-flow
      // closure restricted to flows scheduled in this run.
      val scheduledIds = flows.map(_.identifier).toSet
      val upstreamOf: Map[TableIdentifier, Set[TableIdentifier]] =
        flows.map { f =>
          f.identifier ->
            materialized.upstreamFlows(f.identifier).intersect(scheduledIds)
        }.toMap
      val pending = mutable.Queue(flows: _*)
      val running = mutable.Map.empty[TableIdentifier, (ResolvedFlow, FlowExecution)]
      val done = mutable.Set.empty[TableIdentifier]
      // Future-fired-but-event-unseen grace window: the COMPLETED event is
      // emitted by planAndStartFlow's hook on the flow's own execution
      // context, normally sub-ms after the future fires. If it never
      // arrives, proceed after the window with a warning instead of
      // hanging — ordering parity is then best-effort for that flow,
      // completion detection is not.
      val firedAt = mutable.Map.empty[TableIdentifier, Long]
      def flowRecorded(id: TableIdentifier, f: ResolvedFlow): Boolean =
        completed.contains(f.displayName) || {
          val t = firedAt.getOrElseUpdate(id, System.nanoTime())
          val expired = (System.nanoTime() - t) > 2L * 1000 * 1000 * 1000
          if (expired)
            logWarning(s"flow ${f.displayName} finished but its COMPLETED " +
              "event was not seen within 2 s; starting its dependents anyway")
          expired
        }
      while (done.size < flows.size) {
        val startable = pending.dequeueAll { f =>
          upstreamOf(f.identifier).subsetOf(done)
        }
        startable.foreach { f =>
          env.flowProgressEventLogger.recordPlanningForBatchFlow(f)
          val fe = exec.planAndStartFlow(f).getOrElse(
            throw new IllegalStateException(
              s"flow ${f.displayName} could not be planned"))
          running += f.identifier -> (f, fe)
        }
        require(running.nonEmpty,
          s"pipeline stalled: ${pending.size} flows pending, none startable")
        // Event-driven wait: wake when ANY running flow's future fires
        // (an already-fired future returns immediately, so the re-check
        // loop below costs ~1 ms per pass while a completion event is
        // still in flight). Uncapped: each flow future completes or
        // fails by itself.
        Await.ready(
          Future.firstCompletedOf(running.values.map(_._2.getFuture))(
            ExecutionContext.parasitic),
          Duration.Inf): Unit
        val finished = running.filter { case (id, (f, fe)) =>
          fe.isCompleted && (fe.exception.nonEmpty || flowRecorded(id, f))
        }
        finished.foreach { case (id, (f, fe)) =>
          fe.exception.foreach(throw _)
          done += id
          running -= id
        }
        if (finished.isEmpty) Thread.sleep(1) // completion event in flight
      }
    } finally exec.stop()
  }
}
