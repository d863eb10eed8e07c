package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one span (a query of a batch pass, a drain, a rate step). */
final class SpanStats {
  var jobs, stages, tasks = 0L
  var schedDelayMs, runMs, cpuMs, bytesRead, shuffleWrite, shuffleRead, spill = 0L
  var analysisMs, optimizationMs, planningMs, scanMs, wscMs = 0L
  var compiles = 0L
  var compileMs, gcMs, heapPeakMb, buildMs = 0.0
  var eagerJobs = 0L
  /** stage id -> task durations, and -> (submission, completion) */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageSpan = mutable.Map.empty[Int, (Long, Long)]
}

/** The traced run's instrumentation, registered from outside the engine:
  * a SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (planning phases, scan and whole-stage-codegen SQL metrics), a
  * StreamingQueryListener (micro-batch progress), the codegen compile
  * counters and the GC / memory-pool MXBeans. Events are attributed to the
  * current span; each span ends by draining the listener bus, so no event of
  * one span lands in the next. Spans stay in memory until the run ends.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var current: String = "idle"
  private val spans = mutable.LinkedHashMap.empty[String, SpanStats]
  /** (span, progress, the table's latest id when the progress arrived) */
  val progress = new ConcurrentLinkedQueue[(String, StreamingQueryProgress, Long)]()
  @volatile var lagProbe: () => Long = () => -1L

  private def cur: SpanStats = spans.getOrElseUpdate(current, new SpanStats)
  def stats(name: String): SpanStats = synchronized(spans.getOrElseUpdate(name, new SpanStats))
  def spanNames: Seq[String] = synchronized(spans.keys.toSeq)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      cur.jobs += 1; cur.eagerJobs += (if (building) 1 else 0)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      cur.stages += 1
      stageOwner(e.stageInfo.stageId) = current
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val owner = spans.getOrElseUpdate(stageOwner.getOrElse(i.stageId, current), new SpanStats)
      owner.stageSpan(i.stageId) = (i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = spans.getOrElseUpdate(stageOwner.getOrElse(e.stageId, current), new SpanStats)
      s.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        val dur = info.finishTime - info.launchTime
        s.runMs += m.executorRunTime
        s.cpuMs += m.executorCpuTime / 1000000L
        s.schedDelayMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
        s.bytesRead += m.inputMetrics.bytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += dur
      }
    }
  }
  private val stageOwner = mutable.Map.empty[Int, String]
  @volatile private var building = false

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val s = cur
        val ph = qe.tracker.phases
        s.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        s.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        s.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        nodes(qe.executedPlan).foreach {
          case f: FileSourceScanExec =>
            s.scanMs += f.metrics.get("scanTime").map(_.value).getOrElse(0L)
          case w: WholeStageCodegenExec =>
            s.wscMs += w.metrics.get("pipelineTime").map(_.value).getOrElse(0L)
          case _ => ()
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case other =>
      Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
        other.subqueries.iterator.flatMap(nodes)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((current, e.progress, lagProbe()))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Runs `body` as span `name`; the query-building part of a batch query
    * is marked by [[build]].
    */
  def span[T](name: String)(body: => T): T = {
    ListenerDrain(spark.sparkContext)
    current = name
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ct0 = CodeGenerator.compileTime
    try body
    finally {
      ListenerDrain(spark.sparkContext)
      synchronized {
        val s = cur
        s.gcMs += gcMs - gc0
        s.heapPeakMb = math.max(s.heapPeakMb,
          heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
        s.compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        s.compileMs += (CodeGenerator.compileTime - ct0) / 1e6
      }
      current = "idle"
    }
  }

  /** Marks the query-construction part of a batch query: jobs launched in
    * here are the query function's eager driver-side actions. The frame's
    * own analysis happens here too (it is eager); optimization and planning
    * come later, with the write.
    */
  def build(body: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t0 = System.nanoTime()
    building = true
    try {
      val df = body
      val a = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      synchronized { cur.analysisMs += a }
      df
    } finally {
      ListenerDrain(spark.sparkContext)
      building = false
      synchronized { cur.buildMs += (System.nanoTime() - t0) / 1e6 }
    }
  }

  /** Progress-derived metrics of the micro-batches a CDC span ran, plus the
    * hub lag of each delivered event: arrival minus the end of the sink write
    * of the batch that carried it.
    */
  def cdcBatches(label: String, queryId: java.util.UUID, arrivals: Map[Long, Seq[Long]]): Unit = {
    ListenerDrain(spark.sparkContext)
    val ps = progress.asScala.toSeq.filter(p => p._1 == label && p._2.id == queryId)
    if (ps.isEmpty) return
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val batches = ps.map(_._2)
    val m = mutable.Map.empty[String, Double]
    m(s"cdc_source.fetch_ms.$label") = Stats.mean(batches.map(p => d(p, "latestOffset") + d(p, "getBatch")))
    m(s"cdc_source.rows_per_batch.$label") = Stats.mean(batches.map(_.numInputRows.toDouble))
    // rows committed to the table but past the batch's end offset, sampled
    // as each batch reports progress
    m(s"cdc_source.lag_rows.$label") = Stats.mean(ps.map { case (_, p, latest) =>
      p.sources.headOption.map(src => (latest - offsetId(src.endOffset)).toDouble).getOrElse(0.0)
    })
    m(s"cdc_source.empty_batch_frac.$label") =
      batches.count(_.numInputRows == 0).toDouble / batches.size
    val trig = batches.map(p => d(p, "triggerExecution"))
    m(s"cdc_stream.trigger_ms.p50.$label") = Stats.pct(trig, 0.5)
    m(s"cdc_stream.trigger_ms.p99.$label") = Stats.pct(trig, 0.99)
    m(s"cdc_stream.plan_ms.$label") = Stats.mean(batches.map(p => d(p, "queryPlanning")))
    m(s"cdc_stream.wal_ms.$label") = Stats.mean(batches.map(p => d(p, "walCommit") + d(p, "commitOffsets")))
    m(s"cdc_stream.exec_ms.$label") = Stats.mean(batches.map(p => d(p, "addBatch")))
    val state = batches.flatMap(_.stateOperators.headOption)
    m(s"cdc_stream.state_commit_ms.$label") = Stats.mean(state.map(_.commitTimeMs.toDouble))
    m(s"cdc_stream.state_rows.$label") = state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    m(s"cdc_stream.state_bytes.$label") = state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
    // batch id range and sink-write end, on the wall clock
    val base = (System.currentTimeMillis(), System.nanoTime())
    val ends = batches.filter(_.numInputRows > 0).flatMap { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val sinkEnd = start + d(p, "latestOffset") + d(p, "walCommit") + d(p, "getBatch") +
        d(p, "queryPlanning") + d(p, "addBatch")
      p.sources.headOption.map(src => (offsetId(src.startOffset), offsetId(src.endOffset), sinkEnd))
    }.sortBy(_._2)
    val lags = arrivals.toSeq.flatMap { case (id, arr) =>
      ends.find(e => id > e._1 && id <= e._2).toSeq.flatMap { e =>
        arr.map(a => base._1 + (a - base._2) / 1e6 - e._3)
      }
    }
    m(s"listen.delivered.$label") = arrivals.valuesIterator.map(_.size).sum.toDouble
    if (lags.nonEmpty) m(s"listen.hub_lag_ms.p99.$label") = Stats.pct(lags, 0.99)
    synchronized { extra ++= m }
  }

  private def offsetId(json: String): Long =
    Option(json).flatMap("""-?\d+""".r.findFirstIn(_)).map(_.toLong).getOrElse(-1L)

  /** Metrics recorded outside the span counters (CDC progress, kernels). */
  val extra = mutable.Map.empty[String, Double]
}

object Tracer {
  def within[T](t: Option[Tracer], name: String)(body: => T): T = t match {
    case Some(tr) => tr.span(name)(body)
    case None => body
  }
}
