package perfbench

import scala.collection.mutable

import graft.Graft
import graft.functions.MergePatch
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds it, launches it from
  * the compiled classes and turns its result line into the benchmark record.
  *
  * Usage: `perfbench.Main <workload|trace> <seed> <seconds> <cpus> <scratchDir>
  *   <dataDir> [plant]` — prints one `PERFBENCH_RESULT {json}` line.
  */
object Main {
  /** Backlog size: one large batch per drain, about 2 s on a 4-core box. */
  val BacklogEvents = 50000
  val Rates = Seq("r500" -> 500.0, "r5000" -> 5000.0)

  def session(cpus: Int, scratch: String): SparkSession = {
    val spark = Graft.sessionBuilder()
      .master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, cpusS, scratch, dataDir) = args.take(6)
    val plant = args.lift(6).getOrElse("none")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val cpus = cpusS.toInt
    var spark = Phase("session start")(session(cpus, scratch))
    val dump = s"$scratch/check"
    var batchFailed = Set.empty[String]
    val out = workload match {
      case "cdc_backlog" =>
        new Cdc(spark, cpus, scratch, None, plant)
          .backlog(seed, BacklogEvents, seconds, minDrains = 4)
      case "cdc_live" =>
        new Cdc(spark, cpus, scratch, None, plant)
          .live(seed, Rates, stepSeconds = seconds / Rates.size, warmSeconds = 1.5)
      case "batch_ops" =>
        val b = new Batch(spark, dataDir, dump, seed, None, plant)
        val o = batchRun(b, seconds)
        batchFailed = b.failures
        o
      case "trace" =>
        val (o, failedQueries) = traceSweep(spark, seed, cpus, scratch, dataDir, dump, plant)
        batchFailed = failedQueries
        spark = SparkSession.getActiveSession.getOrElse(spark)
        o
      case other => sys.error(s"unknown workload: $other")
    }
    Phase("session stop")(spark.stop())
    val metrics = out.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val failedNames = batchFailed.toSeq.sorted.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    println(s"""PERFBENCH_RESULT {"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""first_unit_ms":${out.firstUnitMs},"batch_failed":$failedNames,"metrics":$metrics}""")
  }

  /** Timed passes until `seconds` are spent (at least two). Each query counts
    * with its best pass, as `graft.Bench` takes the minimum across pass-major
    * sweeps: a burst of host noise inflates one pass, not the result. Reports
    * queries per second over the summed best times and the per-query
    * percentiles.
    */
  def batchRun(b: Batch, seconds: Double): Outcome = {
    b.checkPass()
    val first = System.currentTimeMillis()
    val best = mutable.Map.empty[String, Double]
    var passes = 0
    var spent = 0.0
    while (passes < 2 || (spent < seconds && passes < 6)) {
      System.gc()
      val times = b.timedPass(b.short, "short") ++ b.timedPass(b.heavy, "heavy")
      times.foreach { case (q, t) => best(q) = math.min(t, best.getOrElse(q, t)) }
      spent += times.map(_._2).sum
      passes += 1
    }
    val ms = best.values.map(_ * 1000).toSeq
    Outcome(b.size, b.failures.size, first, Map(
      "throughput_per_s" -> ms.size / (ms.sum / 1000),
      "latency_p50_ms" -> Stats.pct(ms, 0.50),
      "latency_p99_ms" -> Stats.pct(ms, 0.99),
      "samples.throughput_per_s" -> passes.toDouble,
      "samples.latency_ms" -> ms.size.toDouble))
  }

  /** The traced run covers every workload, so every per-layer metric is
    * measured in one process: the cold batch check pass and one timed pass
    * traced, then one untraced pass; three backlog drains with the middle one
    * traced; the merge-patch kernel timed directly; both live rate steps
    * traced; and last one untraced drain on a single core for the scaling
    * ratio.
    */
  def traceSweep(spark0: SparkSession, seed: Long, cpus: Int, scratch: String,
                 dataDir: String, dump: String, plant: String): (Outcome, Set[String]) = {
    var spark = spark0
    val m = mutable.Map.empty[String, Double]
    val tracer = new Tracer(spark)

    // batch_ops: the cold check pass and one timed pass traced, then one
    // untraced pass (which, warmer, errs toward overstating the overhead)
    val plain = new Batch(spark, dataDir, dump, seed, None, plant)
    val traced = new Batch(spark, dataDir, dump, seed, Some(tracer), plant)
    def pass(b: Batch) = b.timedPass(b.short, "short") ++ b.timedPass(b.heavy, "heavy")
    tracer.register()
    traced.checkPass()
    val first = System.currentTimeMillis()
    val tracedPass = pass(traced)
    tracer.unregister()
    val untraced = pass(plain)
    def listSum(list: Seq[String]) = untraced.filter(q => list.contains(q._1)).map(_._2).sum
    m("short_pass_s") = listSum(plain.short)
    m("heavy_pass_s") = listSum(plain.heavy)
    m("trace.overhead_frac.batch_ops") =
      tracedPass.map(_._2).sum / untraced.map(_._2).sum - 1
    m ++= batchLayers(tracer, "short", _ => true)
    m ++= batchLayers(tracer, "heavy", _ => true)
    Seq("short", "heavy").foreach { l =>
      val c = batchLayers(tracer, s"cold-$l", _ => true)
      m(s"codegen.compiles.$l") = c(s"codegen.compiles.cold-$l")
      m(s"codegen.compile_ms.$l") = c(s"codegen.compile_ms.cold-$l")
    }
    m("exchange.shuffle_write_bytes.pairs") =
      batchLayers(tracer, "heavy", plain.pairs)("exchange.shuffle_write_bytes.heavy")
    m("exec.run_ms.serve") = batchLayers(tracer, "heavy", plain.serve)("exec.run_ms.heavy")
    val failedQueries = plain.failures ++ traced.failures
    val batchOut = Outcome(plain.size, failedQueries.size, first, Map.empty)

    // cdc_backlog: drains untraced, traced, untraced; then the merge-patch
    // kernel on its own
    val n = Main.BacklogEvents
    val cdc = new Cdc(spark, cpus, scratch, Some(tracer), plant)
    val drains = cdc.backlog(seed, n, 0, minDrains = 3, tracedDrains = Set(1))
    val rate = drains.metrics("events_per_s")
    m("events_per_s") = rate
    m("trace.overhead_frac.cdc_backlog") = drains.metrics("trace.overhead_frac.cdc_backlog")
    m("listen.dropped.cdc_backlog") = drains.metrics("listen.dropped.cdc_backlog")
    m("exchange.shuffle_write_bytes.cdc_backlog") = tracer.stats("cdc_backlog").shuffleWrite.toDouble
    m ++= mergePatchKernel(seed, n)

    // cdc_live: both rate steps, traced
    tracer.register()
    val liveOut = cdc.live(seed, Rates, stepSeconds = 2.0, warmSeconds = 1.0, traced = true)
    tracer.unregister()
    m ++= liveOut.metrics.filter { case (k, _) =>
      k.startsWith("latency_p") && k.contains(".r") || k.startsWith("loadgen.") ||
        k.startsWith("listen.dropped") }
    Rates.foreach { case (label, _) => m(s"jvm.gc_ms.$label") = tracer.stats(label).gcMs }
    m ++= tracer.extra

    // single-core drain for the scaling ratio
    spark.stop()
    spark = session(1, scratch)
    val single = new Cdc(spark, 1, scratch, None, plant).backlog(seed, n, 0, minDrains = 1,
      label = "local1", warmups = 1)
    m("spark.scaling_x") = rate / single.metrics("events_per_s")

    val all = batchOut + drains + liveOut + single
    (all.copy(firstUnitMs = first, metrics = m.toMap), failedQueries)
  }

  /** Per-layer counters of one batch list, summed over its queries (the
    * heap peak is the list's maximum; the task skew is taken in the list's
    * longest stage).
    */
  def batchLayers(t: Tracer, list: String, keep: String => Boolean): Map[String, Double] = {
    val ss = t.spanNames.filter(n => n.startsWith(list + "/") && keep(n.drop(list.length + 1)))
      .map(t.stats)
    def sum(f: SpanStats => Double) = ss.map(f).sum
    val stages = ss.flatMap(s => s.stageSpan.toSeq.map { case (id, (a, b)) => (b - a, s.stageTasks.getOrElse(id, Nil)) })
    val longest = stages.filter(_._2.size > 1).sortBy(-_._1).headOption.map(_._2.map(_.toDouble).toSeq)
    val ratio = longest.map(ts => ts.max / math.max(1.0, Stats.median(ts))).getOrElse(1.0)
    Map(
      "entry.build_ms" -> sum(_.buildMs),
      "entry.eager_jobs" -> sum(_.eagerJobs.toDouble),
      "plan.analysis_ms" -> sum(_.analysisMs.toDouble),
      "plan.optimization_ms" -> sum(_.optimizationMs.toDouble),
      "plan.planning_ms" -> sum(_.planningMs.toDouble),
      "codegen.compiles" -> sum(_.compiles.toDouble),
      "codegen.compile_ms" -> sum(_.compileMs),
      "exec.jobs" -> sum(_.jobs.toDouble),
      "exec.stages" -> sum(_.stages.toDouble),
      "exec.tasks" -> sum(_.tasks.toDouble),
      "exec.sched_delay_ms" -> sum(_.schedDelayMs.toDouble),
      "scan.bytes_read" -> sum(_.bytesRead.toDouble),
      "scan.time_ms" -> sum(_.scanMs.toDouble),
      "exchange.shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
      "exchange.shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
      "exchange.max_task_ratio" -> ratio,
      "kernel.wsc_ms" -> sum(_.wscMs.toDouble),
      "exec.cpu_ms" -> sum(_.cpuMs.toDouble),
      "exec.run_ms" -> sum(_.runMs.toDouble),
      "exec.spill_bytes" -> sum(_.spill.toDouble),
      "jvm.gc_ms" -> sum(_.gcMs),
      "jvm.heap_peak_mb" -> (if (ss.isEmpty) 0.0 else ss.map(_.heapPeakMb).max)
    ).map { case (k, v) => s"$k.$list" -> v }
  }

  /** `MergePatch.createMergePatch` timed directly on the UPDATE pairs of the
    * backlog log (each UPDATE against the key's previous document).
    */
  def mergePatchKernel(seed: Long, n: Int): Map[String, Double] = {
    val log = new ChangeLog(seed, 100000).changes(1, n, _ => null)
    val last = mutable.HashMap.empty[Long, String]
    val pairs = log.flatMap { r =>
      val p = last.get(r.user_id).filter(_ => graft.streaming.CdcStream.opOf(r.event_type) == "UPDATE")
      last(r.user_id) = r.props
      p.map(prev => (r.props, prev))
    }
    var calls = 0L
    var sink = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 1000000000L) {
      pairs.foreach { case (c, p) => sink += MergePatch.createMergePatch(c, p).length }
      calls += pairs.size
    }
    val ns = (System.nanoTime() - t0).toDouble
    require(sink > 0)
    Map("merge_patch.calls" -> pairs.size.toDouble, "merge_patch.ns_per_call" -> ns / calls)
  }
}
