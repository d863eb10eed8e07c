package perfbench

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.Graft
import graft.cdc.{EventLog, Redactions}
import graft.functions.MergePatch
import graft.streaming.{CdcStream, Listen, ListenServer, ListenSink, PqsClient}
import graft.streaming.CdcStream.RawChange
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** One subscriber connection: sends the ListenRequest and records every
  * delivered line with its arrival instant. The reader thread is the only
  * writer; readers of `lines`/`arrivals` look at indexes below `count`.
  */
final class Subscriber(port: Int, handshake: String, capacity: Int) extends AutoCloseable {
  val lines = new Array[String](capacity)
  val arrivals = new Array[Long](capacity)
  @volatile var count = 0
  private val sock = new Socket("127.0.0.1", port)
  private val reader = new Thread(() => {
    try {
      val w = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8))
      w.write(handshake); w.write('\n'); w.flush()
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8), 1 << 16)
      var line = in.readLine()
      while (line != null) {
        val t = System.nanoTime()
        // past capacity (only duplicates get there) lines are not kept; the
        // events they duplicate are already failed by the missing/duplicate check
        if (count < capacity) { lines(count) = line; arrivals(count) = t; count += 1 }
        line = in.readLine()
      }
    } catch { case _: java.io.IOException => () } // closed by close()
  }, "perfbench-subscriber")
  reader.setDaemon(true)
  reader.start()

  override def close(): Unit = { sock.close(); reader.join(10000) }
}

/** The CDC workloads: the engine's change pipeline from the JDBC capture
  * source through the prev-image state, redaction, the Event envelope and the
  * socket sink into the fan-out hub, read back by two subscriber sockets.
  */
final class Cdc(spark: SparkSession, cpus: Int, scratch: String, tracer: Option[Tracer],
                plant: String) {
  import spark.implicits._

  private val redactions = Redactions.decode("""{"public":{"events":["email"]}}""")
  private val json = new ObjectMapper()

  private def wall(nanos: Long, base: (Long, Long)): Long =
    base._1 + (nanos - base._2) / 1000000L

  /** The pipeline under test, started against `url`, delivering to `port`.
    * A planted fault rewrites one event's `changes` or drops one event, for
    * the benchmark's own self-test.
    */
  private def start(url: String, port: Int, plantId: Long): StreamingQuery = {
    val id = Cdc.queries.incrementAndGet()
    val events = Graft.withPrevImages(
        Graft.cdcStream(spark, url, "events", numPartitions = cpus).as[RawChange])
      .toDF()
      .withColumn("schema", lit("public")).withColumn("tbl", lit("events"))
    val redact = (c: String) => Redactions.applyMap(col(c), col("schema"), col("tbl"), redactions)
    val changes = if (plant == "changes")
      when(col("event_id") === plantId, lit("""{"planted":true}""")).otherwise(redact("changes"))
    else redact("changes")
    val kept = if (plant == "drop") events.filter(col("event_id") =!= plantId) else events
    kept.select(lit("events").as("table"),
        Listen.eventJson(col("schema"), col("tbl"), col("op"), col("event_id"),
          redact("payload"), changes).as("event"))
      .writeStream.outputMode("append").queryName(s"cdc_$id")
      .option("checkpointLocation", s"$scratch/ckpt_$id")
      .foreach(ListenSink.writer("127.0.0.1", port))
      .start()
  }

  /** The batch path over the same log (EventLog.normalize plus the merge-patch
    * kernel, as `cdc_changes` computes it): op and `changes` per event id.
    */
  private def expected(log: Seq[RawChange]): Map[Long, (String, String)] =
    EventLog.normalize(log.toDF())
      .select(col("event_id"), col("op"),
        when(col("op") === "UPDATE" && col("prev_props").isNotNull,
          MergePatch.json_merge_patch(col("props"), col("prev_props"))).as("changes"))
      .as[(Long, String, String)].collect()
      .map { case (id, op, ch) => id -> (op, ch) }.toMap

  private def redacted(doc: String): JsonNode = {
    val n = json.readTree(doc)
    n match { case o: ObjectNode => o.remove("email"); case _ => () }
    n
  }

  /** Checks every event with an id in `ids` against the batch path: present
    * exactly once at both subscribers, byte-identical across them, with the
    * right op, redacted payload and redacted `changes`. Returns the failed
    * count and each event's arrival instants (for latency).
    */
  private def check(ids: Seq[Long], log: Map[Long, RawChange],
                    want: Map[Long, (String, String)],
                    subs: Seq[(Subscriber, Int, Int)]): (Long, Map[Long, Seq[Long]]) = {
    val seen = subs.map { case (s, from, to) =>
      val m = scala.collection.mutable.HashMap.empty[Long, ArrayBuffer[Int]]
      (from until to).foreach { i =>
        m.getOrElseUpdate(PqsClient.eventId(s.lines(i)), ArrayBuffer.empty) += i
      }
      (s, m)
    }
    val idSet = ids.toSet
    val strays = seen.map(_._2.keysIterator.count(id => !idSet.contains(id))).sum.toLong
    var failed = 0L
    val arrivals = Map.newBuilder[Long, Seq[Long]]
    ids.foreach { id =>
      val hits = seen.map { case (s, m) => m.get(id).map(_.toSeq.map(i => (s.lines(i), s.arrivals(i)))).getOrElse(Nil) }
      val ok = hits.forall(_.size == 1) && hits.map(_.head._1).distinct.size == 1 && {
        val line = json.readTree(hits.head.head._1)
        val (op, changes) = want(id)
        line.path("schema").asText() == "public" && line.path("table").asText() == "events" &&
          line.path("op").asText() == op &&
          line.path("payload") == redacted(log(id).props) &&
          (if (changes == null) !line.has("changes") else line.path("changes") == redacted(changes))
      }
      if (ok) arrivals += id -> hits.map(_.head._2) else failed += 1
    }
    (failed + strays, arrivals.result())
  }

  /** The first UPDATE of a key seen before: an event that carries `changes`. */
  private def plantTarget(log: Seq[RawChange]): Long = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    log.find(r => !seen.add(r.user_id) && CdcStream.opOf(r.event_type) == "UPDATE")
      .map(_.event_id).getOrElse(-1L)
  }

  private def awaitCount(subs: Seq[Subscriber], target: Int, graceMs: Long): Unit = {
    var last = subs.map(_.count).sum
    var quietSince = System.nanoTime()
    while (subs.exists(_.count < target) &&
           System.nanoTime() - quietSince < graceMs * 1000000L) {
      Thread.sleep(1)
      val now = subs.map(_.count).sum
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
  }

  private def hubWithSubscribers(handshake: String, capacity: Int,
                                 queue: Int): (ListenServer, Seq[Subscriber]) = {
    val hub = new ListenServer(queueCapacity = queue)
    val subs = Seq.fill(2)(new Subscriber(hub.boundPort, handshake, capacity))
    val deadline = System.nanoTime() + 10000000000L
    while (hub.subscriberCount < 2 && System.nanoTime() < deadline) Thread.sleep(2)
    require(hub.subscriberCount == 2, "subscribers did not register with the hub")
    (hub, subs)
  }

  /** One closed-loop drain of the whole table, from query start until the last
    * event reached both subscribers; checked unless `verify` is off.
    */
  private def drain(db: DerbyLog, log: Vector[RawChange], want: => Map[Long, (String, String)],
                    byId: Map[Long, RawChange], plantId: Long, verify: Boolean = true): Drain = {
    val n = log.size
    val (hub, subs) = hubWithSubscribers(
      s"""{"tableRegexp":"events","buffer":"${n + 16}"}""", n + 16, queue = n + 16)
    try {
      val t0 = System.nanoTime()
      val q = start(db.url, hub.boundPort, plantId)
      try {
        q.processAllAvailable()
        awaitCount(subs, n, graceMs = 3000)
      } finally q.stop()
      val end = subs.flatMap(s => (0 until s.count).map(s.arrivals)).foldLeft(t0)(math.max)
      val (failed, arrivals) = if (!verify) (0L, Map.empty[Long, Seq[Long]])
        else Phase("check drain")(check(log.map(_.event_id), byId, want, subs.map(s => (s, 0, s.count))))
      Drain((end - t0) / 1e9, failed, hub.droppedCount, arrivals, q.id, t0)
    } finally { subs.foreach(_.close()); hub.close() }
  }

  /** `cdc_backlog`: a seeded log of `n` changes over 100k Zipf keys is loaded
    * before timing; each timed drain starts a fresh query (fresh checkpoint
    * and state) and runs until the last event reaches both subscribers.
    */
  def backlog(seed: Long, n: Int, seconds: Double, minDrains: Int,
              tracedDrains: Set[Int] = Set.empty, label: String = "cdc_backlog",
              warmups: Int = 2): Outcome = {
    val base = System.currentTimeMillis()
    val log = Phase("generate backlog")(new ChangeLog(seed, 100000).changes(1, n, id => new Timestamp(base + id)))
    val db = new DerbyLog(s"backlog_${seed}_$label")
    try {
      Phase("load backlog")(db.load(log))
      lazy val want = expected(log)
      val byId = log.iterator.map(r => r.event_id -> r).toMap
      val plantId = plantTarget(log)
      // untimed, unchecked drains of the same log: JIT and codegen warm-up
      (1 to warmups).foreach(_ => Phase("warm-up drain")(drain(db, log, Map.empty, Map.empty, -1L, verify = false)))
      tracer.foreach(_.lagProbe = () => db.latestId())
      val first = System.currentTimeMillis()
      val rates, tracedRates, p50s, p99s = ArrayBuffer.empty[Double]
      var samples = 0L
      var failed = 0L
      var dropped = 0L
      var spent = 0.0
      var drains = 0
      while (drains < minDrains || (spent < seconds && drains < 12)) {
        val tr = if (tracedDrains(drains)) tracer else None
        System.gc() // each drain starts from a collected heap, not the last check's garbage
        tr.foreach(_.register())
        val d =
          try Tracer.within(tr, label)(drain(db, log, want, byId, plantId))
          finally tr.foreach(_.unregister())
        System.err.println(f"[perfbench] drain $drains: ${d.secs}%.3f s")
        drains += 1
        spent += d.secs
        (if (tr.isDefined) tracedRates else rates) += (n - d.failed) / d.secs
        failed += d.failed
        dropped += d.dropped
        if (tr.isEmpty && d.arrivals.nonEmpty) {
          val lat = d.arrivals.valuesIterator.flatten.map(a => (a - d.t0) / 1e6).toSeq
          p50s += Stats.pct(lat, 0.50); p99s += Stats.pct(lat, 0.99); samples += lat.size
        }
        tr.foreach(_.cdcBatches(label, d.queryId, d.arrivals))
      }
      val m = Map(
        "throughput_per_s" -> Stats.median(rates.toSeq),
        "latency_p50_ms" -> Stats.median(p50s.toSeq),
        "latency_p99_ms" -> Stats.median(p99s.toSeq),
        "events_per_s" -> Stats.median(rates.toSeq),
        "samples.throughput_per_s" -> rates.size.toDouble,
        "samples.latency_ms" -> samples.toDouble,
        s"listen.dropped.$label" -> dropped.toDouble) ++
        (if (tracedRates.isEmpty) Map.empty
         else Map("trace.overhead_frac.cdc_backlog" ->
           (Stats.mean(rates.toSeq) / Stats.mean(tracedRates.toSeq) - 1)))
      Outcome(n.toLong * drains, failed, first, m)
    } finally db.close()
  }

  /** Open-loop load generator: one thread commits, every 5 ms tick, one
    * transaction holding every event whose due time has passed. Each event's
    * ts is its due instant; returns the due and commit instants by id.
    */
  private final class LoadGen(gen: ChangeLog, db: DerbyLog, firstId: Long, rate: Double,
                              seconds: Double, base: (Long, Long)) {
    private val tickNs = 5000000L
    val n: Int = math.round(rate * seconds).toInt
    val due = new Array[Long](n)
    val committed = new Array[Long](n)
    val rows = new Array[RawChange](n)
    private val thread = new Thread(() => {
      val start = System.nanoTime() + 20000000L
      val gap = 1e9 / rate
      (0 until n).foreach(i => due(i) = start + (i * gap).toLong)
      var i = 0
      var wake = start
      while (i < n) {
        LockSupport.parkNanos(wake - System.nanoTime())
        val now = System.nanoTime()
        var j = i
        while (j < n && due(j) <= now) {
          val key = gen.nextKey()
          val (typ, props) = gen.change(key)
          rows(j) = RawChange(firstId + j, new Timestamp(wall(due(j), base)), key.toLong, typ, props)
          j += 1
        }
        if (j > i) {
          db.commit(rows.slice(i, j))
          val c = System.nanoTime()
          (i until j).foreach(k => committed(k) = c)
          i = j
        }
        wake = math.max(wake + tickNs, System.nanoTime() - tickNs)
      }
    }, "perfbench-loadgen")
    thread.setDaemon(true)
    def run(): Unit = { thread.start(); thread.join() }
    def end: Long = if (n == 0) 0L else due(n - 1)
    def lateMs: Seq[Double] = (0 until n).map(i => (committed(i) - due(i)) / 1e6)
    /** events committed by the step's last due instant plus one tick */
    def sentOnTime: Int = committed.count(_ <= end + tickNs)
  }

  /** `cdc_live`: a 5k-key table is snapshotted and drained before timing,
    * subscribers attach with the default handshake, then each rate step runs
    * for `stepSeconds`. Latency runs from an event's due time to its arrival.
    */
  def live(seed: Long, rates: Seq[(String, Double)], stepSeconds: Double,
           warmSeconds: Double, traced: Boolean = false): Outcome = {
    val base = (System.currentTimeMillis(), System.nanoTime())
    val gen = new ChangeLog(seed, 5000)
    val snapshot = gen.snapshot(1, id => new Timestamp(base._1 + id - 10000000L))
    val db = new DerbyLog(s"live_$seed")
    val hub = new ListenServer()
    var subs: Seq[Subscriber] = Nil
    var q: StreamingQuery = null
    try {
      db.load(snapshot)
      tracer.foreach(_.lagProbe = () => db.latestId())
      val warmRate = rates.map(_._2).max
      // the planted fault hits the first event of the first measured step
      q = start(db.url, hub.boundPort, snapshot.size + 1L + math.round(warmRate * warmSeconds))
      q.processAllAvailable() // the snapshot, before anyone listens
      val cap = 2 * (1 + (warmSeconds * warmRate).toInt + rates.map(r => (r._2 * stepSeconds).toInt + 1).sum)
      subs = Seq.fill(2)(new Subscriber(hub.boundPort, """{"tableRegexp":"events"}""", cap))
      val deadline = System.nanoTime() + 10000000000L
      while (hub.subscriberCount < 2 && System.nanoTime() < deadline) Thread.sleep(2)
      require(hub.subscriberCount == 2, "subscribers did not register with the hub")

      var nextId = snapshot.size + 1L
      val steps = ArrayBuffer.empty[(String, LoadGen)]
      def step(label: String, rate: Double, secs: Double, tr: Option[Tracer]): Unit = {
        val from = subs.map(_.count).min
        val lg = new LoadGen(gen, db, nextId, rate, secs, base)
        System.gc()
        Tracer.within(tr, label) {
          lg.run()
          awaitCount(subs, from + lg.n, graceMs = 2000)
        }
        nextId += lg.n
        steps += ((label, lg))
      }
      step("warm", warmRate, warmSeconds, None)
      val first = System.currentTimeMillis()
      rates.foreach { case (label, r) => step(label, r, stepSeconds, if (traced) tracer else None) }
      q.stop()

      val log = snapshot ++ steps.flatMap(_._2.rows)
      val want = expected(log)
      val byId = log.iterator.map(r => r.event_id -> r).toMap
      val ids = steps.toSeq.flatMap(_._2.rows.map(_.event_id))
      val (failed, arrivals) = check(ids, byId, want, subs.map(s => (s, 0, s.count)))
      val metrics = scala.collection.mutable.Map.empty[String, Double]
      // percentiles per one-second window of due times, median over windows:
      // one slow micro-batch moves one window, not the run's result
      val windows = ArrayBuffer.empty[(Double, Double)]
      var samples = 0L
      var measuredEvents = 0L
      steps.filter(_._1 != "warm").foreach { case (label, lg) =>
        val wins = lg.rows.indices.flatMap { i =>
          arrivals.getOrElse(lg.rows(i).event_id, Nil).map(a => (lg.due(i), (a - lg.due(i)) / 1e6))
        }.groupBy { case (due, _) => (due - lg.due(0)) / 1000000000L }.values.toSeq.map { w =>
          val lat = w.map(_._2)
          samples += lat.size
          (Stats.pct(lat, 0.50), Stats.pct(lat, 0.99))
        }
        windows ++= wins
        measuredEvents += lg.n
        val late = lg.lateMs
        if (wins.nonEmpty) {
          metrics(s"latency_p50_ms.$label") = Stats.median(wins.map(_._1))
          metrics(s"latency_p99_ms.$label") = Stats.median(wins.map(_._2))
          System.err.println(f"[perfbench] step $label: p50 ${Stats.median(wins.map(_._1))}%.1f ms, " +
            f"p99 ${Stats.median(wins.map(_._2))}%.1f ms, late p99 ${Stats.pct(late, 0.99)}%.1f ms")
        }
        metrics(s"loadgen.late_p99_ms.$label") = Stats.pct(late, 0.99)
        metrics(s"loadgen.sent.$label") = lg.sentOnTime.toDouble
        metrics(s"loadgen.due.$label") = lg.n.toDouble
        if (Stats.pct(late, 0.99) > 50.0)
          System.err.println(s"[perfbench] load generator fell behind on $label: " +
            f"late p99 ${Stats.pct(late, 0.99)}%.1f ms, ${lg.sentOnTime} of ${lg.n} sent on time")
        tracer.filter(_ => traced).foreach(_.cdcBatches(label, q.id,
          lg.rows.iterator.map(r => r.event_id -> arrivals.getOrElse(r.event_id, Nil)).toMap))
      }
      // goodput: correct deliveries over each step's first due to last arrival
      val measuredSecs = steps.filter(_._1 != "warm").map { case (_, lg) =>
        val last = lg.rows.iterator.flatMap(r => arrivals.getOrElse(r.event_id, Nil)).foldLeft(lg.end)(math.max)
        (last - lg.due(0)) / 1e9
      }.sum
      metrics("throughput_per_s") = (measuredEvents - failed) / measuredSecs
      metrics("latency_p50_ms") = Stats.median(windows.map(_._1).toSeq)
      metrics("latency_p99_ms") = Stats.median(windows.map(_._2).toSeq)
      metrics("samples.throughput_per_s") = rates.size.toDouble
      metrics("samples.latency_ms") = samples.toDouble
      metrics("listen.dropped.cdc_live") = hub.droppedCount.toDouble
      Outcome(ids.size.toLong, failed, first, metrics.toMap)
    } finally {
      if (q != null) q.stop()
      subs.foreach(_.close()); hub.close(); db.close()
    }
  }
}

object Cdc {
  private val queries = new java.util.concurrent.atomic.AtomicInteger()
}

/** One drain: its seconds, failed events, hub drops, arrival instants by
  * event id, the query's id and its start instant.
  */
final case class Drain(secs: Double, failed: Long, dropped: Long,
                       arrivals: Map[Long, Seq[Long]], queryId: java.util.UUID, t0: Long)
