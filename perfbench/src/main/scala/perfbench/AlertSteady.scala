package perfbench

import java.io.File
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.model.Alert
import graft.streaming.{AlertPipeline, AlertSinks}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The paper's pipeline at a fixed offered rate, run as an open loop:
  * `AlertPipeline.apply` into `AlertSinks.foreachBatch` with the
  * shipped 1 s trigger and the reference constants (5 s window, 1 s
  * slide, 5 s cooldown). One generator thread feeds the heart-rate and
  * blood-pressure `MemoryStream`s on a fixed schedule, every event
  * stamped with its scheduled time; a final flush event closes every
  * open window, and the alerts are checked against [[Reference]].
  */
final class AlertSteady(o: Opts) {
  import AlertSteady._

  // The first WarmMs of load warm the running stream; `seconds` follow.
  private val ticks = (o.seconds * 1000 + WarmMs) / TickMs
  private val perTick = Rate * TickMs / 1000 / 2 // events per tick per stream
  // Per tick: user, value and offset (ms from the schedule's start).
  private val hrUser, hrRate, hrOff = Array.ofDim[Int](ticks, perTick)
  private val bpUser, bpSys, bpDia, bpOff = Array.ofDim[Int](ticks, perTick)
  private def ckpt(): String =
    new File(o.work, s"ckpt-${Checkpoints.incrementAndGet()}").getAbsolutePath

  /** Generates the schedule from the seed, and warms the pipeline with
    * a short closed-loop run of it.
    */
  def prepare(spark: SparkSession): Unit = {
    val rng = new java.util.Random(o.seed)
    val replant = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]
    for (k <- 0 until ticks) {
      for (i <- 0 until perTick) {
        val off = k * TickMs + i * TickMs / perTick
        hrUser(k)(i) = rng.nextInt(Users)
        hrRate(k)(i) =
          if (rng.nextDouble() < NoiseShare) 101 + rng.nextInt(50)
          else 55 + rng.nextInt(46)
        hrOff(k)(i) = off
        bpUser(k)(i) = rng.nextInt(Users)
        bpSys(k)(i) =
          if (rng.nextDouble() < NoiseShare) 80 + rng.nextInt(20)
          else 100 + rng.nextInt(41)
        bpDia(k)(i) = 60 + rng.nextInt(31)
        bpOff(k)(i) = off
      }
      // Planted pairs: PlantedPerSec new users a second, plus re-plants
      // of earlier ones, inside the cooldown or after it.
      val fresh = ((k + 1).toLong * PlantedPerSec * TickMs / 1000 -
        k.toLong * PlantedPerSec * TickMs / 1000).toInt
      val users = Seq.fill(fresh)(rng.nextInt(Users)) ++
        replant.remove(k).getOrElse(Nil)
      val hrSlots = rng.ints(0, perTick).distinct().limit(users.size).toArray
      val bpSlots = rng.ints(0, perTick).distinct().limit(users.size).toArray
      users.zipWithIndex.foreach { case (u, j) =>
        hrUser(k)(hrSlots(j)) = u
        hrRate(k)(hrSlots(j)) = 101 + rng.nextInt(60)
        bpUser(k)(bpSlots(j)) = u
        bpSys(k)(bpSlots(j)) = 70 + rng.nextInt(30)
        if (j < fresh) {
          val r = rng.nextDouble()
          val at =
            if (r < 0.2) k + 20 + rng.nextInt(10) // 2-3 s: inside the cooldown
            else if (r < 0.3) k + 60 + rng.nextInt(20) // 6-8 s: after it
            else -1
          if (at > 0) replant.getOrElseUpdate(at, mutable.ArrayBuffer.empty) += u
        }
      }
    }
    // Warm-up: the whole pipeline, closed loop, a micro-batch per second
    // of the schedule's first WarmBatches seconds.
    closedLoop(spark, math.min(ticks, WarmBatches * 1000 / TickMs), "warm",
      (h, b) => AlertPipeline(h, b, Cfg).toDF(), stepwise = true)
  }

  private def hrJson(k: Int, i: Int, t0: Long): String =
    s"""{"user_id":${hrUser(k)(i)},"heart_rate":${hrRate(k)(i)},"timestamp":${t0 + hrOff(k)(i)}}"""

  private def bpJson(k: Int, i: Int, t0: Long): String =
    s"""{"user_id":${bpUser(k)(i)},"systolic":${bpSys(k)(i)},"diastolic":${bpDia(k)(i)},"timestamp":${t0 + bpOff(k)(i)}}"""

  /** Runs `build` over the first `n` ticks as fast as it goes and
    * returns the drain's wall ms: all data queued before the drain, or
    * with `stepwise` one micro-batch per second of data.
    */
  private def closedLoop(spark: SparkSession, n: Int, name: String,
      build: (DataFrame, DataFrame) => DataFrame,
      stepwise: Boolean = false): Double = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val q = build(hr.toDF(), bp.toDF()).writeStream.format("noop")
      .queryName(s"closed-$name").option("checkpointLocation", ckpt()).start()
    try {
      q.processAllAvailable()
      val t0 = 1000000000000L
      val t = System.nanoTime()
      (0 until n).grouped(10).foreach { ks =>
        hr.addData(ks.flatMap(k => (0 until perTick).map(hrJson(k, _, t0))))
        bp.addData(ks.flatMap(k => (0 until perTick).map(bpJson(k, _, t0))))
        if (stepwise) q.processAllAvailable()
      }
      q.processAllAvailable()
      (System.nanoTime() - t) / 1e6
    } finally q.stop()
  }

  def run(spark: SparkSession, mem: MemTracker, progress: ProgressLog): Outcome = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val sc = spark.sparkContext
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val alerts: Dataset[Alert] = AlertPipeline(hr.toDF(), bp.toDF(), Cfg)

    // Traced run: the recorder is attached for even micro-batches and
    // detached for odd ones (the sink of each batch switches it for the
    // next), so odd batches pay no tracing cost and the overhead reads
    // off the same run.
    val trace = if (o.trace) {
      val t = new SparkTrace(p =>
        for {
          b <- Option(p.getProperty("streaming.sql.batchId")).map(_.toLong)
          if b % 2 == 0 && p.getProperty("sql.streaming.queryId") == mainId
        } yield s"batch-$b")
      sc.addSparkListener(t)
      Some(t)
    } else None

    val got = new ConcurrentLinkedQueue[Got]()
    val sinkMs = new ConcurrentLinkedQueue[(Long, Double)]()
    val q = AlertSinks.foreachBatch(alerts, ckpt(), (ds: Dataset[Alert], id: Long) => {
      val t = System.nanoTime()
      val rows = ds.collect()
      val recv = Util.wallMs()
      rows.foreach { a =>
        val us = a.ts.getTime * 1000 + (a.ts.getNanos / 1000) % 1000
        got.add(Got(a.user_id, us + 1, a.message, recv, id))
      }
      sinkMs.add((id, (System.nanoTime() - t) / 1e6))
      trace.foreach { tr =>
        if (id % 2 == 0) {
          // Deliver this batch's events before detaching.
          org.apache.spark.BenchBus.drain(sc)
          sc.removeSparkListener(tr)
        } else sc.addSparkListener(tr)
      }
    })
    mainId = q.id.toString

    // The schedule starts on a whole second, at least one second out.
    val t0 = (math.ceil(Util.wallMs() / 1000).toLong + 1) * 1000
    val tEnd = t0 + ticks.toLong * TickMs
    val tMeasure = t0 + WarmMs
    // Timed alerts: windows that end inside the measured load, after its
    // first second and before its last.
    def timed(g: Got): Boolean = {
      val e = g.endUs / 1000
      e >= tMeasure + 1000 && e <= tEnd - 1000
    }
    val flushTs = tEnd + 6000 + DelayMs
    val late = new Array[Double](ticks)
    val gen = new Thread(() => {
      for (k <- 0 until ticks) {
        val due = t0 + (k + 1).toLong * TickMs
        var wait = due - Util.wallMs()
        while (wait > 0) {
          LockSupport.parkNanos((wait * 1e6).toLong)
          wait = due - Util.wallMs()
        }
        late(k) = -wait
        hr.addData((0 until perTick).map(hrJson(k, _, t0)))
        bp.addData((0 until perTick).map(bpJson(k, _, t0)))
      }
      hr.addData(Seq(s"""{"user_id":$Users,"heart_rate":70,"timestamp":$flushTs}"""))
      bp.addData(Seq(
        s"""{"user_id":$Users,"systolic":120,"diastolic":80,"timestamp":$flushTs}"""))
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()

    // Drained once a batch runs under the flush's watermark: that batch
    // emits every window the flush closed.
    val flushWm = flushTs - DelayMs
    val deadline = Util.wallMs() + DrainTimeoutMs
    def mine = progress.snapshot().filter(_.id == q.id)
    def wm(p: StreamingQueryProgress): Long =
      Option(p.eventTime.get("watermark")).map(Instant.parse(_).toEpochMilli)
        .getOrElse(0L)
    while (!mine.exists(wm(_) >= flushWm) && Util.wallMs() < deadline)
      Thread.sleep(50)
    val drained = mine.exists(wm(_) >= flushWm)
    val err = q.exception.map(_.toString)
    q.stop()
    org.apache.spark.BenchBus.drain(sc)
    err.foreach(e => System.err.println(s"perfbench: alert stream failed: $e"))
    if (!drained) System.err.println("perfbench: alert stream did not drain")

    // --- correctness against the reference model ---
    val want = Reference.alerts(this)
    val received = got.asScala.toSeq
    val seen = received.map(g => (g.user, g.endUs / 1000 - t0))
    val wrongMsg = received.count(g => g.message != s"User ${g.user} has a problem")
    val extra = seen.diff(want.toSeq).size + wrongMsg
    val missing = want.toSeq.diff(seen).size
    val ps = mine.sortBy(_.batchId)
    val lateDropped = ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val failed = missing + extra + lateDropped + (if (err.isDefined) 1 else 0)

    // --- end-to-end metrics ---
    val lat = received.filter(timed).map(g => g.recvMs - g.endUs / 1000.0)
    if (lat.size < 1000)
      System.err.println(s"perfbench: only ${lat.size} latency samples")
    def start(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val window = ps.filter(p => start(p) >= tMeasure && start(p) < tEnd)
    val e2e = Map(
      "latency_p50_ms" -> (if (lat.isEmpty) 0.0 else Util.median(lat)),
      "latency_p90_ms" -> (if (lat.isEmpty) 0.0 else Util.quantile(lat, 0.90)),
      // Seconds of the measured load during which a micro-batch ran: each
      // batch's span clipped to the load, so a batch that straddles an
      // edge counts only inside it.
      "work_s" -> ps.map { p =>
        math.max(0.0, math.min(tEnd.toDouble, start(p) + dur(p, "triggerExecution")) -
          math.max(tMeasure.toDouble, start(p).toDouble))
      }.sum / 1000,
      "mem_peak_mb" -> mem.peakMb)

    val record = ListMap(
      "offered_events_per_s" -> Rate, "users" -> Users,
      "planted_per_s" -> PlantedPerSec, "watermark_delay_ms" -> DelayMs,
      "latency_samples" -> lat.size, "alerts_expected" -> want.size,
      "alerts_received" -> received.size, "missing" -> missing,
      "extra" -> extra, "late_dropped" -> lateDropped, "drained" -> drained,
      "stream_error" -> err, "micro_batches" -> window.size,
      // Per micro-batch: id, input rows, trigger and addBatch ms, and per
      // state operator its commit ms and total rows.
      "batches" -> window.map(p => Seq[Any](p.batchId, p.numInputRows,
        dur(p, "triggerExecution"), dur(p, "addBatch")) ++
        p.stateOperators.flatMap(s => Seq(s.commitTimeMs, s.numRowsTotal))),
      // A few wrong users, with the window ends (ms after the start)
      // expected and received for each.
      "wrong_sample" -> (seen.diff(want.toSeq) ++ want.toSeq.diff(seen))
        .map(_._1).distinct.take(5).map(u => ListMap("user" -> u,
          "expected" -> want.filter(_._1 == u).map(_._2).toSeq.sorted,
          "received" -> seen.filter(_._1 == u).map(_._2).sorted,
          "hr" -> events._1.filter(_._1 == u).map(e => Seq(e._2, e._3)).toSeq,
          "bp" -> events._2.filter(_._1 == u).map(e => Seq(e._2, e._3)).toSeq)))

    val layers = trace.map { t =>
      val even = ps.filter(_.batchId % 2 == 0)
      Span.write(o.spansFile, Span("workload", "", "workload", o.workload,
        tMeasure.toDouble, tEnd.toDouble) +: (even.filter(window.contains).map { p =>
          Span(s"batch-${p.batchId}", "workload", "batch", s"batch ${p.batchId}",
            start(p).toDouble, start(p) + dur(p, "triggerExecution"))
        } ++ t.spans()))
      val latBy = received.groupBy(_.batch % 2 == 0).map { case (k, gs) =>
        k -> gs.filter(timed).map(g => g.recvMs - g.endUs / 1000.0) }
      val overhead = (latBy.get(true), latBy.get(false)) match {
        case (Some(a), Some(b)) if a.nonEmpty && b.nonEmpty =>
          Util.median(a) / Util.median(b) - 1
        case _ => 0.0
      }
      val evenWindow = window.filter(_.batchId % 2 == 0)
      val sched = t.metrics(evenWindow.map(dur(_, "triggerExecution")).sum, o.cores)
      val stageCosts = stageCostsMs(spark)
      streamingLayers(window, late, received.size, want.size,
        Reference.qualifying(this), sinkMs.asScala.toSeq, tMeasure, tEnd, ps) ++ sched ++
        stageCosts ++ Map(
          "catalyst.planning_ms" -> window.map(dur(_, "queryPlanning")).sum,
          "pins.block_mem_peak_mb" -> mem.rddPeakMb,
          "trace.overhead_frac" -> overhead)
    }.getOrElse(Map.empty)

    Outcome(attempted = math.max(1, want.size), failed = failed, e2e = e2e,
      layers = layers, record = record)
  }

  @volatile private var mainId = ""

  /** Closed-loop costs of each pipeline stage over the recorded event
    * log: ingest, then the window flags, then the cooldown, each run's
    * cost minus the previous stage's (the first minus a bare scan).
    */
  private def stageCostsMs(spark: SparkSession): Map[String, Double] = {
    val n = math.min(ticks, ClosedLoopTicks)
    val kevents = n * perTick * 2 / 1000.0
    val stages: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      "scan" -> ((h, b) => h.union(b)),
      "ingest" -> ((h, b) => AlertPipeline.ingest(h, b)),
      "windows" -> ((h, b) => AlertPipeline.rawAlerts(AlertPipeline.ingest(h, b), Cfg)),
      "full" -> ((h, b) => AlertPipeline(h, b, Cfg).toDF()))
    val ms = stages.map { case (name, f) =>
      name -> Util.median((1 to 3).map(_ => closedLoop(spark, n, name, f)))
    }.toMap
    def per(a: String, b: String) = (ms(a) - ms(b)) / kevents
    Map("JsonIngest.ms_per_kevent" -> per("ingest", "scan"),
      "AlertOps.ms_per_kevent" -> per("windows", "ingest"),
      "Cooldown.ms_per_kevent" -> per("full", "windows"))
  }

  private def streamingLayers(window: Seq[StreamingQueryProgress],
      late: Array[Double], emitted: Int, expected: Int, qualifying: Int,
      sinkMs: Seq[(Long, Double)], t0: Long, tEnd: Long,
      all: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def d(k: String) = window.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    def op(p: StreamingQueryProgress, window: Boolean) = p.stateOperators.find(
      _.operatorName == (if (window) "stateStoreSave" else "flatMapGroupsWithState"))
    val win = window.flatMap(op(_, window = true))
    val cool = window.flatMap(op(_, window = false))
    val ids = window.map(_.batchId).toSet
    // Backlog when the generator stopped: ticks due two triggers before
    // the end that no completed micro-batch had consumed.
    val done = all.filter(p => Instant.parse(p.timestamp).toEpochMilli +
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) <= tEnd)
    val consumed = done.lastOption.map(_.sources.map(s =>
      Option(s.endOffset).flatMap(e => e.trim.toLongOption).getOrElse(-1L) + 1))
      .getOrElse(Array(0L, 0L))
    val due = (ticks - 2000 / TickMs).toLong
    Map(
      "gen.events_offered" -> (ticks.toDouble * perTick * 2),
      "gen.late_p99_ms" -> Util.quantile(late.toSeq, 0.99),
      "source.backlog_events_end" ->
        consumed.map(c => math.max(0L, due - c) * perTick).sum.toDouble,
      "batch.n" -> window.size.toDouble,
      "batch.rows_p50" -> Util.medianOr0(window.map(_.numInputRows.toDouble)),
      "batch.trigger_ms_p50" -> Util.medianOr0(d("triggerExecution")),
      "batch.trigger_ms_p99" ->
        (if (window.isEmpty) 0.0 else Util.quantile(d("triggerExecution"), 0.99)),
      "batch.latestOffset_ms_p50" -> Util.medianOr0(d("latestOffset")),
      "batch.queryPlanning_ms_p50" -> Util.medianOr0(d("queryPlanning")),
      "batch.addBatch_ms_p50" -> Util.medianOr0(d("addBatch")),
      "batch.walCommit_ms_p50" -> Util.medianOr0(d("walCommit")),
      "batch.commitOffsets_ms_p50" -> Util.medianOr0(d("commitOffsets")),
      "batch.busy_frac" -> d("triggerExecution").sum / (tEnd - t0),
      "window.panes_per_event" -> {
        val in = window.map(_.numInputRows).sum
        if (in == 0) 0.0 else win.map(_.numRowsUpdated).sum.toDouble / in
      },
      "cooldown.alerts_in" -> qualifying.toDouble,
      "cooldown.alerts_emitted" -> emitted.toDouble,
      "cooldown.emit_frac" ->
        (if (qualifying == 0) 0.0 else emitted.toDouble / qualifying),
      "state.window.rows_total" -> win.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "state.window.commit_ms_p50" -> Util.medianOr0(win.map(_.commitTimeMs.toDouble)),
      "state.window.mem_mb" -> win.map(_.memoryUsedBytes / 1048576.0).maxOption.getOrElse(0.0),
      "state.window.late_dropped" ->
        all.flatMap(op(_, window = true)).map(_.numRowsDroppedByWatermark).sum.toDouble,
      "state.cooldown.rows_total" -> cool.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "state.cooldown.commit_ms_p50" -> Util.medianOr0(cool.map(_.commitTimeMs.toDouble)),
      "state.cooldown.mem_mb" -> cool.map(_.memoryUsedBytes / 1048576.0).maxOption.getOrElse(0.0),
      "AlertSinks.ms_per_batch" ->
        Util.medianOr0(sinkMs.filter(s => ids.contains(s._1)).map(_._2)))
  }

  // Read by the reference model.
  private[perfbench] def events: (Iterator[(Int, Int, Int)], Iterator[(Int, Int, Int)]) = (
    for (k <- (0 until ticks).iterator; i <- 0 until perTick)
      yield (hrUser(k)(i), hrRate(k)(i), hrOff(k)(i)),
    for (k <- (0 until ticks).iterator; i <- 0 until perTick)
      yield (bpUser(k)(i), bpSys(k)(i), bpOff(k)(i)))
}

object AlertSteady {
  val Name = "alert_steady"
  private val Checkpoints = new java.util.concurrent.atomic.AtomicInteger
  val Rate = 2000 // offered events per second, heart rate and blood pressure
  val Users = 100000
  val TickMs = 100 // the generator adds one block per stream per tick
  val PlantedPerSec = 130
  val NoiseShare = 0.01
  /** Watermark delay: one generator tick. A micro-batch can read a tick
    * of one stream and miss the same tick of the other; the delay keeps
    * that tick from counting as late.
    */
  val DelayMs = TickMs
  val WarmMs = 4000 // load before the measured window, to warm the stream
  val WarmBatches = 6 // closed-loop micro-batches in set-up, to warm the JIT
  val DrainTimeoutMs = 30000
  val ClosedLoopTicks = 40
  val Cfg: AlertPipeline.Config =
    AlertPipeline.Config(watermarkDelay = s"$DelayMs milliseconds")

  final case class Got(user: Int, endUs: Long, message: String, recvMs: Double,
      batch: Long)
}

/** Plain-Scala reference of the paper's query: an alert per (user,
  * window) when the window holds a heart rate above 100 and a systolic
  * below 100, windows 5 s long sliding by 1 s, then per user the
  * event-time emit-on-rise cooldown: a window's alert is emitted when
  * it ends at least 5 s after the user's last emitted one.
  */
object Reference {
  private val WindowMs = 5000
  private val SlideMs = 1000
  private val CooldownMs = 5000

  private def windows(off: Int): Seq[Long] = {
    val last = off.toLong / SlideMs * SlideMs
    (0 until WindowMs / SlideMs).map(j => last + SlideMs + j * SlideMs)
  }

  /** (user, window end offset ms) pairs that satisfy the predicate. */
  def qualifyingSet(a: AlertSteady): Set[(Int, Long)] = {
    val (hr, bp) = a.events
    val high = hr.filter(_._2 > 100).flatMap(e => windows(e._3).map(e._1 -> _)).toSet
    val low = bp.filter(_._2 < 100).flatMap(e => windows(e._3).map(e._1 -> _)).toSet
    high.intersect(low)
  }

  def qualifying(a: AlertSteady): Int = qualifyingSet(a).size

  def alerts(a: AlertSteady): Set[(Int, Long)] =
    qualifyingSet(a).groupBy(_._1).toSeq.flatMap { case (u, ws) =>
      var last = Long.MinValue
      ws.toSeq.map(_._2).sorted.flatMap { e =>
        if (last == Long.MinValue || e >= last + CooldownMs) {
          last = e
          Some(u -> e)
        } else None
      }
    }.toSet
}
