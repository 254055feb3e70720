package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import graft.QueryDef
import graft.operators._
import graft.stores.StoreManifest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}
import org.apache.spark.sql.types.StructType

/** The batch workloads: passes over a fixed query list, each query in a
  * fresh `newSession()` on the warm context so no in-session memo
  * carries over between queries, each forced by hashing every output
  * column (the engine's `Bench.force` action).
  */
object BatchSuite {

  val lists: ListMap[String, Seq[String]] = ListMap(
    // Read-mostly: Catalyst planning, shuffle and operator compute, one
    // or more queries from each read-side operator module.
    "batch_scan" -> Seq("q1_agg", "q5_multi_join", "q20_sliding_alert",
      "q23_json", "q57_dedup_components", "q77_bm25", "q40_knn_brute"),
    // Write-heavy: store appends and folds, manifest publish and
    // vacuum, many small stage-jobs.
    "store_lifecycle" -> Seq("q174_store_lifecycle",
      "q167_gram_store_refresh", "q180_bpe_vocab_store"))

  /** Operator modules, each owning the queries in its `defs`. */
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.defs, "EventOps" -> EventOps.defs,
    "TextOps" -> TextOps.defs, "Dedup" -> Dedup.defs,
    "Similarity" -> Similarity.defs, "Bpe" -> Bpe.defs,
    "Multimodal" -> Multimodal.defs, "StoreManifest" -> StoreManifest.defs,
    "WebCuration" -> WebCuration.defs)

  def moduleOf(q: String): Option[String] =
    modules.collectFirst { case (m, defs) if defs.exists(_.name == q) => m }

  /** Every listed query's oracle SQL, for the DuckDB reference run. */
  def oracleJson(): String = {
    val sql = graft.SparkEntry.oracleSql
    Util.json(lists.map { case (w, qs) =>
      w -> ListMap(qs.flatMap(q => sql.get(q).map(q -> _)): _*) })
  }

  /** Registers every input table (footers, schema inference). */
  def prepare(s: SparkSession, data: String): Unit =
    graft.Tables.registerAll(s, data)

  /** `Bench.force` returning its order-insensitive all-column hash too:
    * (row count, xor of the rows' xxhash64 over every column).
    */
  def force(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** One execution: `seconds` of wall time, `probe` the host probe's
    * seconds just before it.
    */
  final case class Exec(query: String, pass: Int, traced: Boolean,
      seconds: Double, rows: Long, hash: Long, error: Option[String],
      memMb: Double = 0, rddMb: Double = 0, probe: Double = 0)

  /** The host these workloads share runs faster or slower by a quarter
    * or more from one minute to the next: the same seed's store queries
    * took 5.9 s of wall time in one run and 9.4 s in another, every query
    * slower by about the same share. So a fixed piece of plain JVM work
    * ([[HostProbe]]) is timed before every query and once after the
    * last, and query times are reported scaled to the speed at which the
    * probe takes [[ProbeSeconds]], the run's median probe timing
    * standing for the speed the run had. The probe runs no Spark and no
    * engine code, so the scaling cancels only what it shares with the
    * queries: the host, the JDK and the JVM flags `run.py` sets. Wall
    * times and probe timings stay in the record.
    */
  val ProbeSeconds = 0.09

  /** A run makes `seconds / PassSeconds` passes over its list, at least
    * two; the count depends only on `seconds`, so every run of a setting
    * takes its numbers over the same passes. The first pass runs on
    * colder code (JIT, class loading) and is rarely a query's best. With
    * `trace`, every query runs twice per pass, untraced and traced, in
    * alternating order, and the first pass only warms both, so the
    * tracing overhead is measured on the same, equally warm work.
    */
  val PassSeconds = 3

  def run(spark: SparkSession, o: Opts, mem: MemTracker): Outcome = {
    val names = lists(o.workload)
    val fns = graft.SparkEntry.queries
    val sc = spark.sparkContext
    val planning = new PlanningTrace
    // Attached only around traced executions, so untraced ones pay no
    // listener cost and the overhead reads off their difference.
    val trace =
      if (o.trace) Some(new SparkTrace(p => Option(p.getProperty(SpanKey)))) else None
    val schemas = mutable.HashMap.empty[String, StructType]
    val execs = mutable.ArrayBuffer.empty[Exec]
    val spans = mutable.ArrayBuffer.empty[Span]
    (1 to 5).foreach(_ => HostProbe.run(o.cores)) // JIT-compile it
    val start = Util.wallMs()

    def once(q: String, pass: Int, traced: Boolean): Exec = {
      spark.catalog.clearCache()
      System.gc()
      org.apache.spark.BenchBus.drain(sc)
      val probe = HostProbe.run(o.cores)
      org.apache.spark.BenchBus.drain(sc)
      mem.reset()
      val s = spark.newSession()
      val span = s"q-$pass-$q"
      if (traced) trace.foreach(sc.addSparkListener)
      if (traced && pass > 0) {
        planning.register(s)
        planning.current = q
        sc.setLocalProperty(SpanKey, span)
      }
      val w0 = Util.wallMs()
      val t0 = System.nanoTime()
      val r = try {
        val df = fns(q)(s, o.data)
        schemas.getOrElseUpdate(q, df.schema)
        val (n, h) = force(df)
        Exec(q, pass, traced, 0, n, h, None)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: $q failed: $e")
          Exec(q, pass, traced, 0, -1, 0, Some(e.toString))
      } finally sc.setLocalProperty(SpanKey, null)
      val secs = (System.nanoTime() - t0) / 1e9
      if (traced && pass > 0) spans += Span(span, "workload", "query", q, w0, Util.wallMs())
      org.apache.spark.BenchBus.drain(sc)
      if (traced) trace.foreach(sc.removeSparkListener)
      r.copy(seconds = secs, memMb = mem.peakMb, rddMb = mem.rddPeakMb, probe = probe)
    }

    val runs = math.max(2, o.seconds / PassSeconds)
    // Traced runs number their warm-up pass 0; `passes` are the timed ones.
    val passes = if (o.trace) runs - 1 else runs
    for (pass <- (if (o.trace) 0 else 1) to passes) {
      names.foreach { q =>
        val order =
          if (!o.trace) Seq(false)
          else if (pass % 2 == 1) Seq(false, true) else Seq(true, false)
        order.foreach(t => execs += once(q, pass, t))
      }
    }
    val end = Util.wallMs()
    val timed = execs.filter(_.pass > 0)

    val expected = names.map(q => q -> verify(spark, q, schemas.get(q), o)).toMap
    val bad = execs.filter { e =>
      e.error.nonEmpty || !expected(e.query).contains((e.rows, e.hash))
    }
    val mismatched = bad.map(_.query).distinct
    mismatched.foreach { q =>
      System.err.println(s"perfbench: $q does not match its oracle: " +
        expected(q).left.getOrElse("wrong rows or hash"))
    }

    val probes = execs.map(_.probe) :+ HostProbe.run(o.cores)
    val speed = ProbeSeconds / Util.median(probes.toSeq)
    // Per query, the best of its passes (as `graft.Bench` takes the best
    // of three): a slow spell of the shared host then has to hit every
    // pass to move the number.
    def perQuery(traced: Boolean, f: Exec => Double = _.seconds * speed): Map[String, Double] =
      names.map(q => q -> execs.filter(e =>
        e.query == q && e.traced == traced && e.pass > 0).map(f).min).toMap
    val untraced = perQuery(false)
    val qs = names.map(untraced).toSeq
    val record = ListMap(
      "passes" -> passes,
      "query_best_s" -> ListMap(names.map(q => q -> untraced(q)): _*),
      "query_best_wall_s" -> perQuery(false, _.seconds),
      "query_mem_peak_mb" -> perQuery(false, _.memMb),
      // Every execution: query, pass, traced, wall s, probe s, peak MB.
      "executions" -> execs.map(e => Seq(e.query, e.pass, e.traced, e.seconds,
        e.probe, e.memMb)),
      "host_probe_s" -> ListMap("min" -> probes.min,
        "median" -> Util.median(probes.toSeq), "max" -> probes.max),
      "mismatched" -> mismatched,
      "oracle" -> ListMap(names.map(q =>
        q -> expected(q).fold(identity, r => Seq(r._1, r._2))): _*))
    val e2e = ListMap(
      "latency_p50_ms" -> Util.median(qs) * 1000,
      "latency_p90_ms" -> Util.quantile(qs, 0.90) * 1000,
      "work_s" -> qs.sum,
      "mem_peak_mb" -> perQuery(false, _.memMb).values.max)

    val layers = trace.map { t =>
      org.apache.spark.BenchBus.drain(sc)
      val traced = perQuery(true)
      val tracedSum = names.map(traced).sum
      val tracedMs = spans.map(s => s.endMs - s.startMs).sum
      val perPass = t.metrics(tracedMs, o.cores).map {
        case (k, v) if k.endsWith("_frac") || k.endsWith("_ms") &&
          k.startsWith("sched.") || k == "shuffle.skew" => k -> v
        case (k, v) => k -> v / passes
      }
      Span.write(o.spansFile, Span("workload", "", "workload", o.workload,
        start, end) +: (spans.toSeq ++ t.spans()))
      perPass ++
        modules.map { case (m, _) =>
          s"module.$m.s" -> names.filter(q => moduleOf(q).contains(m))
            .map(traced).sum } ++
        names.map(q => s"query.$q.s" -> traced(q)) ++
        Map("catalyst.planning_ms" -> planning.total / passes,
          "pins.block_mem_peak_mb" -> perQuery(true, _.rddMb).values.max,
          "trace.overhead_frac" -> (tracedSum / names.map(untraced).sum - 1))
    }.getOrElse(Map.empty)

    Outcome(attempted = timed.count(!_.traced), failed = bad.count(e => !e.traced && e.pass > 0),
      e2e = e2e, layers = layers, record = record)
  }

  val SpanKey = "perfbench.span"

  /** The oracle's (rows, hash) for a query: DuckDB's result, read back,
    * cast to the engine's output schema and hashed by the same action.
    */
  private def verify(spark: SparkSession, q: String,
      schema: Option[StructType], o: Opts): Either[String, (Long, Long)] = {
    val f = new File(o.expected, s"$q.parquet")
    if (schema.isEmpty) Left("query never produced a plan")
    else if (!f.isFile) Left("no oracle result")
    else try {
      val s = spark.newSession()
      s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      val e = s.read.parquet(f.getPath)
      val want = schema.get
      if (e.columns.toSet != want.fieldNames.toSet)
        Left(s"oracle columns ${e.columns.sorted.mkString(",")}")
      else Right(force(e.select(want.fields.map(c =>
        col(s"`${c.name}`").cast(c.dataType).as(c.name)).toIndexedSeq: _*)))
    } catch { case NonFatal(e) => Left(s"oracle result unreadable: $e") }
  }
}

/** A fixed piece of plain JVM work on `cores` threads: each mixes a
  * 64-bit LCG into random slots of its own 4 MB array, so the probe
  * feels the host's CPU and memory speed the way parallel tasks do.
  */
object HostProbe {
  private val Slots = 1 << 19
  private val Steps = 1500000
  @volatile private var sink = 0L

  def run(cores: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until cores).map { i =>
      val t = new Thread(() => {
        val a = new Array[Long](Slots)
        var h = i + 1L
        var k = 0
        while (k < Steps) {
          h = h * 6364136223846793005L + 1442695040888963407L
          val j = ((h >>> 40) & (Slots - 1)).toInt
          a(j) ^= h
          h ^= a((j * 31) & (Slots - 1))
          k += 1
        }
        sink += h
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
