package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cores: Int, work: File, data: String, expected: File,
    resultFile: File, spansFile: File)

/** What a workload reports: operations attempted and failed, the
  * end-to-end or per-layer metrics, and details for the result record.
  */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    record: Map[String, Any])

/** Benchmark process: builds the session and the workload's inputs
  * (`setup_s` runs from JVM start until they are ready), runs the
  * workload, checks its outputs and prints one JSON result line.
  *
  * {{{
  * perfbench.Main --workload <alert_steady|batch_scan|store_lifecycle>
  *   --seed <n> --seconds <s> --trace <0|1> --cores <n> --work <dir>
  *   [--data <dir> --expected <dir>] --result <file> --spans <file>
  * perfbench.Main --dump-oracle <file>
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("dump-oracle") match {
      case Some(f) => Util.write(new File(f), BatchSuite.oracleJson())
      case None => run(a)
    }
  }

  private def run(a: Map[String, String]): Unit = {
    val work = new File(a("work"))
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", a("cores").toInt, work,
      a.getOrElse("data", ""), new File(a.getOrElse("expected", "")),
      new File(a("result")), new File(a("spans")))
    require(o.workload == AlertSteady.Name || BatchSuite.lists.contains(o.workload),
      s"unknown workload ${o.workload}")
    val load0 = Util.loadavg()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // Setup, timed from JVM start: session, warm-up and inputs. Any
    // failure here propagates and aborts the run with its cause.
    val mem = new MemTracker(holdToReset = o.workload != AlertSteady.Name)
    val progress = new ProgressLog(mem)
    val spark = Session.build(o.cores, work)
    val t1 = Util.wallMs()
    Session.warm(spark, o.cores)
    val t2 = Util.wallMs()
    val alert = if (o.workload == AlertSteady.Name) {
      val a = new AlertSteady(o)
      a.prepare(spark)
      Some(a)
    } else {
      BatchSuite.prepare(spark, o.data)
      None
    }
    val t3 = Util.wallMs()
    val setup = ListMap("session_s" -> (t1 - jvmStart) / 1000,
      "warm_s" -> (t2 - t1) / 1000, "inputs_s" -> (t3 - t2) / 1000)
    System.err.println(s"perfbench: setup ${Util.json(setup)}")
    spark.sparkContext.addSparkListener(mem)
    spark.streams.addListener(progress)

    val out = alert.map(_.run(spark, mem, progress))
      .getOrElse(BatchSuite.run(spark, o, mem))
    val conf = Session.conf(spark)
    spark.stop()

    val metrics =
      if (o.trace) {
        val layers = out.layers + ("error_frac" -> errorFrac(out))
        val unknown = layers.keySet -- Layers.names
        require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
        // A layer the workload does not use reads 0.
        Layers.names.map(n => n -> layers.getOrElse(n, 0.0)).toMap
      } else out.e2e + ("setup_s" -> (t3 - jvmStart) / 1000)
    val units = metrics.map { case (k, v) => k -> ListMap("value" -> v,
      "unit" -> Units.of(k)) }
    val line = Util.json(ListMap("correct" -> (out.failed == 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> ListMap(units.toSeq.sortBy(_._1): _*)))
    Util.write(o.resultFile, Util.json(ListMap(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "nproc" -> o.cores, "loadavg_start" -> load0,
      "loadavg_end" -> Util.loadavg(), "setup_parts_s" -> setup,
      "error_frac" -> errorFrac(out), "session_conf" -> conf,
      "result" -> line) ++ out.record) + "\n")
    println(line)
  }

  private def errorFrac(o: Outcome): Double =
    if (o.attempted == 0) 1.0 else o.failed.toDouble / o.attempted
}

/** Every per-layer metric, reported by every traced run. */
object Layers {
  val names: Seq[String] = Seq(
    "gen.events_offered", "gen.late_p99_ms", "source.backlog_events_end",
    "batch.n", "batch.rows_p50", "batch.trigger_ms_p50", "batch.trigger_ms_p99",
    "batch.latestOffset_ms_p50", "batch.queryPlanning_ms_p50",
    "batch.addBatch_ms_p50", "batch.walCommit_ms_p50",
    "batch.commitOffsets_ms_p50", "batch.busy_frac",
    "JsonIngest.ms_per_kevent", "AlertOps.ms_per_kevent",
    "window.panes_per_event", "Cooldown.ms_per_kevent", "cooldown.alerts_in",
    "cooldown.alerts_emitted", "cooldown.emit_frac",
    "state.window.rows_total", "state.window.commit_ms_p50",
    "state.window.mem_mb", "state.window.late_dropped",
    "state.cooldown.rows_total", "state.cooldown.commit_ms_p50",
    "state.cooldown.mem_mb", "AlertSinks.ms_per_batch",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.task_launch_wait_ms",
    "sched.executor_busy_frac", "catalyst.planning_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "spill_bytes", "shuffle.skew",
    "stores.labeled_job_ms", "stores.write_jobs", "stores.write_bytes",
    "stores.write_rows", "pins.block_mem_peak_mb", "trace.overhead_frac",
    "error_frac") ++
    BatchSuite.modules.map { case (m, _) => s"module.$m.s" } ++
    BatchSuite.lists.values.flatten.map(q => s"query.$q.s")
}

/** Units by metric name. */
object Units {
  def of(k: String): String =
    if (k.endsWith("ms_per_kevent")) "ms/kevent"
    else if (k.endsWith("_ms") || k.contains("_ms_p") || k.endsWith("ms_per_batch")) "ms"
    else if (k.endsWith("_s") || k.endsWith(".s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_frac") || k.endsWith("skew") ||
      k.endsWith("per_event")) "ratio"
    else "count"
}
