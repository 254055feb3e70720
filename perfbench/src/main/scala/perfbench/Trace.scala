package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Storage memory from block-manager events: every cached, checkpointed
  * and broadcast block's in-memory size, summed as blocks come and go,
  * plus the state stores' `memoryUsedBytes` from streaming progress.
  * Attached in every run: `mem_peak_mb` is an end-to-end metric.
  *
  * With `holdToReset`, a block stays counted from when it is stored
  * until the next [[reset]], even if it is freed sooner. The engine
  * frees no block itself; the context cleaner does, after JVM garbage
  * collections whose timing no program controls, so within one query
  * the exact peak moved 2-4x between runs. Held, the peak is the
  * storage the query's blocks would take if none were freed before it
  * ends, the same on every run.
  */
final class MemTracker(holdToReset: Boolean) extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var blocks = 0L
  private var rddBlocks = 0L
  private var state = 0L
  private var peakAll = 0L
  private var peakRdd = 0L

  /** Starts a new scope: blocks stored before it (left by earlier work
    * until the context cleaner drops them) no longer count, so a scope's
    * peak does not depend on when the cleaner runs. Drain the listener
    * bus first.
    */
  def reset(): Unit = synchronized {
    sizes.clear()
    blocks = 0L; rddBlocks = 0L; peakAll = 0L; peakRdd = 0L
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val key = i.blockId.name
    val mem = if (i.storageLevel.isValid) i.memSize else 0L
    if (mem > 0L || (sizes.contains(key) && !holdToReset)) {
      val delta = mem - sizes.getOrElse(key, 0L)
      if (mem == 0L) sizes.remove(key) else sizes(key) = mem
      blocks += delta
      if (i.blockId.isRDD) rddBlocks += delta
      peakAll = math.max(peakAll, blocks + state)
      peakRdd = math.max(peakRdd, rddBlocks)
    }
  }

  def stateBytes(b: Long): Unit = synchronized {
    state = b
    peakAll = math.max(peakAll, blocks + state)
  }

  def peakMb: Double = synchronized(peakAll / 1048576.0)
  def rddPeakMb: Double = synchronized(peakRdd / 1048576.0)
}

/** Keeps every streaming progress report; feeds state memory to the
  * memory tracker.
  */
final class ProgressLog(mem: MemTracker) extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    all.add(e.progress)
    mem.stateBytes(e.progress.stateOperators.map(_.memoryUsedBytes).sum)
  }
  def snapshot(): Seq[StreamingQueryProgress] = all.asScala.toSeq
}

/** One timed interval of the trace. `parent` links the hierarchy
  * workload → query or micro-batch → Spark job → stage.
  */
final case class Span(id: String, parent: String, kind: String,
    name: String, startMs: Double, endMs: Double)

object Span {
  /** Writes spans as JSON lines with each span's self time: its length
    * minus the part of it that its children's intervals cover.
    */
  def write(f: File, spans: Seq[Span]): Unit = {
    val kids = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val cover = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(c => c._2 > c._1).sortBy(_._1)
      var covered = 0.0
      var reach = Double.MinValue
      cover.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      Util.json(scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> (s.endMs - s.startMs - covered)))
    }
    Util.write(f, lines.mkString("", "\n", "\n"))
  }
}

/** The traced run's Spark-side recorder. It keeps jobs, stages and
  * task metrics of the work `owner` assigns to a span (a query, or a
  * streaming micro-batch) and ignores the rest, so untraced executions
  * interleaved with traced ones stay out of the numbers.
  */
final class SparkTrace(owner: java.util.Properties => Option[String])
    extends SparkListener {

  final class Job(val id: Int, val span: String, val desc: String,
      val start: Long) { var end = 0L }
  final class Stage(val id: Int, val job: Int, val span: String,
      val submit: Long) {
    var end = 0L
    var tasks = 0
    var runMs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = mutable.ArrayBuffer.empty[Long]
    var spill = 0L
    var outBytes = 0L
    var outRows = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    owner(e.properties).foreach { span =>
      jobs(e.jobId) = new Job(e.jobId, span,
        Option(e.properties.getProperty("spark.job.description")).getOrElse(""),
        e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    for (job <- stageJob.get(i.stageId); j <- jobs.get(job))
      stages((i.stageId, i.attemptNumber())) = new Stage(i.stageId, job, j.span,
        i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber()))
      .foreach(_.end = i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val m = e.taskMetrics
      s.tasks += 1
      s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submit)
      if (m != null) {
        s.runMs += m.executorRunTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Scheduler, exchange and store counters over the recorded work. */
  def metrics(wallMs: Double, cores: Int): Map[String, Double] = synchronized {
    val st = stages.values.toSeq
    val tasks = st.map(_.tasks).sum
    val largest = st.filter(_.shuffleRead.nonEmpty)
      .sortBy(s => -s.shuffleRead.sum).headOption
    val skew = largest.map { s =>
      val med = Util.median(s.shuffleRead.map(_.toDouble).toSeq)
      if (med > 0) s.shuffleRead.max / med else 0.0
    }.getOrElse(0.0)
    val storeJobs = jobs.values.filter(_.desc.startsWith("store:")).toSeq
    Map(
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> st.size.toDouble,
      "sched.tasks" -> tasks.toDouble,
      "sched.task_launch_wait_ms" ->
        (if (tasks == 0) 0.0 else st.map(_.waitMs).sum.toDouble / tasks),
      "sched.executor_busy_frac" ->
        (if (wallMs <= 0) 0.0 else st.map(_.runMs).sum / (wallMs * cores)),
      "shuffle.write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> st.map(_.shuffleRead.sum).sum.toDouble,
      "spill_bytes" -> st.map(_.spill).sum.toDouble,
      "shuffle.skew" -> skew,
      "stores.labeled_job_ms" ->
        storeJobs.map(j => math.max(0L, j.end - j.start)).sum.toDouble,
      "stores.write_jobs" -> storeJobs.size.toDouble,
      "stores.write_bytes" -> st.map(_.outBytes).sum.toDouble,
      "stores.write_rows" -> st.map(_.outRows).sum.toDouble)
  }

  /** Job and stage spans under their owners' span ids. */
  def spans(): Seq[Span] = synchronized {
    jobs.values.toSeq.map(j => Span(s"job-${j.id}", j.span, "job",
      if (j.desc.isEmpty) s"job ${j.id}" else j.desc,
      j.start.toDouble, math.max(j.start, j.end).toDouble)) ++
      stages.values.toSeq.map(s => Span(s"stage-${s.id}", s"job-${s.job}",
        "stage", s"stage ${s.id} (${s.tasks} tasks)", s.submit.toDouble,
        math.max(s.submit, s.end).toDouble))
  }
}

/** Catalyst time (analysis + optimization + planning) of every action,
  * from each query execution's planning tracker, summed per span.
  */
final class PlanningTrace extends QueryExecutionListener {
  @volatile var current: String = ""
  val ms = mutable.HashMap.empty[String, Double]

  private def add(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    val t = Seq("analysis", "optimization", "planning")
      .flatMap(p.get).map(_.durationMs.toDouble).sum
    synchronized(ms(current) = ms.getOrElse(current, 0.0) + t)
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)

  def register(s: SparkSession): Unit = s.listenerManager.register(this)
  def total: Double = synchronized(ms.values.sum)
}
