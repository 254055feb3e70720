package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The engine's shipped session shape, built one way for every
  * workload: `graft.GraftExtensions` registered, AQE on, `local[n]`
  * with n shuffle partitions. Scratch space (shuffle files, warehouse)
  * lives under the run's work directory.
  */
object Session {

  def build(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Starts executors and JITs the scan/aggregate path once. */
  def warm(s: SparkSession, cores: Int): Unit =
    s.range(0, 1000000, 1, cores).selectExpr("sum(id)").collect()

  private val recorded = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.extensions",
    "spark.sql.session.timeZone", "spark.local.dir", "spark.sql.warehouse.dir",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.noDataMicroBatches.enabled")

  /** The configuration in effect, for the result record. */
  def conf(s: SparkSession): Map[String, String] =
    recorded.map(k => k -> s.conf.getOption(k).getOrElse("(default)")).toMap +
      ("jvm.max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)
}
