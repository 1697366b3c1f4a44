package perfbench

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The run context printed with every output, and the local session. */
final case class RunContext(cpus: Int, load1: Double, jvm: String,
                            spark: String) {
  def toMap: Map[String, Any] = Map("cpus" -> cpus, "load1_at_start" -> load1,
    "jvm" -> jvm, "spark" -> spark)
}

object Session {
  def context(cpus: Int): RunContext = RunContext(cpus,
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage,
    s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    org.apache.spark.SPARK_VERSION)

  /** A `local[cpus]` session whose scratch files stay under `workDir`. */
  def start(cpus: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.checkpoint.dir", s"$workDir/checkpoint")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // the fixpoint builders release cached rounds without blocking, so
    // late accumulator updates are logged as errors; they are benign
    Configurator.setLevel("org.apache.spark.scheduler.DAGScheduler", Level.FATAL)
    Configurator.setLevel("org.apache.spark.util.AccumulatorContext", Level.FATAL)
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
