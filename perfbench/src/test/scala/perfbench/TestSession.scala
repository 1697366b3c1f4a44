package perfbench

import org.apache.spark.sql.SparkSession

/** One small local session shared by the suites (one forked JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("perfbench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
