package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload's operations may use from the run. */
final case class Env(cpus: Int, seed: Long, dataDir: String,
                     expectedFile: java.nio.file.Path, tracer: Tracer,
                     trace: String)

/** One operation's outcome: its wall time, an error if it failed or
  * returned a wrong result, and its per-layer readings. */
final case class Sample(op: String, seconds: Double,
                        error: Option[String], layer: Map[String, Double],
                        detail: Map[String, Any])

/** A workload set up on one session: a list of named operations that
  * make one pass. */
trait Prepared {
  def ops: Seq[String]
  /** Unmeasured passes run first, so that the measured passes find the
    * operations' code paths loaded, compiled and JIT-warm. */
  def warmupPasses: Int
  /** Per-layer readings of the set-up itself (seconds). */
  def setupLayer: Map[String, Double]
  def run(op: String, tracer: Tracer, counters: Option[GroupCounters],
          trace: String): Sample
  def close(): Unit
}

trait Workload {
  def name: String
  def prepare(spark: SparkSession, env: Env): Prepared
}

object Workloads {
  /** Builder-bound queries (a connected-components closure and a
    * tokenizer learn loop, which run eager jobs before Catalyst sees a
    * plan) beside an execution-bound one (an image codec: a per-row
    * kernel with almost no builder work). */
  val queries = new QueryWorkload("queries", "sf0.1", Seq(
    "q_dedup_clusters", "q_text_unigramlm", "q_multimodal_gifmeta"))

  val all: Seq[Workload] = Seq(queries, ViTrain)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Queries from `SparkEntry.queries` over the tables in `data/<scale>`,
  * each consumed in full through [[Digest]] and checked against the
  * digest recorded in expected.json. */
final class QueryWorkload(val name: String, val scale: String,
                          val queries: Seq[String]) extends Workload {
  def prepare(spark: SparkSession, env: Env): Prepared = {
    val dir = s"${env.dataDir}/$scale"
    // the query registry builds every query object (and its oracle SQL)
    // on first use: a one-time cost of the JVM, paid here
    require(queries.forall(graft.SparkEntry.queries.contains),
      s"unknown query in ${queries.mkString(", ")}")
    val expected = Report.readExpected(env.expectedFile, scale)
    queries.foreach(q => require(expected.contains(q),
      s"no expected digest for $q at $scale"))
    // open every table and warm the scan + aggregate path on each
    val tables = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
    require(tables.nonEmpty, s"no parquet tables in $dir")
    tables.foreach(t => Digest.of(spark.read.parquet(s"$dir/$t")))
    new Prepared {
      val ops: Seq[String] = queries
      // the cold pass costs about twice a warm one; a second warm-up pass
      // did not make the measured pass steadier across runs
      val warmupPasses = 1
      val setupLayer: Map[String, Double] = Map.empty
      def run(op: String, tracer: Tracer, counters: Option[GroupCounters],
              trace: String): Sample = {
        val q = QueryOp.run(spark, op, dir, tracer, counters, trace,
          expected.get(op))
        Sample(op, q.totalS, q.error, QueryWorkload.layer(q), Report.query(q))
      }
      def close(): Unit = graft.core.CacheRegistry.drain()
    }
  }
}

object QueryWorkload {
  /** The per-layer readings of one query operation. */
  def layer(q: QueryRun): Map[String, Double] = Map(
    "queries.build_s" -> q.buildS,
    "queries.build_jobs" -> q.build.jobs.toDouble,
    "queries.build_tasks" -> q.build.tasks.toDouble,
    "catalyst.plan_s" -> q.planS,
    "catalyst.exchanges" -> q.exchanges.toDouble,
    "catalyst.scans" -> q.scans.toDouble,
    "exec.run_s" -> q.execS,
    "core.cache_pins" -> q.pins.toDouble) ++ execLayer(q.exec)

  def execLayer(w: Work): Map[String, Double] = Map(
    "exec.jobs" -> w.jobs.toDouble, "exec.stages" -> w.stages.toDouble,
    "exec.tasks" -> w.tasks.toDouble, "exec.scan_tasks" -> w.scanTasks.toDouble,
    "exec.cpu_s" -> w.cpuS, "exec.max_task_s" -> w.maxTaskS,
    "exec.shuffle_bytes" -> w.shuffleBytes.toDouble,
    "exec.spill_bytes" -> w.spillBytes.toDouble, "exec.gc_s" -> w.gcS)
}
