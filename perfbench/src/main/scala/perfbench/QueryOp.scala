package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.FileSourceScanExec

/** Expected full-result digest of one query. */
final case class Expected(rows: Long, digest: String)

/** One query operation: the builder call, planning, and full-result
  * consumption, each timed from outside. */
final case class QueryRun(
    name: String, buildS: Double, planS: Double,
    execS: Double, rows: Long, digest: String, error: Option[String],
    pins: Int, exchanges: Int, scans: Int,
    build: Work, plan: Work, exec: Work) {
  def totalS: Double = buildS + planS + execS
  def ok: Boolean = error.isEmpty
}

object QueryOp {
  /** Counts (exchanges, file scans) in a physical plan, looking inside
    * adaptive plans, query stages and subqueries; a reused exchange is
    * not counted again. */
  def planShape(plan: SparkPlan): (Int, Int) = {
    var ex = 0; var sc = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        other match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => ex += 1
          case _: FileSourceScanExec | _: BatchScanExec => sc += 1
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, sc)
  }

  /** Runs `name` once. With `counters`, each phase runs under its own job
    * group `<trace>/<layer>` so the listener can attribute its work. A
    * failed phase keeps the time it ran. */
  def run(spark: SparkSession, name: String, dataDir: String,
          tracer: Tracer, counters: Option[GroupCounters], trace: String,
          expected: Option[Expected]): QueryRun = {
    val sc = spark.sparkContext
    val times = Array(0.0, 0.0, 0.0)
    def phase[T](i: Int, layer: String, parent: Long)(body: => T): T = {
      counters.foreach(_ => sc.setJobGroup(s"$trace/$layer", layer))
      val t0 = System.nanoTime()
      try tracer.span(layer, trace, parent)(_ => body)
      finally {
        times(i) = (System.nanoTime() - t0) / 1e9
        counters.foreach(_ => sc.clearJobGroup())
      }
    }
    def work(layer: String): Work =
      counters.map(_.take(sc, s"$trace/$layer")).getOrElse(Work())
    tracer.span("query", trace) { root =>
      val outcome = try {
        val df = phase(0, "queries.build", root)(
          graft.SparkEntry.queries(name)(spark, dataDir))
        val sink = Digest.frame(df)
        phase(1, "catalyst.plan", root)(sink.queryExecution.executedPlan)
        val d = Digest.result(phase(2, "exec.run", root)(sink.collect().head))
        val (ex, scans) = planShape(sink.queryExecution.executedPlan)
        Right((d, ex, scans))
      } catch {
        case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      val pins = tracer.span("core.drain", trace, root)(_ =>
        graft.core.CacheRegistry.drain())
      val error = outcome match {
        case Left(msg) => Some(msg)
        case Right((d, _, _)) => expected
          .filter(e => e.rows != d.rows || e.digest != d.digest)
          .map(e => s"result mismatch: ${d.rows} rows digest ${d.digest}, " +
            s"expected ${e.rows} rows digest ${e.digest}")
      }
      val (d, ex, scans) = outcome.getOrElse((Digest.Result(-1, ""), 0, 0))
      QueryRun(name, times(0), times(1), times(2), d.rows, d.digest, error,
        pins, ex, scans, work("queries.build"), work("catalyst.plan"),
        work("exec.run"))
    }
  }
}
