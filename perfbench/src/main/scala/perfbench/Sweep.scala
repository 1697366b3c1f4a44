package perfbench

import java.nio.file.Paths

/** One-off sweep: every registered query once, in name order, with the
  * full-result sink, recording build/plan/exec time and the listener's
  * counters per phase. Not gated; it is the per-query
  * breakdown the workloads sample from.
  *
  * {{{
  * python3 perfbench/run.py sweep --data <dir with the sf tables> \
  *   [--out perfbench/out/sweep.json]
  * }}}
  * Each result is checked against expected.json under the data
  * directory's name (sf0.1, ...); queries without an expected digest are
  * listed as `unchecked` in the output and on stderr.
  */
object Sweep {
  def main(argv: Array[String]): Unit = {
    val args = new Args(argv)
    val cpus = args.int("cpus", Runtime.getRuntime.availableProcessors)
    val ctx = Session.context(cpus)
    val dataDir = args("data")
    val scale = Paths.get(dataDir).getFileName.toString
    val expected = Report.readExpected(Paths.get(args("expected")), scale)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val unchecked = names.filterNot(expected.contains)
    if (unchecked.nonEmpty)
      System.err.println(s"[sweep] ${unchecked.size} queries have no expected " +
        s"digest at $scale; their results are not checked")
    val spark = Session.start(cpus, args("work"))
    val counters = new GroupCounters
    spark.sparkContext.addSparkListener(counters)
    val t0 = System.nanoTime()
    val out = names.zipWithIndex.map { case (n, i) =>
      val q = QueryOp.run(spark, n, dataDir, new Tracer(false), Some(counters), s"s$i",
        expected.get(n))
      System.err.println(f"[sweep] $n%-34s build ${q.buildS}%7.2f plan ${q.planS}%6.2f " +
        f"exec ${q.execS}%7.2f ${q.error.getOrElse("")}")
      n -> Report.query(q)
    }
    val res = Map("context" -> ctx.toMap, "data" -> scale,
      "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "failed" -> out.count(!_._2("ok").asInstanceOf[Boolean]),
      "unchecked" -> unchecked,
      "queries" -> scala.collection.immutable.ListMap(out: _*))
    Json.writeFile(Paths.get(args("out")), res)
    Session.stop(spark)
    println(Json.write(Map("context" -> ctx.toMap, "queries" -> out.size,
      "failed" -> res("failed"), "unchecked" -> unchecked.size, "out" -> args("out"))))
  }
}
