package perfbench

import java.nio.file.Paths
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** The benchmark command (run through perfbench/run.py):
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cpus <N> --benchmark <BENCHMARK.json> --data <dir> --expected <file>
  *   --out <dir> --work <dir>
  * }}}
  * One JVM, one `local[N]` session, one client in a closed loop: each
  * operation starts when the previous one has ended. The set-up runs
  * [[Main.SetupRuns]] times on fresh sessions (the first pays for the
  * cold JVM). A workload that asks for them then runs unmeasured
  * warm-up passes. Measured passes over the operations, each in an order
  * drawn from the seed, repeat until `--seconds` have passed; each
  * operation is timed by the median of its samples. The last stdout line
  * is the result JSON. */
object Main {
  val SetupRuns = 3

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv)
    val workload = Workloads.byName(args("workload"))
    val declared = Metrics.load(Paths.get(args("benchmark")))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cpus = args.int("cpus", Runtime.getRuntime.availableProcessors)
    val ctx = Session.context(cpus)
    println(Json.write(ListMap("context" -> ctx.toMap,
      "workload" -> workload.name, "seed" -> seed, "trace" -> traced)))

    val tracer = new Tracer(traced)
    // set-up: fresh session + workload preparation, several times
    val setups = (1 to SetupRuns).map { i =>
      val t0 = System.nanoTime()
      val spark = Session.start(cpus, args("work"))
      val prep = workload.prepare(spark, Env(cpus, seed, args("data"),
        Paths.get(args("expected")), tracer, s"setup$i"))
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupRuns) { prep.close(); Session.stop(spark) }
      (s, prep, spark)
    }
    val (_, prep, spark) = setups.last
    val setupS = setups.map(_._1)
    println(f"setup: ${setupS.map(s => f"$s%.3f").mkString(" ")} s " +
      prep.setupLayer.toSeq.sorted.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))

    val counters = new GroupCounters
    var attempted = 0
    val failures = ArrayBuffer.empty[String]
    def runOp(op: String, trace: String): Sample = {
      // tracing cost on the operation's path: listener (un)registration
      // and the waits for the listener bus before each reading
      val w0 = counters.waitNs
      val t0 = System.nanoTime()
      if (traced) spark.sparkContext.addSparkListener(counters)
      val t1 = System.nanoTime()
      var t2 = 0L
      val s = try prep.run(op, tracer, if (traced) Some(counters) else None, trace)
      finally {
        t2 = System.nanoTime()
        if (traced) spark.sparkContext.removeSparkListener(counters)
      }
      attempted += 1
      s.error.foreach(e => failures += s"$trace: $e")
      if (traced) withOverhead(s, (t1 - t0) + (System.nanoTime() - t2) +
        (counters.waitNs - w0))
      else s
    }

    // Workloads with warm-up passes have few, long operations: the
    // retained heap is read after each of them, so that its peak does not
    // depend on their order; otherwise it is read after every pass.
    val heap = ArrayBuffer(HeapWatch.retainedMb())
    def pass(label: String, n: Int): Seq[Sample] = {
      val order = new scala.util.Random(seed * 7919 + n).shuffle(prep.ops)
      val samples = order.map { op =>
        val s = runOp(op, s"$label.$op")
        if (prep.warmupPasses > 0) heap += HeapWatch.retainedMb()
        s
      }
      if (prep.warmupPasses == 0) heap += HeapWatch.retainedMb()
      samples
    }
    val warm = (1 to prep.warmupPasses).map { i =>
      val ps = pass(s"w$i", -i)
      println(f"warm-up $i: ${ps.map(_.seconds).sum}%.3f s " +
        ps.map(s => f"${s.op}=${s.seconds}%.3f").mkString(" "))
      ps
    }

    val gc0 = HeapWatch.gcSeconds()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val passes = ArrayBuffer.empty[Seq[Sample]]
    // a pass, once started, runs to its end; passes repeat while time is left
    while (elapsed < seconds) passes += pass(s"p${passes.size}", passes.size)
    val loopS = elapsed
    val gcS = HeapWatch.gcSeconds() - gc0

    val measured = passes.flatten.toSeq
    val medians = measured.groupBy(_.op).map { case (op, xs) =>
      op -> Stats.median(xs.map(_.seconds)) }
    val failed = failures.size
    val metrics: Seq[(Metrics.Def, Double)] = if (!traced) {
      val values = endToEnd(setupS, medians.values.toSeq, failed, attempted, heap.max)
      require(values.keySet == declared.endToEnd.map(_.name).toSet,
        s"end-to-end metrics ${values.keySet} are not those BENCHMARK.json declares")
      declared.endToEnd.map(d => d -> values(d.name))
    } else {
      val layer = perLayer(measured, prep.setupLayer, cpus, gcS)
      val undeclared = layer.keySet -- declared.perLayer.map(_.name)
      require(undeclared.isEmpty,
        s"per-layer readings $undeclared are not declared in BENCHMARK.json")
      declared.perLayer.map(d => d -> layer.getOrElse(d.name, 0.0))
    }

    // human-readable summary, then the detail file
    val byOp = measured.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, xs) =>
      val t = xs.map(_.seconds).toSeq
      val tail = Stats.tail(t).map { case (l, v) => f" $l ${v}%.3f" }.getOrElse("")
      println(f"op $op%-26s n=${t.size}%3d median ${Stats.median(t)}%.3f s$tail")
      op -> ListMap("n" -> t.size, "median_s" -> Stats.median(t),
        "tail" -> Stats.tail(t).map(x => Map(x._1 -> x._2)).orNull)
    }
    failures.foreach(f => println(s"FAILED $f"))
    println(f"passes ${passes.size}, loop ${loopS}%.2f s, ops $attempted, failed $failed, " +
      f"batch ${medians.values.sum}%.3f s")
    def sampleRows(pass: Any, ps: Seq[Sample]) = ps.map(s => ListMap(
      "pass" -> pass, "op" -> s.op, "seconds" -> s.seconds,
      "error" -> s.error.orNull, "layer" -> s.layer, "detail" -> s.detail))
    val detail = ListMap(
      "context" -> ctx.toMap, "workload" -> workload.name, "seed" -> seed,
      "trace" -> traced, "seconds" -> seconds, "setup_s" -> setupS,
      "setup_layer" -> prep.setupLayer, "warmup_s" -> warm.map(_.map(_.seconds).sum),
      "passes" -> passes.size, "loop_s" -> loopS, "jvm_gc_s" -> gcS,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
      "fail_frac" -> failed.toDouble / attempted,
      "heap_retained_mb" -> heap, "ops" -> ListMap(byOp: _*),
      "metrics" -> ListMap(metrics.map { case (d, v) => d.name -> v }: _*),
      "samples" -> (warm.zipWithIndex.flatMap { case (ps, i) => sampleRows(s"warmup${i + 1}", ps) } ++
        passes.zipWithIndex.flatMap { case (ps, i) => sampleRows(i, ps) }),
      "spans" -> Report.spans(tracer.all),
      "span_totals" -> spanTotals(tracer.all))
    val outFile = Paths.get(args("out"),
      s"${workload.name}-seed$seed-trace${if (traced) 1 else 0}.json")
    Json.writeFile(outFile, detail)
    println(s"detail: $outFile")

    prep.close()
    Session.stop(spark)
    println(Json.write(ListMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (d, v) =>
        d.name -> ListMap("value" -> v, "unit" -> d.unit) }: _*))))
  }

  /** The end-to-end metrics of an untraced run, from the set-up times,
    * each operation's median time, the failed and attempted operations
    * and the peak retained heap. */
  def endToEnd(setupS: Seq[Double], opMedians: Seq[Double], failed: Int,
               attempted: Int, heapPeakMb: Double): Map[String, Double] = Map(
    "setup_s" -> Stats.median(setupS),
    "batch_s" -> opMedians.sum,
    "op_geomean_s" -> Stats.geomean(opMedians),
    "ok_frac" -> (1.0 - failed.toDouble / attempted),
    "heap_peak_mb" -> heapPeakMb)

  /** `s` with the time tracing added to its path. */
  def withOverhead(s: Sample, overheadNs: Long): Sample =
    s.copy(layer = s.layer + ("trace.overhead_s" -> overheadNs / 1e9))

  /** Per-pass layer readings: each operation's median over its samples,
    * summed over the operations of a pass (maxima for
    * `exec.max_task_s`), plus the utilisation, the set-up layers and the
    * JVM's GC time over the measurement. */
  def perLayer(samples: Seq[Sample], setup: Map[String, Double],
               cpus: Int, gcS: Double): Map[String, Double] = {
    val perOp = samples.groupBy(_.op).values.map { xs =>
      xs.flatMap(_.layer.keys).distinct.map(k =>
        k -> Stats.median(xs.map(_.layer.getOrElse(k, 0.0)))).toMap
    }
    val summed = perOp.flatMap(_.keys).toSet.map { (k: String) =>
      val vs = perOp.flatMap(_.get(k)).toSeq
      k -> (if (k == "exec.max_task_s") vs.max else vs.sum)
    }.toMap
    val run = summed.getOrElse("exec.run_s", 0.0)
    summed ++ setup + ("jvm.gc_s" -> gcS) + ("exec.cpu_util" ->
      (if (run > 0) summed.getOrElse("exec.cpu_s", 0.0) / (run * cpus) else 0.0))
  }

  /** Total and self time per span name, in milliseconds. */
  def spanTotals(all: Seq[Span]): Map[String, Map[String, Double]] = {
    val self = Spans.selfTimes(all)
    all.groupBy(_.name).map { case (n, ss) => n -> Map(
      "count" -> ss.size.toDouble,
      "total_ms" -> ss.map(_.durNs).sum / 1e6,
      "self_ms" -> ss.map(s => self(s.id)).sum / 1e6)
    }
  }
}
