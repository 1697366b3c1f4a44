package perfbench

/** JSON shapes shared by the benchmark and the sweep. */
object Report {
  def work(w: Work): Map[String, Any] = Map(
    "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
    "scan_tasks" -> w.scanTasks, "cpu_s" -> w.cpuS, "task_run_s" -> w.runS,
    "max_task_s" -> w.maxTaskS, "shuffle_bytes" -> w.shuffleBytes,
    "spill_bytes" -> w.spillBytes, "gc_s" -> w.gcS)

  def query(q: QueryRun): Map[String, Any] = Map(
    "build_s" -> q.buildS, "plan_s" -> q.planS, "exec_s" -> q.execS,
    "rows" -> q.rows, "digest" -> q.digest, "ok" -> q.ok,
    "error" -> q.error.orNull, "cache_pins" -> q.pins,
    "exchanges" -> q.exchanges, "scans" -> q.scans,
    "build" -> work(q.build), "plan" -> work(q.plan), "exec" -> work(q.exec))

  def spans(all: Seq[Span]): Seq[Map[String, Any]] = {
    val self = Spans.selfTimes(all)
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    all.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
      "self_ms" -> self(s.id) / 1e6))
  }

  /** Expected digests for the tables in directory `scale`, from
    * `{"<scale>": {"<query>": {"rows": n, "digest": "hex"}}}`; none when
    * the file has no section for `scale`. */
  def readExpected(path: java.nio.file.Path, scale: String): Map[String, Expected] = {
    import scala.jdk.CollectionConverters._
    require(java.nio.file.Files.isRegularFile(path), s"no expected digests at $path")
    Option(Json.read(java.nio.file.Files.readString(path)).get(scale)).toSeq
      .flatMap(_.properties().asScala)
      .map(e => e.getKey ->
        Expected(e.getValue.get("rows").asLong, e.getValue.get("digest").asText))
      .toMap
  }
}
