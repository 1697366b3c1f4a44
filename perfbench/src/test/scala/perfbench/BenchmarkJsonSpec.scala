package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json (at the repository root) declares exactly what the
  * command computes. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val path = Paths.get("..", "BENCHMARK.json")
  private lazy val declared = Metrics.load(path)

  test("the end-to-end metrics computed are those declared") {
    val computed = Main.endToEnd(Seq(1.0), Seq(1.0, 2.0), 0, 1, 1.0).keySet
    assert(computed == declared.endToEnd.map(_.name).toSet)
  }

  test("the per-layer readings of both workloads are those declared") {
    val query = QueryRun("q", 1, 1, 1, 1, "", None, 0, 0, 0, Work(), Work(), Work())
    val samples = Sample("q", 1, None, QueryWorkload.layer(query), Map.empty) +:
      ViTrain.Ops.map(op => Sample(op, 1, None, ViTrain.layer(op, 1, 1, Work()), Map.empty))
    val computed = Main.perLayer(samples.map(Main.withOverhead(_, 0L)),
      ViTrain.setupLayer(1, 1, 1, 1), 4, 0.0).keySet
    assert(computed == declared.perLayer.map(_.name).toSet)
  }

  test("workloads match Workloads.all") {
    val names = Json.read(Files.readString(path)).get("workloads").elements()
      .asScala.map(_.get("name").asText).toSeq
    assert(names == Workloads.all.map(_.name))
  }

  test("every query a workload runs has an expected digest") {
    Workloads.all.collect { case q: QueryWorkload => q }.foreach { w =>
      val exp = Report.readExpected(Paths.get("expected.json"), w.scale)
      w.queries.foreach(q => assert(exp.contains(q), s"$q at ${w.scale}"))
    }
  }
}
