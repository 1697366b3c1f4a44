package perfbench

import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

class QueryOpSpec extends AnyFunSuite {
  private val dir = "data/sf0.1"
  private lazy val expected = Report.readExpected(Paths.get("expected.json"), "sf0.1")

  private def run(name: String, exp: Option[Expected]) = QueryOp.run(
    TestSession.spark, name, dir, new Tracer(false), None, "t", exp)

  test("a query whose full result matches its recorded digest passes") {
    val q = run("q_text_langid", expected.get("q_text_langid"))
    assert(q.ok, q.error)
    assert(q.rows == expected("q_text_langid").rows && q.totalS > 0)
  }

  test("a wrong digest or row count is a failed operation") {
    val e = expected("q_text_langid")
    val bad = run("q_text_langid", Some(e.copy(digest = "0123456789abcdef")))
    assert(bad.error.exists(_.startsWith("result mismatch")))
    assert(run("q_text_langid", Some(e.copy(rows = e.rows + 1))).error.isDefined)
  }

  test("a query that throws fails and keeps the time it ran") {
    val q = run("q_no_such_query", None)
    assert(q.error.exists(_.contains("NoSuchElement")))
    assert(q.rows == -1 && q.buildS > 0)
  }
}
