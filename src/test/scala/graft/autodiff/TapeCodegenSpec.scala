package graft.autodiff

import org.scalatest.funsuite.AnyFunSuite

/** The Janino-generated tape must agree with the interpreter: the
  * forward value bit-for-bit, and the block kernel's Σ value/gradient
  * with the per-row interpreter summed over the same rows (the kernel
  * reassociates those sums, so up to rounding), across every op type. */
class TapeCodegenSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(7)

  /** An expression exercising every op, over 2 inputs, 3 params,
    * 2 draws. Arguments are kept in safe domains via softplus/abs. */
  private def kitchenSink: Expr = {
    val x = In(0); val y = In(1)
    val p0 = P(0); val p1 = P(1); val p2 = P(2)
    val u0 = Dr(0); val u1 = Dr(1)
    val pos = Expr.softplus(x * p0 + u0) + Expr.c(0.1)
    Expr.sum(Seq(
      (x + y * p0 - p1 / (Expr.abs(p2) + Expr.c(1.0))).sq,
      Expr.exp(-pos) + Expr.log(pos) + Expr.sqrt(pos),
      Expr.pow(pos, 1.7) * Expr.sigmoid(y * p1),
      Expr.tanh(x * p2) + Expr.relu(y - p0) - Expr.lgamma(pos),
      Expr.lse2(x * p0, y * p1) + Expr.sin(p2) * Expr.cos(x),
      -(u1 * p2)))
  }

  private def gaussians(n: Int): Array[Double] =
    Array.fill(n)(rng.nextGaussian())

  /** The per-row interpreter summed over rows `from until to`:
    * (Σ value, Σ |value|, Σ gradient, Σ |per-row gradient|). The
    * absolute sums bound the rounding a reassociated sum can differ
    * by, so they are the scale of the relative tolerance. */
  private def reference(t: CompiledExpr, rows: Array[Array[Double]],
                        idx: Array[Int], from: Int, to: Int,
                        th: Array[Double], dr: Array[Double])
      : (Double, Double, Array[Double], Array[Double]) = {
    val vals = t.newValues; val adj = t.newValues
    var sum = 0.0; var sumAbs = 0.0
    val grad = new Array[Double](t.nSlots)
    val gradAbs = new Array[Double](t.nSlots)
    (from until to).foreach { r =>
      val g = new Array[Double](t.nSlots)
      val v = t.evalGrad(if (idx == null) rows(r) else rows(idx(r)), th, dr,
        vals, adj, g)
      sum += v; sumAbs += math.abs(v)
      g.indices.foreach { k => grad(k) += g(k); gradAbs(k) += math.abs(g(k)) }
    }
    (sum, sumAbs, grad, gradAbs)
  }

  private def assertClose(want: Double, got: Double, scale: Double,
                          what: String): Unit =
    assert(math.abs(want - got) <= 1e-12 * scale, s"$what: $got vs $want")

  /** The kernel over `from until to` against [[reference]]. */
  private def checkKernel(t: CompiledExpr, rows: Array[Array[Double]],
                          idx: Array[Int], from: Int, to: Int,
                          th: Array[Double], dr: Array[Double]): Unit = {
    val (want, wantAbs, wantG, wantGAbs) =
      reference(t, rows, idx, from, to, th, dr)
    val g = new Array[Double](t.nSlots)
    val got = t.evalGradRows(rows, idx, from, to, th, dr, g)
    assertClose(want, got, wantAbs, "value")
    g.indices.foreach(k => assertClose(wantG(k), g(k), wantGAbs(k), s"grad $k"))
  }

  test("codegen value is bit-exact; block kernel matches summed interpreter") {
    val tape = CompiledExpr.compile(kitchenSink, 2, 3, 2)
    assert(tape.ops.toSet == (0 to CompiledExpr.OpCos).toSet,
      "the kitchen sink must exercise all 22 ops")
    assert(tape.tier == TapeCodegen.Single,
      "codegen failed for the kitchen sink")
    val rows = Array.fill(300)(gaussians(2))
    (0 until 20).foreach { _ =>
      val th = gaussians(3); val dr = gaussians(2)
      checkKernel(tape, rows, null, 0, rows.length, th, dr)
      checkKernel(tape, rows, null, 17, 171, th, dr)
      rows.take(10).foreach(in => assert(java.lang.Double.compare(
        tape.eval(in, th, dr, tape.newValues), tape.fastFn.eval(in, th, dr)) == 0))
    }
  }

  test("block kernel: a root with no per-row input is the row count × " +
    "its value and gradient") {
    val t = CompiledExpr.compile(
      Expr.exp(P(0)) * Expr.sin(P(1) + Dr(0)) + Expr.log(Expr.c(2.0)), 1, 2, 1)
    assert(t.tier == TapeCodegen.Single)
    val rows = Array.fill(50)(gaussians(1))
    val th = Array(0.3, -1.1); val dr = Array(0.7)
    checkKernel(t, rows, null, 0, 50, th, dr)
    checkKernel(t, rows, null, 5, 6, th, dr)
  }

  test("block kernel: a P leaf reached on both an invariant and a " +
    "row-varying path gets both contributions") {
    // p0 feeds exp(p0) (invariant) and x·p0 (varying); exp(p1)·u0 is
    // invariant and reaches the root only through a varying product
    val p0 = P(0); val p1 = P(1); val x = In(0)
    val shared = Expr.exp(p1) * Dr(0)
    val t = CompiledExpr.compile(
      Expr.exp(p0) + x * p0 + Expr.tanh(x * shared) - shared * p0, 1, 2, 1)
    assert(t.tier == TapeCodegen.Single)
    val rows = Array.fill(200)(gaussians(1))
    (0 until 10).foreach(_ =>
      checkKernel(t, rows, null, 0, rows.length, gaussians(2), gaussians(1)))
  }

  test("block kernel: an index vector with repeated rows, and an empty " +
    "range adding nothing") {
    val tape = CompiledExpr.compile(kitchenSink, 2, 3, 2)
    val rows = Array.fill(40)(gaussians(2))
    val idx = Array.fill(500)(rng.nextInt(8)) // every row many times
    val th = gaussians(3); val dr = gaussians(2)
    checkKernel(tape, rows, idx, 0, idx.length, th, dr)
    checkKernel(tape, rows, idx, 100, 357, th, dr)
    val g = Array(1.5, -2.5, 0.25)
    assert(tape.evalGradRows(rows, idx, 9, 9, th, dr, g) == 0.0)
    assert(g.sameElements(Array(1.5, -2.5, 0.25)), "empty range wrote θ")
  }

  /** Balanced sum: keeps expression DEPTH logarithmic (deep chains
    * break case-class hashCode recursion). */
  private def balancedSum(es: Seq[Expr]): Expr =
    if (es.length == 1) es.head
    else balancedSum(es.grouped(2).map(_.reduce(_ + _)).toSeq)

  test("tapes past the single-method limit compile CHUNKED and stay " +
    "bit-exact; past the chunked limit they fall back") {
    // ~1.5k ops: single-method would blow the 64KB method limit
    val terms = (0 until 150).map { i =>
      var t: Expr = In(0) * P(0) + Expr.c(i + 1.0)
      (0 until 8).foreach(_ => t = Expr.sqrt(t))
      t
    }
    val mid = CompiledExpr.compile(balancedSum(terms), 1, 1, 0)
    assert(mid.ops.length > TapeCodegen.MaxOps &&
      mid.ops.length <= TapeCodegen.MaxChunkedOps)
    assert(mid.tier == TapeCodegen.Chunked, "chunked codegen failed")
    // the chunked kernel is a per-row loop: bit-exact with the summed
    // per-row interpreter
    val rows = Array(Array(2.0), Array(0.5), Array(3.25))
    val th = Array(1.3)
    val (vi, _, gi, _) = reference(mid, rows, null, 0, 3, th, Array.empty)
    val gc = new Array[Double](1)
    val vc = mid.evalGradRows(rows, null, 0, 3, th, Array.empty, gc)
    assert(java.lang.Double.compare(vi, vc) == 0)
    assert(java.lang.Double.compare(gi(0), gc(0)) == 0)

    // past the chunked ceiling: interpreter fallback
    val huge = (0 until 2200).map { i =>
      var t: Expr = In(0) * P(0) + Expr.c(i + 1.0)
      (0 until 9).foreach(_ => t = Expr.sqrt(t))
      t
    }
    val big = CompiledExpr.compile(balancedSum(huge), 1, 1, 0)
    assert(big.ops.length > TapeCodegen.MaxChunkedOps)
    assert(big.fastFn == null && big.tier == TapeCodegen.Interpreted)
    val v = big.evalFast(Array(2.0), th, Array.empty, big.newValues)
    assert(!v.isNaN)
    checkKernel(big, rows, Array(2, 0, 2), 0, 3, th, Array.empty)
  }
}
