package graft.autodiff

import scala.util.control.NonFatal

/** Compiled form of a tape: straight-line Java generated at runtime
  * and compiled with Janino (the same compiler Spark's whole-stage
  * codegen uses — already on every Spark classpath). */
trait TapeFn {
  def eval(in: Array[Double], theta: Array[Double],
           draws: Array[Double]): Double
  /** Block kernel over rows `from until to` (row `r` is `rows(r)`, or
    * `rows(idx(r))` when `idx` is non-null): adds Σ_r ∂root/∂θ into
    * `gradTheta` and returns Σ_r root. */
  def evalGradRows(rows: Array[Array[Double]], idx: Array[Int], from: Int,
                   to: Int, theta: Array[Double], draws: Array[Double],
                   gradTheta: Array[Double]): Double
}

/** Janino code generation for [[CompiledExpr]] tapes.
  *
  * The interpreter walks op/child arrays (~6 ns/op with dispatch and
  * array indirection); the generated class is pure SSA locals the JIT
  * vectorizes and registers. Falls back to the interpreter (returns
  * null) when the tape is too large for the chunked form or compilation
  * fails; callers must treat null as "use the interpreter", and
  * [[CompiledExpr.tier]] reports which of the three tiers a tape landed
  * on. Compiled instances are cached per-process by tape content so
  * per-task deserialization doesn't recompile.
  *
  * The block kernel hoists row-invariant work: ops whose subtree has no
  * [[In]] leaf (the θ/draw-only sub-DAG — reparameterized samples,
  * `exp` of log-scales, …) evaluate ONCE per block, before the row
  * loop. The loop runs only the row-varying ops and their reverse
  * sweep; the adjoint flowing into each invariant child is a
  * loop-carried sum, and after the loop the invariant sub-DAG's reverse
  * sweep runs once from those sums, writing each θ slot once. By
  * linearity of the reverse sweep this is the per-row gradient summed
  * over rows, reassociated.
  *
  * The reverse pass only materializes adjoints on the sub-DAG that can
  * reach a [[P]] leaf (dead-adjoint pruning): data- and draw-only
  * subtrees cost nothing in the backward sweep.
  */
object TapeCodegen {
  import CompiledExpr._

  /** Conservative single-method ceiling (64 KB bytecode limit). Tapes
    * up to this size compile to pure SSA locals (fastest). */
  val MaxOps = 900
  /** Larger tapes compile CHUNKED: helper methods of ≤[[ChunkOps]]
    * ops over ThreadLocal scratch arrays — still no op dispatch, just
    * bounds-checked array slots, one row at a time. Above
    * [[MaxChunkedOps]] we fall back to the interpreter. */
  val ChunkOps = 250
  val MaxChunkedOps = 20000

  /** Where a tape executes: the single-method block kernel, the
    * chunked per-row form, or the interpreter. */
  sealed abstract class Tier(val name: String) {
    override def toString: String = name
  }
  case object Single extends Tier("single")
  case object Chunked extends Tier("chunked")
  case object Interpreted extends Tier("interpreted")

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private val Missing = new Object

  def cachedCompile(t: CompiledExpr): TapeFn = {
    val key = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val bb = java.nio.ByteBuffer.allocate(
        4 * t.ops.length * 3 + 8 * t.consts.length + 4 * t.inIdx.length + 4)
      t.ops.foreach(bb.putInt); t.c0.foreach(bb.putInt); t.c1.foreach(bb.putInt)
      t.consts.foreach(bb.putDouble); t.inIdx.foreach(bb.putInt)
      bb.putInt(t.root)
      java.util.Base64.getEncoder.encodeToString(md.digest(bb.array()))
    }
    val got = cache.computeIfAbsent(key, _ => {
      val fn = tryCompile(t)
      if (fn == null) Missing else fn
    })
    if (got eq Missing) null else got.asInstanceOf[TapeFn]
  }

  private def tryCompile(t: CompiledExpr): TapeFn = {
    if (t.ops.length > MaxChunkedOps) return null
    try {
      val src = if (t.ops.length <= MaxOps) generate(t)
        else generateChunked(t)
      val compiler = new org.codehaus.janino.SimpleCompiler()
      compiler.setParentClassLoader(getClass.getClassLoader)
      compiler.cook(src)
      compiler.getClassLoader.loadClass("graft_gen.Tape")
        .getDeclaredConstructor().newInstance().asInstanceOf[TapeFn]
    } catch { case NonFatal(_) => null }
  }

  /** Ops whose subtree contains a P leaf (adjoints needed). */
  private def needsGrad(t: CompiledExpr): Array[Boolean] =
    subtreeHas(t, _ == OpP)

  /** Ops whose subtree contains an In leaf (value varies by row). */
  private def variesByRow(t: CompiledExpr): Array[Boolean] =
    subtreeHas(t, _ == OpIn)

  private def subtreeHas(t: CompiledExpr, leaf: Int => Boolean)
      : Array[Boolean] = {
    val n = t.ops.length
    val has = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      has(i) = leaf(t.ops(i)) ||
        (t.c0(i) >= 0 && has(t.c0(i))) || (t.c1(i) >= 0 && has(t.c1(i)))
      i += 1
    }
    has
  }

  /** Java expression for op `i`'s value; `v(j)` names op j's value. */
  private def fwd(t: CompiledExpr, i: Int, v: Int => String): String = {
    def a = v(t.c0(i))
    def b = v(t.c1(i))
    (t.ops(i): @annotation.switch) match {
      case OpConst => jd(t.consts(i))
      case OpIn => s"in[${t.inIdx(i)}]"
      case OpP => s"theta[${t.inIdx(i)}]"
      case OpDr => s"draws[${t.inIdx(i)}]"
      case OpAdd => s"$a + $b"
      case OpSub => s"$a - $b"
      case OpMul => s"$a * $b"
      case OpDiv => s"$a / $b"
      case OpNeg => s"-$a"
      case OpExp => s"Math.exp($a)"
      case OpLog => s"Math.log($a)"
      case OpSqrt => s"Math.sqrt($a)"
      case OpAbs => s"Math.abs($a)"
      case OpPow => s"Math.pow($a, ${jd(t.consts(i))})"
      case OpSigmoid => s"1.0 / (1.0 + Math.exp(-$a))"
      case OpSoftplus => s"graft.functions.MathFns.log1pExp($a)"
      case OpTanh => s"Math.tanh($a)"
      case OpRelu => s"Math.max(0.0, $a)"
      case OpLgamma => s"graft.functions.MathFns.lgamma($a)"
      case OpLse2 => s"graft.functions.MathFns.logSumExp2($a, $b)"
      case OpSin => s"Math.sin($a)"
      case OpCos => s"Math.cos($a)"
    }
  }

  /** Reverse-sweep statements of op `i`: propagate its adjoint `ad(i)`
    * into the adjoints of those children that need one (a P leaf adds
    * it into `gradTheta`). `v(j)` / `ad(j)` name op j's value/adjoint. */
  private def bwd(t: CompiledExpr, need: Array[Boolean], i: Int,
                  v: Int => String, ad: Int => String,
                  indent: String): String = {
    val c0 = t.c0(i); val c1 = t.c1(i)
    val s = new StringBuilder
    def to0(rhs: String, op: String = "+="): Unit =
      if (c0 >= 0 && need(c0)) s.append(s"$indent${ad(c0)} $op $rhs;\n")
    def to1(rhs: String, op: String = "+="): Unit =
      if (c1 >= 0 && need(c1)) s.append(s"$indent${ad(c1)} $op $rhs;\n")
    val a = ad(i); val vi = v(i)
    def x = v(c0)
    def y = v(c1)
    (t.ops(i): @annotation.switch) match {
      case OpConst | OpIn | OpDr => ()
      case OpP => s.append(s"${indent}gradTheta[${t.inIdx(i)}] += $a;\n")
      case OpAdd => to0(a); to1(a)
      case OpSub => to0(a); to1(a, "-=")
      case OpMul => to0(s"$a * $y"); to1(s"$a * $x")
      case OpDiv => to0(s"$a / $y"); to1(s"$a * $x / ($y * $y)", "-=")
      case OpNeg => to0(a, "-=")
      case OpExp => to0(s"$a * $vi")
      case OpLog => to0(s"$a / $x")
      case OpSqrt => to0(s"$a * 0.5 / $vi")
      case OpAbs => to0(s"$a * Math.signum($x)")
      case OpPow => to0(s"$a * ${jd(t.consts(i))} * " +
        s"Math.pow($x, ${jd(t.consts(i) - 1.0)})")
      case OpSigmoid => to0(s"$a * $vi * (1.0 - $vi)")
      case OpSoftplus => to0(s"$a / (1.0 + Math.exp(-$x))")
      case OpTanh => to0(s"$a * (1.0 - $vi * $vi)")
      case OpRelu => to0(s"($x > 0.0) ? $a : 0.0")
      case OpLgamma => to0(s"$a * graft.functions.MathFns.digamma($x)")
      case OpLse2 =>
        to0(s"$a * Math.exp($x - $vi)"); to1(s"$a * Math.exp($y - $vi)")
      case OpSin => to0(s"$a * Math.cos($x)")
      case OpCos => to0(s"$a * Math.sin($x)", "-=")
    }
    s.toString
  }

  private val KernelSig = "  public double evalGradRows(double[][] rows, " +
    "int[] idx, int from, int to, double[] theta, double[] draws, " +
    "double[] gradTheta) {\n"

  private def generate(t: CompiledExpr): String = {
    val sb = new StringBuilder
    val n = t.ops.length
    val need = needsGrad(t)
    val varies = variesByRow(t)
    val v = (j: Int) => s"v$j"
    val ad = (j: Int) => s"a$j"

    sb.append("package graft_gen;\n")
    sb.append("public final class Tape implements graft.autodiff.TapeFn {\n")
    sb.append("  public double eval(double[] in, double[] theta, " +
      "double[] draws) {\n")
    (0 until n).foreach(i => sb.append(s"    double v$i = ${fwd(t, i, v)};\n"))
    sb.append(s"    return v${t.root};\n  }\n")

    sb.append(KernelSig)
    sb.append("    if (to <= from) return 0.0;\n")
    // row-invariant values, and their adjoints: sums over the block
    (0 until n).filterNot(varies).foreach { i =>
      sb.append(s"    double v$i = ${fwd(t, i, v)};\n")
      if (need(i)) sb.append(s"    double a$i = 0.0;\n")
    }
    sb.append("    double sum = 0.0;\n")
    if (varies(t.root)) {
      sb.append("    for (int r = from; r < to; r++) {\n")
      sb.append("      double[] in = idx == null ? rows[r] : rows[idx[r]];\n")
      (0 until n).filter(varies).foreach { i =>
        sb.append(s"      double v$i = ${fwd(t, i, v)};\n")
        if (need(i)) sb.append(
          s"      double a$i = ${if (i == t.root) "1.0" else "0.0"};\n")
      }
      sb.append(s"      sum += v${t.root};\n")
      (n - 1 to 0 by -1).filter(i => varies(i) && need(i))
        .foreach(i => sb.append(bwd(t, need, i, v, ad, "      ")))
      sb.append("    }\n")
    } else {
      // nothing varies: every row has the same value and gradient
      sb.append(s"    sum = (to - from) * v${t.root};\n")
      if (need(t.root)) sb.append(s"    a${t.root} = to - from;\n")
    }
    (n - 1 to 0 by -1).filter(i => !varies(i) && need(i))
      .foreach(i => sb.append(bwd(t, need, i, v, ad, "    ")))
    sb.append("    return sum;\n  }\n}\n")
    sb.toString
  }

  /** Chunked generation for tapes past the single-method limit:
    * forward/backward split into ≤[[ChunkOps]]-op helper methods over
    * `double[]` value/adjoint arrays held in ThreadLocal scratch; the
    * block kernel runs them once per row. */
  private def generateChunked(t: CompiledExpr): String = {
    val sb = new StringBuilder
    val n = t.ops.length
    val need = needsGrad(t)
    val v = (j: Int) => s"v[$j]"
    val ad = (j: Int) => s"a[$j]"

    sb.append("package graft_gen;\n")
    sb.append("public final class Tape implements graft.autodiff.TapeFn {\n")
    sb.append("  private final ThreadLocal tl = new ThreadLocal();\n")
    sb.append(s"  private double[][] scratch() {\n")
    sb.append("    double[][] s = (double[][]) tl.get();\n")
    sb.append(s"    if (s == null) { s = new double[][] " +
      s"{ new double[$n], new double[$n] }; tl.set(s); }\n")
    sb.append("    return s;\n  }\n")

    val fwdChunks = (0 until n).grouped(ChunkOps).toSeq
    fwdChunks.zipWithIndex.foreach { case (idxs, ci) =>
      sb.append(s"  private void f$ci(double[] in, double[] theta, " +
        "double[] draws, double[] v) {\n")
      idxs.foreach(i => sb.append(s"    v[$i] = ${fwd(t, i, v)};\n"))
      sb.append("  }\n")
    }
    val bwdChunks = (n - 1 to 0 by -1).filter(need).grouped(ChunkOps).toSeq
    bwdChunks.zipWithIndex.foreach { case (idxs, ci) =>
      sb.append(s"  private void b$ci(double[] v, double[] a, " +
        "double[] gradTheta) {\n")
      idxs.foreach(i => sb.append(bwd(t, need, i, v, ad, "    ")))
      sb.append("  }\n")
    }

    sb.append("  public double eval(double[] in, double[] theta, " +
      "double[] draws) {\n")
    sb.append("    double[] v = scratch()[0];\n")
    fwdChunks.indices.foreach(ci =>
      sb.append(s"    f$ci(in, theta, draws, v);\n"))
    sb.append(s"    return v[${t.root}];\n  }\n")

    sb.append(KernelSig)
    sb.append("    double[][] s = scratch();\n")
    sb.append("    double[] v = s[0]; double[] a = s[1];\n")
    sb.append("    double sum = 0.0;\n")
    sb.append("    for (int r = from; r < to; r++) {\n")
    sb.append("      double[] in = idx == null ? rows[r] : rows[idx[r]];\n")
    fwdChunks.indices.foreach(ci =>
      sb.append(s"      f$ci(in, theta, draws, v);\n"))
    sb.append(s"      sum += v[${t.root}];\n")
    sb.append("      java.util.Arrays.fill(a, 0.0);\n")
    sb.append(s"      a[${t.root}] = 1.0;\n")
    bwdChunks.indices.foreach(ci =>
      sb.append(s"      b$ci(v, a, gradTheta);\n"))
    sb.append("    }\n")
    sb.append("    return sum;\n  }\n}\n")
    sb.toString
  }

  /** Java double literal that round-trips exactly. */
  private def jd(v: Double): String =
    if (v.isNaN) "Double.NaN"
    else if (v.isPosInfinity) "Double.POSITIVE_INFINITY"
    else if (v.isNegInfinity) "Double.NEGATIVE_INFINITY"
    else s"Double.longBitsToDouble(${java.lang.Double.doubleToLongBits(v)}L)"
}
