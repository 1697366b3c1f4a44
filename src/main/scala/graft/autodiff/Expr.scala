package graft.autodiff

import graft.functions.MathFns

/** Tiny reverse-mode autodiff over scalar expression DAGs.
  *
  * Spark has no autodiff — the largest semantic gap vs the reference's
  * TensorFlow runtime (SURVEY §4/§7). The reference builds a loss graph
  * once and differentiates it symbolically (`model.py:219-221`); we do
  * the same at the Scala level: the model's per-row log-likelihood and
  * the (param-only) KL term are built as [[Expr]] DAGs on the driver,
  * compiled once to a flat tape, and evaluated over blocks of rows per
  * partition inside `treeAggregate` on executors — the MLlib
  * gradient-descent pattern.
  *
  * Leaves:
  *  - [[In]]   per-row data value (a DataFrame column)
  *  - [[P]]    flat free-space parameter slot (broadcast θ)
  *  - [[Dr]]   per-step iid N(0,1) draw (reparameterization input u;
  *             fixed within a step, refreshed between steps)
  *
  * The tape is compiled with structural CSE, so repeated sub-expressions
  * evaluate once per row; the generated block kernel evaluates those
  * with no [[In]] leaf (e.g. a shared `exp(q_sqrt)`) once per block.
  */
sealed trait Expr {
  def +(o: Expr): Expr = Add(this, o)
  def -(o: Expr): Expr = Sub(this, o)
  def *(o: Expr): Expr = Mul(this, o)
  def /(o: Expr): Expr = Div(this, o)
  def unary_- : Expr = Neg(this)
  def sq: Expr = Mul(this, this)
}

final case class Const(v: Double) extends Expr
final case class In(i: Int) extends Expr
final case class P(slot: Int) extends Expr
final case class Dr(i: Int) extends Expr
final case class Add(a: Expr, b: Expr) extends Expr
final case class Sub(a: Expr, b: Expr) extends Expr
final case class Mul(a: Expr, b: Expr) extends Expr
final case class Div(a: Expr, b: Expr) extends Expr
final case class Neg(a: Expr) extends Expr
final case class ExpE(a: Expr) extends Expr
final case class LogE(a: Expr) extends Expr
final case class SqrtE(a: Expr) extends Expr
final case class AbsE(a: Expr) extends Expr
final case class PowC(a: Expr, c: Double) extends Expr
final case class Sigmoid(a: Expr) extends Expr
final case class Softplus(a: Expr) extends Expr
final case class TanhE(a: Expr) extends Expr
/** Rectifier max(0, a). */
final case class Relu(a: Expr) extends Expr
final case class LgammaE(a: Expr) extends Expr
/** Stable log(e^a + e^b); gradients are the softmax weights. */
final case class Lse2(a: Expr, b: Expr) extends Expr
final case class SinE(a: Expr) extends Expr
final case class CosE(a: Expr) extends Expr

object Expr {
  val zero: Expr = Const(0.0)
  val one: Expr = Const(1.0)
  def c(v: Double): Expr = Const(v)
  def exp(a: Expr): Expr = ExpE(a)
  def log(a: Expr): Expr = LogE(a)
  def sqrt(a: Expr): Expr = SqrtE(a)
  def abs(a: Expr): Expr = AbsE(a)
  def pow(a: Expr, k: Double): Expr = PowC(a, k)
  def sigmoid(a: Expr): Expr = Sigmoid(a)
  def softplus(a: Expr): Expr = Softplus(a)
  def tanh(a: Expr): Expr = TanhE(a)
  def relu(a: Expr): Expr = Relu(a)
  def lgamma(a: Expr): Expr = LgammaE(a)
  def lse2(a: Expr, b: Expr): Expr = Lse2(a, b)
  def sin(a: Expr): Expr = SinE(a)
  def cos(a: Expr): Expr = CosE(a)
  def sum(es: Iterable[Expr]): Expr =
    es.foldLeft(zero)(_ + _)
}

/** Flat tape: one op per node, children by index, topologically sorted.
  * Serializable; shipped to executors once per compiled objective. */
final class CompiledExpr private (
    val ops: Array[Int], val c0: Array[Int], val c1: Array[Int],
    val consts: Array[Double], val inIdx: Array[Int],
    val nIn: Int, val nSlots: Int, val nDraws: Int,
    val root: Int) extends Serializable {

  import CompiledExpr._

  def newValues: Array[Double] = new Array[Double](ops.length)

  /** Janino-generated straight-line form ([[TapeCodegen]]); null when
    * the tape is too large or compilation failed — compiled lazily per
    * JVM and cached process-wide by tape content, so per-task
    * deserialization on executors never recompiles. */
  @transient lazy val fastFn: TapeFn = TapeCodegen.cachedCompile(this)

  /** The execution tier this tape landed on: the single-method block
    * kernel, the chunked per-row form, or the interpreter (too large,
    * or code generation failed). */
  def tier: TapeCodegen.Tier =
    if (fastFn == null) TapeCodegen.Interpreted
    else if (ops.length <= TapeCodegen.MaxOps) TapeCodegen.Single
    else TapeCodegen.Chunked

  /** [[eval]] through the generated code when available. */
  def evalFast(in: Array[Double], theta: Array[Double],
               draws: Array[Double], vals: Array[Double]): Double = {
    val f = fastFn
    if (f != null) f.eval(in, theta, draws)
    else eval(in, theta, draws, vals)
  }

  /** Σ over rows `from until to` of the root value, adding Σ ∂root/∂θ
    * into `gradTheta`; row `r` is `rows(r)`, or `rows(idx(r))` when
    * `idx` is non-null ([[TapeFn.evalGradRows]]). Through the generated
    * code when available, else a per-row [[evalGrad]] loop over scratch
    * allocated once per call. */
  def evalGradRows(rows: Array[Array[Double]], idx: Array[Int], from: Int,
                   to: Int, theta: Array[Double], draws: Array[Double],
                   gradTheta: Array[Double]): Double = {
    val f = fastFn
    if (f != null) f.evalGradRows(rows, idx, from, to, theta, draws, gradTheta)
    else {
      val vals = newValues; val adj = newValues
      var sum = 0.0
      var r = from
      while (r < to) {
        val in = if (idx == null) rows(r) else rows(idx(r))
        sum += evalGrad(in, theta, draws, vals, adj, gradTheta)
        r += 1
      }
      sum
    }
  }

  /** Forward pass; returns the root value. */
  def eval(in: Array[Double], theta: Array[Double], draws: Array[Double],
           vals: Array[Double]): Double = {
    var i = 0
    val n = ops.length
    while (i < n) {
      val v: Double = (ops(i): @inline) match {
        case OpConst => consts(i)
        case OpIn => in(inIdx(i))
        case OpP => theta(inIdx(i))
        case OpDr => draws(inIdx(i))
        case OpAdd => vals(c0(i)) + vals(c1(i))
        case OpSub => vals(c0(i)) - vals(c1(i))
        case OpMul => vals(c0(i)) * vals(c1(i))
        case OpDiv => vals(c0(i)) / vals(c1(i))
        case OpNeg => -vals(c0(i))
        case OpExp => math.exp(vals(c0(i)))
        case OpLog => math.log(vals(c0(i)))
        case OpSqrt => math.sqrt(vals(c0(i)))
        case OpAbs => math.abs(vals(c0(i)))
        case OpPow => math.pow(vals(c0(i)), consts(i))
        case OpSigmoid => 1.0 / (1.0 + math.exp(-vals(c0(i))))
        case OpSoftplus => MathFns.log1pExp(vals(c0(i)))
        case OpTanh => math.tanh(vals(c0(i)))
        case OpRelu => math.max(0.0, vals(c0(i)))
        case OpLgamma => MathFns.lgamma(vals(c0(i)))
        case OpLse2 => MathFns.logSumExp2(vals(c0(i)), vals(c1(i)))
        case OpSin => math.sin(vals(c0(i)))
        case OpCos => math.cos(vals(c0(i)))
      }
      vals(i) = v
      i += 1
    }
    vals(root)
  }

  /** Forward + reverse pass. Adds ∂root/∂θ into `gradTheta` (length
    * nSlots) and, if non-null, ∂root/∂draws into `gradDraws`. Returns
    * the root value. `vals`/`adj` are caller-provided scratch (reused
    * across rows to stay allocation-free in the hot loop). */
  def evalGrad(in: Array[Double], theta: Array[Double], draws: Array[Double],
               vals: Array[Double], adj: Array[Double],
               gradTheta: Array[Double],
               gradDraws: Array[Double] = null): Double = {
    val out = eval(in, theta, draws, vals)
    java.util.Arrays.fill(adj, 0.0)
    adj(root) = 1.0
    var i = ops.length - 1
    while (i >= 0) {
      val a = adj(i)
      if (a != 0.0) {
        (ops(i): @inline) match {
          case OpConst | OpIn => ()
          case OpP => gradTheta(inIdx(i)) += a
          case OpDr => if (gradDraws != null) gradDraws(inIdx(i)) += a
          case OpAdd => adj(c0(i)) += a; adj(c1(i)) += a
          case OpSub => adj(c0(i)) += a; adj(c1(i)) -= a
          case OpMul =>
            adj(c0(i)) += a * vals(c1(i)); adj(c1(i)) += a * vals(c0(i))
          case OpDiv =>
            val d = vals(c1(i))
            adj(c0(i)) += a / d
            adj(c1(i)) -= a * vals(c0(i)) / (d * d)
          case OpNeg => adj(c0(i)) -= a
          case OpExp => adj(c0(i)) += a * vals(i)
          case OpLog => adj(c0(i)) += a / vals(c0(i))
          case OpSqrt => adj(c0(i)) += a * 0.5 / vals(i)
          case OpAbs => adj(c0(i)) += a * math.signum(vals(c0(i)))
          case OpPow =>
            adj(c0(i)) += a * consts(i) * math.pow(vals(c0(i)), consts(i) - 1.0)
          case OpSigmoid =>
            val s = vals(i); adj(c0(i)) += a * s * (1.0 - s)
          case OpSoftplus =>
            adj(c0(i)) += a / (1.0 + math.exp(-vals(c0(i))))
          case OpTanh =>
            val t = vals(i); adj(c0(i)) += a * (1.0 - t * t)
          case OpRelu => if (vals(c0(i)) > 0.0) adj(c0(i)) += a
          case OpLgamma => adj(c0(i)) += a * MathFns.digamma(vals(c0(i)))
          case OpLse2 =>
            val w0 = math.exp(vals(c0(i)) - vals(i))
            val w1 = math.exp(vals(c1(i)) - vals(i))
            adj(c0(i)) += a * w0; adj(c1(i)) += a * w1
          case OpSin => adj(c0(i)) += a * math.cos(vals(c0(i)))
          case OpCos => adj(c0(i)) -= a * math.sin(vals(c0(i)))
        }
      }
      i -= 1
    }
    out
  }
}

object CompiledExpr {
  final val OpConst = 0; final val OpIn = 1; final val OpP = 2
  final val OpDr = 3; final val OpAdd = 4; final val OpSub = 5
  final val OpMul = 6; final val OpDiv = 7; final val OpNeg = 8
  final val OpExp = 9; final val OpLog = 10; final val OpSqrt = 11
  final val OpAbs = 12; final val OpPow = 13; final val OpSigmoid = 14
  final val OpSoftplus = 15; final val OpTanh = 16; final val OpRelu = 17
  final val OpLgamma = 18; final val OpLse2 = 19
  final val OpSin = 20; final val OpCos = 21

  /** Compile with structural common-subexpression elimination. */
  def compile(e: Expr, nIn: Int, nSlots: Int, nDraws: Int): CompiledExpr = {
    val index = scala.collection.mutable.HashMap.empty[Expr, Int]
    val ops = scala.collection.mutable.ArrayBuffer.empty[Int]
    val c0 = scala.collection.mutable.ArrayBuffer.empty[Int]
    val c1 = scala.collection.mutable.ArrayBuffer.empty[Int]
    val consts = scala.collection.mutable.ArrayBuffer.empty[Double]
    val inIdx = scala.collection.mutable.ArrayBuffer.empty[Int]

    def emit(op: Int, a: Int, b: Int, k: Double, idx: Int): Int = {
      ops += op; c0 += a; c1 += b; consts += k; inIdx += idx
      ops.length - 1
    }

    def go(x: Expr): Int = index.getOrElseUpdate(x, x match {
      case Const(v) => emit(OpConst, -1, -1, v, -1)
      case In(i) => emit(OpIn, -1, -1, 0, i)
      case P(s) => emit(OpP, -1, -1, 0, s)
      case Dr(i) => emit(OpDr, -1, -1, 0, i)
      case Add(a, b) => val (i, j) = (go(a), go(b)); emit(OpAdd, i, j, 0, -1)
      case Sub(a, b) => val (i, j) = (go(a), go(b)); emit(OpSub, i, j, 0, -1)
      case Mul(a, b) => val (i, j) = (go(a), go(b)); emit(OpMul, i, j, 0, -1)
      case Div(a, b) => val (i, j) = (go(a), go(b)); emit(OpDiv, i, j, 0, -1)
      case Neg(a) => emit(OpNeg, go(a), -1, 0, -1)
      case ExpE(a) => emit(OpExp, go(a), -1, 0, -1)
      case LogE(a) => emit(OpLog, go(a), -1, 0, -1)
      case SqrtE(a) => emit(OpSqrt, go(a), -1, 0, -1)
      case AbsE(a) => emit(OpAbs, go(a), -1, 0, -1)
      case PowC(a, k) => emit(OpPow, go(a), -1, k, -1)
      case Sigmoid(a) => emit(OpSigmoid, go(a), -1, 0, -1)
      case Softplus(a) => emit(OpSoftplus, go(a), -1, 0, -1)
      case TanhE(a) => emit(OpTanh, go(a), -1, 0, -1)
      case Relu(a) => emit(OpRelu, go(a), -1, 0, -1)
      case LgammaE(a) => emit(OpLgamma, go(a), -1, 0, -1)
      case Lse2(a, b) => val (i, j) = (go(a), go(b)); emit(OpLse2, i, j, 0, -1)
      case SinE(a) => emit(OpSin, go(a), -1, 0, -1)
      case CosE(a) => emit(OpCos, go(a), -1, 0, -1)
    })

    val root = go(e)
    new CompiledExpr(ops.toArray, c0.toArray, c1.toArray, consts.toArray,
      inIdx.toArray, nIn, nSlots, nDraws, root)
  }
}
