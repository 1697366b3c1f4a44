package perfbench

import breeze.linalg.{DenseMatrix, DenseVector, eigSym}
import graft.autodiff.{Expr, ExprFns}
import graft.core.{Module, Variational}
import graft.data.DataSet
import graft.optimize.{Elbo, Schedules}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bayesian linear regression trained by the ELBO engine on data made
  * from the seed, in four operations, each on a model of its own:
  *  - `local`: Adam steps on the driver-local path;
  *  - `dist`: the same model forced onto the distributed treeAggregate
  *    path (`localThreshold = 0`): every step samples its minibatch and
  *    aggregates the gradient in one Spark job. (Fused sub-steps would
  *    collect each sampled minibatch of this size and step on the
  *    driver, bypassing treeAggregate.)
  *  - `rff`: random-Fourier-feature GP regression with D = 16;
  *  - `fit`: a fresh model trained from the prior for [[ViTrain.FitSteps]]
  *    steps.
  * Within each operation the learning rate decays (cosine) to a
  * hundredth of its peak, so that every operation ends with little of
  * Adam's minibatch noise left.
  * The models of `local`, `dist` and `rff` start with posterior scales of
  * [[ViTrain.SteadySd]] and the noise at its true variance, near where
  * training leaves them, so their steps run in the steady state; before
  * each of these operations the posterior means are set
  * [[ViTrain.StartOffset]] away from the closed-form solution, so each
  * has to move them back. Every ELBO must be finite. After every
  * operation the posterior means of the linear models must be within
  * [[ViTrain.FitTol]] of the closed-form least-squares fit, and the RFF
  * model's fitted values within [[ViTrain.RffTol]] (root mean square over
  * the training rows) of those of the closed-form posterior mean. */
object ViTrain extends Workload {
  val name = "vi_train"
  val Ops: Seq[String] = Seq("local", "dist", "rff", "fit")
  val Rows = 600000
  val Minibatch = 65536
  /** Peak learning rate of `local`, `dist` and `rff`. */
  val Lr = 0.05
  val LocalSteps = 50
  val DistSteps = 30
  val RffSteps = 30
  val RffD = 16
  val NoiseSd = 0.5
  /** Steps and peak learning rate of `fit`, which starts from the prior:
    * its posterior scales have to shrink from 1 to about 0.001. */
  val FitSteps = 300
  val FitLr = 0.1
  /** Largest distance a linear model's posterior mean may have from
    * least squares after an operation. */
  val FitTol = 0.1
  /** Largest root-mean-square distance of the RFF model's fitted values
    * from those of the closed-form posterior mean. */
  val RffTol = 0.1
  /** How far each linear posterior mean, and the RFF model's fitted
    * values, are moved from the closed form before each `local`, `dist`
    * and `rff` operation. */
  val StartOffset = 0.3
  /** Initial posterior scale of the models of `local`, `dist` and `rff`
    * (`fit` starts from the prior's scale, 1). */
  val SteadySd = 0.01

  /** True intercept and slope: fixed, so every seed asks the same
    * distance of the `fit` operation. */
  val TrueA = 0.5
  val TrueB = -0.8

  /** x ~ N(0,1), y = TrueA + TrueB·x + N(0, 0.25), drawn from the seed.
    * Every value is a pure function of (seed, row id), so the data does
    * not depend on partitioning. */
  def data(spark: SparkSession, seed: Long, partitions: Int): DataFrame = {
    val (a, b) = (TrueA, TrueB)
    def unif(salt: Long) =
      (shiftrightunsigned(xxhash64(col("id"), lit(seed * 4 + salt)), 11) + 1) /
        lit(9007199254740992.0)
    val rad = sqrt(lit(-2.0) * log(unif(0)))
    val ang = lit(2 * math.Pi) * unif(1)
    spark.range(0, Rows, 1, partitions)
      .select((rad * cos(ang)).as("x"), (rad * sin(ang)).as("z"))
      .select(col("x"), (lit(a) + lit(b) * col("x") + lit(NoiseSd) * col("z")).as("y"))
  }

  /** Closed-form least squares (intercept, slope) of y on x. */
  def leastSquares(rows: Array[Array[Double]]): (Double, Double) = {
    var n = 0.0; var sx = 0.0; var sy = 0.0; var sxx = 0.0; var sxy = 0.0
    rows.foreach { v =>
      n += 1; sx += v(0); sy += v(1); sxx += v(0) * v(0); sxy += v(0) * v(1)
    }
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    ((sy - slope * sx) / n, slope)
  }

  /** The exact posterior of weights w ~ N(0, I) under y ~ N(Φw, σ²),
    * from rows (φ_1..φ_D, y): its mean (ΦᵀΦ/σ² + I)⁻¹Φᵀy/σ², and the
    * Gram matrix ΦᵀΦ/n that turns a weight difference d into the mean
    * square dᵀ(ΦᵀΦ/n)d of the fitted values' difference. */
  def ridge(rows: Array[Array[Double]], noiseVar: Double)
      : (DenseVector[Double], DenseMatrix[Double]) = {
    val d = rows.head.length - 1
    val g = DenseMatrix.zeros[Double](d, d)
    val r = DenseVector.zeros[Double](d)
    rows.foreach { v =>
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { g(i, j) += v(i) * v(j); j += 1 }
        r(i) += v(i) * v(d)
        i += 1
      }
    }
    val mean = (g / noiseVar + DenseMatrix.eye[Double](d)) \ (r / noiseVar)
    (mean, g / rows.length.toDouble)
  }

  /** Cosine decay from `peak` to `peak / 100` over `steps` steps. */
  def decay(peak: Double, steps: Int): Int => Double =
    Schedules.warmupCosine(peak, steps, floor = peak / 100)

  /** The per-layer readings of one operation that ran `steps` steps in
    * `secs` seconds; only `dist` starts Spark jobs, so only its wall time
    * is execution time. */
  def layer(op: String, secs: Double, steps: Int, work: Work): Map[String, Double] = {
    val perStep = if (steps > 0) secs * 1e3 / steps else 0.0
    QueryWorkload.execLayer(work) ++ (op match {
      case "local" => Map("optimize.step_ms" -> perStep)
      case "dist" => Map("exec.run_s" -> secs, "optimize.dist_step_ms" -> perStep,
        "optimize.dist_jobs_per_step" -> work.jobs.toDouble / steps,
        "optimize.dist_tasks_per_step" -> work.tasks.toDouble / steps)
      case "rff" => Map("optimize.rff_step_ms" -> perStep)
      case _ => Map("optimize.fit_s" -> secs)
    })
  }

  /** The per-layer readings of one set-up, in seconds. */
  def setupLayer(splitS: Double, projectS: Double, gpS: Double,
                 compileS: Double): Map[String, Double] = Map(
    "data.split_s" -> splitS, "data.project_s" -> projectS,
    "gp.project_s" -> gpS, "autodiff.compile_s" -> compileS)

  /** y ~ N(a + b·x, exp(c)); `steady` starts the posterior scales at
    * [[SteadySd]] and c at the true log-variance, else all at the prior. */
  private final class Linear(steady: Boolean) {
    private val sd = if (steady) SteadySd else 1.0
    val root = new Module
    val a: Variational = root.add("a", new Variational.Normal(Seq(1), stddev = sd))
    val b: Variational = root.add("b", new Variational.Normal(Seq(1), stddev = sd))
    val c: Variational = root.add("c", new Variational.Normal(Seq(1), stddev = sd,
      mean = if (steady) math.log(NoiseSd * NoiseSd) else 0.0))
    def elbo(ds: DataSet, seed: Long, localThreshold: Long = 32000000L): Elbo =
      new Elbo(root, ds, Seq("x", "y"), ctx => {
        val fit = ctx.sample1(a) + ctx.sample1(b) * ctx.in("x")
        ExprFns.gaussian(ctx.in("y"), fit, Expr.exp(ctx.sample1(c)))
      }, seed = seed, localThreshold = localThreshold)
    def means: (Double, Double) = (a.qMu.value(0), b.qMu.value(0))
    def restart(a0: Double, b0: Double): Unit = {
      a.qMu.assign(DenseVector(a0)); b.qMu.assign(DenseVector(b0))
      root.initialize()
    }
  }

  def prepare(spark: SparkSession, env: Env): Prepared = {
    def timed[T](layer: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = env.tracer.span(layer, env.trace)(_ => body)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val cols = Seq("x", "y")
    val (ds, splitS) = timed("data.split") {
      val d = new DataSet(data(spark, env.seed, env.cpus), seed = env.seed)
      d.trainCount; d
    }
    val (train, projectS) = timed("data.project") {
      ds.trainVectors(cols).count()
      ds.localTrain(cols)
    }
    val (lsA, lsB) = leastSquares(train)
    val (modelL, modelD) = (new Linear(steady = true), new Linear(steady = true))
    val ((elboL, elboD), compileL) = timed("autodiff.compile")(
      (modelL.elbo(ds, env.seed), modelD.elbo(ds, env.seed, localThreshold = 0L)))
    // RFF-GP: D cosine features of x, fed to the same engine
    val phiCols = (0 until RffD).map(j => s"phi$j")
    val ((dsR, trainR), gpS) = timed("gp.project") {
      val (w, ph) = graft.gp.Rff.frequencies(1, RffD, DenseVector(1.0),
        seed = env.seed)
      val phis = graft.gp.RffGpr.featureCols(Seq(col("x")), w, ph)
      val feats = ds.data.select(phis.zip(phiCols).map { case (c, n) => c.as(n) } :+
        col("y").as("rff_y"): _*)
      val d = new DataSet(feats, seed = env.seed)
      (d, d.localTrain(phiCols :+ "rff_y"))
    }
    val (rffMean, rffGram) = ridge(trainR, NoiseSd * NoiseSd)
    val rffRoot = new Module
    val ws = phiCols.map(n =>
      rffRoot.add(s"w_$n", new Variational.Normal(Seq(1), stddev = SteadySd)))
    val (elboR, compileR) = timed("autodiff.compile")(
      new Elbo(rffRoot, dsR, phiCols :+ "rff_y", ctx => {
        val mean = ws.zip(phiCols).foldLeft(Expr.c(0.0)) { case (acc, (w, n)) =>
          acc + ctx.sample1(w) * ctx.in(n)
        }
        ExprFns.gaussian(ctx.in("rff_y"), mean, Expr.c(NoiseSd * NoiseSd))
      }, seed = env.seed))
    // first steps compile the tapes; later steps are steady state
    elboL.optimize(maxiter = 1, minibatchSize = Minibatch, lr = Lr)
    elboD.optimize(maxiter = 1, minibatchSize = Minibatch, lr = Lr)
    elboR.optimize(maxiter = 1, minibatchSize = Minibatch, lr = Lr)

    /** Largest distance of a linear model's means from least squares. */
    def linearErr(m: Linear): Double = {
      val (a, b) = m.means
      math.max(math.abs(a - lsA), math.abs(b - lsB))
    }
    def rffErr: Double = {
      val d = DenseVector(ws.map(_.qMu.value(0)): _*) - rffMean
      math.sqrt(d dot (rffGram * d))
    }
    // the fitted values start StartOffset (root mean square) away, along
    // the top eigenvector of the features' Gram matrix: the cosine
    // features are nearly collinear, and a shift with a component along
    // a near-null direction moves the weights far for little change in
    // the fit, which Adam then takes seed-dependent long to undo
    val rffStart = {
      val es = eigSym(rffGram)
      val top = RffD - 1
      rffMean + es.eigenvectors(::, top) * (StartOffset / math.sqrt(es.eigenvalues(top)))
    }
    def rffRestart(): Unit = {
      ws.zipWithIndex.foreach { case (w, j) => w.qMu.assign(DenseVector(rffStart(j))) }
      rffRoot.initialize()
    }

    new Prepared {
      val ops: Seq[String] = Ops
      val warmupPasses = 0
      val setupLayer: Map[String, Double] =
        ViTrain.setupLayer(splitS, projectS, gpS, compileL + compileR)

      def run(op: String, tracer: Tracer, counters: Option[GroupCounters],
              trace: String): Sample = {
        val sc = spark.sparkContext
        val group = s"$trace/optimize.steps"
        counters.foreach(_ => sc.setJobGroup(group, op))
        val t0 = System.nanoTime()
        // (steps, last ELBO, distance from the closed form before and
        // after the steps, its tolerance, what was thrown)
        val (steps, elbo, err0, err, tol, thrown) = try {
          tracer.span("optimize.steps", trace)(_ => op match {
            case "local" =>
              modelL.restart(lsA + StartOffset, lsB + StartOffset)
              val e0 = linearErr(modelL)
              (LocalSteps, elboL.optimize(maxiter = LocalSteps, minibatchSize = Minibatch,
                lr = Lr, lrSchedule = decay(Lr, LocalSteps)), e0, linearErr(modelL), FitTol, None)
            case "dist" =>
              modelD.restart(lsA + StartOffset, lsB + StartOffset)
              val e0 = linearErr(modelD)
              (DistSteps, elboD.optimize(maxiter = DistSteps, minibatchSize = Minibatch,
                lr = Lr, lrSchedule = decay(Lr, DistSteps)),
                e0, linearErr(modelD), FitTol, None)
            case "rff" =>
              rffRestart()
              val e0 = rffErr
              (RffSteps, elboR.optimize(maxiter = RffSteps, minibatchSize = Minibatch,
                lr = Lr, lrSchedule = decay(Lr, RffSteps)), e0, rffErr, RffTol, None)
            case "fit" =>
              val m = new Linear(steady = false)
              val e0 = linearErr(m)
              val last = m.elbo(ds, env.seed).optimize(maxiter = FitSteps,
                minibatchSize = Minibatch, lr = FitLr, lrSchedule = decay(FitLr, FitSteps))
              (FitSteps, last, e0, linearErr(m), FitTol, None)
          })
        } catch {
          case e: Throwable => (0, Double.NaN, Double.NaN, Double.NaN, 0.0,
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        } finally counters.foreach(_ => sc.clearJobGroup())
        val secs = (System.nanoTime() - t0) / 1e9
        val work = counters.map(_.take(sc, group)).getOrElse(Work())
        val error = thrown
          .orElse(Option.when(!java.lang.Double.isFinite(elbo))(s"non-finite ELBO $elbo"))
          .orElse(Option.when(!(err < tol))(
            s"distance $err from the closed-form fit is not within $tol"))
        Sample(op, secs, error, layer(op, secs, steps, work),
          Map("steps" -> steps, "elbo" -> elbo, "start_err" -> err0, "err" -> err))
      }

      def close(): Unit = { ds.unpersist(); dsR.unpersist() }
    }
  }
}
