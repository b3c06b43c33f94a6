package perfbench

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.experiment.{Ar1Train, GoldenExperiment, ModelTrain, ReferenceWorkload}
import graft.linalg.{BlockedCv, CovDesign, ElasticNet}
import graft.stats.{HacTests, Portmanteau}
import graft.tune.RollingOriginTuner
import graft.varmodel.{LagSelect, VarDesign}
import org.apache.spark.sql.SparkSession

/** The paper's forecast pipeline on one enet-preselected model set: prep,
  * IC lag search, the rolling-origin tune and the tuned expanding-window
  * out-of-sample run at each IC-selected lag, then the forecast tests.
  * Inputs are the paper's fixed FRED panel; the pipeline has no random
  * input, so the seed changes nothing here.
  */
object Forecast {

  /** @param k      model set size: the first k series of the 25-series set
    * @param maxLag IC lag search limit
    * @param alphas the tune's α grid (all 200 reference λs are kept)
    */
  final case class Spec(k: Int, maxLag: Int, alphas: Seq[Double]) {
    def cols: Seq[String] = ReferenceWorkload.EnetSelc25.take(k)
  }

  val InitWindow = 40
  val Horizon = 8
  private val Tol = BlockedCv.GlmnetEquivTol

  /** What one (model set, lag) run produced, in the form the pins use. */
  final case class LagOutcome(lag: Int, tuned: String, errSum: String, testsFinite: Boolean,
      pathFits: Long)
  final case class Outcome(icLags: String, lagsEvaluated: Int, perLag: Seq[LagOutcome])

  def experiment(spark: SparkSession, spec: Spec, tr: Tracer): Outcome = {
    val panel = tr.span("experiment.prep") {
      GoldenExperiment.assemble(GoldenExperiment.prepare(spark), spec.cols)
    }
    val names = spec.cols.toIndexedSeq
    val trainY = panel.y(0 until panel.startPredIdx, ::).toDenseMatrix
    // FPE is excluded from the lags tested, as in the paper.
    val sel = tr.span("varmodel.lagsearch") {
      LagSelect.select(trainY, maxLag = spec.maxLag, alpha = 0.25,
        intercept = false, names = names, solverTol = Tol, spark = Some(spark))
    }
    val icLags = Seq("AIC", "HQ", "SC").map(sel.icLag)
    val perLag = Seq(icLags.min, icLags.max).distinct.map { lag =>
      val grid = RollingOriginTuner.referenceGrid().copy(alphas = spec.alphas)
      val best = tr.span("tune") {
        RollingOriginTuner.tune(trainY, lag, InitWindow, Horizon, grid, names,
          spark = Some(spark), tol = Tol, caretSubmodels = true)
      }
      val res = tr.span("experiment.modeltrain") {
        ModelTrain.run(panel.y, names, panel.startPredIdx, h = Horizon,
          alphas = best.map(_.alpha), lambdas = best.map(_.lambda), lag = lag,
          const = false, spark = Some(spark), solverTol = Tol)
      }
      val finite = tr.span("stats.tests")(forecastTests(panel, res, lag))
      val total = Seq(1, 2, 4, 8).map(h => res.byHorizon(h).msfe).sum
      val errSum = total * res.byHorizon(1).errors.length
      // One auto path per origin, equation and α.
      val origins = (trainY.rows - lag) - Horizon - InitWindow + 1
      LagOutcome(lag,
        best.map(b => f"${b.alpha}%.2f@${b.lambda}%.6e").mkString(","),
        f"$errSum%.9f", finite, origins.toLong * spec.k * spec.alphas.size)
    }
    Outcome(icLags.mkString("/"), sel.icTable.size, perLag)
  }

  /** Clark–West and Diebold–Mariano of the VAR against the AR(1) benchmark
    * per horizon, and Hosking's portmanteau on the last refit's residuals.
    * True when every statistic is finite.
    */
  def forecastTests(panel: GoldenExperiment.Panel, res: ModelTrain.Result, lag: Int): Boolean = {
    val ar1 = Ar1Train.run(panel.y(::, 0).copy, panel.startPredIdx, h = Horizon)
    val stats = Seq(1, 2, 4, 8).flatMap { h =>
      val e1 = ar1.byHorizon(h).errors
      val e2 = res.byHorizon(h).errors
      val cw = HacTests.clarkWest(e1, e2, ar1.byHorizon(h).forecasts,
        res.byHorizon(h).forecasts, nwlag = h)
      val dm = HacTests.dieboldMariano(
        DenseVector.tabulate(e1.length)(i => e1(i) * e1(i) - e2(i) * e2(i)), l = h)
      Seq(cw.statistic, dm.statistic)
    }
    val q = Portmanteau.hosking(res.residuals, order = lag).map(_.statistic)
    (stats ++ q).forall(x => !x.isNaN && !x.isInfinite)
  }

  /** Single-threaded solver probe on the driver, on the tuned design at its
    * largest origin prefix: prefix CovDesign build time, per-row Gram build
    * time, and one early-stopped auto-path fit per equation at the tuned α.
    */
  def linalgProbe(spark: SparkSession, spec: Spec, lag: Int, alphas: Seq[Double]): Map[String, Double] = {
    val panel = GoldenExperiment.assemble(GoldenExperiment.prepare(spark), spec.cols)
    val trainY = panel.y(0 until panel.startPredIdx, ::).toDenseMatrix
    val design = VarDesign.build(trainY, lag, spec.cols.toIndexedSeq, intercept = false)
    val o = design.tReduced - Horizon
    val z: DenseMatrix[Double] = design.z(0 until o, ::).toDenseMatrix
    def ms(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val reps = 7
    val covMs = Stats.median((1 to reps).map(_ => ms(new CovDesign(z, intercept = false, standardize = true))))
    val gramUs = Stats.median((1 to reps).map { _ =>
      val cov = new CovDesign(z, intercept = false, standardize = true)
      ms((0 until z.cols).foreach(cov.gramRow)) * 1000 / z.cols
    })
    val cov = new CovDesign(z, intercept = false, standardize = true)
    (0 until z.cols).foreach(cov.gramRow)
    var lambdas = 0
    val fitMs = Stats.median((1 to reps).map { _ =>
      lambdas = 0
      ms((0 until design.n).foreach { j =>
        val y = design.yP(0 until o, j).toDenseVector
        val a = alphas(j)
        val path = ElasticNet.fitPathCov(cov, y, a,
          ElasticNet.autoLambdaSequenceCov(cov, y, a), tol = Tol, earlyStop = true)
        lambdas += path.fits.size
      }) / design.n
    })
    Map("linalg.cov_build_ms" -> covMs, "linalg.gram_row_us" -> gramUs,
      "linalg.path_fit_ms" -> fitMs, "linalg.path_lambdas" -> lambdas.toDouble / design.n)
  }
}
