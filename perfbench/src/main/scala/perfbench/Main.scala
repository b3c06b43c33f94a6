package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** One benchmark run in one JVM on a `local[cpus]` session: set-up, timed
  * iterations for `--seconds`, output checks outside the timed region, and
  * one JSON result line on stdout. With `--trace 1` iterations alternate
  * between untraced and traced; the traced ones give the per-layer
  * metrics and the spans file, the difference the tracing overhead.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cpus N --t0-ms EPOCH_MS --out DIR --expected FILE
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, t0Ms: Long, out: String, expected: String)

  val ForecastSpecs: Map[String, Forecast.Spec] = Map(
    "forecast_selc10" -> Forecast.Spec(10, maxLag = 30, alphas = Seq(0.5)))

  val PerLayer: Seq[String] = Seq(
    "experiment.prep_s", "experiment.modeltrain_s", "experiment.modeltrain_task_max_s",
    "varmodel.lagsearch_s", "varmodel.lags_evaluated", "varmodel.lagsearch_jobs",
    "varmodel.lagsearch_busy_frac",
    "tune.tune_s", "tune.tasks", "tune.task_s", "tune.task_max_s", "tune.busy_frac",
    "tune.shuffle_write_bytes", "tune.path_fits", "tune.path_fits_per_s",
    "linalg.cov_build_ms", "linalg.gram_row_us", "linalg.path_fit_ms", "linalg.path_lambdas",
    "stats.tests_s",
    "operators.Relational_s", "operators.Estimation_s", "operators.GraphOps_s",
    "operators.TextPipeline_s", "operators.build_s", "operators.exec_s",
    "operators.jobs", "operators.tasks", "operators.task_s", "operators.busy_frac",
    "operators.shuffle_read_bytes", "operators.shuffle_write_bytes", "operators.spill_bytes",
    "operators.exchanges", "operators.broadcast_exchanges",
    "annindex.build_s", "spark.gc_s", "trace.overhead_s", "trace.stage_cover")

  def unitOf(name: String): String =
    if (name.endsWith("_per_s")) "1/s"
    else name.substring(name.lastIndexOf('_') + 1) match {
      case "s" => "s"
      case "ms" => "ms"
      case "us" => "us"
      case "bytes" => "bytes"
      case "frac" | "cover" => "frac"
      case _ => "count"
    }

  /** Everything a workload hands back to be reported. */
  final class Outcome {
    var setupS, setupWallS = 0.0
    val iterS = mutable.ArrayBuffer.empty[Double]        // untraced iterations
    val tracedS = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val observed = mutable.LinkedHashMap.empty[String, String]
    val layers = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val fixed = mutable.Map.empty[String, Double]        // measured once per run
    /** (wall, CPU) seconds of each correct operation in untraced iterations. */
    val perOp = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    def op(name: String, wall: Double, cpu: Double): Unit =
      perOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((wall, cpu))
    /** Each operation's median over its untraced runs. */
    def medianWall: Seq[Double] = perOp.values.map(v => Stats.median(v.map(_._1).toSeq)).toSeq
    def medianCpu: Seq[Double] = perOp.values.map(v => Stats.median(v.map(_._2).toSeq)).toSeq
    /** Ends set-up: its CPU cost so far, and its wall time since `t0Ms`. */
    def endSetup(t0Ms: Long): Unit = {
      setupS = processCpu()
      setupWallS = (System.currentTimeMillis() - t0Ms) / 1e3
    }
    /** Median over traced iterations of their wall time minus the mean of
      * the untraced iterations either side, which cancels a steady JIT
      * warm-up trend.
      */
    def traceOverhead: Double = Stats.median(tracedS.indices.map(j =>
      tracedS(j) - (iterS(j) + iterS(j + 1)) / 2))
    def layer(name: String, v: Double): Unit = layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU nanoseconds of every live Java thread: the driver, Spark's task
    * and scheduler threads. JIT compiler and GC threads are not among
    * them, so the figure is the program's own work, which JIT warm-up and
    * hypervisor steal inflate less than they inflate wall time.
    */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  def cpuSince(before: Map[Long, Long]): Double =
    threadCpu().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** The cost of an operation: CPU seconds of the Java threads plus the
    * garbage collector's pause time, which (serial GC) is the collector's
    * CPU time. JIT compiler threads are left out.
    */
  final class Cost {
    private val cpu0 = threadCpu()
    private val gc0 = gcSeconds()
    def seconds: Double = cpuSince(cpu0) + gcSeconds() - gc0
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of the whole JVM process since it started: every thread,
    * JIT compiler and garbage collector included.
    */
  def processCpu(): Double = os.getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def procStatus(key: String): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    finally f.close()
  }

  private def pins(a: Args): Map[String, String] =
    Json.readFlat(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(a.expected)), "UTF-8"))

  /** (steal, total) jiffies of all CPUs. */
  private def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } finally f.close()
  }

  /** Runs as many iterations as fit `seconds` at the workload's typical
    * iteration time `nominalS`, and at least two. The count depends only
    * on `seconds`, not on how fast this run happens to be, so every run
    * stops at the same point of the JIT warm-up curve; and each operation
    * gets runs after its first, which still carries compilation. With
    * `trace`, iterations alternate untraced and traced, starting and
    * ending untraced, so each traced one sits between two untraced ones.
    * `iter(traced)` runs one iteration and returns its wall seconds.
    */
  def loop(seconds: Double, nominalS: Double, trace: Boolean, o: Outcome)(
      iter: Boolean => Double): Unit = {
    val n = math.max(2, math.round(seconds / nominalS).toInt)
    (0 until (if (trace) math.max(3, n | 1) else n)).foreach { i =>
      val traced = trace && i % 2 == 1
      val g0 = gcSeconds()
      val wall = iter(traced)
      (if (traced) o.tracedS else o.iterS) += wall
      if (traced) o.layer("spark.gc_s", gcSeconds() - g0)
    }
  }

  def runForecast(spark: SparkSession, a: Args, spec: Forecast.Spec, tr: Tracer): Outcome = {
    val o = new Outcome
    val off = new Tracer(spark, false)
    // Warm-up: the same pipeline with the lag search stopped at lag 3, so
    // the timed iteration runs with compiled solver code.
    Forecast.experiment(spark, spec.copy(maxLag = 3), off)
    o.endSetup(a.t0Ms)
    var last: Option[Forecast.Outcome] = None
    loop(a.seconds, nominalS = 12, a.trace, o) { traced =>
      val t = if (traced) tr else off
      val (t0, c0) = (System.nanoTime(), new Cost)
      val res = scala.util.Try(t.span("experiment")(Forecast.experiment(spark, spec, t)))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = c0.seconds
      res match {
        case scala.util.Success(out) =>
          o.attempted += out.perLag.size
          val wrong = check(a, out, o)
          o.failed += wrong
          if (wrong == 0 && !traced)
            out.perLag.foreach(l =>
              o.op(s"${a.workload}.lag${l.lag}", wall / out.perLag.size, cpu / out.perLag.size))
          last = Some(out)
          if (traced) forecastLayers(spark, a, spec, tr, out, o)
        case scala.util.Failure(e) =>
          o.attempted += 1; o.failed += 1
          o.failures += s"experiment: $e"
          e.printStackTrace()
      }
      wall
    }
    if (a.trace) last.foreach { out =>
      val lag = out.perLag.head.lag
      val alphas = out.perLag.head.tuned.split(",").map(_.takeWhile(_ != '@').toDouble).toSeq
      Forecast.linalgProbe(spark, spec, lag, alphas).foreach { case (k, v) => o.fixed(k) = v }
    }
    o
  }

  /** Compares one experiment's outputs with the pins; returns the number
    * of (model set, lag) operations that disagree.
    */
  def check(a: Args, out: Forecast.Outcome, o: Outcome): Int = {
    val pinned = pins(a)
    val w = a.workload
    def pin(key: String, got: String): Boolean = {
      o.observed(key) = got
      val ok = pinned.get(key).contains(got)
      if (!ok) o.failures += s"$key: got $got, pinned ${pinned.getOrElse(key, "nothing")}"
      ok
    }
    val lagsOk = pin(s"$w.ic_lags", out.icLags)
    out.perLag.count { l =>
      val tunedOk = pin(s"$w.lag${l.lag}.tuned", l.tuned)
      val sumOk = pin(s"$w.lag${l.lag}.err_sum", l.errSum)
      if (!l.testsFinite) o.failures += s"$w.lag${l.lag}: a forecast test statistic is not finite"
      !(lagsOk && tunedOk && sumOk && l.testsFinite)
    }
  }

  private def forecastLayers(spark: SparkSession, a: Args, spec: Forecast.Spec, tr: Tracer,
      out: Forecast.Outcome, o: Outcome): Unit = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val root = tr.named("experiment").last
    val mine = tr.all.filter(_.id > root.id)
    def spans(n: String) = mine.filter(_.name == n)
    def secs(n: String) = spans(n).map(_.seconds).sum
    def work(n: String) = { val w = new Work; spans(n).foreach(s => w.add(tr.inclusive(s))); w }
    val n = a.cpus.toDouble
    val stages = Seq("experiment.prep", "varmodel.lagsearch", "tune", "experiment.modeltrain", "stats.tests")
    val cover = stages.map(secs).sum / root.seconds
    o.layer("trace.stage_cover", cover)
    if (math.abs(cover - 1) > 0.05)
      o.failures += f"stage spans cover $cover%.3f of the experiment span, not within 5%%"
    o.layer("experiment.prep_s", secs("experiment.prep"))
    o.layer("experiment.modeltrain_s", secs("experiment.modeltrain"))
    o.layer("experiment.modeltrain_task_max_s", work("experiment.modeltrain").taskMaxNs / 1e9)
    val ls = work("varmodel.lagsearch")
    o.layer("varmodel.lagsearch_s", secs("varmodel.lagsearch"))
    o.layer("varmodel.lags_evaluated", out.lagsEvaluated)
    o.layer("varmodel.lagsearch_jobs", ls.jobs.toDouble)
    o.layer("varmodel.lagsearch_busy_frac", ls.taskNs / 1e9 / (secs("varmodel.lagsearch") * n))
    val tw = work("tune")
    val tuneS = secs("tune")
    val fits = out.perLag.map(_.pathFits).sum
    o.layer("tune.tune_s", tuneS)
    o.layer("tune.tasks", tw.tasks.toDouble)
    o.layer("tune.task_s", tw.taskNs / 1e9)
    o.layer("tune.task_max_s", tw.taskMaxNs / 1e9)
    o.layer("tune.busy_frac", tw.taskNs / 1e9 / (tuneS * n))
    o.layer("tune.shuffle_write_bytes", tw.shuffleWrite.toDouble)
    o.layer("tune.path_fits", fits.toDouble)
    o.layer("tune.path_fits_per_s", fits / tuneS)
    o.layer("stats.tests_s", secs("stats.tests"))
  }

  def runMix(spark: SparkSession, a: Args, tr: Tracer): Outcome = {
    val o = new Outcome
    val off = new Tracer(spark, false)
    val dir = s"${a.out}/tables"
    TableGen.write(spark, dir, QueryMix.DataSeed)
    val rnd = new scala.util.Random(a.seed)
    val pinned = pins(a)
    /** Whether query `q`'s result digest matches its pin. */
    def matches(q: String, when: String): Boolean = {
      val key = s"query_mix.$q"
      val got = scala.util.Try(QueryMix.digest(QueryMix.fn(q)(spark, dir)))
        .fold(e => { e.printStackTrace(); s"error: $e" }, identity)
      o.observed(s"$key.$when") = got
      val ok = pinned.get(key).contains(got)
      if (!ok) o.failures += s"$key ($when): got $got, pinned ${pinned.getOrElse(key, "nothing")}"
      ok
    }
    // Untimed passes: the first pays code generation, builds the ANN index
    // and the cached graph, and checks every query's result on its cold
    // path; the second runs the timed path (noop sink) once, so timed
    // passes start past its first compilation.
    val wrong = rnd.shuffle(QueryMix.Queries).filterNot(matches(_, "cold")).toSet
    QueryMix.Queries.filterNot(wrong).foreach(QueryMix.timed(spark, dir, _, off))
    o.endSetup(a.t0Ms)
    loop(a.seconds, nominalS = 5, a.trace, o) { traced =>
      val t = if (traced) tr else off
      val perModule = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var build, exec = 0.0
      val t0 = System.nanoTime()
      t.span("mix") {
        rnd.shuffle(QueryMix.Queries).foreach { q =>
          o.attempted += 1
          val m = QueryMix.ModuleOf(q)
          val c0 = new Cost
          scala.util.Try(t.span(s"operators.$m")(QueryMix.timed(spark, dir, q, t))) match {
            case scala.util.Success((b, e)) =>
              if (wrong(q)) o.failed += 1 else if (!traced) o.op(q, b + e, c0.seconds)
              perModule(m) += b + e; build += b; exec += e
            case scala.util.Failure(e) =>
              o.failed += 1
              o.failures += s"$q: $e"
          }
          if (traced) t.settle(t.lastId)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) {
        val root = tr.named("mix").last
        val w = tr.inclusive(root)
        QueryMix.Modules.foreach { case (m, _) => o.layer(s"operators.${m}_s", perModule(m)) }
        o.layer("operators.build_s", build)
        o.layer("operators.exec_s", exec)
        o.layer("operators.jobs", w.jobs.toDouble)
        o.layer("operators.tasks", w.tasks.toDouble)
        o.layer("operators.task_s", w.taskNs / 1e9)
        o.layer("operators.busy_frac", w.taskNs / 1e9 / (root.seconds * a.cpus))
        o.layer("operators.shuffle_read_bytes", w.shuffleRead.toDouble)
        o.layer("operators.shuffle_write_bytes", w.shuffleWrite.toDouble)
        o.layer("operators.spill_bytes", w.spill.toDouble)
        o.layer("operators.exchanges", w.exchanges.toDouble)
        o.layer("operators.broadcast_exchanges", w.broadcastExchanges.toDouble)
      }
      wall
    }
    // The timed passes write to the noop sink; check each query once more
    // on the same warm path (cached graph, trained index), untimed.
    QueryMix.Queries.foreach { q =>
      o.attempted += 1
      if (!matches(q, "warm")) o.failed += 1
    }
    o.fixed("annindex.build_s") = graft.operators.AnnIndex.buildLog.values.sum
    o
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cpus").toInt, need("t0-ms").toLong, need("out"), need("expected"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(a.workload == "query_mix" || ForecastSpecs.contains(a.workload),
      s"unknown workload ${a.workload}")
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      // Room for every class the mix generates: with the default 100
      // entries, passes evict each other's classes and recompile them,
      // and the cost then depends on the (seeded) query order.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Tracer(spark, a.trace)
    val (steal0, total0) = cpuTicks()
    val o =
      if (a.workload == "query_mix") runMix(spark, a, tr)
      else runForecast(spark, a, ForecastSpecs(a.workload), tr)
    val (steal1, total1) = cpuTicks()
    tr.close()
    if (a.trace) tr.write(java.nio.file.Paths.get(a.out, "traces", s"${a.workload}-seed${a.seed}.json"))

    val okFrac = if (o.attempted == 0) 0.0 else (o.attempted - o.failed).toDouble / o.attempted
    // Set-up, iteration and operation costs are CPU seconds (see Cost),
    // each operation with its median untraced run. On a shared host wall
    // time follows hypervisor steal (a stolen core stalls every Spark stage
    // waiting on its task), so wall figures go to the context. The typical
    // operation is the geometric mean: with five queries a median is one
    // query's figure, and twice as noisy from run to run.
    val endToEnd = Seq(
      "setup_s" -> (o.setupS, "s"),
      "iteration_cpu_s" -> (o.medianCpu.sum, "s"),
      "op_geomean_cpu_s" -> (Stats.geomean(o.medianCpu), "s"),
      "rss_peak_mb" -> (procStatus("VmHWM") / 1024, "MB"),
      "ok_frac" -> (okFrac, "frac"))
    val layerValues: Map[String, Double] =
      o.layers.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++ o.fixed ++
        Map("trace.overhead_s" -> o.traceOverhead)
    val metrics =
      if (!a.trace) endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      else PerLayer.map(k => k -> Map("value" -> layerValues.getOrElse(k, 0.0), "unit" -> unitOf(k)))
    val context = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "steal_pct" -> (if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0),
      "iterations" -> o.iterS.size, "traced_iterations" -> o.tracedS.size,
      "iteration_s_all" -> o.iterS.toSeq, "traced_s_all" -> o.tracedS.toSeq,
      "iteration_s" -> o.medianWall.sum, "op_geomean_s" -> Stats.geomean(o.medianWall),
      "setup_wall_s" -> o.setupWallS,
      "op_wall_cpu_s" -> scala.collection.immutable.TreeMap(o.perOp.map { case (k, v) => k -> v.map { case (w, c) => Seq(w, c) }.toSeq }.toSeq: _*))
    spark.stop()
    val correct = o.failed == 0 && o.failures.isEmpty && o.attempted > 0
    println(Json.obj(Seq(
      "correct" -> correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*),
      "context" -> scala.collection.immutable.ListMap(context: _*),
      "failures" -> o.failures.toSeq,
      "observed" -> o.observed)))
  }
}
