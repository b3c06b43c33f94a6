package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** A fixed list of `SparkEntry` queries, one or two from each operator
  * module, run through the `noop` sink. None of them touches the solver
  * layers (`graft.linalg`, `graft.tune`, `graft.varmodel`); the
  * solver-backed m15/m17 queries are left out on purpose. The list is
  * short because every benchmark run pays each query's first, cold
  * execution in its set-up.
  */
object QueryMix {
  val Modules: Seq[(String, Seq[String])] = Seq(
    "Relational" -> Seq("q1_agg", "w20_interval_sweep"),
    "Estimation" -> Seq("t18_chow_at_break"),
    "GraphOps" -> Seq("g3_label_propagation"),
    "TextPipeline" -> Seq("e6_ann_ivf_search"))

  val Queries: Seq[String] = Modules.flatMap(_._2)
  val ModuleOf: Map[String, String] = Modules.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap

  /** The tables are the same for every workload seed, so the result
    * digests can be pinned; the workload seed orders the queries.
    */
  val DataSeed = 42L

  def fn(name: String): (SparkSession, String) => DataFrame = graft.SparkEntry.queries(name)

  /** Row count plus an order-insensitive hash: the sum of per-row
    * xxhash64 values over all columns.
    */
  def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    val h = Option(r.getDecimal(1)).map(_.toBigInteger.longValue).getOrElse(0L)
    f"${r.getLong(0)}:$h%016x"
  }

  /** One timed query: DataFrame construction (which runs any eager
    * checkpoints) and execution through the noop sink, in seconds.
    */
  def timed(spark: SparkSession, dir: String, name: String, tr: Tracer): (Double, Double) = {
    val t0 = System.nanoTime()
    val df = tr.span("operators.build")(fn(name)(spark, dir))
    val t1 = System.nanoTime()
    tr.span("operators.exec")(df.write.mode("overwrite").format("noop").save())
    ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }
}
