package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Writes the tables the query mix reads, in the layout of
  * `graft.sources.Tables` (lineitem, events, embeddings), one parquet
  * directory each. Row counts, key cardinalities, value ranges and
  * distributions follow the repository's scale-0.01 test data (TESTDATA.md),
  * as measured on it: every field is drawn independently, and uniformly
  * unless noted. The draws are hashes of (data seed, table, row, field), so
  * a data seed always gives the same tables.
  */
object TableGen {
  val LineItems = 60000
  val Orders = 15000
  val Parts = 2000
  val Suppliers = 100
  val ShipDays = 2499       // 1995-01-02 .. 2001-11-04
  val Events = 10000
  val Users = 150
  val Vectors = 500
  val Dim = 64

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    def hash(table: String, f: Int, id: Column): Column = xxhash64(lit(seed), lit(table), id, lit(f))
    /** A uniform draw in [0, n) for field `f` of row `id`. */
    def u(table: String, f: Int, n: Long, id: Column = col("id")): Column =
      pmod(hash(table, f, id), lit(n))
    /** A uniform draw in (0, 1]. */
    def u01(table: String, f: Int, id: Column = col("id")): Column =
      (u(table, f, 1L << 30, id) + 1) / (1L << 30).toDouble
    def pick(table: String, f: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (u(table, f, xs.size) + 1).cast("int"))
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def rows(n: Long): DataFrame = spark.range(n).toDF()

    // Order keys are drawn per line, so orders have a Poisson-like number
    // of lines (mean 4) and about 2% of keys have none; line numbers are
    // drawn independently of the order, as in the test data.
    save("lineitem", rows(LineItems).select(
      u("l", 0, Orders).as("l_orderkey"), u("l", 1, Parts).as("l_partkey"),
      u("l", 2, Suppliers).as("l_suppkey"), (u("l", 3, 7) + 1).cast("int").as("l_linenumber"),
      (u("l", 4, 50) + 1).cast("double").as("l_quantity"),
      (lit(900.0) + u("l", 5, 10410000) / 100.0).as("l_extendedprice"),
      (u("l", 6, 11) / 100.0).as("l_discount"), (u("l", 7, 9) / 100.0).as("l_tax"),
      pick("l", 8, Seq("A", "N", "R")).as("l_returnflag"),
      pick("l", 9, Seq("O", "F")).as("l_linestatus"),
      date_add(lit("1995-01-02").cast("date"), u("l", 10, ShipDays).cast("int"))
        .cast("timestamp").as("l_shipdate")))

    // Thirty days of events: uniform times, numbered in time order.
    // Values are exponential with mean 50, to the cent.
    val t = lit(1704067200000000L) + u("e", 1, 30L * 86400 * 1000000)
    save("events", rows(Events).select(t.as("t"), col("id"))
      .select((row_number().over(Window.orderBy(col("t"), col("id"))) - 1).cast("long")
        .as("event_id"), timestamp_micros(col("t")).as("ts"), col("id"))
      .select(col("event_id"), col("ts"), u("e", 2, Users).as("user_id"),
        pick("e", 3, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
        greatest(round(-log(u01("e", 4)) * 50, 2), lit(0.01)).as("value"),
        format_string("{\"k\": %d}", u("e", 5, 100)).as("props")))

    // Isotropic Gaussian directions (Box-Muller) scaled to unit length;
    // the labels carry no cluster structure.
    def gauss(j: Column): Column = {
      val key = col("vec_id") * Dim + j
      sqrt(log(u01("v", 1, key)) * -2) * cos(u01("v", 2, key) * (2 * math.Pi))
    }
    save("embeddings", rows(Vectors).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(Dim - 1)), j => gauss(j.cast("long"))).as("raw"),
        u("v", 3, 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (s, y) => s + y * y)))
          .cast("float")).as("embedding"),
        col("label")))
  }
}
