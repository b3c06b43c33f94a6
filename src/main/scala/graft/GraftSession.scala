package graft
import org.apache.spark.sql.SparkSession

/** The one way the engine's mains and specs build a SparkSession:
  * `local[N]` with N shuffle partitions, session time zone UTC, the UI off
  * and Spark's log level at WARN, so the contract cannot drift between
  * them.
  */
object GraftSession {

  /** N for the mains: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** The configured builder, for callers that add a static conf of their
    * own (an extension, a state store) before `getOrCreate()`.
    */
  def builder(n: Int = cpus): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$n]")
    .config("spark.sql.shuffle.partitions", n.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.log.level", "WARN")

  def apply(): SparkSession = builder().getOrCreate()
}
