package graft

import org.apache.spark.sql.SparkSession

/** The one local-session policy every entry point builds through: `local[n]`
  * with `n` shuffle partitions, UTC session time (the DuckDB oracle renders
  * and compares timestamps in UTC), no UI, WARN logs. Everything else is a
  * Spark default, so dev timings, plan dumps and tests see the bench's conf.
  */
object Session {

  /** `$SPARK_GRAFT_CPUS`, default 32. */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The policy as a builder, for a caller that adds a conf of its own. */
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  def local(cores: Int): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
