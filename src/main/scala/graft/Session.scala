package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every main and the test suite run on, so a
  * bench, a verify dump, a plan capture and an A/B all measure the same
  * engine. The CPU count comes from `SPARK_GRAFT_CPUS` (default 4) and
  * sets both the local thread count and the shuffle partition count.
  * UTC is pinned because `Tables.t` normalizes timestamps and the
  * bucketing queries must bucket as the oracle does. AQE and its skew
  * join split are pinned because their defaults can change between
  * Spark versions; the split guards a hot join key in the star joins
  * at scale. Engine extensions (`GraftExtensions`) stay opt-in:
  * installing them here would change every benched plan. */
object Session {
  val CpusVar = "SPARK_GRAFT_CPUS"

  /** CPU count from `env`: 4 when unset; anything but an integer ≥ 1
    * is rejected here instead of deep inside SparkContext. */
  def cpusFrom(env: collection.Map[String, String]): Int = env.get(CpusVar) match {
    case None => 4
    case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(s"$CpusVar must be an integer >= 1, got '$v'"))
  }

  def apply(cpus: Int = cpusFrom(sys.env)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
