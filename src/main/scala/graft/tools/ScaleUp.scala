package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench-data scaler: replicates a testdata directory `factor`× with
  * shifted keys so join selectivities and group cardinalities scale
  * with the data (a plain row copy would keep key cardinality flat
  * and make every groupBy artificially hot).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>
  *
  * Fact/entity tables shift their primary keys (and the foreign keys
  * that reference a scaled table) by `copy × (max(key)+1)`; dimension
  * tables (region/nation/customer/supplier) copy through unchanged,
  * mirroring TPC-H scaling. Output is parquet, written once — this is
  * a DEV TOOL for producing larger bench inputs (e.g. sf0.1 → sf1);
  * correctness gates always run on the driver-provided testdata.
  */
object ScaleUp {

  /** Keys to shift per table: column → (table, column) whose max+1
    * defines the shift step. A FOREIGN key must shift by the
    * REFERENCED table's step (l_partkey by part's max p_partkey+1,
    * not by max l_partkey+1 — if the top part ids are unreferenced,
    * per-copy FK blocks would land offset from the PK blocks,
    * dangling or crossing copies and distorting exactly the join
    * selectivities this tool exists to preserve). */
  private val shifted: Map[String, Seq[(String, (String, String))]] = Map(
    "lineitem"   -> Seq("l_orderkey" -> ("orders", "o_orderkey"),
                        "l_partkey"  -> ("part", "p_partkey")),
    "orders"     -> Seq("o_orderkey" -> ("orders", "o_orderkey")),
    "part"       -> Seq("p_partkey"  -> ("part", "p_partkey")),
    "events"     -> Seq("event_id"   -> ("events", "event_id"),
                        "user_id"    -> ("events", "user_id")),
    "documents"  -> Seq("doc_id"     -> ("documents", "doc_id")),
    "embeddings" -> Seq("vec_id"     -> ("embeddings", "vec_id")))

  private val passthrough = Seq("region", "nation", "customer", "supplier")

  /** Replicate `df` factor×, shifting each key by `i × step(key)`. */
  def scaleTable(df: DataFrame, steps: Seq[(String, Long)], factor: Int): DataFrame =
    (0 until factor).map { i =>
      steps.foldLeft(df) { case (d, (k, step)) =>
        d.withColumn(k, col(k) + lit(i * step))
      }
    }.reduce(_ union _)

  def main(args: Array[String]): Unit = {
    val Array(src, dst, f) = args
    val factor = f.toInt
    val spark = graft.Session()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    new java.io.File(dst).mkdirs()
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // one step per referenced (table, column), from the SOURCE data
    val stepOf: Map[(String, String), Long] =
      shifted.values.flatten.map(_._2).toSet.map { tc: (String, String) =>
        tc -> (read(tc._1).agg(max(col(tc._2))).head().getLong(0) + 1L)
      }.toMap
    for (t <- passthrough)
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    for ((t, keys) <- shifted) {
      val steps = keys.map { case (k, ref) => k -> stepOf(ref) }
      scaleTable(read(t), steps, factor)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"scaled $t x$factor")
    }
    spark.stop()
  }
}
