package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool (not part of the driver contract): dump
  * `explain("formatted")` for every declared query — the judge-facing
  * plan evidence under plans/r12/. Builds its session with
  * [[graft.Session]], as Bench does, so at the same `SPARK_GRAFT_CPUS`
  * the captured plans are the benched plans by construction (AQE
  * initial plan; the runtime-re-optimized plan is what executes, but
  * Exchange count, join strategy and PushedFilters are decided here).
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.tools.Plans <outDir> [suffix] [q24,q55,…]"
  * Writes <outDir>/<query>_<suffix>.txt (suffix default "before").
  * List entries select as [[graft.SparkEntry.selects]] does. Each dump
  * goes through [[renumberIds]], so it does not depend on which
  * queries ran before it in the same JVM.
  */
object Plans {
  private val counters = Seq("#(\\d+)".r, "plan_id=(\\d+)".r, "RDD\\[(\\d+)\\]".r)

  /** `txt` with its process-global counters renumbered 1, 2, … by
    * first appearance: expression ids (`doc_id#123L`), `plan_id=`s
    * and RDD ids (`MapPartitionsRDD[800]`). Equal plans then dump
    * byte-identically whatever ran earlier in the JVM. */
  def renumberIds(txt: String): String = counters.foldLeft(txt) { (t, re) =>
    val seen = scala.collection.mutable.HashMap[String, Int]()
    re.replaceAllIn(t, m => scala.util.matching.Regex.quoteReplacement(
      m.matched.replace(m.group(1), seen.getOrElseUpdate(m.group(1), seen.size + 1).toString)))
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "plans/r12"
    val suffix = if (args.length > 1) args(1) else "before"
    val only = if (args.length > 2)
      Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(graft.SparkEntry.selects(_, n))) }
    // failures are counted and exit nonzero (r13, advisor ask): a
    // scripted capture must not silently produce an empty plans/ dir
    var failures = 0
    for ((name, fn) <- selected) {
      try {
        val df = fn(spark, sfDir)
        // queryExecution.explainString == df.explain("formatted") text
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          renumberIds(txt).getBytes("UTF-8"))
        println(s"[plans] wrote $name")
      } catch { case scala.util.control.NonFatal(e) =>
        failures += 1
        System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
      }
    }
    println(s"[plans] ${selected.size - failures}/${selected.size} written, $failures failed")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
