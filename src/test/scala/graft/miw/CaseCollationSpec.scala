package graft.miw

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Opt-in case-insensitive key collation: the reference's strcasecmp
  * btree (miw/mr_job.h:93-95) merges keys differing only in case as a
  * side effect of its ordering. Default Spark grouping is exact; the
  * option must reproduce the reference's merge behavior with a
  * deterministic display casing. */
class CaseCollationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val fmt = LogFormat.parse(
    """{"format_name":"t","delims":",","fields":[
        {"name":"user","pos":0,"type":"string","key":true},
        {"name":"v","pos":1,"type":"int","aggregated":true,"aggregation":"sum"}]}""")

  private val data = Seq("Alice,1", "alice,2", "ALICE,4", "bob,8", "Bob,16")

  test("default grouping is case-sensitive (documented divergence)") {
    val rows = MiwEngine.runOnLines(spark, fmt, data).collect()
    assert(rows.length == 5)
  }

  test("caseInsensitiveKeys merges keys like the reference btree") {
    val rows = MiwEngine
      .runOnLines(spark, fmt, data,
        MiwEngine.Options(caseInsensitiveKeys = true))
      .collect()
      .map(r => r.getAs[String]("id") -> (r.getAs[Long]("logs"), r.getAs[Long]("v")))
      .toMap
    assert(rows.size == 2)
    // display case = deterministic min over the merged originals
    assert(rows("ALICE") == ((3L, 7L)))
    assert(rows("Bob") == ((2L, 24L)))
  }

  test("CLI flag -case_insensitive_keys wires through") {
    val a = MiwCli.parseArgs(Array(
      "-fnames", "x", "-format_name", "y", "-case_insensitive_keys"))
    assert(a.caseInsensitiveKeys)
    assert(!MiwCli.parseArgs(Array("-fnames", "x")).caseInsensitiveKeys)
  }

  test("parseArgs names the flag of a missing or non-integer value") {
    for ((argv, msg) <- Seq(
        Array("-format_name", "y", "-fnames") -> "-fnames needs a value",
        Array("-fnames", "x", "--ndisp") -> "-ndisp needs a value",
        Array("-ndisp", "x") -> "-ndisp needs an integer: x",
        Array("-solr_batch_size=1e3") -> "-solr_batch_size needs an integer: 1e3")) {
      val e = intercept[IllegalArgumentException](MiwCli.parseArgs(argv))
      assert(e.getMessage.contains(msg), argv.mkString(" "))
    }
  }
}
