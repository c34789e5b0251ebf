package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Query-list selection and plan-dump normalization — the two pure
  * helpers behind `Bench`'s `SPARK_GRAFT_ONLY`/`SPARK_GRAFT_SKIP` and
  * the Plans tool. */
class PlansSpec extends AnyFunSuite {

  test("a list entry selects its query by full name or id, never a longer id") {
    val names = Seq("q22_x", "q220_y", "q23_minhash_sig", "q230_personalized_pagerank",
      "q231_dedup_threshold_sensitivity")
    def pick(entry: String) = names.filter(SparkEntry.selects(entry, _))
    assert(pick("q23") == Seq("q23_minhash_sig"))
    assert(pick("q23_") == Seq("q23_minhash_sig"))
    assert(pick("q23_minhash_sig") == Seq("q23_minhash_sig"))
    assert(pick("q22") == Seq("q22_x"))
    assert(pick("q230") == Seq("q230_personalized_pagerank"))
    assert(pick("q2").isEmpty && pick("q23_min").isEmpty)
    // every registered query is selected by its own name and its id
    for (n <- SparkEntry.queries.keys) {
      val id = n.takeWhile(_ != '_')
      assert(SparkEntry.queries.keys.filter(SparkEntry.selects(id, _)).toSeq == Seq(n), n)
    }
  }

  test("renumberIds numbers expression, plan and RDD ids by first appearance") {
    val a = """Project [doc_id#812L, sig#815]
              |+- Exchange hashpartitioning(doc_id#812L, 4), [plan_id=2041]
              |   +- Scan ExistingRDD MapPartitionsRDD[800] [doc_id#812L, text#813]
              |ReusedExchange [plan_id=2043] MapPartitionsRDD[802]""".stripMargin
    val b = a.replace("#812", "#17").replace("#813", "#18").replace("#815", "#20")
      .replace("2041", "7").replace("2043", "9").replace("[800]", "[3]").replace("[802]", "[5]")
    val want = """Project [doc_id#1L, sig#2]
                 |+- Exchange hashpartitioning(doc_id#1L, 4), [plan_id=1]
                 |   +- Scan ExistingRDD MapPartitionsRDD[1] [doc_id#1L, text#3]
                 |ReusedExchange [plan_id=2] MapPartitionsRDD[2]""".stripMargin
    assert(Plans.renumberIds(a) == want)
    assert(Plans.renumberIds(b) == want)
    assert(Plans.renumberIds(want) == want)
  }
}
