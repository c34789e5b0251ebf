package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.ExactCols.{hmod, shingles, tokens, P}
import graft.queries.Dedup

/** The ShingleSignature kernel against the explode → hmod →
  * groupBy(doc_id) formulation it replaced (kept here as the
  * reference), through generated code and through interpreted eval.
  * The kernel exists for speed only, so equality is the contract. */
class ShingleSignatureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import ShingleSignature.{NH, SIMBITS}

  // ---- reference: one row per shingle, min/sum aggregates per doc ----

  private def shingleHashes(docs: DataFrame, distinct: Boolean): DataFrame =
    docs
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 3, distinct)).as("sg"))
      .select(col("doc_id"), hmod(col("sg")).as("h"))

  private def refMinhash(docs: DataFrame): DataFrame = {
    val aggs = (0 until NH).map { j =>
      min((lit(2L * j + 1) * col("h") + lit(j.toLong * j + 7)) % P).as(s"mh$j")
    }
    shingleHashes(docs, distinct = true).groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  private def refSimhash(docs: DataFrame): DataFrame = {
    val bitSums = (0 until SIMBITS).map { k =>
      sum(shiftright(col("h"), k).bitwiseAND(lit(1L))).as(s"c$k")
    }
    val sim = shingleHashes(docs, distinct = false)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
      .select(col("doc_id"),
        (0 until SIMBITS).map { k =>
          when(lit(2) * col(s"c$k") - col("n") > 0, lit(1L << k)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
    docs.select(col("doc_id")).join(sim, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("simhash"), lit(0L)).as("simhash"))
  }

  // ---- harness ----

  /** `f` with every operator either in generated code (codegen only,
    * no interpreted fallback) or interpreted (no codegen at all). */
  private def inMode[T](codegen: Boolean)(f: => T): T = {
    val conf = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).toSeq.sorted

  /** Public minhash/simhash signatures ≡ the reference, both modes. */
  private def checkCorpus(docs: DataFrame, label: String): Unit = {
    val wantMh = inMode(codegen = true)(rows(refMinhash(docs)))
    val wantSim = inMode(codegen = true)(rows(refSimhash(docs)))
    assert(wantMh.nonEmpty && wantSim.nonEmpty, s"$label: empty reference")
    for (codegen <- Seq(true, false)) inMode(codegen) {
      val mode = if (codegen) "codegen" else "interpreted"
      assert(rows(Dedup.minhashSignatures(docs)) == wantMh, s"$label minhash ($mode)")
      assert(rows(Dedup.simhashSignatures(docs)) == wantSim, s"$label simhash ($mode)")
    }
  }

  private def randomDocs(): DataFrame = {
    import spark.implicits._
    val vocab = Seq("a", "b", "c", "ünï", "漢字", "✓", "b")
    val rnd = new scala.util.Random(7)
    val fixed = Seq[Option[String]](
      Some(""), Some("a"), Some("a b"), Some("  a  "), Some("a b c"),
      Some("x y x y x y x y x y"),             // one shingle pair, repeated
      Some("a  b   c    a b c"),               // runs of spaces
      Some("ünï 漢字 ✓ ünï 漢字 ✓"),             // multi-byte UTF-8
      Some("     "), None)
    val random = (0 until 300).map { _ =>
      val n = rnd.nextInt(14)
      Some((0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(if (rnd.nextInt(4) == 0) "   " else " "))
    }
    (fixed ++ random).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("signatures ≡ explode→hmod→groupBy reference on adversarial random docs") {
    checkCorpus(randomDocs(), "random")
  }

  test("signatures ≡ reference on the sf0.1 documents") {
    checkCorpus(graft.Tables.t(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text"), "sf0.1")
  }

  test("signatures ≡ reference on a 10× cloned corpus (clone collapse expands)") {
    val base = graft.Tables.t(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text")
    val cloned = (0 until 10).map(k =>
      base.select((col("doc_id") + k * 1000000L).as("doc_id"), col("text")))
      .reduce(_.unionByName(_))
    checkCorpus(cloned, "sf0.01×10")
  }

  test("kernel: MinHash over occurrences ≡ over the distinct shingle set; empty and null edges") {
    def sig(distinct: Boolean) =
      TextExprs.shingleSignature(shingles(tokens(col("text")), 3, distinct))
    val mh = (0 until NH).map(j => s"mh$j")
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.1", "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(randomDocs())
    for (codegen <- Seq(true, false)) inMode(codegen) {
      val both = docs.select(col("doc_id"),
        sig(distinct = false).as("o"), sig(distinct = true).as("d"))
      val differ = both.filter(mh.map(f => col(s"o.$f") =!= col(s"d.$f")).reduce(_ || _))
      assert(differ.isEmpty, s"occurrence vs distinct minhash differ (codegen=$codegen)")
      import spark.implicits._
      val edges = Seq[Option[String]](Some(""), Some("a b"), None).toDF("text")
        .select(sig(distinct = false).as("s")).collect().map(_.get(0))
      val empty = Row((Seq.fill(NH)(P) :+ 0L): _*)
      assert(edges.toSeq == Seq(empty, empty, null), s"codegen=$codegen")
    }
  }
}
