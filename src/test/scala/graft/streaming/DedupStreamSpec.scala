package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class DedupStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("exact streaming dedup keeps first occurrence across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = DedupStream.dedupExact(df, "ts", "text", watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_exact")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma"))
      q.processAllAvailable()
      in.addData((3L, ts(2), "alpha beta"), (4L, ts(3), "delta")) // 3 is a dup
      q.processAllAvailable()
      val ids = spark.table("dedup_exact").collect().map(_.getAs[Long]("doc_id")).sorted
      assert(ids.toSeq == Seq(1L, 2L, 4L))
    } finally q.stop()
  }

  test("minhash signature dedup suppresses near-identical docs") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = DedupStream.dedupMinhash(df, "ts", "text", watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_mh")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(0), base))
      q.processAllAvailable()
      // identical shingle SET (signature collision) vs genuinely different
      in.addData((2L, ts(1), base), (3L, ts(2), "completely different words here now"))
      q.processAllAvailable()
      val ids = spark.table("dedup_mh").collect().map(_.getAs[Long]("doc_id")).sorted
      assert(ids.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("streaming MinHash key ≡ q23's batch sig for every sf0.01 doc; no lambda in the plan") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.01"
    val batch = graft.SparkEntry.queries("q23_minhash_sig")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = graft.Tables.t(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(batch.size == docs.length)
    val keyed = docs.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), DedupStream.minhashSig(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keyed == batch)

    val stream = DedupStream.dedupMinhash(
      MemoryStream[(Long, Timestamp, String)].toDF().toDF("doc_id", "ts", "text"),
      "ts", "text", watermark = "1 hour")
    val plan = stream.queryExecution.analyzed.toString
    assert(plan.contains("shingle_signature"), plan)
    assert(!plan.contains("lambdafunction"), plan)
  }

  test("streaming span dedup ≡ batch first-occurrence when ingest follows doc_id order") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.ExactCols.tokens
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))

    // batch truth: per block hash, the argmin (doc_id, j) occurrence —
    // the exact rule Pipeline.spanDedupAudit scores against
    val ex = docs.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"),
        posexplode(graft.functions.TextExprs.blockHash(tokens(col("text")), 8)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("j"),
        col("col").as("h"))
    val batchKept = ex.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("j"))).as("f"))
      .select(col("h"), col("f.doc_id").as("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val in = MemoryStream[(Long, Timestamp, String)]
    val q = DedupStream.spanDedupBlocks(
      in.toDF().toDF("doc_id", "ts", "text"), "ts", "text",
      watermark = "1 hour")
      .writeStream.format("memory").queryName("span_stream")
      .outputMode("append").start()
    try {
      // doc_id-ordered micro-batches make cross-doc first-seen = min doc_id
      docs.grouped(50).zipWithIndex.foreach { case (chunk, i) =>
        in.addData(chunk.map { case (id, t) => (id, ts(i), t) }.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("span_stream").collect()
        .map(r => r.getAs[Long]("h") -> r.getAs[Long]("doc_id"))
      // one survivor per distinct hash, and each hash's keeper doc is
      // the batch argmin doc (intra-doc ties share the doc either way)
      assert(streamed.length == batchKept.size, "not one survivor per hash")
      assert(streamed.toMap == batchKept)
    } finally q.stop()
  }

  test("streaming CDC chunk dedup ≡ batch first-occurrence under doc_id order") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.ExactCols.tokens
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))

    // batch truth: argmin (doc_id, j) per chunk hash — the occurrence
    // Pipeline.cdcChunkAudit counts as the original
    val ex = docs.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"),
        posexplode(graft.functions.TextExprs.cdcChunkHash(tokens(col("text")), 16)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("j"),
        col("col").as("h"))
    val batchKept = ex.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("j"))).as("f"))
      .select(col("h"), col("f.doc_id").as("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val in = MemoryStream[(Long, Timestamp, String)]
    val q = DedupStream.cdcChunkBlocks(
      in.toDF().toDF("doc_id", "ts", "text"), "ts", "text",
      watermark = "1 hour")
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("append").start()
    try {
      docs.grouped(50).zipWithIndex.foreach { case (chunk, i) =>
        in.addData(chunk.map { case (id, t) => (id, ts(i), t) }.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("cdc_stream").collect()
        .map(r => r.getAs[Long]("h") -> r.getAs[Long]("doc_id"))
      assert(streamed.length == batchKept.size, "not one survivor per hash")
      assert(streamed.toMap == batchKept)
      // real duplicate suppression happened (planted near-dups share chunks)
      assert(streamed.length < ex.count(), "no duplicate chunk was suppressed")
    } finally q.stop()
  }
}
