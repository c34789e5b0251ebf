package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.miw.{LogFormat, MiwEngine}

/** Structured Streaming front-end for the MIW engine.
  *
  * The reference's `-merge_results` loop (miw/job.cc:197-226) re-emits
  * previously reduced state into each new file's map phase — an
  * incremental re-aggregation. Structured Streaming's stateful
  * aggregation IS that loop, distributed and fault-tolerant: the state
  * store holds the running per-key aggregates, each micro-batch merges
  * new lines in, and `outputMode("update")` emits refreshed rows —
  * the snapshot-after-each-file behavior (mr_job.h:147-177) falls out
  * of `foreachBatch`.
  *
  * Both entry points run the batch `MiwEngine.parse` and
  * `MiwEngine.aggregate` unchanged: every per-row transform, every
  * per-field aggregate (value-count buffers go into the state store
  * like any other) and the ratio and finalize projections are
  * streaming-compatible, so a stream emits the columns and rows
  * `MiwEngine.runOnLines` gives over the lines fed so far.
  *
  * State bounding is the caller's choice. An unwindowed union or
  * union_count over an unbounded value domain (URLs, user agents)
  * grows each key's state without limit; [[windowedAggregateStream]]
  * evicts a window's state once the watermark passes it.
  */
object MiwStreaming {

  /** Running keyed aggregation over a (possibly unbounded) line
    * stream: exactly the batch `MiwEngine.aggregate` of the parsed
    * lines. `logs` (`count(1)`) is the state's first buffer slot. */
  def aggregateStream(fmt: LogFormat, lines: DataFrame): DataFrame =
    MiwEngine.aggregate(fmt, MiwEngine.parse(fmt, lines))

  /** Event-time tumbling-window variant with a watermark: the
    * streaming-native answer to the reference's key-side time
    * bucketing (date/time `processing`) — late data beyond the
    * watermark is dropped and state for closed windows is evicted,
    * which is what bounds state at scale. A row is `window_start`,
    * then the batch columns of that window's lines. A line whose
    * `tsField` does not parse as a timestamp is dropped before the
    * watermark. */
  def windowedAggregateStream(
      fmt: LogFormat,
      lines: DataFrame,
      tsField: String,
      window: String,
      watermark: String): DataFrame = {
    val parsed = MiwEngine.parse(fmt, lines)
      .withColumn("__ts", try_to_timestamp(col(tsField)))
      .filter(col("__ts").isNotNull)
      .withWatermark("__ts", watermark)
    val out = MiwEngine.aggregate(fmt, parsed,
      groupCols = Seq(org.apache.spark.sql.functions.window(col("__ts"), window).as("__win")))
    out.select(col("__win.start").as("window_start") +:
      out.columns.filter(_ != "__win").map(n => col(s"`$n`")).toSeq: _*)
  }

  /** File-source convenience: stream text files appearing under `dir`
    * through the format pipeline (the unbounded version of the CLI's
    * multi-file loop). */
  def runOnDirectory(spark: org.apache.spark.sql.SparkSession, fmt: LogFormat,
                     dir: String): DataFrame =
    aggregateStream(fmt, spark.readStream.text(dir))

  /** Streaming HTTP push: each micro-batch's refreshed rows POST to
    * `url` as JSON-array batches via [[graft.miw.HttpSink]] — the
    * streaming analog of the reference's per-file Solr commit loop
    * (app/solr_commit.cc): continuous export instead of batch-and-
    * script. Returns a handle whose per-batch PushResults accumulate
    * in `results` (driver-side, one small record per micro-batch). */
  def pushStream(aggregated: DataFrame, url: String, batchSize: Int = 1000)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         java.util.concurrent.ConcurrentLinkedQueue[graft.miw.HttpSink.PushResult]) = {
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[graft.miw.HttpSink.PushResult]()
    val q = aggregated.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        results.add(graft.miw.HttpSink.push(batch.toDF(), url, batchSize))
        ()
      }
      .start()
    (q, results)
  }
}
