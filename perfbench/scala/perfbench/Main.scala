package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.miw.{LogFormat, MiwCli, MiwEngine}
import graft.queries.Dedup
import graft.streaming.MiwStreaming

/** The benchmark's JVM side: one closed-loop client driving one
  * workload through the program's public entry points.
  *
  *   Main --workload W --inputs DIR --format F --seconds S --warmup U
  *        --trace 0|1 --work DIR --out RESULT.json
  *        [--perturb drop_group|change_count|change_state]
  *
  * Set-up (session build, format compile, first cold operation; timed
  * from the start of main, so JVM start is excluded) is timed apart;
  * warm-up operations follow for U seconds (at least one); then
  * operations run back to back for S seconds. Every operation is
  * checked after its clock stops.
  * With --trace 1 every other timed operation is traced:
  * its prefixes run into the noop sink inside spans, then the full
  * operation; the untraced ones in between give the tracing overhead. */
object Main {

  /** `warmup`: one of the operations run between set-up and the timed
    * window, while the JIT still compiles the per-operation code paths. */
  final case class Op(seconds: Double, records: Long, error: Option[String], traced: Boolean,
                      warmup: Boolean = false)

  final class Ctx(val spark: SparkSession, val inputs: IndexedSeq[String], val format: String,
                  val work: String, val tracer: Option[Tracer]) {
    val cores: Int = spark.sparkContext.defaultParallelism
    def span[T](name: String, op: Int)(body: => T): T =
      tracer.fold(body)(_.span(name, op)(body))
    def expected(i: Int): JsonNode = Json.read(inputs(i % inputs.size) + ".expected.json")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ------------------------------------------------------------ workloads

  abstract class Workload(val ctx: Ctx) {
    def records(i: Int): Long
    def op(i: Int): Unit
    /** Runs after op i's clock stopped; Some(reason) fails the operation. */
    def check(i: Int, perturb: String): Option[String]
    /** Op i again, its layer prefixes first, each in its own span. */
    def traced(i: Int, t: Tracer): Unit
    /** Once, after the last operation. */
    def finish(perturb: String): Option[String] = None
    def layers(t: Tracer, c: Map[Int, SpanCounters]): Map[String, Double]
    def input(i: Int): String = ctx.inputs(i % ctx.inputs.size)

    /** The format, and the milliseconds the first LogFormat call took. */
    protected def compileFormat(): (LogFormat, Double) = {
      val t = System.nanoTime()
      val fmt = ctx.span("format_compile", 0)(LogFormat.parseFile(ctx.format))
      (fmt, (System.nanoTime() - t) / 1e6)
    }
  }

  /** The spans of each traced timed operation, by name. */
  def tracedOps(t: Tracer): Seq[Map[String, Span]] =
    t.allSpans.filter(_.op > 0).groupBy(_.op).values.map(_.map(s => s.name -> s).toMap)
      .filter(_.contains("full")).toSeq

  /** One MIW CLI job per log file, output written to a JSON file. In a
    * traced run, the job's input also goes through the streaming module,
    * one micro-batch per traced job, so that its layers are measured. */
  final class MiwJob(ctx: Ctx) extends Workload(ctx) {
    import ctx.spark
    private val (fmt, formatCompileMs) = compileFormat()
    private val stream = ctx.tracer.map(_ => new StreamBatches(ctx, fmt, 5000))
    private val out = s"${ctx.work}/miw_out.json"
    private val expected = ctx.inputs.indices.map(ctx.expected)
    private val groupsOut = mutable.Map.empty[Int, Long]
    private val bytesOut = mutable.Map.empty[Int, Long]

    def records(i: Int): Long = expected(i % expected.size).get("lines").asLong
    def op(i: Int): Unit = MiwCli.execute(spark, Array(
      "-fnames", input(i), "-format_name", ctx.format,
      "-output_format", "json", "-ofname", out))
    def check(i: Int, perturb: String): Option[String] = {
      val rows = Checks.readJson(out)
      groupsOut(i) = rows.size
      bytesOut(i) = new java.io.File(out).length
      val e = expected(i % expected.size)
      Checks.miw(Checks.perturbRows(rows, perturb, e.get("samples").get(0).get("id").asText), e)
    }
    def traced(i: Int, t: Tracer): Unit = {
      def lines = spark.read.textFile(input(i)).toDF("value")
      t.span("scan", i)(noop(lines))
      t.span("parse", i)(noop(MiwEngine.parse(fmt, lines)))
      t.span("aggregate", i)(noop(MiwEngine.run(spark, fmt, Seq(input(i)))))
      t.span("full", i)(op(i))
      stream.foreach { s =>
        t.span("stream", i)(s.op(i))
        s.check(i).foreach(e => throw new IllegalStateException(s"stream: $e"))
      }
    }
    override def finish(perturb: String): Option[String] = stream.flatMap(_.finish(perturb))
    def layers(t: Tracer, c: Map[Int, SpanCounters]): Map[String, Double] = {
      def med(f: Map[String, Span] => Double) = median(tracedOps(t).map(f))
      def cnt(s: Span) = c.getOrElse(s.id, new SpanCounters)
      stream.fold(Map.empty[String, Double])(_.layers(t)) ++ Map(
        "miw.format_compile_ms" -> formatCompileMs,
        "miw.scan_s" -> med(m => m("scan").seconds),
        "miw.parse_s" -> med(m => m("parse").seconds - m("scan").seconds),
        "miw.aggregate_s" -> med(m => m("aggregate").seconds - m("parse").seconds),
        "miw.output_s" -> med(m => m("full").seconds - m("aggregate").seconds),
        "miw.lines_in" -> med(m => cnt(m("scan")).scanRows.toDouble),
        "miw.lines_kept" -> med(m => cnt(m("parse")).minFilterRows.toDouble),
        "miw.keep_ratio" -> med(m => cnt(m("parse")).minFilterRows.toDouble / cnt(m("scan")).scanRows),
        "miw.groups_out" -> med(m => groupsOut(m("full").op).toDouble),
        "miw.output_bytes" -> med(m => bytesOut(m("full").op).toDouble),
        "miw.combine_ratio" -> med(m => cnt(m("full")).shuffleWriteRecords.toDouble /
          cnt(m("parse")).minFilterRows))
    }
  }

  /** One Dedup.deduplicate per corpus shard, survivors written to parquet. */
  final class DedupShard(ctx: Ctx) extends Workload(ctx) {
    import ctx.spark
    private val out = s"${ctx.work}/survivors.parquet"
    private val expected = ctx.inputs.indices.map(ctx.expected)
    private val survivors = mutable.Map.empty[Int, Long]
    private def docs(i: Int): DataFrame = spark.read.option("sep", "\t")
      .schema("doc_id LONG, text STRING").csv(input(i))

    def records(i: Int): Long = expected(i % expected.size).get("docs").asLong
    def op(i: Int): Unit = Dedup.deduplicate(docs(i)).write.mode("overwrite").parquet(out)
    def check(i: Int, perturb: String): Option[String] = {
      val ids = spark.read.parquet(out).select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      survivors(i) = ids.size
      Checks.dedup(ids, expected(i % expected.size), perturb)
    }
    def traced(i: Int, t: Tracer): Unit = {
      t.span("signatures", i)(noop(Dedup.minhashSignatures(docs(i))))
      t.span("pairs", i)(noop(Dedup.nearDupPairs(docs(i))))
      t.span("full", i)(op(i))
    }
    def layers(t: Tracer, c: Map[Int, SpanCounters]): Map[String, Double] = {
      def med(f: Map[String, Span] => Double) = median(tracedOps(t).map(f))
      def cnt(s: Span) = c.getOrElse(s.id, new SpanCounters)
      Map(
        "functions.signature_s" -> med(m => m("signatures").seconds),
        "queries.lsh_s" -> med(m => m("pairs").seconds - m("signatures").seconds),
        "operators.cluster_s" -> med(m => m("full").seconds - m("pairs").seconds),
        "queries.candidate_pairs" -> med(m => cnt(m("pairs")).bandCandidates.toDouble),
        "queries.pairs_out" -> med(m => cnt(m("pairs")).verifiedPairs.toDouble),
        "queries.pair_precision" -> med(m =>
          cnt(m("pairs")).verifiedPairs.toDouble / cnt(m("pairs")).bandCandidates),
        "queries.survivor_ratio" -> med(m =>
          survivors(m("full").op).toDouble / records(m("full").op)),
        // planted families the LSH split apart (survivors beyond one per family)
        "queries.split_clusters" -> med(m => (survivors(m("full").op) -
          expected(m("full").op % expected.size).get("families").size).toDouble))
    }
  }

  /** Fixed-size micro-batches of log lines, cycling through one input
    * file, through a MemoryStream into MiwStreaming.aggregateStream
    * (update mode, noop sink). */
  final class StreamBatches(ctx: Ctx, fmt: LogFormat, batchLines: Int) {
    import ctx.spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    private val lines: Array[String] = {
      val src = scala.io.Source.fromFile(ctx.inputs(0), "UTF-8")
      try src.getLines().toArray finally src.close()
    }
    private val ckpt = s"${ctx.work}/stream-checkpoint"
    private val mem = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      MemoryStream[String]
    }
    private val query: StreamingQuery = MiwStreaming.aggregateStream(fmt, mem.toDF())
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt).start()
    private var fed = 0L
    private var lastBatchId = -1L
    /** Progress of each operation's micro-batches. */
    val progress = mutable.Map.empty[Int, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]

    private def batch(i: Int): Seq[String] = {
      val from = ((i.toLong * batchLines) % lines.length).toInt
      (lines.iterator.drop(from) ++ lines.iterator).take(batchLines).toSeq
    }
    /** Feeds the next batch; op i only keys the progress it recorded. */
    def op(i: Int): Unit = {
      mem.addData(batch(fed.toInt))
      query.processAllAvailable()
      fed += 1
    }
    /** The micro-batches op i ran read exactly the lines fed. */
    def check(i: Int): Option[String] = {
      val ps = query.recentProgress.filter(_.batchId > lastBatchId).toSeq
      ps.lastOption.foreach(p => lastBatchId = p.batchId)
      progress(i) = ps
      val rows = ps.map(_.numInputRows).sum
      if (rows != batchLines) Some(s"micro-batch read $rows rows, fed $batchLines") else None
    }
    /** After the last batch: the state store against MiwEngine.run over
      * a file of exactly the lines fed. */
    def finish(perturb: String): Option[String] = {
      query.stop()
      val state = spark.read.format("statestore").load(ckpt)
      // the aggregation buffer's first slot is count(1), i.e. logs
      val st = state.agg(count(lit(1)), sum(col("value").getItem(state.schema("value")
        .dataType.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.head))).head()
      val fedFile = s"${ctx.work}/stream_fed.log"
      val w = new java.io.PrintWriter(fedFile)
      try (0L until fed).foreach(i => batch(i.toInt).foreach(w.println)) finally w.close()
      val b = MiwEngine.run(spark, fmt, Seq(fedFile)).agg(count(lit(1)), sum(col("logs"))).head()
      Checks.stream(st.getLong(0), st.getLong(1), b.getLong(0), b.getLong(1), perturb)
    }

    def layers(t: Tracer): Map[String, Double] = {
      // a progress event without a state operator ran no batch
      val ps = tracedOps(t).map(_("full").op).sorted.flatMap(i => progress.getOrElse(i, Nil))
        .filter(_.stateOperators.nonEmpty)
      def dur(k: String) = median(ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)))
      val last = ps.last.stateOperators.head
      Map(
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.state_commit_ms" -> median(ps.map(_.stateOperators.head.commitTimeMs.toDouble)),
        "streaming.state_rows" -> last.numRowsTotal.toDouble,
        "streaming.state_memory_bytes" -> last.memoryUsedBytes.toDouble)
    }
  }

  // ----------------------------------------------------------------- main

  val LayerNames: Seq[String] = Seq(
    "miw.format_compile_ms", "miw.scan_s", "miw.parse_s", "miw.aggregate_s", "miw.output_s",
    "miw.lines_in", "miw.lines_kept", "miw.keep_ratio", "miw.groups_out", "miw.output_bytes",
    "miw.combine_ratio",
    "functions.signature_s", "queries.lsh_s", "operators.cluster_s",
    "queries.candidate_pairs", "queries.pairs_out", "queries.pair_precision",
    "queries.survivor_ratio", "queries.split_clusters",
    "streaming.add_batch_ms", "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.state_commit_ms", "streaming.state_rows", "streaming.state_memory_bytes",
    "spark.setup_plan_s", "spark.codegen_s", "spark.plan_s", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.core_idle_ratio", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_fetch_wait_s", "spark.spill_bytes",
    "trace.overhead_s", "trace.ops")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def codegenMs(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val warmupS = a("warmup").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val perturb = a.getOrElse("perturb", "none")
    val work = a("work")
    val inputs = scala.io.Source.fromFile(s"${a("inputs")}/inputs.txt").getLines()
      .filter(_.nonEmpty).toVector

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    // configured the way MiwCli.main builds its session
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, inputs, a("format"), work, tracer)

    val ops = mutable.ArrayBuffer.empty[Op]
    def attempt(i: Int, traced: Boolean, warmup: Boolean)(body: => Unit): Unit = {
      val start = System.nanoTime()
      val err = try { body; None } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val secs = (System.nanoTime() - start) / 1e9
      ops += Op(secs, 0L, err, traced, warmup)
    }

    // set-up: session (above), format compile, the first (cold) operation
    val wl: Workload = ctx.span("setup", 0) {
      val w = workload match {
        case "miw_proxy" => new MiwJob(ctx)
        case "dedup_corpus" => new DedupShard(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.span("full", 0)(w.op(0))
      w
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupCodegenMs = codegenMs()
    val errors = mutable.ArrayBuffer.empty[String]
    def checked(i: Int): Unit = {
      val last = ops.last
      val err = last.error.orElse(
        try wl.check(i, if (i == 1) perturb else "none")
        catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") })
      ops(ops.size - 1) = last.copy(records = wl.records(i), error = err)
      err.foreach(e => errors += s"op $i: $e")
    }
    ops += Op(setupS, wl.records(0), None, traced = false)
    checked(0)

    var i = 1
    val warmupEnd = System.nanoTime() + (warmupS * 1e9).toLong
    while (i == 1 || System.nanoTime() < warmupEnd) {
      attempt(i, traced = false, warmup = true)(wl.op(i))
      checked(i)
      i += 1
    }
    val warmups = i - 1
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run times at least one traced and one untraced operation
    while (System.nanoTime() < deadline || (tracer.isDefined && i - warmups <= 2)) {
      val traced = tracer.isDefined && (i - warmups) % 2 == 1
      attempt(i, traced, warmup = false) {
        if (traced) wl.traced(i, tracer.get) else wl.op(i)
      }
      checked(i)
      i += 1
    }
    val finalErr =
      try wl.finish(perturb)
      catch { case e: Throwable => Some(s"final check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    finalErr.foreach { e =>
      errors += s"final: $e"
      ops(ops.size - 1) = ops.last.copy(error = Some(e))
    }

    val layers: Map[String, Double] = tracer.fold(Map.empty[String, Double]) { t =>
      val c = t.countersBySpan()
      val spans = t.allSpans
      val fulls = spans.filter(s => s.name == "full" && s.op > 0)
      def cnt(s: Span) = c.getOrElse(s.id, new SpanCounters)
      def med(f: Span => Double) = median(fulls.map(f))
      val setupFull = spans.find(s => s.name == "full" && s.op == 0).get
      val untraced = ops.drop(1).filter(o => !o.warmup && !o.traced).map(_.seconds)
      t.writeSpans(s"$work/spans.jsonl")
      val sparkLayers = Map(
        "spark.setup_plan_s" -> cnt(setupFull).planMs / 1e3,
        "spark.codegen_s" -> setupCodegenMs / 1e3,
        "spark.plan_s" -> med(cnt(_).planMs / 1e3),
        "spark.jobs" -> med(cnt(_).jobs.toDouble),
        "spark.stages" -> med(cnt(_).stages.toDouble),
        "spark.tasks" -> med(cnt(_).tasks.toDouble),
        "spark.task_run_s" -> med(cnt(_).taskRunMs / 1e3),
        "spark.task_cpu_s" -> med(cnt(_).taskCpuNs / 1e9),
        "spark.gc_s" -> med(cnt(_).gcMs / 1e3),
        "spark.core_idle_ratio" -> med(s => 1.0 - cnt(s).taskRunMs / 1e3 / (s.seconds * ctx.cores)),
        "spark.shuffle_write_bytes" -> med(cnt(_).shuffleWriteBytes.toDouble),
        "spark.shuffle_read_bytes" -> med(cnt(_).shuffleReadBytes.toDouble),
        "spark.shuffle_fetch_wait_s" -> med(cnt(_).fetchWaitMs / 1e3),
        "spark.spill_bytes" -> med(cnt(_).spillBytes.toDouble),
        "trace.overhead_s" -> (med(_.seconds) - median(untraced.toSeq)),
        "trace.ops" -> fulls.size.toDouble)
      LayerNames.map(_ -> 0.0).toMap ++ sparkLayers ++ wl.layers(t, c)
    }

    val result = Json.mapper.writeValueAsString(ListMap(
      "workload" -> workload,
      "cores" -> ctx.cores,
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> ops.map(o => Map("s" -> o.seconds, "records" -> o.records,
        "ok" -> o.error.isEmpty, "traced" -> o.traced, "warmup" -> o.warmup)).toSeq,
      "errors" -> errors.take(20).toSeq,
      "layers" -> ListMap(LayerNames.filter(layers.contains).map(k => k -> layers(k)): _*)))
    val w = new java.io.PrintWriter(a("out"))
    try w.println(result) finally w.close()
    spark.stop()
  }
}
