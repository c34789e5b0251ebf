package graft.miw

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flag-compatible batch driver: the Spark rebuild of the `miw` CLI
  * (app/miw.cc → miw/job.cc).
  *
  * Supported flags (gflags style, `-flag value` / `-flag=value` /
  * `--flag`): -fnames, -format_name, -appname, -output_format
  * (json|csv|plain|mem|solr — solr POSTs JSON-array batches to
  * -solr_url like app/solr_commit.cc), -solr_url, -solr_batch_size,
  * -ofname, -ndisp, -skip_header,
  * -store_content, -merge_results, -tmp_save, -quiet, and accepted-
  * but-redundant tuning flags (-nprocs, -map_tasks, -reduce_tasks,
  * -autosplit, -memory_factor, -compressed, -nchunks_split)
  * — input splitting, task counts, spilling, and compression are
  * Spark's job (AQE + shuffle + parquet codecs), so those flags are
  * no-ops by design, not omissions.
  *
  * `-tmp_save` (merge mode only, mr_job.h:107-108 + 147-177): after
  * EACH input file, the merged-so-far partial state is saved to
  * `<stem>_<ctime-with-underscores>_.<ext>` — content in CSV form
  * (with header, output_csv nfile=-1) when -output_format csv, an
  * empty placeholder file otherwise, both exactly the reference's
  * behavior. Needs -ofname (the reference crashes without one; we
  * skip). Each prefix re-aggregates here (the reference folds
  * in-memory state) — CLI-parity cost only; a cluster-scale
  * incremental merge is the streaming variant (MiwStreaming).
  *
  * Semantics: each input file is an independent job (separate output,
  * reference default); `-merge_results` unions all files into ONE
  * aggregation — the distributed equivalent of the reference's
  * incremental re-emit loop (miw/job.cc:197-226), with identical
  * results by the monoid-merge property.
  *
  * Output lands at `<ofname>` as a single file for CLI parity
  * (coalesce(1) — fine for grouped results, which are small relative
  * to input; drop the coalesce to write a sharded directory at
  * cluster scale).
  */
object MiwCli {

  final case class Args(
      fnames: Seq[String] = Nil,
      formatName: String = "",
      appname: String = "",
      outputFormat: String = "json",
      ofname: String = "",
      ndisp: Int = 5,
      skipHeader: Boolean = false,
      storeContent: Boolean = false,
      mergeResults: Boolean = false,
      tmpSave: Boolean = false,
      caseInsensitiveKeys: Boolean = false,
      quiet: Boolean = true,
      // reference default endpoint (app/solr_commit.cc:57)
      solrUrl: String = "http://localhost:8984/solr/update/json?commit=true",
      solrBatchSize: Int = 1000)

  def parseArgs(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    def boolVal(v: Option[String]): Boolean =
      v.forall(s => s == "true" || s == "1" || s == "yes")
    while (i < argv.length) {
      val raw = argv(i).dropWhile(_ == '-')
      val (flag, inline) = raw.indexOf('=') match {
        case -1 => (raw, None)
        case k  => (raw.substring(0, k), Some(raw.substring(k + 1)))
      }
      def value(): String = inline.getOrElse {
        i += 1
        require(i < argv.length, s"-$flag needs a value")
        argv(i)
      }
      def intValue(): Int = {
        val v = value()
        v.toIntOption.getOrElse(throw new IllegalArgumentException(s"-$flag needs an integer: $v"))
      }
      flag match {
        case "fnames"        => a = a.copy(fnames = value().split(",").filter(_.nonEmpty).toSeq)
        case "format_name"   => a = a.copy(formatName = value())
        case "appname"       => a = a.copy(appname = value())
        case "output_format" => a = a.copy(outputFormat = value())
        case "ofname"        => a = a.copy(ofname = value())
        case "ndisp"         => a = a.copy(ndisp = intValue())
        case "skip_header"   => a = a.copy(skipHeader = boolVal(inline))
        case "store_content" => a = a.copy(storeContent = boolVal(inline))
        case "merge_results" => a = a.copy(mergeResults = boolVal(inline))
        case "tmp_save"      => a = a.copy(tmpSave = boolVal(inline))
        // reference behavior (strcasecmp btree) as an opt-in flag
        case "case_insensitive_keys" => a = a.copy(caseInsensitiveKeys = boolVal(inline))
        case "solr_url"        => a = a.copy(solrUrl = value())
        case "solr_batch_size" => a = a.copy(solrBatchSize = intValue())
        case "quiet"         => a = a.copy(quiet = boolVal(inline))
        case "nprocs" | "map_tasks" | "reduce_tasks" | "memory_factor" |
             "nchunks_split" => if (inline.isEmpty) i += 1 // consumed, no-op
        case "autosplit" | "compressed" => () // boolean no-ops
        case other => System.err.println(s"[miw] ignoring unknown flag -$other")
      }
      i += 1
    }
    a
  }

  /** Run one aggregation over `paths`, format-driven. */
  def runJob(spark: SparkSession, fmt: LogFormat, paths: Seq[String], a: Args): DataFrame =
    MiwEngine.run(spark, fmt, paths,
      MiwEngine.Options(skipHeader = a.skipHeader, storeContent = a.storeContent,
        caseInsensitiveKeys = a.caseInsensitiveKeys))

  private def writeOut(df: DataFrame, a: Args, suffix: String): Unit = {
    if (a.outputFormat == "solr") {
      // HTTP push sink (app/solr_commit.cc): executors POST batches,
      // the driver prints the reduced SUCCEED/FAILED counts
      println(HttpSink.summary(HttpSink.push(df, a.solrUrl, a.solrBatchSize)))
      return
    }
    val lines = a.outputFormat match {
      case "csv"            => Output.csvLines(df)
      case "plain" | "text" => Output.textLines(df)
      case _                => Output.jsonLines(df)
    }
    if (a.ofname.nonEmpty) {
      val target = if (suffix.isEmpty) a.ofname else s"${a.ofname}.$suffix"
      val header = if (a.outputFormat == "csv") Seq(Output.csvHeader(df)) else Nil
      val body = lines.collect().toSeq // grouped result: small by construction
      val out = new java.io.PrintWriter(target)
      try (header ++ body).foreach(out.println) finally out.close()
    } else lines.collect().foreach(println)
  }

  /** Snapshot file name, mr_job.h:152-162: ctime() with ' '/'?'/'\n'
    * → '_' (so a trailing '_' from the newline; single-digit days get
    * ctime's width-2 space pad → a double underscore), spliced into
    * ofname as `<stem>_<date>.<ext>` via a '.'-split taking fields
    * [0] and [1]. No-dot ofnames (reference UB) get `_<date>` appended. */
  private[miw] def tmpSnapshotName(ofname: String,
                                   now: java.time.LocalDateTime): String = {
    val date = now.format(java.time.format.DateTimeFormatter
      .ofPattern("EEE MMM ppd HH:mm:ss yyyy", java.util.Locale.ROOT))
      .replace(' ', '_') + "_" // the '\n' ctime suffix, underscored
    ofname.split('.') match {
      case parts if parts.length >= 2 => parts(0) + "_" + date + "." + parts(1)
      case _                          => ofname + "_" + date
    }
  }

  /** The per-file partial-state save (temp_state_save,
    * mr_job.h:147-177): CSV content (header row, nfile=-1 semantics)
    * when the output format is csv, an empty placeholder otherwise —
    * both faithful to the reference. */
  private def writeTmpSnapshot(df: DataFrame, a: Args): Unit = {
    val target = tmpSnapshotName(a.ofname, java.time.LocalDateTime.now())
    // Header only attaches to the first record (output_csv's
    // i==0 && nfile<=0): an empty partial state yields an empty file.
    val lines =
      if (a.outputFormat == "csv") {
        val rows = Output.csvLines(df).collect().toSeq
        if (rows.isEmpty) Nil else Output.csvHeader(df) +: rows
      } else Nil
    // The reference's '.'-split name derivation is UB for dotted
    // directory components; when the open fails it LOG(ERROR)s and
    // continues (mr_job.h:152-156) — a bad snapshot path must not kill
    // the job after the expensive prefix aggregation. Same here.
    try {
      val out = new java.io.PrintWriter(target)
      try lines.foreach(out.println) finally out.close()
      if (!a.quiet) println(s"temporary result saved in $target")
    } catch { case e: java.io.IOException =>
      System.err.println(s"[miw] temp_state_save: cannot write $target: ${e.getMessage}")
    }
  }

  private def printTop(df: DataFrame, ndisp: Int): Unit = {
    val agg = df.agg(count(lit(1)), sum(col("logs"))).head()
    val keys = agg.getLong(0)
    val logs = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    println(f"%nlogs preprocessing: results (TOP $ndisp from $keys keys, $logs logs):")
    MiwEngine.topK(df, ndisp).collect().foreach { r =>
      println(f"${r.getAs[Any]("id")}%45s - ${r.getAs[Long]("logs")}")
    }
    println()
  }

  def execute(spark: SparkSession, argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    require(a.fnames.nonEmpty, "-fnames is required")
    require(a.formatName.nonEmpty, "-format_name is required")
    val base = LogFormat.parseFile(a.formatName)
    val fmt = if (a.appname.nonEmpty) base.copy(appname = a.appname) else base
    if (a.mergeResults || a.fnames.size == 1) {
      // -tmp_save (merge path, every file — job.cc:140 passes
      // newfile=true per file, the last included): partial merged
      // state after files 0..k, timestamped (see writeTmpSnapshot)
      if (a.tmpSave && a.mergeResults && a.ofname.nonEmpty)
        a.fnames.indices.foreach { k =>
          writeTmpSnapshot(runJob(spark, fmt, a.fnames.take(k + 1), a), a)
        }
      val df = runJob(spark, fmt, a.fnames, a)
      if (!a.quiet) printTop(df, a.ndisp)
      if (a.outputFormat != "mem") writeOut(df, a, "")
    } else {
      // reference default: one independent job + output per file
      a.fnames.zipWithIndex.foreach { case (f, idx) =>
        val df = runJob(spark, fmt, Seq(f), a)
        if (!a.quiet) printTop(df, a.ndisp)
        if (a.outputFormat != "mem") writeOut(df, a, if (idx == 0) "" else idx.toString)
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val spark = graft.Session()
    try execute(spark, argv) finally spark.stop()
  }
}
