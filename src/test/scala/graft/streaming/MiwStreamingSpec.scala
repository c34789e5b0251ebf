package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, date_format}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.miw.{LogFormat, MiwEngine, MiwGoldenFixtures, Output}

/** Incremental (streaming) aggregation = the reference's
  * -merge_results loop (miw/job.cc:197-226): state carries across
  * batches and per-key aggregates are re-merged as new lines arrive. */
class MiwStreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sumFmt = LogFormat.parse(
    """{"format_name":"t","delims":",","fields":[
        {"name":"k","pos":0,"type":"string","key":true},
        {"name":"v","pos":1,"type":"int","aggregated":true,"aggregation":"sum"}]}""")

  /** `streamed` has the columns, in order, and the rows of `batch`. */
  private def assertSameAsBatch(streamed: DataFrame, batch: DataFrame, clue: String): Unit = {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(streamed.columns.toSeq == batch.columns.toSeq, clue)
    assert(rows(streamed) == rows(batch), clue)
  }

  /** Feeds each of `batches` as one micro-batch into `build` over a
    * MemoryStream (complete mode, memory sink `name`) and returns the
    * sink's table after the last one. */
  private def runStream(name: String, batches: Seq[Seq[String]])
                       (build: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val q = build(in.toDF()).writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
  }

  test("keyed aggregation state merges across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val q = MiwStreaming.aggregateStream(sumFmt, in.toDF())
      .writeStream.format("memory").queryName("miw_inc")
      .outputMode("complete").start()
    try {
      in.addData("a,1", "a,2", "b,10")
      q.processAllAvailable()
      val r1 = spark.table("miw_inc").collect()
        .map(r => r.getAs[String]("id") -> r.getAs[Long]("v")).toMap
      assert(r1 == Map("a" -> 3L, "b" -> 10L))

      // second file/chunk arrives: previous state is re-merged, not reset
      in.addData("a,4", "c,7")
      q.processAllAvailable()
      val r2 = spark.table("miw_inc").collect()
        .map(r => r.getAs[String]("id") -> r.getAs[Long]("v")).toMap
      assert(r2 == Map("a" -> 7L, "b" -> 10L, "c" -> 7L))
      val logs = spark.table("miw_inc").collect()
        .map(r => r.getAs[String]("id") -> r.getAs[Long]("logs")).toMap
      assert(logs == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    } finally q.stop()
  }

  test("foreachBatch snapshots partial state per batch (the -tmp_save analog)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val snapDir = java.nio.file.Files.createTempDirectory("miwsnap").toFile
    val q = MiwStreaming.aggregateStream(sumFmt, in.toDF())
      .writeStream
      .outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        // timestamped CSV of the running state after each file/chunk
        // (reference: mr_job.h:147-177), rendered by the reference-
        // format CSV sink
        val lines = graft.miw.Output.csvLines(batch.toDF()).collect()
        val w = new java.io.PrintWriter(new java.io.File(snapDir, s"snap_$id.csv"))
        try { w.println(graft.miw.Output.csvHeader(batch.toDF())); lines.foreach(w.println) }
        finally w.close()
      }
      .start()
    try {
      in.addData("a,1", "a,2")
      q.processAllAvailable()
      in.addData("a,4")
      q.processAllAvailable()
      val snaps = snapDir.listFiles().map(_.getName).sorted
      assert(snaps.length >= 2, snaps.mkString(","))
      val last = scala.io.Source.fromFile(
        new java.io.File(snapDir, snaps.last)).getLines().toSeq
      val batch = MiwEngine.runOnLines(spark, sumFmt, Seq("a,1", "a,2", "a,4"))
      assert(last.head == Output.csvHeader(batch))
      assert(last.tail.sorted == Output.csvLines(batch).collect().toSeq.sorted)
    } finally q.stop()
  }

  test("file-source stream: files appearing in a directory feed the pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("miwstream").toFile
    def writeFile(name: String, s: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      try w.print(s) finally w.close()
    }
    writeFile("f1.log", "a,1\na,2\n")
    val q = MiwStreaming.runOnDirectory(spark, sumFmt, dir.getPath)
      .writeStream.format("memory").queryName("miw_files")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("miw_files").collect()
        .map(r => r.getAs[String]("id") -> r.getAs[Long]("v")).toMap == Map("a" -> 3L))
      writeFile("f2.log", "a,10\nb,5\n")
      q.processAllAvailable()
      assert(spark.table("miw_files").collect()
        .map(r => r.getAs[String]("id") -> r.getAs[Long]("v")).toMap ==
        Map("a" -> 13L, "b" -> 5L))
    } finally q.stop()
  }

  test("count and variance fields stream exactly what the batch engine emits") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val fmt = LogFormat.parse(
      """{"format_name":"t","delims":",","fields":[
          {"name":"k","pos":0,"type":"string","key":true},
          {"name":"c","pos":1,"type":"string","aggregated":true,"aggregation":"count"},
          {"name":"v","pos":2,"type":"int","aggregated":true,"aggregation":"variance"}]}""")
    val batches = Seq(Seq("a,x,1", "a,y,4", "b,z,10"), Seq("a,w,7", "c,q,7", "b,r,2"))
    val in = MemoryStream[String]
    val q = MiwStreaming.aggregateStream(fmt, in.toDF())
      .writeStream.format("memory").queryName("miw_cv")
      .outputMode("complete").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val streamed = spark.table("miw_cv")
      assertSameAsBatch(streamed, MiwEngine.runOnLines(spark, fmt, batches.flatten), "")
      assert(streamed.filter("id = 'a'").select("c", "c_count", "v").head().toSeq ==
        Seq("w", 3L, 9.0))
    } finally q.stop()
  }

  test("union and union_count fields stream exactly what the batch engine emits") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val fmt = LogFormat.parse(
      """{"format_name":"t","delims":",","fields":[
          {"name":"k","pos":0,"type":"string","key":true},
          {"name":"u","pos":1,"type":"string","aggregated":true,"aggregation":"union"},
          {"name":"uc","pos":1,"type":"url","aggregated":true,"aggregation":"union_count"},
          {"name":"n","pos":2,"type":"int","aggregated":true,"aggregation":"union"},
          {"name":"nc","pos":2,"type":"int","aggregated":true,"aggregation":"union_count"}]}""")
    val batches = Seq(Seq("a,x,1", "a,y,4", "b,z,10", "a,x,4"),
      Seq("a,w,7", "c,漢,7", "b,z,2", "a,y,1"))
    val in = MemoryStream[String]
    val q = MiwStreaming.aggregateStream(fmt, in.toDF())
      .writeStream.format("memory").queryName("miw_union")
      .outputMode("complete").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val streamed = spark.table("miw_union")
      assertSameAsBatch(streamed, MiwEngine.runOnLines(spark, fmt, batches.flatten), "")
      assert(streamed.filter("id = 'a'").select("u", "uc", "uc_count", "n", "nc", "nc_count")
        .head().toSeq == Seq(Seq("w", "x", "y"), Seq("w", "x", "y"), Seq(1L, 2L, 2L),
          Seq(1L, 1L, 4L, 4L, 7L), Seq("1", "4", "7"), Seq(2L, 2L, 1L)))
    } finally q.stop()
  }

  test("event-time tumbling window with watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val fmt = LogFormat.parse(
      """{"format_name":"t","delims":",","fields":[
          {"name":"ts","pos":0,"type":"string"},
          {"name":"k","pos":1,"type":"string","key":true}]}""")
    val in = MemoryStream[String]
    val q = MiwStreaming.windowedAggregateStream(fmt, in.toDF(),
        tsField = "ts", window = "10 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("miw_win")
      .outputMode("complete").start()
    try {
      in.addData(
        "2024-01-01 10:03:00,a", "2024-01-01 10:07:00,a",
        "2024-01-01 10:13:00,a", "2024-01-01 10:04:00,b")
      q.processAllAvailable()
      val rows = spark.table("miw_win").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString.take(16),
          r.getAs[String]("id")) -> r.getAs[Long]("logs")).toMap
      assert(rows == Map(
        ("2024-01-01 10:00", "a") -> 2L,
        ("2024-01-01 10:10", "a") -> 1L,
        ("2024-01-01 10:00", "b") -> 1L))
    } finally q.stop()
  }

  test("every inline golden fixture streams exactly what the batch engine emits") {
    val unsplit = scala.collection.mutable.ArrayBuffer.empty[String]
    for (f <- MiwGoldenFixtures.all) {
      val fmt = LogFormat.parse(f.format)
      // the first line alone, then the rest: the first line's key
      // straddles the two micro-batches wherever it recurs
      val batches = Seq(f.lines.take(1), f.lines.drop(1))
      val ids = (ls: Seq[String]) =>
        MiwEngine.runOnLines(spark, fmt, ls).select("id").collect().map(_.get(0)).toSet
      if ((ids(batches(0)) intersect ids(batches(1))).isEmpty) unsplit += f.name
      val name = "miw_golden_" + f.name.replaceAll("\\W", "_")
      assertSameAsBatch(runStream(name, batches)(MiwStreaming.aggregateStream(fmt, _)),
        MiwEngine.runOnLines(spark, fmt, f.lines), f.name)
    }
    // only fixtures whose kept lines all have distinct keys (or that
    // have one line) cannot split a key across batches
    assert(unsplit.toSeq == Seq("match substring", "match exact", "match exact negative",
      "match_file negative", "std_date_dt"))
  }

  /** Ten-minute windows over `ts`, keyed by `k`, with a count, a mean,
    * a union_count and a ratio over the mean. */
  private val windowFmt = LogFormat.parse(
    """{"format_name":"w","delims":",","fields":[
        {"name":"ts","pos":0,"type":"string"},
        {"name":"k","pos":1,"type":"string","key":true},
        {"name":"c","pos":2,"type":"string","aggregated":true,"aggregation":"count"},
        {"name":"m","pos":3,"type":"int","aggregated":true,"aggregation":"mean"},
        {"name":"u","pos":2,"type":"string","aggregated":true,"aggregation":"union_count"},
        {"name":"r","numerator":"m","denominator":"logs","type":"float","aggregated":true,"aggregation":"ratio"}]}""")

  /** Streams `batches` through the windowed aggregate and asserts that
    * each window's rows are `window_start` plus the batch engine's
    * output over that window's lines (the lines whose timestamp
    * starts with the window's `yyyy-MM-dd HH:m`). */
  private def assertWindowsAsBatch(name: String, batches: Seq[Seq[String]],
                                   windows: Seq[String]): Unit = {
    val out = runStream(name, batches)(MiwStreaming.windowedAggregateStream(windowFmt, _,
      tsField = "ts", window = "10 minutes", watermark = "1 hour"))
    val start = date_format(col("window_start"), "yyyy-MM-dd HH:mm")
    assert(out.select(start).distinct().collect().map(_.getString(0)).sorted.toSeq ==
      windows.map(_ + "0"))
    for (w <- windows) {
      val batch = MiwEngine.runOnLines(spark, windowFmt, batches.flatten.filter(_.startsWith(w)))
      assert(out.columns.toSeq == "window_start" +: batch.columns.toSeq)
      assertSameAsBatch(out.filter(start === w + "0").drop("window_start"), batch, w)
    }
  }

  test("each window streams the batch engine's output over that window's lines") {
    assertWindowsAsBatch("miw_win_batch", Seq(
      Seq("2024-01-01 10:03:00,a,x,1", "2024-01-01 10:07:00,a,y,4",
        "2024-01-01 10:13:00,a,x,2", "2024-01-01 10:04:00,b,x,10"),
      Seq("2024-01-01 10:05:00,a,x,7", "2024-01-01 10:15:00,b,z,3",
        "2024-01-01 10:16:00,a,x,5")),
      Seq("2024-01-01 10:0", "2024-01-01 10:1"))
  }

  test("a line whose timestamp does not parse is dropped, the windows of the others stand") {
    assertWindowsAsBatch("miw_win_badts", Seq(
      Seq("2024-01-01 10:03:00,a,x,1", "garbage,a,x,100", "2024-01-01 10:13:00,b,y,2"),
      Seq("2024-01-01 10:05:00,a,y,4")),
      Seq("2024-01-01 10:0", "2024-01-01 10:1"))
  }

  test("streaming HTTP push posts each micro-batch's refreshed rows") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/update", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        bodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        ex.sendResponseHeaders(200, 2L)
        ex.getResponseBody.write("{}".getBytes("UTF-8"))
        ex.close()
      }
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/update"
    val in = MemoryStream[String]
    val (q, results) = MiwStreaming.pushStream(
      MiwStreaming.aggregateStream(sumFmt, in.toDF()), url)
    try {
      in.addData("a,1", "b,2")
      q.processAllAvailable()
      in.addData("a,4")
      q.processAllAvailable()
      // every batch POSTed successfully and the updated key rode along
      val rs = results.toArray(Array.empty[graft.miw.HttpSink.PushResult])
      assert(rs.nonEmpty && rs.forall(r => r.failed == 0 && r.succeeded >= 1))
      val all = bodies.toArray(Array.empty[String]).mkString
      assert(all.contains("\"id\":\"a\"") && all.contains("\"v\":5"))
    } finally { q.stop(); server.stop(0) }
  }
}
