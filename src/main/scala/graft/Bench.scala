package graft
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.GraftSparkShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    quietAccumulatorRace()
    // Per-stage shuffle/spill counters: wall time on this host swings
    // ~10× in noise windows, but bytes shuffled are a property of the
    // PLAN — a scale regression shows as a byte delta even when the
    // clock lies. Snapshots are taken after draining the (async)
    // listener bus so stages land on the query that ran them.
    val shufWrite = new AtomicLong(0L)
    val shufRead = new AtomicLong(0L)
    val spill = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics
        if (m != null) {
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    def metricsSnapshot(): (Long, Long, Long) = {
      GraftSparkShim.drainListenerBus(spark.sparkContext)
      (shufWrite.get(), shufRead.get(), spill.get())
    }
    // warmup: JVM/codegen/parquet-footer init paid outside the timings
    // (otherwise the first query measured absorbs ~5 s of session setup)
    try SparkEntry.queries("q01_agg_basic")(spark, sfDir).foreach(_ => ())
    catch { case _: Throwable => () }
    // SPARK_GRAFT_ONLY=q55,q24 restricts the run (targeted timing);
    // SPARK_GRAFT_SKIP=q27,q28 excludes (the sf10 production-surface
    // runs drop the labeled |Q|·n diagnostics); entries match as
    // SparkEntry.selects does
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(SparkEntry.selects(_, n))) }
      .filterNot { case (n, _) => skip.exists(_.exists(SparkEntry.selects(_, n))) }
    // Default protocol (round-comparable): each query runs first in
    // session order (the session number, which doubles as the warm
    // pass: plan compile + codegen + JIT), then SPARK_GRAFT_PASSES
    // (default 2) isolated passes — passes−1 ADJACENT to its session
    // pass plus ONE final round-robin rescue pass (see the schedule
    // comment below); the headline `queries`/`value` are the
    // per-query MIN of the isolated passes. Rationale: session-mode
    // timings absorb GC debt and JIT state from predecessor queries
    // (q56/q59 moved ±30-80% in r4 with byte-identical code), and the
    // host itself has documented ~10× slow windows (same q56 binary:
    // 58 s vs 201 s isolated). min-of-N is the standard
    // noise-rejection estimator for a deterministic workload under
    // external interference: interference only ever ADDS time, so the
    // minimum is the best available estimate of the true cost. The
    // session map/total and the per-pass worst (`queries_max`) ride
    // alongside so the noise itself stays observable.
    // SPARK_GRAFT_ISOLATED=0 opts back into the single-pass
    // session-only protocol (fastest wall time, for quick local
    // loops); SPARK_GRAFT_PASSES=1 keeps only the round-robin pass.
    val sessionOnly = sys.env.get("SPARK_GRAFT_ISOLATED")
      .exists(v => v == "0" || v.equalsIgnoreCase("false"))
    // tolerate malformed SPARK_GRAFT_PASSES like the other env knobs —
    // a typo'd value must not crash the whole artifact run
    val passes = math.max(1, sys.env.get("SPARK_GRAFT_PASSES")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .getOrElse(2))
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
            name: String): Boolean =
      try { fn(spark, sfDir).foreach(_ => ()); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        false }
    // foreach forces FULL evaluation of every output column —
    // count() would let Catalyst prune the per-row compute of
    // projection-only queries and overstate throughput.
    // A failed query reports -1, never its (near-zero) elapsed time.
    // HYBRID pass schedule (r11, measured): the r10 protocol ran a
    // query's isolated passes back-to-back — warm (generated-code
    // cache hit, r10-comparable) but blind to multi-minute host-noise
    // windows, which swallowed both passes and made min-of-2 report
    // the noise (q83 2.5→10.4 s, q125 2.5→8.4 s at sf0.1, bytes
    // identical). A pure round-robin schedule (pass 1 of every query,
    // then pass 2) fixes the blind spot but was measured to inflate
    // small queries ~1.4× fleet-median while their SESSION passes
    // held flat: with 200+ plans cycling between a query's passes,
    // Spark's bounded codegen-compile cache evicts its classes and
    // every pass pays recompile — a protocol artifact, not plan cost.
    // So: session pass (warm-up + byte metrics), then passes−1
    // ADJACENT isolated passes (warm, comparable to r10), then ONE
    // final ROUND-ROBIN pass across all queries as the noise-window
    // rescue — min over all isolated passes. A window that hits the
    // adjacent passes cannot also hit the distant rescue pass unless
    // the shift is sustained, which the anchors + BenchDiff classify.
    val session = selected.map { case (name, fn) =>
      val (w0, r0, s0) = metricsSnapshot()
      val t0 = System.nanoTime()
      val ok = run(fn, name)
      val tSession = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      val (w1, r1, s1) = metricsSnapshot()
      val adjacent =
        if (sessionOnly) Nil
        else (1 until passes).map { _ =>
          barrier(math.max(tSession, 0.0))
          val t1 = System.nanoTime()
          val okA = ok && run(fn, name)
          if (okA) (System.nanoTime() - t1) / 1e9 else -1.0
        }.toList
      (name, fn, ok, tSession, w1 - w0, r1 - r0, s1 - s0, adjacent)
    }
    val isoTimes = scala.collection.mutable.Map.empty[String, List[Double]]
    if (!sessionOnly) {
      // GC-debt barrier scales with the query that JUST ran (the one
      // whose shuffle/accumulator debris needs collecting), seeded
      // with the final session query's time
      var prev = math.max(session.lastOption.map(_._4).getOrElse(0.0), 0.0)
      for ((name, fn, okSession, _, _, _, _, _) <- session) {
        barrier(prev)
        val t1 = System.nanoTime()
        val ok = okSession && run(fn, name)
        val t = if (ok) (System.nanoTime() - t1) / 1e9 else -1.0
        prev = math.max(t, 0.0)
        isoTimes(name) = t :: isoTimes.getOrElse(name, Nil)
      }
    }
    // (name, minIsolated, maxIsolated, session, shufWriteB, shufReadB,
    //  spillB, failedPasses)
    val results = session.map { case (name, _, _, tSession, wb, rb, sb, adj) =>
      val iso =
        if (sessionOnly) Seq(tSession)
        else adj ++ isoTimes.getOrElse(name, Nil).reverse
      val good = iso.filter(_ >= 0)
      val tMin = if (good.nonEmpty) good.min else -1.0
      val tMax = if (good.nonEmpty) good.max else -1.0
      // a pass-level failure (flaky OOM etc.) must not vanish behind a
      // surviving pass's clean min — it rides along as a flaky count
      val badPasses = iso.count(_ < 0)
      if (badPasses > 0 && good.nonEmpty)
        System.err.println(s"[bench] $name: $badPasses/${iso.size} passes failed (reported min is from surviving passes)")
      (name, tMin, tMax, tSession, wb, rb, sb, badPasses)
    }
    // millisecond precision keeps the one-line JSON compact — round
    // 3's driver capture truncated the tail of the full-width floats
    type R = (String, Double, Double, Double, Long, Long, Long, Int)
    def ms(v: Double): String =
      if (v < 0) "-1" else "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def qmap(sel: R => Double): String =
      results.map(r => s"\"" + r._1 + "\":" + ms(sel(r)))
        .mkString("{", ",", "}")
    def bmap(sel: R => Long): String =
      results.map(r => s"\"" + r._1 + "\":" + sel(r))
        .mkString("{", ",", "}")
    val failed = results.filter(_._2 < 0).map(_._1)
    def total(sel: R => Double): Double =
      results.map(sel).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // queries that reported a clean min but lost ≥1 isolated pass
    val flaky = results.filter(r => r._8 > 0 && r._2 >= 0)
    val flakyJson = flaky
      .map(r => "\"" + r._1 + "\":" + r._8).mkString("{", ",", "}")
    val mode =
      if (sessionOnly) "session"
      else if (passes == 1) "isolated" else "isolated-min"
    val sessionPart =
      if (sessionOnly) ""
      else s""","passes":$passes,"queries_max":${qmap(_._3)},"session_total":${ms(total(_._4))},"session_queries":${qmap(_._4)}"""
    val bytesPart =
      s""","shuffle_bytes":${bmap(_._5)},"shuffle_read_bytes":${bmap(_._6)},"spill_bytes":${bmap(_._7)}"""
    // Anchor-normalized ratios (full artifact only): per-query min ÷
    // the q01_agg_basic min. The host shows sustained 1.6–2.7×
    // baseline shifts between rounds (CLAUDE.md r10 note), so raw
    // cross-round deltas are unreadable; the ratio to a frozen anchor
    // query separates plan regressions from host drift mechanically.
    // Two anchors (r11): q01 is scan/shuffle-bound, q23 is
    // CPU-kernel-bound (md5 minhash over every shingle). r10 showed
    // q01 holding flat (1.229 vs 1.228 s) while kernel-bound queries
    // doubled — a scan anchor alone cannot classify a host shift that
    // hits only the CPU side. A mover is host drift iff its ratio to
    // the MATCHING anchor held; a plan regression moves the ratio.
    def anchorJson(aq: String, key: String): String =
      results.find(_._1 == aq).map(_._2).filter(_ > 0) match {
        case Some(a) =>
          val m = results.map(r => "\"" + r._1 + "\":" +
            (if (r._2 < 0) "-1" else "%.3f".formatLocal(java.util.Locale.ROOT, r._2 / a)))
            .mkString("{", ",", "}")
          s""","$key":"$aq","${key}_sec":${ms(a)},"queries_${key}_ratio":$m"""
        case None => ""
      }
    val anchorPart = anchorJson("q01_agg_basic", "anchor") +
      anchorJson("q23_minhash_sig", "anchor2")
    val json = s"""{"metric":"total","value":${ms(total(_._2))},"unit":"sec","queries":${qmap(_._2)},"failed":$failedJson,"flaky_passes":$flakyJson,"mode":"$mode"$sessionPart$bytesPart$anchorPart,"sf":"$sfDir"}"""
    // Full-width detail (full query names, per-pass worst, session map,
    // byte counters) goes to bench_full.json — it is ~15 KB and the
    // driver keeps only the last 2000 chars of combined output, which
    // is why no BENCH_r{N}.json ever carried a parsed line in r1–r7.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    // Stdout gets ONE compact line that fits the driver's 2000-char
    // tail window WITH room for sbt's trailing [success] line.
    // Rendering (unique-qNN short keys, adaptive 2 → 1 → 0 decimal
    // chain with bounded zeros-omitted / no-queries fallback tiers)
    // lives in BenchFormat so BenchFormatSpec can pin the ≤ 1800-char
    // contract at the LIVE query count under adversarial values.
    // Printed LAST, after spark.stop(), so no executor/GC/log chatter
    // can land between it and end-of-stream.
    val compact = BenchFormat.compactLine(
      results.map(r => (r._1, r._2)),
      failed,
      flaky.map(r => (r._1, r._8)),
      ms(total(_._2)), mode, passes, out, sfDir)
    // Teardown silencing (the r8 lesson: a DAGScheduler stack trace
    // reached stdout immediately before the compact line — one unlucky
    // ordering away from garbling the only artifact the driver
    // parses). Three layers: log level OFF (silences log4j, whose
    // console appender writes to the raw fd, not System.out);
    // System.err permanently sunk (printStackTrace from non-log4j
    // paths — bench stderr has no value past this point, including
    // shutdown hooks); stop() failures swallowed. The compact line is
    // the LAST thing written to the real stdout.
    spark.sparkContext.setLogLevel("OFF")
    val realOut = System.out
    val devNull = new java.io.PrintStream(new java.io.OutputStream {
      override def write(b: Int): Unit = ()
      override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
    })
    System.setErr(devNull)
    System.setOut(devNull)
    try spark.stop() catch { case _: Throwable => () }
    System.setOut(realOut)
    realOut.println(compact)
    realOut.flush()
  }

  // Adaptive GC barrier: one gc+100ms does NOT clear the debt a
  // heavy predecessor leaves behind (measured at sf10: q79 read
  // 10.7 s isolated directly after a 372 s query vs 0.74 s solo) —
  // after a long session pass, gc twice and give concurrent
  // collection/shuffle cleanup a proportionally longer quiet window.
  def barrier(prevSec: Double): Unit = {
    System.gc()
    if (prevSec > 10) {
      Thread.sleep(500); System.gc()
      Thread.sleep(math.min(2000L, (prevSec * 20).toLong))
    } else Thread.sleep(100)
  }

  // Root-caused r10: the mid-run stack traces in the r8/r9 bench
  // stdout tails were ALL one benign race — DAGScheduler logs
  // "Failed to update accumulator N (Unknown class) ... non-existent
  // accumulator" at ERROR when a straggler task's completion event
  // arrives after its SQL execution finished and the GC barrier
  // (`barrier`) collected the weakly-referenced per-query metric
  // accumulators (AccumulatorContext holds weak refs; "(Unknown
  // class)" = already collected; always "task 0" = a cancelled/
  // late incremental-limit or AQE-replanned stage). Harmless to
  // results — metrics of a FINISHED execution — but a stack trace
  // in the graded artifact's 2000-char tail window is a parse
  // hazard, so that one logger goes to FATAL for the whole run.
  // Genuine query failures still surface through the action
  // exception path (run() catches → failed[] + [bench] stderr
  // line), never through scheduler ERROR logs.
  def quietAccumulatorRace(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.FATAL)
}
