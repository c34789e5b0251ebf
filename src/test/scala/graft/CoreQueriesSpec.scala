package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The suite's shared session: the engine's own factory at a fixed 4
  * CPUs, so test partitioning does not depend on the host. */
object SparkTestSession {
  lazy val spark: SparkSession = Session(cpus = 4)
}

/** Smoke + exact-value checks for the correctness-gate queries at
  * sf0.001. Deep differential checks run against the DuckDB oracle via
  * tools/check_oracle.py (and the driver's own gate at sf0.01). */
class CoreQueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("every registered query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every query has a matching oracle or is explicitly oracle-free") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // oracle-free queries are allowed (rows-only check) but must be rare;
    // for now all core queries carry oracles.
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("entry() flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q01_agg_basic matches hand-computed row count and logs total") {
    val df = SparkEntry.queries("q01_agg_basic")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 6) // 3 returnflags x 2 linestatus
    val totalLogs = rows.map(_.getAs[Long]("logs")).sum
    val liCount = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(totalLogs == liCount)
  }

  test("q16_wordcount top word is consistent with direct computation") {
    val df = SparkEntry.queries("q16_wordcount")(spark, sf)
    val top = df.collect().head
    import org.apache.spark.sql.functions._
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).count()
      .orderBy(col("count").desc, col("w"))
      .collect().head
    assert(top.getAs[String]("word") == direct.getAs[String]("w"))
    assert(top.getAs[Long]("cnt") == direct.getAs[Long]("count"))
  }

  test("q126/q127: spectrum and per-source vocab close over the corpus token mass") {
    import org.apache.spark.sql.functions._
    val corpusTokens = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").count()
    val spec = SparkEntry.queries("q126_freq_spectrum")(spark, sf).collect()
    // Σ freq·n_types = Σ token_mass = corpus token count (Good–Turing
    // mass closure), and hapax stratum exists on real text
    assert(spec.map(r => r.getAs[Long]("freq") * r.getAs[Long]("n_types")).sum
      == corpusTokens)
    assert(spec.map(_.getAs[Long]("token_mass")).sum == corpusTokens)
    // the synthetic vocab is tiny, so every type recurs (no hapax row
    // at this sf) — pin a non-degenerate multi-stratum spectrum instead
    assert(spec.length > 1)
    assert(spec.map(_.getAs[Long]("freq")).distinct.length == spec.length)
    val voc = SparkEntry.queries("q127_vocab_by_source")(spark, sf).collect()
    assert(voc.map(_.getAs[Long]("n_tokens")).sum == corpusTokens)
    val globalTypes = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().count()
    // Σ per-source exclusive types ≤ global type count; per-source
    // types ≥ exclusives; ttr is the integer ratio
    assert(voc.map(_.getAs[Long]("n_exclusive")).sum <= globalTypes)
    voc.foreach { r =>
      assert(r.getAs[Long]("n_exclusive") <= r.getAs[Long]("n_types"))
      assert(r.getAs[Long]("ttr_ppm") ==
        1000000L * r.getAs[Long]("n_types") / r.getAs[Long]("n_tokens"))
    }
  }

  test("q128/q129/q130: event-analytics invariants (windows, funnel, cohorts)") {
    import org.apache.spark.sql.functions._
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    val roll = SparkEntry.queries("q128_rolling_active_users")(spark, sf).collect()
    assert(roll.nonEmpty)
    // a 7-day window can only add actives over its last day
    roll.foreach { r =>
      assert(r.getAs[Long]("wau") >= r.getAs[Long]("dau"))
      assert(r.getAs[Long]("wau") <= users)
    }
    // window widening must bite somewhere (wau > dau on some day)
    assert(roll.exists(r => r.getAs[Long]("wau") > r.getAs[Long]("dau")))
    val fun = SparkEntry.queries("q129_event_funnel")(spark, sf).collect()
      .map(r => r.getAs[String]("step") -> r.getAs[Long]("n_users")).toMap
    assert(fun("1_view") >= fun("2_click") &&
      fun("2_click") >= fun("3_purchase"))
    assert(fun("1_view") <= users && fun("3_purchase") >= 0)
    val coh = SparkEntry.queries("q130_retention_cohorts")(spark, sf).collect()
    // offset-0 rows are the cohort sizes and sum to the user count
    val sizes = coh.filter(_.getAs[Long]("day_offset") == 0L)
      .map(_.getAs[Long]("n_active"))
    assert(sizes.sum == users)
    // no (cohort, offset) cell can exceed its cohort size
    val sizeOf = coh.filter(_.getAs[Long]("day_offset") == 0L)
      .map(r => r.getAs[Long]("cohort") -> r.getAs[Long]("n_active")).toMap
    coh.foreach { r =>
      assert(r.getAs[Long]("n_active") <= sizeOf(r.getAs[Long]("cohort")))
      assert(r.getAs[Long]("day_offset") >= 0L)
    }
  }

  test("q132: beacon CV² arithmetic replays exactly from each row's own sums") {
    val rows = SparkEntry.queries("q132_beacon_regularity")(spark, sf).collect()
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(rows.length == users) // every user has ≥ 2 events at this sf
    rows.foreach { r =>
      val n = BigInt(r.getAs[Long]("n_gaps"))
      val s = BigInt(r.getAs[Long]("sum_gap"))
      val s2 = BigInt(r.getAs[Long]("sum_gap2"))
      assert(n > 0 && s > 0 && s2 > 0)
      val num = n * s2 - s * s
      val den = s * s
      assert(num >= 0) // Cauchy–Schwarz: n·Σd² ≥ (Σd)²
      assert(BigInt(r.getAs[Long]("cv2_ppm")) == BigInt(1000000) * num / den)
      assert(r.getAs[Boolean]("is_beacon") == (num * 4 <= den * 3))
    }
    // organic Poisson-ish traffic: CV² concentrates near 1 (1e6 ppm)
    assert(rows.exists(_.getAs[Long]("cv2_ppm") > 500000L))
  }

  test("q133: perplexity buckets partition the corpus, ranges respect thresholds") {
    val rows = SparkEntry.queries("q133_perplexity_buckets")(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    val byB = rows.map(r => r.getAs[String]("bucket") -> r).toMap
    // all three scored buckets live at gate sf (calibration contract)
    assert(Set("0_head", "1_middle", "2_tail").subsetOf(byB.keySet))
    assert(byB("0_head").getAs[Long]("min_s") >= 35000L)
    assert(byB("2_tail").getAs[Long]("max_s") < 34000L)
    assert(byB("1_middle").getAs[Long]("min_s") >= 34000L &&
      byB("1_middle").getAs[Long]("max_s") < 35000L)
    // bigram mass reconciles with the q109 per-doc scores
    val q109 = SparkEntry.queries("q109_bigram_lm")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("bigram_mass")).sum ==
      q109.map(_.getAs[Long]("nbg")).sum)
  }

  test("q134: Zipf card ranks are dense, shares monotone, rf exact") {
    val rows = SparkEntry.queries("q134_zipf_card")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 40)
    assert(rows.map(_.getAs[Long]("rank")).toSeq ==
      (1L to rows.length.toLong))
    val fs = rows.map(_.getAs[Long]("f"))
    assert(fs.zip(fs.tail).forall { case (a, b) => a >= b })
    rows.foreach(r => assert(r.getAs[Long]("rf") ==
      r.getAs[Long]("rank") * r.getAs[Long]("f")))
    val shares = rows.map(_.getAs[Long]("cum_share_ppm"))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    assert(shares.last <= 1000000L)
    // the tiny synthetic vocab fits entirely in the top-40 → the last
    // cumulative share is the whole corpus (floor-exact 10⁶)
    if (rows.length < 40) assert(shares.last == 1000000L)
  }

  test("q137: lift replays from each row's own integers; bounds hold; both verdicts live") {
    val rows = SparkEntry.queries("q137_event_lift")(spark, sf).collect()
    assert(rows.length == 10) // C(5,2) unordered type pairs
    rows.foreach { r =>
      val both = r.getAs[Long]("n_both"); val na = r.getAs[Long]("n_a")
      val nb = r.getAs[Long]("n_b"); val n = r.getAs[Long]("n_baskets")
      assert(both <= math.min(na, nb) && na <= n && nb <= n)
      assert(BigInt(r.getAs[Long]("lift_ppm")) ==
        BigInt(1000000) * both * n / (BigInt(na) * nb))
      assert(r.getAs[Boolean]("associated") ==
        (BigInt(both) * n * 10 >= BigInt(na) * nb * 9))
      assert(r.getAs[String]("type_a") < r.getAs[String]("type_b"))
    }
  }

  test("q142: degree card closes over nodes and directed edge count") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q142_degree_card")(spark, sf).collect()
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val e0 = orders.join(li, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("su")).distinct()
    val nEdges = e0.count()
    val nCust = e0.select("c").distinct().count()
    val nSupp = e0.select("su").distinct().count()
    val bySide = rows.groupBy(_.getAs[String]("side"))
    assert(bySide("customer").map(_.getAs[Long]("n_nodes")).sum == nCust)
    assert(bySide("supplier").map(_.getAs[Long]("n_nodes")).sum == nSupp)
    // Σ degree·n_nodes per side = |undirected edges| (each edge counts
    // once per endpoint side in the symmetrized graph)
    for (side <- Seq("customer", "supplier"))
      assert(bySide(side).map(r =>
        r.getAs[Long]("degree") * r.getAs[Long]("n_nodes")).sum == nEdges)
  }

  test("q143: JL distortion replays exactly in the JVM on a hand fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.ExactCols.hmodJvm
    val vecs = Seq(
      (0L, Seq(0.25f, -0.5f, 1.0f, 0.75f)),
      (1L, Seq(-0.25f, 0.5f, 0.5f, -0.75f)),
      (2L, Seq(1.0f, 1.0f, -1.0f, 0.25f)))
    val rows = queries.Similarity.jlDistortionAudit(
        vecs.toDF("vec_id", "embedding"), k = 2, dim = 4)
      .orderBy(col("a_id")).collect()
    assert(rows.length == 2)
    val iv = vecs.map { case (id, e) =>
      id -> e.map(x => Math.round(x.toDouble * 1e6)).toArray }.toMap
    val signs = Array.tabulate(2, 4)((r, i) =>
      if (hmodJvm(s"jl:$r:${i + 1}") % 2 == 0) 1L else -1L)
    def proj(v: Array[Long]): Array[Long] =
      signs.map(row => row.zip(v).map { case (s, x) => s * x }.sum)
    for (r <- rows) {
      val (a, b) = (iv(r.getAs[Long]("a_id")), iv(r.getAs[Long]("b_id")))
      val d2o = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val d2p = proj(a).zip(proj(b)).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(r.getAs[Long]("d2_orig") == d2o)
      assert(r.getAs[Long]("d2_proj") == d2p)
      assert(r.getAs[Long]("ratio_ppm") ==
        (BigInt(1000000) * d2p / (BigInt(2) * d2o)).toLong)
    }
    // real corpus: unbiased center — mean distortion within ±40% of 1e6
    val real = queries.Similarity.jlDistortionAudit(
      graft.Tables.t(spark, sf, "embeddings")).collect()
    assert(real.nonEmpty)
    val mean = real.map(_.getAs[Long]("ratio_ppm")).sum / real.length
    assert(mean > 600000L && mean < 1400000L, s"JL center off: $mean ppm")
  }

  test("q145: anomaly agreement diagonals equal the member gates; intersection bounded") {
    val m = SparkEntry.queries("q145_anomaly_agreement")(spark, sf).collect()
      .map(r => (r.getAs[String]("route_a"), r.getAs[String]("route_b")) ->
        r.getAs[Long]("n_hits")).toMap
    assert(m.keySet == Set(("ewma", "ewma"), ("ewma", "trailing"),
      ("trailing", "trailing")))
    val trailing = SparkEntry.queries("q135_hourly_spike")(spark, sf).collect()
      .map(_.getAs[Long]("n_spikes")).sum
    val ewma = SparkEntry.queries("q141_ewma_baseline")(spark, sf).collect()
      .count(_.getAs[Boolean]("spike")).toLong
    assert(m(("trailing", "trailing")) == trailing)
    assert(m(("ewma", "ewma")) == ewma)
    assert(m(("ewma", "trailing")) <= math.min(trailing, ewma))
  }

  test("q151/q152: co-purchase top-k ordered and replayable; Pareto card monotone") {
    import org.apache.spark.sql.functions._
    val cp = SparkEntry.queries("q151_copurchase_topk")(spark, sf).collect()
    assert(cp.length == 20)
    assert(cp.map(_.getAs[Long]("rank")).toSeq == (1L to 20L))
    val ns = cp.map(_.getAs[Long]("n_shared"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    cp.foreach(r => assert(r.getAs[Long]("supp_a") < r.getAs[Long]("supp_b")))
    // replay the top pair's count directly
    val top = cp.head
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val e0 = orders.join(li, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk")).distinct()
    val shared = e0.filter(col("sk") === top.getAs[Long]("supp_a"))
      .select("c").intersect(
        e0.filter(col("sk") === top.getAs[Long]("supp_b")).select("c"))
      .count()
    assert(top.getAs[Long]("n_shared") == shared)
    val pc = SparkEntry.queries("q152_revenue_concentration")(spark, sf)
      .collect()
    assert(pc.length == 20)
    val cents = pc.map(_.getAs[Long]("cents"))
    assert(cents.zip(cents.tail).forall { case (a, b) => a >= b })
    val shares = pc.map(_.getAs[Long]("cum_share_ppm"))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    assert(shares.last <= 1000000L && shares.head > 0L)
  }

  test("q153: collocation lift replays from each row's own counts; ranks ordered") {
    val rows = SparkEntry.queries("q153_collocations")(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to 20L))
    val lifts = rows.map(_.getAs[Long]("lift_ppm"))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
    // recompute N once: total bigram instances
    import org.apache.spark.sql.functions._
    import graft.functions.ExactCols.{shingles, tokens}
    val n = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(shingles(tokens(col("text")), 2, distinct = false)))
      .count()
    rows.foreach { r =>
      assert(r.getAs[Long]("c_ab") >= 5L)
      assert(BigInt(r.getAs[Long]("lift_ppm")) ==
        BigInt(1000000) * r.getAs[Long]("c_ab") * n /
          (BigInt(r.getAs[Long]("c_a")) * r.getAs[Long]("c_b")))
      // a positive collocation beats independence
      assert(r.getAs[Long]("lift_ppm") > 1000000L ||
        r.getAs[Long]("rank") > 1L)
    }
  }

  test("q150: RFM segments partition customers; all three dimensions live") {
    val rows = SparkEntry.queries("q150_rfm_segments")(spark, sf).collect()
    val nCust = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum == nCust)
    for (dim <- Seq("r_score", "f_score", "m_score")) {
      val vals = rows.map(_.getAs[Long](dim)).toSet
      assert(vals.subsetOf(Set(1L, 2L, 3L)))
      assert(vals.size >= 2, s"$dim is degenerate: $vals")
    }
    rows.foreach(r => assert(r.getAs[Long]("sum_cents") > 0))
  }

  test("q148/q149: transition matrix closes over transitions; convert quantiles ordered") {
    val tm = SparkEntry.queries("q148_transition_matrix")(spark, sf).collect()
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    // every event except each user's first is a transition
    assert(tm.map(_.getAs[Long]("n")).sum == nEvents - users)
    val byFrom = tm.groupBy(_.getAs[String]("from_type"))
    for ((_, rs) <- byFrom) {
      val tot = rs.map(_.getAs[Long]("n")).sum
      rs.foreach(r => assert(r.getAs[Long]("p_ppm") ==
        1000000L * r.getAs[Long]("n") / tot))
      // conditional rows sum to ≈ 1e6 (floor loss < |types|)
      val psum = rs.map(_.getAs[Long]("p_ppm")).sum
      assert(psum > 1000000L - rs.length && psum <= 1000000L)
    }
    val cv = SparkEntry.queries("q149_time_to_convert")(spark, sf).collect()
    assert(cv.length == 1)
    val r = cv.head
    assert(r.getAs[Long]("n_converts") > 0)
    assert(r.getAs[Long]("p50_s") <= r.getAs[Long]("p90_s"))
    assert(r.getAs[Long]("p50_s") > 0)
  }

  test("q144: bot-suspicion votes equal the member gates bit-for-bit") {
    val comp = SparkEntry.queries("q144_bot_suspicion")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val burst = SparkEntry.queries("q131_burst_detection")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Boolean]("is_burst")).toMap
    val beacon = SparkEntry.queries("q132_beacon_regularity")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Boolean]("is_beacon")).toMap
    assert(comp.keySet == burst.keySet)
    for ((u, r) <- comp) {
      assert(r.getAs[Boolean]("v_burst") == burst(u), s"user $u burst")
      assert(r.getAs[Boolean]("v_beacon") == beacon.getOrElse(u, false),
        s"user $u beacon")
      val votes = Seq("v_burst", "v_beacon", "v_allhours")
        .count(r.getAs[Boolean](_))
      assert(r.getAs[Long]("votes") == votes.toLong)
      assert(r.getAs[Boolean]("suspicious") == (votes >= 2))
    }
  }

  test("q141: EWMA trajectory replays exactly in the JVM; flags judged on prior baseline") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q141_ewma_baseline")(spark, sf).collect()
    val counts = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), expr("unix_timestamp(ts) div 3600").as("hr"))
      .groupBy("event_type", "hr").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows.length == counts.size)
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    for ((tpe, rs) <- byType) {
      var r = -1L
      for (row <- rs.sortBy(_.getAs[Long]("hr"))) {
        val cnt = counts((tpe, row.getAs[Long]("hr")))
        assert(row.getAs[Long]("cnt") == cnt)
        val spike = r >= 0L && cnt * 10000L > 25L * r
        r = if (r < 0L) cnt * 1000L else (3L * cnt * 1000L + 7L * r) / 10L
        assert(row.getAs[Long]("ewma_milli") == r, s"$tpe@${row.getAs[Long]("hr")}")
        assert(row.getAs[Boolean]("spike") == spike)
      }
    }
    // the small-count corpus must trip the 2.5× rule somewhere
    assert(rows.exists(_.getAs[Boolean]("spike")))
  }

  test("q135: spike rollup structure (full ⊆ hours, spikes ⊆ full, checksum gated)") {
    val rows = SparkEntry.queries("q135_hourly_spike")(spark, sf).collect()
    assert(rows.length == 5) // one row per event type
    rows.foreach { r =>
      val hours = r.getAs[Long]("n_hours")
      val full = r.getAs[Long]("n_full")
      val spikes = r.getAs[Long]("n_spikes")
      assert(full <= hours && spikes <= full)
      if (full == 0) assert(r.getAs[Long]("peak_ppm") == 0L)
      // a spike is ≥ 2.5× its trailing mean → its ratio ppm ≥ 2.5e6
      if (spikes > 0) assert(r.getAs[Long]("peak_ppm") >= 2500000L)
      if (spikes == 0) assert(r.getAs[Long]("spike_checksum") == 0L)
    }
  }

  test("q154: skyline is exactly the brute-force Pareto frontier") {
    import org.apache.spark.sql.functions._
    val sky = SparkEntry.queries("q154_skyline")(spark, sf).collect()
      .map(r => (r.getAs[Long]("p_size"), r.getAs[Long]("cents"),
        r.getAs[Long]("n_parts")))
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_size").cast("long"),
        (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def dominated(p: (Long, Long)) = parts.exists(q =>
      q._1 <= p._1 && q._2 <= p._2 && (q._1 < p._1 || q._2 < p._2))
    val brute = parts.distinct.filterNot(dominated)
      .map(p => (p._1, p._2, parts.count(_ == p).toLong)).sortBy(_._1)
    assert(sky.toSeq == brute.toSeq)
    // skyline sizes strictly increasing, cents strictly decreasing
    assert(sky.map(_._1).toSeq == sky.map(_._1).sorted.distinct.toSeq)
    val cs = sky.map(_._2)
    assert(cs.zip(cs.tail).forall { case (a, b) => a > b })
  }

  test("q155/q157: AUC card replays from brute pairwise ranks; bins partition it") {
    val card = SparkEntry.queries("q155_classifier_eval")(spark, sf).collect().head
    val scores = graft.queries.Pipeline.classifierEvalScores(spark, sf).collect()
      .map(r => (r.getAs[Long]("skey"), r.getAs[Boolean]("pos")))
    val pos = scores.filter(_._2).map(_._1)
    val neg = scores.filterNot(_._2).map(_._1)
    // 2U = Σ over (pos, neg) pairs of 2·[p > n] + 1·[p = n]
    val twoU = (for (p <- pos; n <- neg)
      yield if (p > n) 2L else if (p == n) 1L else 0L).sum
    assert(card.getAs[Long]("two_u") == twoU)
    assert(card.getAs[Long]("n_pos") == pos.length.toLong)
    assert(card.getAs[Long]("n_neg") == neg.length.toLong)
    assert(card.getAs[Long]("tp") + card.getAs[Long]("fn") == card.getAs[Long]("n_pos"))
    assert(card.getAs[Long]("fp") + card.getAs[Long]("tn") == card.getAs[Long]("n_neg"))
    val auc = card.getAs[Long]("auc_ppm")
    assert(auc >= 0L && auc <= 1000000L)
    assert(BigInt(auc) == BigInt(1000000) * twoU /
      (BigInt(2) * pos.length * neg.length))
    // hash-derived stand-in weights are independent of the gopher
    // truth, so the honest measured verdict is a near-coin AUC — the
    // card's job is exact metrology, not flattery (the q136 doctrine)
    assert(auc > 400000L && auc < 600000L)
    val bins = SparkEntry.queries("q157_calibration_bins")(spark, sf).collect()
    assert(bins.map(_.getAs[Long]("n")).sum == card.getAs[Long]("n_docs"))
    assert(bins.map(_.getAs[Long]("n_pos")).sum == card.getAs[Long]("n_pos"))
    val bs = bins.map(_.getAs[Long]("bin"))
    assert(bs.toSeq == bs.sorted.toSeq && bs.distinct.length == bs.length)
    bins.foreach { b =>
      val n = b.getAs[Long]("n"); val np = b.getAs[Long]("n_pos")
      assert(np >= 0L && np <= n)
      assert(b.getAs[Long]("pos_rate_ppm") == 1000000L * np / n)
      // every member's skey lies in the bin ⇒ the bin's mean does too
      val mean = b.getAs[Long]("sum_skey") / n
      assert(mean / 20000000L == b.getAs[Long]("bin"))
    }
  }

  test("q158: OLS trend replays from daily counts; verdict from each row's pair") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q158_trend_lines")(spark, sf).collect()
    val daily = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), expr("unix_timestamp(ts) div 86400").as("day"))
      .groupBy("event_type", "day").count().collect()
      .groupBy(_.getAs[String]("event_type"))
    rows.foreach { r =>
      val ds = daily(r.getAs[String]("event_type"))
        .map(x => (BigInt(x.getAs[Long]("day")), BigInt(x.getAs[Long]("count"))))
      val n = BigInt(ds.length)
      val num = n * ds.map(p => p._1 * p._2).sum - ds.map(_._1).sum * ds.map(_._2).sum
      val den = n * ds.map(p => p._1 * p._1).sum - ds.map(_._1).sum.pow(2)
      assert(BigInt(r.getAs[Long]("slope_num")) == num)
      assert(BigInt(r.getAs[Long]("slope_den")) == den)
      assert(r.getAs[Long]("n_events") == ds.map(_._2).sum)
      val expect = if (num.abs * 20 <= den) "flat"
        else if (num > 0) "rising" else "falling"
      assert(r.getAs[String]("trend") == expect)
    }
  }

  test("q159: CUSUM card replays from an independent JVM fold") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q159_cusum_changepoint")(spark, sf).collect()
    val hourly = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), expr("unix_timestamp(ts) div 3600").as("hr"))
      .groupBy("event_type", "hr").count().collect()
      .groupBy(_.getAs[String]("event_type"))
    rows.foreach { r =>
      val seq = hourly(r.getAs[String]("event_type"))
        .map(x => (x.getAs[Long]("hr"), x.getAs[Long]("count"))).sortBy(_._1)
      val n = seq.length.toLong
      val total = seq.map(_._2).sum
      var s = 0L; var peak = 0L; var peakHr = -1L
      var flags = 0L; var ff = -1L
      seq.foreach { case (hr, c) =>
        s = math.max(0L, s + (n * c - total) - total / 4L)
        if (s > peak) { peak = s; peakHr = hr }
        if (s >= 3L * total) { flags += 1L; if (ff < 0L) ff = hr }
      }
      assert(r.getAs[Long]("n_hours") == n && r.getAs[Long]("total") == total)
      assert(r.getAs[Long]("peak_s") == peak && r.getAs[Long]("peak_hr") == peakHr)
      assert(r.getAs[Long]("n_flagged") == flags)
      assert(r.getAs[Long]("first_flag_hr") == ff)
      // structural: a flag implies the peak reached the threshold
      if (flags > 0) assert(peak >= 3L * total && ff >= 0L)
      if (peak == 0L) assert(peakHr == -1L)
    }
  }

  test("q160: butterfly card replays from the raw bipartite edge set") {
    import org.apache.spark.sql.functions._
    val card = SparkEntry.queries("q160_butterfly_card")(spark, sf).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("cnt")).toMap
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val edges = orders.join(li, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct().collect()
      .map(r => (r.getAs[Long]("c"), r.getAs[Long]("sk")))
    def c2(n: Long) = n * (n - 1) / 2
    assert(card("1_edges") == edges.length.toLong)
    val wc = edges.groupBy(_._1).values.map(g => c2(g.length.toLong)).sum
    val ws = edges.groupBy(_._2).values.map(g => c2(g.length.toLong)).sum
    assert(card("2_wedges_customer") == wc)
    assert(card("3_wedges_supplier") == ws)
    val byC = edges.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val shared = scala.collection.mutable.Map.empty[(Long, Long), Long]
    byC.values.foreach { sks =>
      for (i <- sks.indices; j <- i + 1 until sks.length)
        shared((sks(i), sks(j))) = shared.getOrElse((sks(i), sks(j)), 0L) + 1L
    }
    assert(card("4_supplier_pairs") == shared.size.toLong)
    assert(card("5_butterflies") == shared.values.map(c2).sum)
    // the wedge identity: every customer wedge lands on exactly one
    // supplier pair, so Σ shared == customer-side wedges
    assert(shared.values.sum == wc)
  }

  test("q161: trigram paths cover Σ max(0, n_u − 2) instances; top count replays") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q161_event_trigrams")(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to 10L))
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    rows.foreach(r => assert(r.getAs[String]("path").split(">").length == 3))
    // brute replay of all trigram counts from ordered per-user timelines
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "event_id", "unix_timestamp(ts) as sec",
        "event_type").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("sec"), r.getAs[String]("event_type")))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    ev.groupBy(_._1).values.foreach { g =>
      val ts = g.sortBy(e => (e._3, e._2)).map(_._4)
      ts.sliding(3).filter(_.length == 3).foreach { w =>
        val k = w.mkString(">")
        counts(k) = counts.getOrElse(k, 0L) + 1L
      }
    }
    val expectTop = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    assert(rows.map(r => (r.getAs[String]("path"), r.getAs[Long]("n"))).toSeq
      == expectTop)
  }

  test("q162: RRF top-20 replays from independently ranked lists") {
    import org.apache.spark.sql.functions._
    import graft.functions.ExactCols.hmod
    val rows = SparkEntry.queries("q162_rank_fusion")(spark, sf).collect()
    assert(rows.length == 20)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sa = graft.queries.Pipeline.commonnessScore(docs)
      .filter(col("ntok") > 0).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        1000000L * r.getAs[Long]("num") / r.getAs[Long]("ntok"))
    val wgt = spark.range(512).select(col("id").as("bucket"),
      (hmod(concat(lit("w:"), col("id").cast("string"))) % 2001L - 1000L).as("w"))
    val sb = graft.queries.Pipeline.classifierScore(docs, wgt)
      .filter(col("ntok") > 0).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        1000000L * (r.getAs[Long]("score_num") + 1000L * r.getAs[Long]("ntok")) /
          r.getAs[Long]("ntok"))
    def ranks(s: Array[(Long, Long)]) = s
      .sortBy { case (id, v) => (-v, id) }.take(100).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val (ra, rb) = (ranks(sa), ranks(sb))
    val fused = (ra.keySet ++ rb.keySet).toSeq.map { id =>
      val r = ra.get(id).map(x => 1000000L / (60L + x)).getOrElse(0L) +
        rb.get(id).map(x => 1000000L / (60L + x)).getOrElse(0L)
      (id, r)
    }.sortBy { case (id, r) => (-r, id) }.take(20)
    assert(rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf"))).toSeq
      == fused)
    rows.foreach { r =>
      assert(r.getAs[Long]("ra") == ra.getOrElse(r.getAs[Long]("doc_id"), -1L))
      assert(r.getAs[Long]("rb") == rb.getOrElse(r.getAs[Long]("doc_id"), -1L))
    }
  }

  test("q163: TVD drift card replays in BigInt; total bounds the contributions") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q163_distribution_drift")(spark, sf).collect()
    val total = rows.find(_.getAs[String]("segment") == "_total").get
    val typed = rows.filter(_.getAs[String]("segment") != "_total")
    val days = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("event_type", "unix_timestamp(ts) div 86400 as day").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day")))
    val lo = days.map(_._2).min; val hi = days.map(_._2).max
    val w1 = days.filter(_._2 <= lo + 6); val w2 = days.filter(d => d._2 >= hi - 6 && d._2 > lo + 6)
    val n1 = w1.length.toLong; val n2 = w2.length.toLong
    assert(total.getAs[Long]("c1") == n1 && total.getAs[Long]("c2") == n2)
    var sumAbs = BigInt(0)
    typed.foreach { r =>
      val tpe = r.getAs[String]("segment").stripPrefix("type:")
      val c1 = w1.count(_._1 == tpe).toLong
      val c2 = w2.count(_._1 == tpe).toLong
      assert(r.getAs[Long]("c1") == c1 && r.getAs[Long]("c2") == c2)
      val ad = (BigInt(c1) * n2 - BigInt(c2) * n1).abs
      sumAbs += ad
      assert(BigInt(r.getAs[Long]("drift_ppm")) ==
        BigInt(1000000) * ad / (BigInt(2) * n1 * n2))
    }
    assert(BigInt(total.getAs[Long]("drift_ppm")) ==
      BigInt(1000000) * sumAbs / (BigInt(2) * n1 * n2))
    // TVD ≤ 1e6 ppm by construction
    assert(total.getAs[Long]("drift_ppm") <= 1000000L)
  }

  test("q164: folds partition the corpus and clusters never straddle") {
    import org.apache.spark.sql.functions._
    import graft.functions.ExactCols.hmodJvm
    val rows = SparkEntry.queries("q164_kfold_split")(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(rows.map(_.getAs[Long]("fold")).toSet.subsetOf((0L to 4L).toSet))
    val cl = graft.queries.Dedup.clusters(
      spark.read.parquet(s"$sf/documents.parquet")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    assert(rows.map(_.getAs[Long]("n_clusters")).sum ==
      cl.map(_._2).distinct.length.toLong)
    // cluster-safety: a cluster's fold is a function of its id alone
    val foldOf = cl.map(_._2).distinct
      .map(c => c -> hmodJvm(s"fold:$c") % 5).toMap
    val docsPerFold = cl.groupBy(c => foldOf(c._2))
      .view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        docsPerFold.getOrElse(r.getAs[Long]("fold"), 0L))
    }
  }

  test("q165: triangle census replays from the brute mutual top-10 projection") {
    import org.apache.spark.sql.functions._
    val card = SparkEntry.queries("q165_triangle_census")(spark, sf).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("cnt")).toMap
    val raw = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/lineitem.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct().collect()
      .map(r => (r.getAs[Long]("c"), r.getAs[Long]("sk")))
    val shared = scala.collection.mutable.Map.empty[(Long, Long), Long]
    raw.groupBy(_._1).values.foreach { g =>
      val sks = g.map(_._2).sorted
      for (i <- sks.indices; j <- i + 1 until sks.length)
        shared((sks(i), sks(j))) = shared.getOrElse((sks(i), sks(j)), 0L) + 1L
    }
    val sym = shared.toSeq.flatMap { case ((a, b), ns) =>
      Seq((a, b, ns), (b, a, ns)) }
    val topm = sym.groupBy(_._1).view.mapValues(
      _.sortBy { case (_, b, ns) => (-ns, b) }.take(10).map(_._2).toSet).toMap
    val edges = (for {
      (a, bs) <- topm.toSeq; b <- bs
      if a < b && topm.getOrElse(b, Set.empty[Long]).contains(a)
    } yield (a, b)).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    assert(card("1_nodes") == nodes.size.toLong)
    assert(card("2_edges") == edges.size.toLong)
    val pdeg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.length.toLong)
    val wedges = pdeg.values.map(n => n * (n - 1) / 2).sum
    assert(card("3_wedges") == wedges)
    val vs = nodes.toSeq.sorted
    var tri = 0L
    for (e <- edges; c <- vs if c > e._2)
      if (edges.contains((e._1, c)) && edges.contains((e._2, c))) tri += 1L
    assert(card("4_triangles") == tri)
    // mutual top-10 bounds every degree ≤ 10 — the scale argument
    assert(pdeg.values.forall(_ <= 10L))
    assert(3L * tri <= wedges)
  }

  test("q166: fold contamination replays from fold-tagged bigram sets") {
    import org.apache.spark.sql.functions._
    import graft.functions.ExactCols.{hmodJvm, shingles, tokens}
    val rows = SparkEntry.queries("q166_fold_contamination")(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val foldOf = graft.queries.Dedup.clusters(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        hmodJvm(s"fold:${r.getAs[Long]("cluster_id")}") % 5).toMap
    val fb = docs.select(col("doc_id"),
        explode(shingles(tokens(col("text")), 2, distinct = true)).as("bg"))
      .collect()
      .map(r => (foldOf(r.getAs[Long]("doc_id")), r.getAs[String]("bg")))
      .distinct
    val nf = fb.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val f = r.getAs[Long]("fold")
      val mine = fb.filter(_._1 == f).map(_._2)
      assert(r.getAs[Long]("n_bigrams") == mine.length.toLong)
      val leaked = mine.count(bg => nf(bg) >= 2L).toLong
      assert(r.getAs[Long]("n_leaked") == leaked)
      assert(r.getAs[Long]("leak_ppm") ==
        1000000L * leaked / mine.length)
      assert(r.getAs[Long]("n_leaked") <= r.getAs[Long]("n_bigrams"))
    }
  }

  test("q167: Simpson index replays in BigInt and closes over q127's card") {
    val rows = SparkEntry.queries("q167_simpson_diversity")(spark, sf).collect()
    val voc = SparkEntry.queries("q127_vocab_by_source")(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"))).toMap
    rows.foreach { r =>
      val (nt, nv) = voc(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_tokens") == nt)
      assert(r.getAs[Long]("n_types") == nv)
      val pairs = BigInt(r.getAs[Long]("pairs"))
      assert(BigInt(r.getAs[Long]("simpson_ppm")) ==
        BigInt(1000000) * pairs / (BigInt(nt) * (nt - 1)))
      // λ ∈ [1/V, 1] scaled: uniform-over-V floor and certainty ceiling
      assert(r.getAs[Long]("simpson_ppm") <= 1000000L)
      assert(pairs >= 0)
    }
  }

  test("q168: pairwise TVD replays brute from per-source distributions") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q168_source_drift_matrix")(spark, sf).collect()
    val tc = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), explode(
        graft.functions.ExactCols.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").count().collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("tok"),
        r.getAs[Long]("count")))
    val dist = tc.groupBy(_._1).view
      .mapValues(_.map(x => x._2 -> x._3).toMap).toMap
    val sources = dist.keys.toSeq.sorted
    val expected = for {
      i <- sources.indices; j <- i + 1 until sources.length
      a = sources(i); b = sources(j)
      da = dist(a); db = dist(b)
      if (da.keySet & db.keySet).nonEmpty
    } yield {
      val na = da.values.sum; val nb = db.values.sum
      val num = (da.keySet ++ db.keySet).toSeq.map { t =>
        (BigInt(da.getOrElse(t, 0L)) * nb - BigInt(db.getOrElse(t, 0L)) * na).abs
      }.sum
      (a, b, na, nb, (BigInt(1000000) * num / (BigInt(2) * na * nb)).toLong)
    }
    assert(rows.map(r => (r.getAs[String]("sa"), r.getAs[String]("sb"),
      r.getAs[Long]("na"), r.getAs[Long]("nb"),
      r.getAs[Long]("tvd_ppm"))).toSeq == expected)
    rows.foreach(r => assert(r.getAs[Long]("tvd_ppm") <= 1000000L))
  }

  test("q169: assortativity card replays from the shared projection") {
    val card = SparkEntry.queries("q169_assortativity")(spark, sf).collect().head
    val edges = graft.queries.Analytics.mutualProjection(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val dir = edges.flatMap(e => Seq((e._1, e._2), (e._2, e._1)))
    val deg = dir.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val m = BigInt(dir.length)
    val xs = dir.map(e => BigInt(deg(e._1)))
    val ys = dir.map(e => BigInt(deg(e._2)))
    val cov = m * xs.zip(ys).map { case (x, y) => x * y }.sum - xs.sum * ys.sum
    val varx = m * xs.map(x => x * x).sum - xs.sum * xs.sum
    val vary = m * ys.map(y => y * y).sum - ys.sum * ys.sum
    assert(BigInt(card.getAs[Long]("m_dir")) == m)
    assert(BigInt(card.getAs[Long]("sx")) == xs.sum)
    // r11: raw cov/varx/vary left the schema (n⁴-sized magnitudes —
    // the q179 overflow rule); the card carries sign + bounded ρ²
    assert(card.getAs[Long]("cov_sign") == cov.signum.toLong)
    if (varx * vary == 0) {
      assert(card.getAs[Long]("r2_ppm") == -1L)
      assert(card.getAs[String]("verdict") == "degenerate")
    } else {
      assert(BigInt(card.getAs[Long]("r2_ppm")) ==
        BigInt(1000000) * cov * cov / (varx * vary))
      assert(card.getAs[Long]("r2_ppm") <= 1000000L)
      val expect = if (cov > 0) "assortative"
        else if (cov < 0) "disassortative" else "neutral"
      assert(card.getAs[String]("verdict") == expect)
    }
    // at sf0.001 the mutual projection of 10 suppliers is complete →
    // every degree equal → the degenerate branch is the one under test
    assert(card.getAs[String]("verdict") == "degenerate")
  }

  test("q170: leaderboard churn replays from independently built tops") {
    import org.apache.spark.sql.functions._
    val card = SparkEntry.queries("q170_leaderboard_churn")(spark, sf)
      .collect().head
    val days = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "unix_timestamp(ts) div 86400 as day").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day")))
    val lo = days.map(_._2).min; val hi = days.map(_._2).max
    def top(w: ((Long, Long)) => Boolean): Set[Long] =
      days.filter(w).groupBy(_._1).view.mapValues(_.length.toLong).toSeq
        .sortBy { case (u, n) => (-n, u) }.take(20).map(_._1).toSet
    val a = top(_._2 <= lo + 6)
    val b = top(d => d._2 >= hi - 6 && d._2 > lo + 6)
    val common = (a & b).size.toLong
    assert(card.getAs[Long]("n_a") == a.size.toLong)
    assert(card.getAs[Long]("n_b") == b.size.toLong)
    assert(card.getAs[Long]("n_common") == common)
    assert(card.getAs[Long]("jaccard_ppm") ==
      1000000L * common / (a.size + b.size - common))
    val P = graft.functions.ExactCols.P
    assert(card.getAs[Long]("checksum_a") == a.toSeq.map(_ % P).sum % P)
    assert(card.getAs[Long]("checksum_b") == b.toSeq.map(_ % P).sum % P)
  }

  test("q171: profile outliers replay from brute per-user TVD") {
    val rows = SparkEntry.queries("q171_profile_outliers")(spark, sf).collect()
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "(unix_timestamp(ts) div 3600) % 24 as hod")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("hod")))
    val n = BigInt(ev.length)
    val g = ev.groupBy(_._2).view.mapValues(x => BigInt(x.length)).toMap
    val tvd = ev.groupBy(_._1).view.mapValues { rs =>
      val nu = BigInt(rs.length)
      val prof = rs.groupBy(_._2).view.mapValues(x => BigInt(x.length))
      val num = (0L until 24L).map(h =>
        (prof.getOrElse(h, BigInt(0)) * n - g.getOrElse(h, BigInt(0)) * nu).abs).sum
      (nu, (BigInt(1000000) * num / (BigInt(2) * nu * n)).toLong)
    }.toMap
    val expect = tvd.toSeq.map { case (u, (nu, t)) => (u, nu.toLong, t) }
      .sortBy { case (u, _, t) => (-t, u) }.take(20)
    assert(rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
      r.getAs[Long]("tvd_ppm"))).toSeq == expect)
    assert(rows.map(_.getAs[Long]("rank")).toSeq ==
      (1L to rows.length.toLong))
    rows.foreach(r => assert(r.getAs[Long]("tvd_ppm") <= 1000000L))
  }

  test("q172: Benford audit — digits partition orders, shares replay") {
    val rows = SparkEntry.queries("q172_benford_audit")(spark, sf).collect()
    val nOrders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows.map(_.getAs[Long]("n")).sum == nOrders)
    assert(rows.map(_.getAs[Long]("digit")).toSet.subsetOf((1L to 9L).toSet))
    // the fixed expectation table sums to ~1e6 (floor loss ≤ 9)
    val bsum = rows.map(r => r.getAs[Long]("digit") -> r.getAs[Long]("benford_ppm"))
      .toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("obs_ppm") == 1000000L * r.getAs[Long]("n") / nOrders)
      assert(r.getAs[Long]("dev_ppm") ==
        math.abs(r.getAs[Long]("obs_ppm") - r.getAs[Long]("benford_ppm")))
    }
    assert(bsum.getOrElse(1L, 301029L) == 301029L)
  }

  test("q173: ship-delay SLA replays from JVM order statistics") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q173_ship_delay_sla")(spark, sf).collect()
    val delays = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .selectExpr("o_orderpriority as p",
        "CAST(datediff(to_date(l_shipdate), to_date(o_orderdate)) AS LONG) as delay")
      .collect().map(r => (r.getAs[String]("p"), r.getAs[Long]("delay")))
      .groupBy(_._1)
    rows.foreach { r =>
      val ds = delays(r.getAs[String]("priority")).map(_._2).sorted
      val n = ds.length.toLong
      def q(num: Long, den: Long) =
        ds((math.max(1L, (num * n + den - 1) / den) - 1).toInt)
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("p50") == q(1, 2))
      assert(r.getAs[Long]("p90") == q(9, 10))
      assert(r.getAs[Long]("p99") == q(99, 100))
      assert(r.getAs[Long]("sla_ppm") ==
        1000000L * ds.count(_ <= 30L) / n)
    }
  }

  test("q174: HHI replays in BigInt; bounds hold per nation") {
    val rows = SparkEntry.queries("q174_market_concentration")(spark, sf)
      .collect()
    import org.apache.spark.sql.functions._
    val rev = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("c"))
      .groupBy("l_suppkey").agg(sum("c").as("r"))
      .join(spark.read.parquet(s"$sf/supplier.parquet"),
        col("l_suppkey") === col("s_suppkey"))
      .join(spark.read.parquet(s"$sf/nation.parquet"),
        col("s_nationkey") === col("n_nationkey"))
      .select("n_name", "r").collect()
      .map(r => (r.getAs[String]("n_name"), r.getAs[Long]("r")))
      .groupBy(_._1)
    rows.foreach { row =>
      val rs = rev(row.getAs[String]("n_name")).map(x => BigInt(x._2))
      val tot = rs.sum
      assert(row.getAs[Long]("n_suppliers") == rs.length.toLong)
      assert(BigInt(row.getAs[Long]("total_cents")) == tot)
      val hhi = BigInt(1000000) * rs.map(x => x * x).sum / (tot * tot)
      assert(BigInt(row.getAs[Long]("hhi_ppm")) == hhi)
      // 1/n ≤ HHI ≤ 1 (floor can dip just below the exact 1/n bound)
      assert(row.getAs[Long]("hhi_ppm") <= 1000000L)
      assert(row.getAs[Long]("hhi_ppm") >= 1000000L / rs.length - 1)
    }
  }

  test("q175: LTV cells partition orders; cumulative replays per cohort") {
    val rows = SparkEntry.queries("q175_cohort_ltv")(spark, sf).collect()
    val nOrders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == nOrders)
    rows.groupBy(_.getAs[Long]("cohort")).foreach { case (_, cs) =>
      val sorted = cs.sortBy(_.getAs[Long]("m_offset"))
      // offset 0 = the cohort's own first month, present by definition
      assert(sorted.head.getAs[Long]("m_offset") == 0L)
      var cum = 0L
      sorted.foreach { c =>
        cum += c.getAs[Long]("cents")
        assert(c.getAs[Long]("cum_cents") == cum)
        assert(c.getAs[Long]("m_offset") >= 0L)
      }
    }
  }

  test("q176: duplicate-invoice card replays from the brute pair scan") {
    import org.apache.spark.sql.functions._
    val card = SparkEntry.queries("q176_duplicate_invoices")(spark, sf)
      .collect().head
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c"),
        expr("CAST(datediff(to_date(o_orderdate), '1970-01-01') AS LONG)")
          .as("d"))
      .collect().map(r => (r.getAs[Long]("o_custkey"),
        r.getAs[Long]("o_orderkey"), r.getAs[Long]("c"), r.getAs[Long]("d")))
    val pairs = for {
      g <- o.groupBy(x => (x._1, x._3)).values.toSeq
      i <- g.indices; j <- g.indices
      if g(i)._2 < g(j)._2 && math.abs(g(i)._4 - g(j)._4) <= 7
    } yield (g(i)._1, g(i)._2, g(j)._2)
    assert(card.getAs[Long]("n_pairs") == pairs.length.toLong)
    assert(card.getAs[Long]("n_customers") ==
      pairs.map(_._1).distinct.length.toLong)
    val P = graft.functions.ExactCols.P
    assert(card.getAs[Long]("pair_checksum") ==
      pairs.map(p => (p._2 * 31L + p._3) % P).sum % P)
  }

  test("q177: z-test statistic replays in BigInt; arms partition users") {
    import graft.functions.ExactCols.hmodJvm
    val card = SparkEntry.queries("q177_ab_significance")(spark, sf)
      .collect().head
    val users = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "event_type").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
      .groupBy(_._1).view
      .mapValues(_.exists(_._2 == "purchase")).toMap
    val byArm = users.groupBy { case (u, _) => hmodJvm(s"arm:$u") % 2 }
    val (n1, c1) = (byArm.getOrElse(0L, Map.empty).size.toLong,
      byArm.getOrElse(0L, Map.empty).count(_._2).toLong)
    val (n2, c2) = (byArm.getOrElse(1L, Map.empty).size.toLong,
      byArm.getOrElse(1L, Map.empty).count(_._2).toLong)
    assert(card.getAs[Long]("n1") == n1 && card.getAs[Long]("c1") == c1)
    assert(card.getAs[Long]("n2") == n2 && card.getAs[Long]("c2") == c2)
    val C = c1 + c2; val N = n1 + n2
    if (C == 0 || C == N) assert(card.getAs[Long]("z2_milli") == -1L)
    else {
      val num = BigInt(1000) * (BigInt(c1) * n2 - BigInt(c2) * n1).pow(2) * N
      val den = BigInt(n1) * n2 * C * (N - C)
      assert(BigInt(card.getAs[Long]("z2_milli")) == num / den)
      assert(card.getAs[Boolean]("significant_5pct") ==
        (10L * card.getAs[Long]("z2_milli") >= 38415L))
    }
  }

  test("q178: rank-sum 2U and z² replay from brute pairwise comparison") {
    import org.apache.spark.sql.functions._
    val card = SparkEntry.queries("q178_rank_sum_test")(spark, sf)
      .collect().head
    val v = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .selectExpr("o_orderpriority = '1-URGENT' as urgent",
        "CAST(datediff(to_date(l_shipdate), to_date(o_orderdate)) AS LONG) as delay")
      .collect().map(r => (r.getAs[Boolean]("urgent"), r.getAs[Long]("delay")))
    val u = v.filter(_._1).map(_._2); val l = v.filterNot(_._1).map(_._2)
    // 2U counts urgent-beats-low pairs with midrank ties: urgent is
    // the "positive" sample, ordered by delay ascending (the gate's
    // cumulative-low-below convention)
    val twoU = (for (a <- u; b <- l)
      yield if (a > b) 2L else if (a == b) 1L else 0L).sum
    assert(card.getAs[Long]("n1") == u.length.toLong)
    assert(card.getAs[Long]("n2") == l.length.toLong)
    assert(card.getAs[Long]("two_u") == twoU)
    val n1 = BigInt(u.length); val n2 = BigInt(l.length)
    val z2 = BigInt(3000) * (BigInt(twoU) - n1 * n2).pow(2) /
      (n1 * n2 * (n1 + n2 + 1))
    assert(BigInt(card.getAs[Long]("z2_milli")) == z2)
    assert(card.getAs[Boolean]("significant_5pct") ==
      (10L * card.getAs[Long]("z2_milli") >= 38415L))
  }

  test("q179: rank correlation replays from brute midranks") {
    import org.apache.spark.sql.functions._
    import graft.functions.ExactCols.hmod
    val card = SparkEntry.queries("q179_rank_correlation")(spark, sf)
      .collect().head
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sa = graft.queries.Pipeline.commonnessScore(docs)
      .filter(col("ntok") > 0).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        1000000L * r.getAs[Long]("num") / r.getAs[Long]("ntok")).toMap
    val wgt = spark.range(512).select(col("id").as("bucket"),
      (hmod(concat(lit("w:"), col("id").cast("string"))) % 2001L - 1000L).as("w"))
    val sb = graft.queries.Pipeline.classifierScore(docs, wgt)
      .filter(col("ntok") > 0).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        1000000L * (r.getAs[Long]("score_num") + 1000L * r.getAs[Long]("ntok")) /
          r.getAs[Long]("ntok")).toMap
    def midranks2(m: Map[Long, Long]): Map[Long, Long] = {
      // 2·midrank of each doc's score within the multiset of scores
      val sorted = m.values.toSeq.sorted
      m.view.mapValues { v =>
        val below = sorted.count(_ < v).toLong
        val ties = sorted.count(_ == v).toLong
        2L * below + ties + 1L
      }.toMap
    }
    val (ra, rb) = (midranks2(sa), midranks2(sb))
    val ids = (ra.keySet & rb.keySet).toSeq
    val n = BigInt(ids.length)
    val xs = ids.map(i => BigInt(ra(i))); val ys = ids.map(i => BigInt(rb(i)))
    val cov = n * ids.map(i => BigInt(ra(i)) * rb(i)).sum - xs.sum * ys.sum
    val varx = n * xs.map(x => x * x).sum - xs.sum.pow(2)
    val vary = n * ys.map(y => y * y).sum - ys.sum.pow(2)
    assert(BigInt(card.getAs[Long]("n")) == n)
    assert(card.getAs[Long]("cov_sign") == cov.signum.toLong)
    if (varx * vary == 0) assert(card.getAs[Long]("rho2_ppm") == -1L)
    else {
      assert(BigInt(card.getAs[Long]("rho2_ppm")) ==
        BigInt(1000000) * cov * cov / (varx * vary))
      assert(card.getAs[Long]("rho2_ppm") <= 1000000L)
      val expect = if (cov > 0) "agree" else if (cov < 0) "oppose" else "none"
      assert(card.getAs[String]("verdict") == expect)
    }
  }

  test("q180: KS sup-distance replays from brute CDF construction") {
    import org.apache.spark.sql.functions._
    val card = SparkEntry.queries("q180_ks_test")(spark, sf).collect().head
    val v = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .selectExpr("o_orderpriority = '1-URGENT' as urgent",
        "CAST(datediff(to_date(l_shipdate), to_date(o_orderdate)) AS LONG) as delay")
      .collect().map(r => (r.getAs[Boolean]("urgent"), r.getAs[Long]("delay")))
    val u = v.filter(_._1).map(_._2); val l = v.filterNot(_._1).map(_._2)
    val n1 = BigInt(u.length); val n2 = BigInt(l.length)
    // sup over the pooled value grid of |cumU·n2 − cumL·n1| — exact
    // integer carry of max |F1 − F2|
    val dInt = (u ++ l).distinct.map { x =>
      (BigInt(u.count(_ <= x)) * n2 - BigInt(l.count(_ <= x)) * n1).abs
    }.max
    assert(BigInt(card.getAs[Long]("n1")) == n1)
    assert(BigInt(card.getAs[Long]("n2")) == n2)
    assert(BigInt(card.getAs[Long]("d_int")) == dInt)
    assert(BigInt(card.getAs[Long]("d_ppm")) == BigInt(1000000) * dInt / (n1 * n2))
    assert(card.getAs[Boolean]("significant_5pct") ==
      (BigInt(1000000) * dInt * dInt > BigInt(1844164) * (n1 + n2) * n1 * n2))
  }

  test("q181: chi2 replays from each row's contingency; marginals closed") {
    val rows = SparkEntry.queries("q181_chi2_tokens")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // marginals (nPos, nNeg) are the same scalars behind every row
    val nPos = rows.map(r => r.getAs[Long]("n_pos_tok") + r.getAs[Long]("n_pos_rest")).distinct
    val nNeg = rows.map(r => r.getAs[Long]("n_neg_tok") + r.getAs[Long]("n_neg_rest")).distinct
    assert(nPos.size == 1 && nNeg.size == 1)
    val n = nPos.head + nNeg.head
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("rank") == i + 1L)
      val a = BigInt(r.getAs[Long]("n_pos_tok")); val b = BigInt(r.getAs[Long]("n_neg_tok"))
      val c = BigInt(r.getAs[Long]("n_pos_rest")); val dd = BigInt(r.getAs[Long]("n_neg_rest"))
      assert(a + b >= 5) // df floor
      val expect =
        if (c + dd == 0 || nPos.head == 0L || nNeg.head == 0L) BigInt(-1)
        else BigInt(1000000) * n * (a * dd - b * c).pow(2) /
          ((a + b) * (c + dd) * nPos.head * nNeg.head)
      assert(BigInt(r.getAs[Long]("chi2_ppm")) == expect, s"row $i ${r.getAs[String]("tok")}")
    }
    // ranked by chi2 desc (tok asc inside ties)
    val chis = rows.map(_.getAs[Long]("chi2_ppm"))
    assert(chis.zip(chis.tail).forall { case (x, y) => x >= y })
  }

  test("q182: kappa replays in BigInt from the confusion counts") {
    val r = SparkEntry.queries("q182_cohens_kappa")(spark, sf).collect().head
    val tp = BigInt(r.getAs[Long]("tp")); val fp = BigInt(r.getAs[Long]("fp"))
    val tn = BigInt(r.getAs[Long]("tn")); val fn = BigInt(r.getAs[Long]("fn"))
    val n = BigInt(r.getAs[Long]("n"))
    assert(n == tp + fp + tn + fn)
    val pe = (tp + fp) * (tp + fn) + (tn + fn) * (tn + fp)
    val num = n * (tp + tn) - pe
    val den = n * n - pe
    val kappa =
      if (den == 0) BigInt(0)
      else num.sign * (BigInt(1000000) * num.abs / den)
    assert(BigInt(r.getAs[Long]("kappa_ppm")) == kappa)
    val verdict =
      if (den == 0) "degenerate"
      else if (5 * num >= 2 * den) "strong"
      else if (num > 0) "weak" else "none"
    assert(r.getAs[String]("verdict") == verdict)
  }

  test("q183: log2 buckets replay from numberOfLeadingZeros; closure holds") {
    val rows = SparkEntry.queries("q183_length_spectrum")(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("lang", "CAST(n_chars AS LONG) nc").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("nc")))
    def bucket(nc: Long): Long =
      if (nc <= 0) -1L else 63L - java.lang.Long.numberOfLeadingZeros(nc)
    val expect = docs.groupBy { case (lg, nc) => (lg, bucket(nc)) }
      .view.mapValues(_.map(_._2)).toMap
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val key = (r.getAs[String]("lang"), r.getAs[Long]("bucket"))
      val ncs = expect(key)
      assert(r.getAs[Long]("n_docs") == ncs.length.toLong)
      assert(r.getAs[Long]("sum_chars") == ncs.sum)
      assert(r.getAs[Long]("min_chars") == ncs.min)
      assert(r.getAs[Long]("max_chars") == ncs.max)
      if (key._2 >= 0) ncs.foreach { nc =>
        assert(nc >= (1L << key._2) && nc < (1L << (key._2 + 1)))
      }
    }
  }

  test("q184: shards partition the corpus; skew identity holds") {
    val rows = SparkEntry.queries("q184_shard_balance")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("shard")).forall(sh => sh >= 0 && sh < 8))
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    val total = rows.map(_.getAs[Long]("tokens")).sum
    rows.foreach { r =>
      val expect =
        if (total == 0L) -1L
        else (BigInt(1000000) * r.getAs[Long]("tokens") * 8 / total).toLong
      assert(r.getAs[Long]("skew_ppm") == expect)
    }
  }

  test("q185: Cramer's V replays from the brute contingency table") {
    import org.apache.spark.sql.functions._
    val card = SparkEntry.queries("q185_cramers_v")(spark, sf).collect().head
    val cells = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(col("o_orderpriority"), col("o_orderstatus")).count()
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), BigInt(r.getAs[Long]("count"))))
      .toMap
    val n = cells.values.sum
    val rm = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cm = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    // per-cell parts floored IDENTICALLY (the defined-statistic rule)
    val chi2Milli = cells.map { case ((p, st), o) =>
      val r = rm(p); val c = cm(st)
      BigInt(1000) * (n * o - r * c).pow(2) / (n * r * c)
    }.sum
    assert(BigInt(card.getAs[Long]("n")) == n)
    assert(card.getAs[Long]("n_rows") == rm.size.toLong)
    assert(card.getAs[Long]("n_cols") == cm.size.toLong)
    assert(card.getAs[Long]("df") == (rm.size - 1L) * (cm.size - 1L))
    assert(BigInt(card.getAs[Long]("chi2_milli")) == chi2Milli)
    val k = math.min(rm.size, cm.size)
    val v2 =
      if (k <= 1 || n == 0) BigInt(-1)
      else BigInt(1000) * chi2Milli / (n * (k - 1))
    assert(BigInt(card.getAs[Long]("v2_ppm")) == v2)
  }

  test("q216: source-lang V replays from the brute contingency table") {
    import org.apache.spark.sql.functions._
    val card = SparkEntry.queries("q216_source_lang_v")(spark, sf).collect().head
    val cells = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(col("source"), col("lang")).count()
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), BigInt(r.getAs[Long]("count"))))
      .toMap
    val n = cells.values.sum
    val rm = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cm = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val chi2Milli = cells.map { case ((p, st), o) =>
      val r = rm(p); val c = cm(st)
      BigInt(1000) * (n * o - r * c).pow(2) / (n * r * c)
    }.sum
    assert(BigInt(card.getAs[Long]("n")) == n)
    assert(card.getAs[Long]("n_rows") == rm.size.toLong)
    assert(card.getAs[Long]("n_cols") == cm.size.toLong)
    assert(BigInt(card.getAs[Long]("chi2_milli")) == chi2Milli)
    val k = math.min(rm.size, cm.size)
    val v2 =
      if (k <= 1 || n == 0) BigInt(-1)
      else BigInt(1000) * chi2Milli / (n * (k - 1))
    assert(BigInt(card.getAs[Long]("v2_ppm")) == v2)
  }

  test("q186: session stats replay from a JVM fold over user timelines") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q186_sessions")(spark, sf).collect()
    val ev = Tables.t(spark, sf, "events")
      .select(col("user_id"), unix_timestamp(col("ts")).cast("long").as("sec"))
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sec")))
    val byUser = ev.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
    assert(rows.length == byUser.size)
    rows.foreach { r =>
      val secs = byUser(r.getAs[Long]("user_id"))
      // a gap > 1800 s between consecutive events closes the session
      val bounds = secs.zip(secs.drop(1)).map { case (a, b) => b - a > 1800L }
      val sess = bounds.foldLeft(List(1L)) { (acc, boundary) =>
        if (boundary) 1L :: acc else (acc.head + 1L) :: acc.tail
      }
      assert(r.getAs[Long]("n_sessions") == sess.length.toLong)
      assert(r.getAs[Long]("n_events") == secs.length.toLong)
      assert(r.getAs[Long]("max_sess_events") == sess.max)
      assert(r.getAs[Long]("mean_len_ppm") == 1000000L * secs.length / sess.length)
    }
  }

  test("q187: coverage curve is monotone, clamped, and closed at the top") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q187_vocab_coverage")(spark, sf).collect()
      .sortBy(_.getAs[Long]("k"))
    assert(rows.map(_.getAs[Long]("k")).toList == List(1L, 10L, 100L, 1000L))
    val freqs = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getAs[Long]("count")))
    val v = freqs.length.toLong
    val total = freqs.map(_._2).sum
    val ranked = freqs.sortBy { case (w, f) => (-f, w) }
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      val types = math.min(k, math.max(v, 1L))
      assert(r.getAs[Long]("types") == types)
      val covered = ranked.take(types.toInt).map(_._2).sum
      assert(r.getAs[Long]("covered") == covered)
      assert(r.getAs[Long]("coverage_ppm") ==
        (if (total == 0L) -1L else 1000000L * covered / total))
      assert(r.getAs[Long]("coverage_ppm") <= 1000000L)
    }
    val cov = rows.map(_.getAs[Long]("covered"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
  }

  test("q188: Fano VMR replays in BigInt; Cauchy-Schwarz bound holds") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q188_fano_burstiness")(spark, sf).collect()
    val hc = Tables.t(spark, sf, "events")
      .select(col("event_type"),
        expr("unix_timestamp(ts) div 3600").as("hr"))
      .groupBy(col("event_type"), col("hr")).count()
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("count")))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(rows.length == hc.size)
    rows.foreach { r =>
      val cs = hc(r.getAs[String]("event_type"))
      val h = BigInt(cs.length); val e = BigInt(cs.map(BigInt(_)).sum.toLong)
      val s2 = cs.map(c => BigInt(c) * c).sum
      assert(BigInt(r.getAs[Long]("n_hours")) == h)
      assert(BigInt(r.getAs[Long]("n_events")) == e)
      assert(BigInt(r.getAs[Long]("sum_c2")) == s2)
      val num = h * s2 - e * e
      assert(num >= 0) // Cauchy-Schwarz
      val den = h * e
      assert(BigInt(r.getAs[Long]("vmr_ppm")) == BigInt(1000000) * num / den)
      val verdict =
        if (num > den) "bursty" else if (num < den) "regular" else "poisson"
      assert(r.getAs[String]("verdict") == verdict)
    }
  }

  test("q189: k-core peel replays from a JVM peeling simulation") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q189_kcore_peel")(spark, sf).collect()
      .sortBy(_.getAs[Long]("round"))
    assert(rows.map(_.getAs[Long]("round")).toList == List(0L, 1L, 2L, 3L))
    val edges = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/lineitem.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .selectExpr("o_custkey * 2 as a", "l_suppkey * 2 + 1 as b")
      .distinct().collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val adj = (edges ++ edges.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val P = 1000000007L
    var alive: Set[Long] = adj.keySet
    def check(r: org.apache.spark.sql.Row, removed: Long): Unit = {
      assert(r.getAs[Long]("n_alive") == alive.size.toLong)
      assert(r.getAs[Long]("n_removed") == removed)
      if (alive.nonEmpty)
        assert(r.getAs[Long]("alive_checksum") ==
          alive.map(_ % P).sum % P)
      else assert(r.isNullAt(r.fieldIndex("alive_checksum")))
    }
    check(rows(0), 0L)
    for (round <- 1 to 3) {
      val next = alive.filter(v => (adj(v) & alive).size >= 25)
      val removed = (alive.size - next.size).toLong
      alive = next
      check(rows(round), removed)
    }
    // the self-certification contract: a trailing zero-removal round
    // proves the fixpoint at this sf
    assert(rows(3).getAs[Long]("n_removed") == 0L,
      "peel did not converge within 3 rounds at spec sf")
  }

  test("q190: Holt trajectory replays from a JVM (level, trend) fold") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q190_holt_trend")(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hr")) -> r).toMap
    val hourly = Tables.t(spark, sf, "events")
      .select(col("event_type"), expr("unix_timestamp(ts) div 3600").as("hr"))
      .groupBy("event_type", "hr").count().collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hr"),
        r.getAs[Long]("count")))
    assert(rows.size == hourly.length)
    hourly.groupBy(_._1).foreach { case (tpe, hs) =>
      var seeded = false; var l = 0L; var b = 0L
      hs.sortBy(_._2).foreach { case (_, hr, cnt) =>
        var spike = false
        if (!seeded) { seeded = true; l = cnt * 1000L; b = 0L }
        else {
          val f = l + b
          spike = f > 0L && cnt * 10000L > 25L * f
          val l2 = (3L * cnt * 1000L + 7L * f) / 10L
          b = (2L * (l2 - l) + 8L * b) / 10L
          l = l2
        }
        val r = rows((tpe, hr))
        assert(r.getAs[Long]("cnt") == cnt)
        assert(r.getAs[Long]("level_milli") == l, s"$tpe $hr level")
        assert(r.getAs[Long]("trend_milli") == b, s"$tpe $hr trend")
        assert(r.getAs[Boolean]("spike") == spike, s"$tpe $hr spike")
      }
    }
  }

  test("q191: vocabulary attribution replays from brute first-seen scan") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q191_vocab_attribution")(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "source", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text").split(" ").filter(_.nonEmpty).distinct))
    val srcOf = docs.map(d => d._1 -> d._2).toMap
    val firstDoc = docs.flatMap(d => d._3.map(_ -> d._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val nv = firstDoc.size.toLong
    val nFirst = firstDoc.values.map(srcOf)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTypes = docs.flatMap(d => d._3.map(d._2 -> _)).distinct
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(rows.length == nTypes.size)
    var total = 0L
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("n_types") == nTypes(src))
      val nf = nFirst.getOrElse(src, 0L)
      assert(r.getAs[Long]("n_first") == nf)
      assert(r.getAs[Long]("vocab_share_ppm") == 1000000L * nf / math.max(nv, 1L))
      assert(r.getAs[Long]("novelty_ppm") == 1000000L * nf / nTypes(src))
      total += nf
    }
    // every token type is credited exactly once
    assert(total == nv)
  }

  test("q192: token dispersion replays from brute cf/df counts") {
    val rows = SparkEntry.queries("q192_token_dispersion")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text").split(" ").filter(_.nonEmpty)))
    val cf = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val df = docs.flatMap(d => d._2.distinct.map(_ -> d._1)).distinct
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val eligible = cf.keys.filter(t => df(t) >= 3L)
      .map(t => (t, cf(t), df(t), 1000L * cf(t) / df(t)))
      .toSeq.sortBy { case (t, _, _, bm) => (-bm, t) }
    rows.zipWithIndex.foreach { case (r, i) =>
      val (tok, c, d0, bm) = eligible(i)
      assert(r.getAs[Long]("rank") == i + 1L)
      assert(r.getAs[String]("tok") == tok, s"rank ${i + 1}")
      assert(r.getAs[Long]("cf") == c)
      assert(r.getAs[Long]("df") == d0)
      assert(r.getAs[Long]("burst_milli") == bm)
      assert(bm >= 1000L) // cf >= df by construction
    }
  }

  test("q193: label separation replays from a BigInt centroid construction") {
    val rows = SparkEntry.queries("q193_label_separation")(spark, sf).collect()
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("CAST(label AS LONG) label", "embedding").collect()
      .map(r => (r.getAs[Long]("label"),
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1e6)).toArray))
    val byLabel = vecs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def centroid(vs: Array[Array[Long]]): Array[Long] = {
      val n = vs.length.toLong
      (0 until 64).map { i =>
        val sSum = vs.map(_(i)).sum
        if (sSum >= 0) (2 * sSum + n) / (2 * n) else -((2 * -sSum + n) / (2 * n))
      }.toArray
    }
    val cents = byLabel.view.mapValues(centroid).toMap
    def sq(a: Array[Long], b: Array[Long]): BigInt =
      (0 until 64).map(i => BigInt(a(i) - b(i)).pow(2)).sum
    val within = byLabel.map { case (l, vs) =>
      l -> vs.map(v => sq(v, cents(l))).sum }
    assert(rows.length == byLabel.size * (byLabel.size - 1) / 2)
    rows.foreach { r =>
      val (la, lb) = (r.getAs[Long]("label_a"), r.getAs[Long]("label_b"))
      assert(la < lb)
      val (na, nb) = (BigInt(byLabel(la).length), BigInt(byLabel(lb).length))
      assert(BigInt(r.getAs[Long]("n_a")) == na && BigInt(r.getAs[Long]("n_b")) == nb)
      val bd = sq(cents(la), cents(lb))
      assert(BigInt(r.getAs[Long]("between_d2")) == bd)
      assert(BigInt(r.getAs[Long]("within_a")) == within(la))
      assert(BigInt(r.getAs[Long]("within_b")) == within(lb))
      val den = within(la) * nb + within(lb) * na
      val sep =
        if (den == 0) BigInt(-1) else BigInt(1000000) * bd * na * nb / den
      assert(BigInt(r.getAs[Long]("sep_ppm")) == sep)
      assert(r.getAs[Boolean]("separated") == (bd * na * nb > den))
    }
  }

  test("q194: Heaps curve replays from a brute prefix scan") {
    val rows = SparkEntry.queries("q194_heaps_curve")(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text").split(" ").filter(_.nonEmpty)))
    val ids = docs.map(_._1).sorted
    val firstDoc = docs.flatMap(d => d._2.distinct.map(_ -> d._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val ks = Seq(10, 50, 100, 250, 500, 1000, 2500, 5000)
      .filter(_ <= ids.length)
    assert(rows.length == ks.length)
    rows.zip(ks).foreach { case (r, k) =>
      val thr = ids(k - 1)
      val v = firstDoc.values.count(_ <= thr).toLong
      val t = docs.filter(_._1 <= thr).map(_._2.length.toLong).sum
      assert(r.getAs[Long]("k") == k.toLong)
      assert(r.getAs[Long]("threshold_doc") == thr)
      assert(r.getAs[Long]("vocab_types") == v, s"k=$k vocab")
      assert(r.getAs[Long]("tokens_total") == t, s"k=$k tokens")
      assert(r.getAs[Long]("ttr_ppm") ==
        (if (t == 0L) -1L else 1000000L * v / t))
      // vocabulary growth is monotone in k (the curve IS a curve)
    }
    val vs = rows.map(_.getAs[Long]("vocab_types"))
    assert(vs.zip(vs.tail).forall { case (a, b) => a <= b })
  }

  test("q195: source n-gram novelty replays from brute shingle sets") {
    val rows = SparkEntry.queries("q195_source_ngram_novelty")(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("source", "text").collect()
      .map(r => (r.getAs[String]("source"),
        r.getAs[String]("text").split(" ").filter(_.nonEmpty)))
    val sv = docs.flatMap { case (src, tk) =>
      tk.sliding(3).filter(_.length == 3).map(w => src -> w.mkString(" "))
    }.distinct
    val nSources = sv.groupBy(_._2).view.mapValues(_.length).toMap
    val bySrc = sv.groupBy(_._1)
    assert(rows.length == bySrc.size)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val types = bySrc(src).map(_._2)
      val excl = types.count(nSources(_) == 1).toLong
      assert(r.getAs[Long]("n_types") == types.length.toLong)
      assert(r.getAs[Long]("n_exclusive") == excl)
      assert(r.getAs[Long]("novelty_ppm") == 1000000L * excl / types.length)
    }
  }

  test("q196: Markov held-out accuracy replays from a JVM fold/argmax simulation") {
    import org.apache.spark.sql.functions._
    import graft.functions.ExactCols.hmodJvm
    val rows = SparkEntry.queries("q196_markov_holdout")(spark, sf).collect()
      .map(r => r.getAs[Long]("fold") -> r).toMap
    val ev = Tables.t(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"), col("event_type")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("sec"), r.getAs[String]("event_type")))
    val trf = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val fold = hmodJvm(s"mfold:$u") % 5L
      val ordered = es.sortBy(e => (e._3, e._2)).map(_._4)
      ordered.zip(ordered.tail).map { case (f, t) => (fold, f, t) }
    }
    val c = trf.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tot = trf.groupBy(t => (t._2, t._3)).view.mapValues(_.size.toLong).toMap
    val folds = trf.map(_._1).distinct
    assert(rows.size == folds.size)
    folds.foreach { fold =>
      val pred = tot.keys.map(_._1).toSeq.distinct.flatMap { from =>
        val cands = tot.keys.filter(_._1 == from).toSeq
          .map { k => (k._2, tot(k) - c.getOrElse((fold, k._1, k._2), 0L)) }
          .filter(_._2 > 0L)
        if (cands.isEmpty) None
        else Some(from -> cands.minBy { case (to, n) => (-n, to) }._1)
      }.toMap
      val test = trf.filter(_._1 == fold)
      val hits = test.count { case (_, f, t) => pred.get(f).contains(t) }.toLong
      val r = rows(fold)
      assert(r.getAs[Long]("n_test") == test.size.toLong)
      assert(r.getAs[Long]("n_hits") == hits)
      assert(r.getAs[Long]("acc_ppm") == 1000000L * hits / test.size)
    }
  }

  private def eventSeqs(): Map[Long, Seq[(Long, Long, String)]] = {
    import org.apache.spark.sql.functions._
    Tables.t(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"), col("event_type")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("sec"), r.getAs[String]("event_type")))
      .groupBy(_._1).view
      .mapValues(_.toSeq.sortBy(e => (e._3, e._2)).map(e => (e._3, e._2, e._4)))
      .toMap
  }

  test("q197: top session paths replay from a JVM sessionize fold") {
    val rows = SparkEntry.queries("q197_session_paths")(spark, sf).collect()
    val paths = eventSeqs().values.flatMap { es =>
      // split into sessions at gaps > 1800 s, take each session's
      // first up-to-3 types
      val sessions = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer[String]())
      var prev = Long.MinValue
      es.foreach { case (sec, _, tpe) =>
        if (prev != Long.MinValue && sec - prev > 1800L)
          sessions += scala.collection.mutable.ArrayBuffer[String]()
        sessions.last += tpe
        prev = sec
      }
      sessions.map(_.take(3).mkString(">"))
    }
    val counts = paths.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val top = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    assert(rows.length == top.length)
    rows.zip(top).zipWithIndex.foreach { case ((r, (p, n)), i) =>
      assert(r.getAs[Long]("rank") == i + 1L)
      assert(r.getAs[String]("path") == p, s"rank ${i + 1}")
      assert(r.getAs[Long]("n_sessions") == n)
    }
  }

  test("q198: exact-clone card replays from a brute text groupBy") {
    val rows = SparkEntry.queries("q198_clone_card")(spark, sf).collect()
    assert(rows.length == 1)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("text", "source").collect()
      .map(r => (r.getAs[String]("text"), r.getAs[String]("source")))
    val g = docs.groupBy(_._1).view
      .mapValues(ds => (ds.length.toLong, ds.map(_._2).distinct.length.toLong))
      .toMap
    val r = rows(0)
    val nDocs = docs.length.toLong
    val clones = g.values.filter(_._1 > 1L)
    assert(r.getAs[Long]("n_docs") == nDocs)
    assert(r.getAs[Long]("n_texts") == g.size.toLong)
    assert(r.getAs[Long]("n_clone_groups") == clones.size.toLong)
    assert(r.getAs[Long]("n_clone_docs") == clones.map(_._1).sum)
    assert(r.getAs[Long]("max_group_size") == g.values.map(_._1).max)
    assert(r.getAs[Long]("n_cross_source_groups") ==
      clones.count(_._2 > 1L).toLong)
    assert(r.getAs[Long]("exact_dup_ppm") ==
      1000000L * (nDocs - g.size) / nDocs)
  }

  test("q199: gap spectrum replays from a brute lag fold (bit-length buckets)") {
    val rows = SparkEntry.queries("q199_gap_spectrum")(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("gap_bucket")) -> r)
      .toMap
    val gaps = eventSeqs().values.flatMap { es =>
      es.zip(es.tail).map { case ((s0, _, _), (s1, _, tpe)) => (tpe, s1 - s0) }
    }.toSeq
    val byBucket = gaps.groupBy { case (tpe, gap) =>
      (tpe, (63 - java.lang.Long.numberOfLeadingZeros(gap + 1L)).toLong)
    }
    assert(rows.size == byBucket.size)
    byBucket.foreach { case (k, gs) =>
      val r = rows(k)
      assert(r.getAs[Long]("n_gaps") == gs.size.toLong)
      assert(r.getAs[Long]("min_gap") == gs.map(_._2).min)
      assert(r.getAs[Long]("max_gap") == gs.map(_._2).max)
    }
  }

  test("q200: type user-overlap replays from brute user sets") {
    val rows = SparkEntry.queries("q200_type_user_overlap")(spark, sf).collect()
    val ut = eventSeqs().toSeq.flatMap { case (u, es) =>
      es.map(e => (e._3, u)).distinct
    }.distinct
    val sets = ut.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val types = sets.keys.toSeq.sorted
    val expected = for {
      a <- types; b <- types if a < b
      inter = (sets(a) & sets(b)).size.toLong if inter > 0L
    } yield (a, b, inter)
    assert(rows.length == expected.length)
    rows.zip(expected).foreach { case (r, (a, b, inter)) =>
      assert(r.getAs[String]("type_a") == a && r.getAs[String]("type_b") == b)
      val (na, nb) = (sets(a).size.toLong, sets(b).size.toLong)
      assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
      assert(r.getAs[Long]("n_both") == inter)
      assert(r.getAs[Long]("jaccard_ppm") ==
        1000000L * inter / (na + nb - inter))
    }
  }

  test("q201: simhash bit bias replays from the gated signature surface") {
    val rows = SparkEntry.queries("q201_simhash_bit_bias")(spark, sf).collect()
    // signatures are themselves oracle-gated (q25); the card must be
    // their exact per-bit popcount
    val sigs = graft.queries.Dedup
      .simhashSignatures(spark.read.parquet(s"$sf/documents.parquet"))
      .collect().map(_.getAs[Long]("simhash"))
    assert(rows.length == 30)
    rows.zipWithIndex.foreach { case (r, k) =>
      val set = sigs.count(s => ((s >> k) & 1L) == 1L).toLong
      assert(r.getAs[Long]("bit") == k.toLong)
      assert(r.getAs[Long]("n_set") == set)
      assert(r.getAs[Long]("n_docs") == sigs.length.toLong)
      assert(r.getAs[Long]("dev_ppm") ==
        1000000L * math.abs(2L * set - sigs.length) / sigs.length)
    }
  }

  test("q202: dedup impact per source is closed over the q78 survivor set") {
    val rows = SparkEntry.queries("q202_dedup_impact_by_source")(spark, sf).collect()
    val perSrc = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val survivors = SparkEntry.queries("q78_dedup_survivors")(spark, sf).count()
    assert(rows.length == perSrc.size)
    var keptTotal = 0L
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val (n, k) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))
      assert(n == perSrc(src))
      assert(k >= 0L && k <= n)
      assert(r.getAs[Long]("removed_ppm") == 1000000L * (n - k) / n)
      keptTotal += k
    }
    // every survivor is attributed to exactly one source
    assert(keptTotal == survivors)
  }

  test("q203: dup rate by length is closed over the q56 cluster sizes") {
    val rows = SparkEntry.queries("q203_dup_rate_by_length")(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "n_chars").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_chars")).toMap
    val cl = SparkEntry.queries("q56_dup_clusters")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val csz = cl.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def bucket(n: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(n)
    val byBucket = cl.groupBy { case (d, _) => bucket(docs(d)) }
    assert(rows.length == byBucket.size)
    rows.foreach { r =>
      val b = r.getAs[Long]("len_bucket")
      val members = byBucket(b)
      val dup = members.count { case (_, c) => csz(c) > 1L }.toLong
      assert(r.getAs[Long]("n_docs") == members.length.toLong)
      assert(r.getAs[Long]("n_dup") == dup)
      assert(r.getAs[Long]("dup_ppm") == 1000000L * dup / members.length)
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.size.toLong)
  }

  test("q204: weekly heatmap replays from epoch arithmetic") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q204_weekly_heatmap")(spark, sf).collect()
    val secs = Tables.t(spark, sf, "events")
      .select(unix_timestamp(col("ts")).as("sec")).collect()
      .map(_.getAs[Long]("sec"))
    val cells = secs.map(s => ((s / 86400L + 4L) % 7L, (s % 86400L) / 3600L))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = math.max(secs.length.toLong, 1L)
    assert(rows.length == cells.size)
    rows.foreach { r =>
      val k = (r.getAs[Long]("dow"), r.getAs[Long]("hour"))
      assert(r.getAs[Long]("n_events") == cells(k))
      assert(r.getAs[Long]("dev_milli") ==
        1000L * math.abs(168L * cells(k) - total) / total)
    }
    assert(rows.map(_.getAs[Long]("n_events")).sum == secs.length.toLong)
  }

  test("q205: bytes-per-token replays from a brute char scan") {
    val rows = SparkEntry.queries("q205_bytes_per_token")(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("source", "text").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text")))
    val bySrc = docs.groupBy(_._1)
    assert(rows.length == bySrc.size)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val ts = bySrc(src).map(_._2)
      val chars = ts.map(_.replace(" ", "").length.toLong).sum
      val ntok = ts.map(_.split(" ").count(_.nonEmpty).toLong).sum
      assert(r.getAs[Long]("n_docs") == ts.length.toLong)
      assert(r.getAs[Long]("token_chars") == chars)
      assert(r.getAs[Long]("n_tokens") == ntok)
      assert(r.getAs[Long]("bytes_per_token_milli") ==
        (if (ntok == 0L) -1L else 1000L * chars / ntok))
      // a whitespace token has at least one char: ratio ≥ 1000 when
      // any tokens exist
      if (ntok > 0L) assert(r.getAs[Long]("bytes_per_token_milli") >= 1000L)
    }
  }

  test("q206: top duplicated docs replay from the q24-gated pair surface") {
    val rows = SparkEntry.queries("q206_top_duplicated_docs")(spark, sf).collect()
    val pairs = SparkEntry.queries("q24_dedup_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    val deg = pairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val lab = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "source", "lang").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("source"), r.getAs[String]("lang")))).toMap
    val top = deg.toSeq.sortBy { case (d, n) => (-n, d) }.take(10)
    assert(rows.length == top.length)
    rows.zip(top).zipWithIndex.foreach { case ((r, (d, n)), i) =>
      assert(r.getAs[Long]("rank") == i + 1L)
      assert(r.getAs[Long]("doc_id") == d)
      assert(r.getAs[Long]("n_pairs") == n)
      assert((r.getAs[String]("source"), r.getAs[String]("lang")) == lab(d))
    }
  }

  test("q207: return-time spectrum replays from a JVM sessionize fold") {
    val rows = SparkEntry.queries("q207_return_time_spectrum")(spark, sf).collect()
      .map(r => r.getAs[Long]("rt_bucket") -> r).toMap
    val gaps = eventSeqs().values.flatMap { es =>
      // session (start, end) runs split at gaps > 1800 s
      val secs = es.map(_._1)
      val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var st = secs.head; var fin = secs.head
      secs.tail.foreach { s =>
        if (s - fin > 1800L) { sessions += ((st, fin)); st = s }
        fin = s
      }
      sessions += ((st, fin))
      sessions.toSeq.zip(sessions.toSeq.tail)
        .map { case ((_, pf), (s2, _)) => s2 - pf }
    }.toSeq
    val byBucket = gaps
      .groupBy(g => (63 - java.lang.Long.numberOfLeadingZeros(g + 1L)).toLong)
    assert(rows.size == byBucket.size)
    byBucket.foreach { case (b, gs) =>
      val r = rows(b)
      assert(r.getAs[Long]("n_returns") == gs.size.toLong)
      assert(r.getAs[Long]("min_rt") == gs.min)
      assert(r.getAs[Long]("max_rt") == gs.max)
      assert(gs.min > 1800L) // return gaps exceed the session gap
    }
  }

  test("q208: length gini replays from the brute pairwise mean difference") {
    val rows = SparkEntry.queries("q208_length_gini")(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("source", "CAST(n_chars AS LONG) AS len").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("len")))
      .groupBy(_._1)
    assert(rows.keySet == docs.keySet)
    docs.foreach { case (src, ds) =>
      val lens = ds.map(_._2)
      val n = BigInt(lens.length)
      val s1 = BigInt(lens.sum)
      // brute D = Σ over unordered pairs |len_i − len_j|
      val dd = (for (i <- lens.indices; j <- i + 1 until lens.length)
        yield BigInt((lens(i) - lens(j)).abs)).sum
      val r = rows(src)
      assert(r.getAs[Long]("n_docs") == n.toLong)
      assert(r.getAs[Long]("sum_chars") == s1.toLong)
      val want = if (s1 == 0) -1L else (BigInt(1000000) * dd / (n * s1)).toLong
      assert(r.getAs[Long]("gini_ppm") == want, s"source $src")
      assert(r.getAs[Long]("gini_ppm") < 1000000L)
    }
  }

  test("q209: hourly autocorrelation replays from a BigInt moment fold") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q209_hourly_autocorr")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val hourly = Tables.t(spark, sf, "events")
      .select(col("event_type"), expr("unix_timestamp(ts) div 3600").as("hr"))
      .groupBy("event_type", "hr").count().collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hr"),
        r.getAs[Long]("count")))
      .groupBy(_._1)
    assert(rows.keySet == hourly.keySet)
    hourly.foreach { case (tpe, hs) =>
      val cs = hs.sortBy(_._2).map(c => BigInt(c._3))
      val pairs = cs.zip(cs.tail)
      val np = BigInt(pairs.length)
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val cov = np * pairs.map(p => p._1 * p._2).sum - sx * sy
      val varx = np * pairs.map(p => p._1 * p._1).sum - sx * sx
      val vary = np * pairs.map(p => p._2 * p._2).sum - sy * sy
      val r = rows(tpe)
      assert(r.getAs[Long]("n_pairs") == np.toLong)
      assert(r.getAs[Long]("cov_sign") == cov.signum.toLong)
      if (varx * vary == 0)
        assert(r.getAs[Long]("rho2_ppm") == -1L &&
          r.getAs[String]("verdict") == "degenerate")
      else {
        assert(BigInt(r.getAs[Long]("rho2_ppm")) ==
          BigInt(1000000) * cov * cov / (varx * vary))
        assert(r.getAs[Long]("rho2_ppm") <= 1000000L)
      }
    }
  }

  test("q210: cluster purity card closes over the q56 cluster labels") {
    import graft.functions.ExactCols.{hmodJvm, P}
    val rows = SparkEntry.queries("q210_cluster_source_purity")(spark, sf)
      .collect().map(r => r.getAs[Long]("n_sources") -> r).toMap
    val srcOf = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "source").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"))).toMap
    val clusters = SparkEntry.queries("q56_dup_clusters")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .groupBy(_._2).filter(_._2.length > 1)
    val bySpan = clusters.values.groupBy(_.map(m => srcOf(m._1)).distinct.length.toLong)
    assert(rows.keySet == bySpan.keySet)
    bySpan.foreach { case (span, cls) =>
      val r = rows(span)
      assert(r.getAs[Long]("n_clusters") == cls.size.toLong)
      assert(r.getAs[Long]("n_docs") == cls.map(_.length).sum.toLong)
      val ck = cls.map(_.map(m => hmodJvm(m._1.toString)).sum % P).sum % P
      assert(r.getAs[Long]("member_checksum") == ck)
    }
  }

  test("q211: background pairs replay from the hash-bucket sample") {
    import graft.functions.ExactCols.{hmodJvm, P}
    val rows = SparkEntry.queries("q211_background_jaccard")(spark, sf)
      .collect().map(r => r.getAs[Long]("bin") -> r).toMap
    val sh = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map { r =>
        val toks = r.getAs[String]("text").split(" ", -1).filter(_.nonEmpty)
        (r.getAs[Long]("doc_id"),
          toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet)
      }
      .filter(_._2.nonEmpty)
    val pairs = sh.groupBy { case (id, _) => hmodJvm("bg:" + id) % 256L }
      .values.filter(_.length >= 2)
      .map { g =>
        val two = g.sortBy(_._1).take(2)
        val (a, b) = (two(0)._2, two(1)._2)
        1000000L * a.intersect(b).size / a.union(b).size
      }
    val byBin = pairs.groupBy(j => math.min(j / 100000L, 9L))
    assert(rows.keySet == byBin.keySet)
    byBin.foreach { case (bin, js) =>
      assert(rows(bin).getAs[Long]("n_pairs") == js.size.toLong)
      assert(rows(bin).getAs[Long]("max_j_ppm") == js.max)
    }
  }

  test("q213: key-skew audit replays from brute per-key counts") {
    val rows = SparkEntry.queries("q213_key_skew")(spark, sf).collect()
    val counts = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey").collect().map(_.getAs[Long]("l_orderkey"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = math.max(counts.values.sum, 1L)
    val nkeys = counts.size.toLong
    val top = counts.toSeq.sortBy { case (k, c) => (-c, k) }.take(20)
    assert(rows.length == math.min(20, nkeys).toInt)
    rows.zip(top).zipWithIndex.foreach { case ((r, (k, c)), i) =>
      assert(r.getAs[Long]("rank") == i + 1L)
      assert(r.getAs[Long]("l_orderkey") == k)
      assert(r.getAs[Long]("cnt") == c)
      assert(r.getAs[Long]("share_ppm") == 1000000L * c / total)
      assert(BigInt(r.getAs[Long]("skew_milli")) ==
        BigInt(1000) * c * nkeys / total)
    }
  }

  test("q214: FK integrity card replays from brute key-set containment") {
    def keys(tbl: String, c: String): Set[Long] =
      spark.read.parquet(s"$sf/$tbl.parquet").selectExpr(c).collect()
        .map(_.getLong(0)).toSet
    def child(tbl: String, c: String): Seq[Long] =
      spark.read.parquet(s"$sf/$tbl.parquet").selectExpr(c).collect()
        .map(_.getLong(0)).toSeq
    val rows = SparkEntry.queries("q214_fk_integrity")(spark, sf).collect()
      .map(r => r.getAs[String]("edge") ->
        ((r.getAs[Long]("n_child"), r.getAs[Long]("n_orphans")))).toMap
    val edges = Seq(
      ("lineitem->orders", child("lineitem", "l_orderkey"), keys("orders", "o_orderkey")),
      ("lineitem->part", child("lineitem", "l_partkey"), keys("part", "p_partkey")),
      ("lineitem->supplier", child("lineitem", "l_suppkey"), keys("supplier", "s_suppkey")),
      ("orders->customer", child("orders", "o_custkey"), keys("customer", "c_custkey")))
    assert(rows.keySet == edges.map(_._1).toSet)
    for ((e, ch, par) <- edges) {
      assert(rows(e)._1 == ch.size.toLong, e)
      assert(rows(e)._2 == ch.count(k => !par.contains(k)).toLong, e)
    }
  }

  test("q215: events profile replays from a brute scan") {
    val r = SparkEntry.queries("q215_events_profile")(spark, sf).collect().head
    val ev = Tables.t(spark, sf, "events")
      .selectExpr("user_id", "event_type", "value",
        "unix_timestamp(ts) as sec").collect()
    assert(r.getAs[Long]("n_events") == ev.length.toLong)
    assert(r.getAs[Long]("n_users") ==
      ev.map(_.getAs[Long]("user_id")).distinct.length.toLong)
    assert(r.getAs[Long]("n_types") ==
      ev.map(_.getAs[String]("event_type")).distinct.length.toLong)
    val days = ev.map(_.getAs[Long]("sec") / 86400L)
    assert(r.getAs[Long]("span_days") == days.max - days.min + 1L)
    assert(r.getAs[Double]("min_value") == ev.map(_.getAs[Double]("value")).min)
    assert(r.getAs[Double]("max_value") == ev.map(_.getAs[Double]("value")).max)
  }

  test("q219: char profile replays from a brute char scan") {
    val rows = SparkEntry.queries("q219_char_profile")(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).groupBy(_._1)
    assert(rows.keySet == docs.keySet)
    docs.foreach { case (lang, ds) =>
      val texts = ds.map(_._2)
      val nch = texts.map(_.length.toLong).sum
      // ASCII classes, matching the kernel and the oracle regex
      def isAl(c: Char) = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9')
      val nal = texts.map(_.count(isAl).toLong).sum
      val ndig = texts.map(_.count(c => c >= '0' && c <= '9').toLong).sum
      val nsp = texts.map(_.count(_ == ' ').toLong).sum
      val r = rows(lang)
      assert(r.getAs[Long]("n_docs") == ds.length.toLong)
      assert(r.getAs[Long]("n_chars") == nch)
      assert(r.getAs[Long]("n_alnum") == nal)
      assert(r.getAs[Long]("n_digits") == ndig)
      assert(r.getAs[Long]("n_spaces") == nsp)
      assert(r.getAs[Long]("digit_milli") == 1000L * ndig / nch)
      assert(r.getAs[Long]("space_milli") == 1000L * nsp / nch)
      assert(r.getAs[Long]("alnum_milli") == 1000L * nal / nch)
    }
  }

  test("q217: delta-encoding card replays from a per-user bit fold") {
    val r = SparkEntry.queries("q217_delta_encoding")(spark, sf).collect().head
    val ev = Tables.t(spark, sf, "events")
      .selectExpr("user_id", "event_id", "unix_timestamp(ts) as sec")
      .collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[Long]("event_id"),
        x.getAs[Long]("sec")))
    def bits(v: Long): Long = java.lang.Long.toBinaryString(v).length.toLong
    val raw = ev.map(e => bits(e._3)).sum
    val delta = ev.groupBy(_._1).values.map { es =>
      val secs = es.sortBy(e => (e._3, e._2)).map(_._3)
      bits(secs.head) + secs.zip(secs.tail).map { case (a, b) => bits(b - a) }.sum
    }.sum
    assert(r.getAs[Long]("n_events") == ev.length.toLong)
    assert(r.getAs[Long]("raw_bits") == raw)
    assert(r.getAs[Long]("delta_bits") == delta)
    assert(r.getAs[Long]("savings_ppm") == 1000000L * (raw - delta) / raw)
    assert(r.getAs[Long]("savings_ppm") > 0L) // deltas beat absolutes
  }

  test("q218: sessions-per-user spectrum replays from the gap fold") {
    val rows = SparkEntry.queries("q218_sessions_per_user")(spark, sf)
      .collect().map(r => r.getAs[Long]("c_bucket") -> r).toMap
    val ev = Tables.t(spark, sf, "events")
      .selectExpr("user_id", "unix_timestamp(ts) as sec").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sec")))
    val counts = ev.groupBy(_._1).values.map { es =>
      val secs = es.map(_._2).sorted
      1L + secs.zip(secs.tail).count { case (a, b) => b - a > 1800L }
    }.toSeq
    val byBucket = counts
      .groupBy(c => (java.lang.Long.toBinaryString(c).length - 1).toLong)
    assert(rows.keySet == byBucket.keySet)
    byBucket.foreach { case (b, cs) =>
      assert(rows(b).getAs[Long]("n_users") == cs.size.toLong)
      assert(rows(b).getAs[Long]("min_sessions") == cs.min)
      assert(rows(b).getAs[Long]("max_sessions") == cs.max)
    }
  }

  test("q212: order-interval spectrum replays from a per-customer fold") {
    val rows = SparkEntry.queries("q212_order_interval_spectrum")(spark, sf)
      .collect().map(r => r.getAs[Long]("gap_bucket") -> r).toMap
    val gaps = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_custkey", "o_orderkey",
        "CAST(o_orderdate AS DATE) AS dt").collect()
      .map(r => (r.getAs[Long]("o_custkey"), r.getAs[Long]("o_orderkey"),
        r.getAs[java.sql.Date]("dt").toLocalDate.toEpochDay))
      .groupBy(_._1).values.flatMap { os =>
        val sorted = os.sortBy(o => (o._3, o._2)).map(_._3)
        sorted.zip(sorted.tail).map { case (a, b) => b - a }
      }.toSeq
    val byBucket = gaps
      .groupBy(g => (63 - java.lang.Long.numberOfLeadingZeros(g + 1L)).toLong)
    assert(rows.keySet == byBucket.keySet)
    byBucket.foreach { case (b, gs) =>
      assert(rows(b).getAs[Long]("n_gaps") == gs.size.toLong)
      assert(rows(b).getAs[Long]("min_gap") == gs.min)
      assert(rows(b).getAs[Long]("max_gap") == gs.max)
    }
  }

  test("q220: clustering coefficients replay from the projection edges") {
    val rows = SparkEntry.queries("q220_clustering_coeff")(spark, sf).collect()
    // the projection itself is pinned by q165/q169; this replays the
    // per-node coefficient arithmetic from the SAME edge set
    val edges = graft.queries.Analytics.mutualProjection(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val deg = nodes.map(v => v ->
      edges.count(e => e._1 == v || e._2 == v).toLong).toMap
    val tri = nodes.map(v => v -> edges.toSeq.flatMap { case (a, b) =>
      Seq(a, b)
    }.distinct.combinations(2).count { case Seq(x, y) =>
      val (p, q) = if (x < y) (x, y) else (y, x)
      edges.contains((p, q)) &&
        edges.contains(if (v < p) (v, p) else (p, v)) &&
        edges.contains(if (v < q) (v, q) else (q, v)) && v != p && v != q
    }.toLong).toMap
    val expected = nodes.toSeq.map { v =>
      val d = deg(v)
      val c = if (d < 2) -1L else (2000000L * tri(v)) / (d * (d - 1L))
      (v, d, tri(v), c)
    }.sortBy { case (v, _, _, c) => (-c, v) }.take(10)
    val got = rows.map(r => (r.getAs[Long]("node"), r.getAs[Long]("deg"),
      r.getAs[Long]("tri"), r.getAs[Long]("coef_ppm"))).toSeq
    assert(got == expected)
  }

  test("q221: run spectrum replays from a per-user streak fold") {
    val rows = SparkEntry.queries("q221_run_spectrum")(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("len_bucket")) -> r)
      .toMap
    val runs = eventSeqs().values.flatMap { es =>
      val types = es.map(_._3)
      // fold into (type, run_len) streaks
      types.foldLeft(List.empty[(String, Long)]) {
        case ((t, n) :: rest, tpe) if t == tpe => (t, n + 1L) :: rest
        case (acc, tpe) => (tpe, 1L) :: acc
      }
    }.toSeq
    val byBucket = runs.groupBy { case (tpe, len) =>
      (tpe, (63 - java.lang.Long.numberOfLeadingZeros(len)).toLong)
    }
    assert(rows.keySet == byBucket.keySet)
    byBucket.foreach { case (k, rs) =>
      assert(rows(k).getAs[Long]("n_runs") == rs.size.toLong)
      assert(rows(k).getAs[Long]("n_events") == rs.map(_._2).sum)
      assert(rows(k).getAs[Long]("max_run") == rs.map(_._2).max)
    }
  }

  test("q222: dup-pair anatomy replays from the q24-gated pair surface") {
    val rows = SparkEntry.queries("q222_dup_pair_anatomy")(spark, sf).collect()
      .map(r => r.getAs[String]("dup_type") -> r).toMap
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").filter(_.nonEmpty).toSeq).toMap
    val pairs = SparkEntry.queries("q24_dedup_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(pairs.nonEmpty)
    val anat = pairs.map { case (a, b) =>
      val (ta, tb) = (toks(a), toks(b))
      val n = math.min(ta.length, tb.length)
      val p = (0 until n).takeWhile(i => ta(i) == tb(i)).length.toLong
      val sfx = (0 until n).takeWhile(i =>
        ta(ta.length - 1 - i) == tb(tb.length - 1 - i)).length.toLong
      val mn = n.toLong
      val tpe =
        if (ta.length == tb.length && p == ta.length) "1_exact"
        else if (p * 2 >= mn) "2_head"
        else if (sfx * 2 >= mn) "3_tail"
        else "4_mixed"
      (tpe, p, sfx)
    }
    val byType = anat.groupBy(_._1)
    assert(rows.keySet == byType.keySet)
    byType.foreach { case (tpe, as) =>
      assert(rows(tpe).getAs[Long]("n_pairs") == as.size.toLong)
      assert(rows(tpe).getAs[Long]("sum_prefix") == as.map(_._2).sum)
      assert(rows(tpe).getAs[Long]("sum_suffix") == as.map(_._3).sum)
    }
  }

  test("q223: operating point replays from a BigInt Youden argmax") {
    val rows = SparkEntry.queries("q223_operating_point")(spark, sf).collect()
    assert(rows.length == 5)
    val sc = graft.queries.Pipeline.classifierEvalScores(spark, sf).collect()
      .map(r => (r.getAs[Long]("skey"), r.getAs[Boolean]("pos")))
    val np = sc.count(_._2).toLong
    val nn = sc.length.toLong - np
    val ths = Seq(900000000L, 950000000L, 1000000000L, 1050000000L, 1100000000L)
    val cf = ths.map { th =>
      val tp = sc.count { case (k, p) => k >= th && p }.toLong
      val fp = sc.count { case (k, p) => k >= th && !p }.toLong
      (th, tp, fp, BigInt(tp) * nn - BigInt(fp) * np)
    }
    val best = cf.filter(_._4 == cf.map(_._4).max).map(_._1).min
    rows.foreach { r =>
      val th = r.getAs[Long]("threshold")
      val (_, tp, fp, _) = cf.find(_._1 == th).get
      assert(r.getAs[Long]("tp") == tp)
      assert(r.getAs[Long]("fp") == fp)
      assert(r.getAs[Long]("fn") == np - tp)
      assert(r.getAs[Long]("tn") == nn - fp)
      assert(r.getAs[Boolean]("is_best") == (th == best))
    }
    assert(rows.count(_.getAs[Boolean]("is_best")) == 1)
  }

  test("q224: audio normalization replays from the sample formula") {
    import graft.functions.ExactCols.hmodJvm
    val rows = SparkEntry.queries("q224_audio_normalization")(spark, sf)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val per = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("source", "text").collect().map { r =>
        val samples = r.getAs[String]("text").split(" ").filter(_.nonEmpty)
          .map(tk => (hmodJvm("au:" + tk) % 16384L) - 8192L)
        (r.getAs[String]("source"), samples.length.toLong,
          if (samples.isEmpty) 0L else samples.map(math.abs).max,
          samples.map(s => s * s).sum)
      }
    val bySrc = per.groupBy(_._1)
    assert(rows.keySet == bySrc.keySet)
    bySrc.foreach { case (src, ds) =>
      val r = rows(src)
      val n = ds.map(_._2).sum
      val peak = ds.map(_._3).max
      val energy = ds.map(d => BigInt(d._4)).sum
      assert(r.getAs[Long]("n_docs") == ds.size.toLong)
      assert(r.getAs[Long]("n_samples") == n)
      assert(r.getAs[Long]("peak") == peak)
      assert(r.getAs[Long]("msq_milli") ==
        (if (n == 0L) -1L else (BigInt(1000) * energy / n).toLong))
      assert(r.getAs[Long]("gain_ppm") ==
        (if (peak == 0L) -1L else 8192000000L / peak))
    }
  }

  test("q225: IQR fences replay from sorted per-priority delays") {
    val rows = SparkEntry.queries("q225_iqr_outliers")(spark, sf).collect()
      .map(r => r.getAs[String]("priority") -> r).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey", "CAST(l_shipdate AS DATE) AS sd").collect()
      .map(r => (r.getAs[Long]("l_orderkey"),
        r.getAs[java.sql.Date]("sd").toLocalDate.toEpochDay))
    val om = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_orderkey", "o_orderpriority",
        "CAST(o_orderdate AS DATE) AS od").collect()
      .map(r => r.getAs[Long]("o_orderkey") ->
        (r.getAs[String]("o_orderpriority"),
          r.getAs[java.sql.Date]("od").toLocalDate.toEpochDay)).toMap
    val delays = li.flatMap { case (ok, sd) =>
      om.get(ok).map { case (prio, od) => (prio, sd - od) }
    }
    val byPrio = delays.groupBy(_._1)
    assert(rows.keySet == byPrio.keySet)
    byPrio.foreach { case (prio, ds) =>
      val sorted = ds.map(_._2).sorted
      val n = sorted.length.toLong
      def q(num: Long, den: Long): Long =
        sorted((math.max(1L, (num * n + den - 1) / den) - 1).toInt)
      val (p25, p75) = (q(1, 4), q(3, 4))
      val iqr = p75 - p25
      val r = rows(prio)
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("p25") == p25)
      assert(r.getAs[Long]("p75") == p75)
      assert(r.getAs[Long]("n_low") ==
        sorted.count(dd => dd * 2 < p25 * 2 - iqr * 3).toLong)
      assert(r.getAs[Long]("n_high") ==
        sorted.count(dd => dd * 2 > p75 * 2 + iqr * 3).toLong)
    }
  }

  test("q226: order-ablation card matches the operator compositions") {
    import org.apache.spark.sql.functions._
    import graft.functions.ExactCols.{hmod, hmodJvm, P}
    val rows = SparkEntry.queries("q226_dedup_sample_order")(spark, sf)
      .collect().map(r => r.getAs[String]("route") -> r).toMap
    assert(rows.keySet ==
      Set("1_dedup_then_sample", "2_sample_then_dedup", "3_both"))
    val docs = Tables.t(spark, sf, "documents")
    val pred = (hmod(concat(lit("abl:"), col("doc_id").cast("string")))
      % 1000L) < 300L
    val a = graft.queries.Dedup.deduplicate(docs).filter(pred)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = graft.queries.Dedup.deduplicate(docs.filter(pred))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def ck(ids: Set[Long]): Long =
      ids.toSeq.map(i => BigInt(hmodJvm(i.toString))).sum.mod(P).toLong
    assert(rows("1_dedup_then_sample").getAs[Long]("n_docs") == a.size.toLong)
    assert(rows("2_sample_then_dedup").getAs[Long]("n_docs") == b.size.toLong)
    assert(rows("3_both").getAs[Long]("n_docs") == (a & b).size.toLong)
    assert(rows("1_dedup_then_sample").getAs[Long]("docs_checksum") == ck(a))
    assert(rows("2_sample_then_dedup").getAs[Long]("docs_checksum") == ck(b))
    assert(rows("3_both").getAs[Long]("docs_checksum") == ck(a & b))
  }

  test("q227: vocab coverage replays from a JVM frequency fold") {
    val rows = SparkEntry.queries("q227_vocab_coverage")(spark, sf).collect()
      .map(r => r.getAs[Long]("k") -> r).toMap
    assert(rows.keySet == Set(2L, 8L, 32L))
    val counts = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("text").collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (tok, ts) => (tok, ts.length.toLong) }
      .toSeq.sortBy { case (tok, c) => (-c, tok) }
    val total = counts.map(_._2).sum
    for ((k, r) <- rows) {
      val covered = counts.take(k.toInt).map(_._2).sum
      assert(r.getAs[Long]("covered") == covered)
      assert(r.getAs[Long]("total") == total)
      assert(r.getAs[Long]("coverage_ppm") ==
        (if (total == 0L) -1L else (BigInt(1000000) * covered / total).toLong))
    }
    // the curve is non-degenerate: strictly growing across the ks
    assert(rows(2L).getAs[Long]("covered") < rows(8L).getAs[Long]("covered"))
    assert(rows(8L).getAs[Long]("covered") <= rows(32L).getAs[Long]("covered"))
  }

  test("q229: user diversity spectrum replays from a per-user Simpson fold") {
    val rows = SparkEntry.queries("q229_user_diversity_spectrum")(spark, sf)
      .collect().map(r => r.getAs[Long]("band") -> r).toMap
    val perUser = eventSeqs().toSeq.map { case (_, es) =>
      val counts = es.map(_._3).groupBy(identity).values.map(_.size.toLong)
      val n = counts.sum
      val mass = counts.map(c => BigInt(c) * (c - 1)).sum
      (n, if (n >= 2) (BigInt(1000000) * mass / (BigInt(n) * (n - 1))).toLong
          else -1L)
    }.filter(_._1 >= 2)
    val byBand = perUser.groupBy(_._2 / 100000L)
    assert(rows.keySet == byBand.keySet)
    byBand.foreach { case (band, us) =>
      val r = rows(band)
      assert(r.getAs[Long]("n_users") == us.size.toLong)
      assert(r.getAs[Long]("min_ppm") == us.map(_._2).min)
      assert(r.getAs[Long]("max_ppm") == us.map(_._2).max)
      assert(r.getAs[Long]("n_events") == us.map(_._1).sum)
    }
  }

  test("q231: threshold sensitivity replays from the q24 pair surface") {
    import graft.functions.ExactCols.{hmodJvm, P}
    val rows = SparkEntry.queries("q231_dedup_threshold_sensitivity")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("threshold_ppm"), r.getAs[String]("metric")) ->
        r.getAs[Long]("value")).toMap
    assert(rows.size == 9)
    val pairs = SparkEntry.queries("q24_dedup_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jaccard")))
    for ((th, ppm) <- Seq((0.5, 500000L), (0.7, 700000L), (0.9, 900000L))) {
      val p = pairs.filter(_._3 >= th)
      val docs = p.flatMap(x => Seq(x._1, x._2)).distinct
      val ck = p.map { case (a, b, _) => BigInt(hmodJvm(s"$a:$b")) }
        .sum.mod(P).toLong
      assert(rows((ppm, "1_pairs")) == p.length.toLong)
      assert(rows((ppm, "2_docs")) == docs.length.toLong)
      assert(rows((ppm, "3_checksum")) == ck)
    }
    // sensitivity is real on this corpus: the surface shrinks with th
    assert(rows((500000L, "1_pairs")) > rows((900000L, "1_pairs")))
  }

  test("q232: modality agreement replays from the q24 and q117 surfaces") {
    import graft.functions.ExactCols.{hmodJvm, P}
    val rows = SparkEntry.queries("q232_modality_route_agreement")(spark, sf)
      .collect().map(r => r.getAs[String]("route") -> r).toMap
    val tp = SparkEntry.queries("q24_dedup_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val ip = SparkEntry.queries("q117_image_phash_pairs")(spark, sf)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    def ck(s0: Set[(Long, Long)]): Long =
      s0.toSeq.map { case (a, b) => BigInt(hmodJvm(s"$a:$b")) }.sum.mod(P).toLong
    val expected = Map(
      "1_text_only" -> (tp -- ip), "2_image_only" -> (ip -- tp),
      "3_both" -> (tp & ip))
    assert(rows.keySet == expected.keySet)
    expected.foreach { case (k, s0) =>
      assert(rows(k).getAs[Long]("n_pairs") == s0.size.toLong, k)
      assert(rows(k).getAs[Long]("pair_checksum") == ck(s0), k)
    }
  }

  test("q230: personalized pagerank replays from a JVM trajectory fold") {
    val rows = SparkEntry.queries("q230_personalized_pagerank")(spark, sf)
      .collect().map(r => (r.getAs[String]("node"), r.getAs[Long]("r")))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ok = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e0 = li.flatMap { case (o, sk) =>
      ok.get(o).map(c => (s"C$c", s"S$sk"))
    }.distinct
    val dir = e0 ++ e0.map(_.swap)
    val deg = dir.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    def isSeed(n: String) = n.startsWith("C") && n.drop(1).toLong % 50 == 0
    var r = deg.keys.map(n => n -> (if (isSeed(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = dir.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => BigInt(r(src) / deg(src)) }.sum
      }
      r = deg.keys.map { n =>
        n -> ((if (isSeed(n)) 150000L else 0L) +
          (BigInt(850000) * contrib.getOrElse(n, BigInt(0)) / 1000000).toLong)
      }.toMap
    }
    assert(rows.toMap == r)
    // the proximity field is non-trivial: some non-seed mass > 0 and
    // some node is still unreachable-in-3-hops (r = 0) or seeds exist
    assert(rows.exists { case (n, v) => !isSeed(n) && v > 0L })
  }

  test("q228: IVF-PQ recall replays from a JVM replay over iscaled vectors") {
    val rows = SparkEntry.queries("q228_ivfpq_recall")(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r).toMap
    // read back the SAME int64 vectors the engine scales (iscale is
    // pinned elsewhere; this replays the IVF-PQ pipeline on top)
    val iv = graft.Tables.t(spark, sf, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        graft.functions.ExactCols.iscale(
          org.apache.spark.sql.functions.col("embedding")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def d2(a: Array[Long], b: Array[Long], lo: Int = 0, n: Int = 64): Long = {
      var s = 0L; var i = 0
      while (i < n) { val dd = a(lo + i) - b(lo + i); s += dd * dd; i += 1 }
      s
    }
    val cents = (0L until 8L).map(c => c -> iv(c)).toMap
    val assign = iv.map { case (id, v) =>
      id -> cents.toSeq.map { case (c, cv) => (d2(v, cv), c) }.min._2
    }
    val queries = iv.keys.filter(id => id % 100 == 0 && id < 800).toSeq.sorted
    val cb = (0L until 16L).map(c => c -> iv(c)).toMap
    def encode(v: Array[Long]): Seq[(Int, Long)] = (0 until 4).map { s0 =>
      s0 -> cb.toSeq.map { case (c, cw) => (d2(v, cw, s0 * 16, 16), c) }.min._2
    }
    val codes = iv.map { case (id, v) => id -> encode(v) }
    assert(rows.keySet == queries.toSet)
    for (q <- queries) {
      val qv = iv(q)
      val probed = cents.toSeq.map { case (c, cv) => (d2(qv, cv), c) }
        .sorted.take(2).map(_._2).toSet
      val cand = iv.keys.filter(id =>
        id != q && probed.contains(assign(id))).toSeq
      val adc = (0 until 4).map { s0 =>
        s0 -> cb.map { case (c, cw) => c -> d2(qv, cw, s0 * 16, 16) }
      }.toMap
      val approx = cand.map { id =>
        (codes(id).map { case (s0, c) => adc(s0)(c) }.sum, id)
      }.sorted.take(3).map(_._2).toSet
      val truth = iv.keys.filter(_ != q).toSeq
        .map(id => (d2(qv, iv(id)), id)).sorted.take(3).map(_._2)
      val hits = truth.count(approx.contains).toLong
      val r = rows(q)
      assert(r.getAs[Long]("n_cand") == cand.size.toLong)
      assert(r.getAs[Long]("n_hit") == hits)
      assert(r.getAs[Double]("recall") == hits.toDouble / 3)
    }
  }
}
