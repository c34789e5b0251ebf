package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the properties that make these
  * queries survive a 100×–1000× scale-up are pinned here so a
  * refactor can't silently regress them (a query that still returns
  * correct rows but full-scans or cross-joins would pass the value
  * gate and fail at cluster scale).
  */
class PlanSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.toString

  test("q01: column pruning reaches the lineitem scan") {
    val p = plan("q01_agg_basic")
    // scan must read only the 4 referenced columns, not all 16
    val scan = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("l_returnflag"))
    assert(!scan.contains("l_shipdate"), s"unpruned scan: $scan")
  }

  test("q03: predicate pushdown reaches the events scan") {
    val p = plan("q03_match_exact_in")
    assert(p.contains("PushedFilters: [In(event_type"), p)
  }

  test("q06/q08: dimension joins broadcast (no shuffle of the fact side)") {
    assert(plan("q06_semi_join").contains("BroadcastHashJoin"))
    val p8 = plan("q08_join_broadcast")
    assert(p8.contains("BroadcastHashJoin") && !p8.contains("SortMergeJoin"), p8)
  }

  test("q09: star join keeps small dims broadcast") {
    val p = plan("q09_join_multi")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("q24/q26: LSH candidate joins are equi-joins, never cartesian") {
    for (q <- Seq("q24_dedup_minhash_lsh", "q26_dedup_simhash_pairs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q cartesian fallback: $p")
    }
  }

  test("q27 is the documented brute-force baseline (nested-loop by design)") {
    assert(plan("q27_dedup_embedding").contains("BroadcastNestedLoopJoin"))
  }

  test("q29: LSH bucket join is an equi hash join") {
    val p = plan("q29_ann_lsh_topk")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("aggregations run partial+final (map-side combine before shuffle)") {
    // q23 left this list: its signatures are a per-row kernel
    // projection with no aggregate (pinned by the guard below)
    for (q <- Seq("q01_agg_basic", "q16_wordcount")) {
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q lacks partial agg: $p")
    }
  }

  test("q09: AQE (with skew-join splitting) governs execution") {
    // a hot orderkey at 100x data skews the star join's shuffle; AQE's
    // skew rule splits oversized partitions at runtime — pin that the
    // machinery is on and actually wraps the executed plan
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    val df = SparkEntry.queries("q09_join_multi")(spark, sf)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan"))
  }

  test("plan sweep: no unexpected cartesian/nested-loop join in ANY gate query") {
    // Whitelist, by shape (ANY new gate built on KMeansOp or a K-row
    // broadcast side belongs in broadcastCentroidGates or the sweep
    // goes red — the q81 round-5 lesson):
    //  - broadcastCentroidGates: the assignment crossJoin of a
    //    provably-tiny K-row centroid/probe table (KMeansOp-based
    //    gates + IVF);
    //  - labeled brute baselines (q27/q28);
    //  - 1-row global-stats broadcasts (q57 BM25, q74 TF-IDF N).
    // q62's stats join became two driver scalars, so it's absent.
    val broadcastCentroidGates = Set(
      "q39_kmeans_assign", "q45_ann_ivf_topk",
      "q77_kmeans_iterated", "q81_semdedup",
      // label-pair join of two |labels|-row (10) centroid tables —
      // the K-row × K-row tiny-broadcast class
      "q193_label_separation",
      // 8-cell coarse-quantizer assignment crossJoin + the q136
      // id-bounded (≤8) broadcast query side
      "q228_ivfpq_recall")
    val expectedNested = broadcastCentroidGates ++ Set(
      "q27_dedup_embedding", "q28_ann_brute_topk",
      "q108_ann_recall", // labeled diagnostic: brute truth ∩ each route
      "q112_ann_int8_recall", // labeled diagnostic: brute truth vs brute int8
      "q113_knn_label_audit", // labeled diagnostic: exact-kNN label noise probe
      "q136_pq_recall", // id-bounded (≤8) broadcast query side: linear in n
      "q57_bm25_topk", "q74_tfidf_top1")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = fn(spark, sf).queryExecution.sparkPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
      if (!expectedNested(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected nested-loop join:\n$p")
    }
  }

  test("plan sweep: no interpreted lambda (higher-order function) in any gate scan stage") {
    // HOFs (filter/transform/aggregate/zip_with with a lambda) run an
    // interpreted closure per array element — the pattern that cost
    // 11x on q31 and 77% on q57 at scale. Kernels (SetHitCount,
    // TermCounts, TokenStats, BlockHash, IScale, WordNGrams, LongDot,
    // …) replace every scan-stage instance. Whitelist: lambdas that
    // provably run on TINY inputs after the data has been reduced —
    // q35 renders its per-group value counts as "k:cnt" strings AFTER
    // the aggregate (5 event-type rows), q68 flips bits on the
    // broadcast query side only (|Q| rows).
    val tinyInputLambdas =
      Set("q35_union_count_agg", "q68_ann_multiprobe",
        "q108_ann_recall") // q68's probe flip on the broadcast query side
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !tinyInputLambdas(name) =>
        val p = fn(spark, sf).queryExecution.sparkPlan.toString
        if (p.contains("lambdafunction")) Some(name) else None
      case _ => None
    }
    assert(offenders.isEmpty,
      s"interpreted higher-order functions in gate plans: $offenders")
  }

  test("plan sweep: pre-cut dedup band/block/hset subtrees stay lambda- and nested-loop-free") {
    // cut() hides everything below a checkpoint behind Scan ExistingRDD
    // (CLAUDE.md checkpoint caveat), so the two sweeps above never see
    // the dedup routes' signature subtrees. Build them UNCUT via the
    // spec-only accessor and run the same assertions directly
    // (r13, advisor ask).
    val docs = Tables.t(spark, sf, "documents")
    for ((n, df) <- graft.queries.Dedup.preCutSubtrees(docs)) {
      val p = df.queryExecution.sparkPlan.toString
      assert(!p.contains("lambdafunction"), s"$n has an interpreted lambda:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n plans a nested loop:\n$p")
    }
  }

  test("dedup signatures run the per-row kernel: no shingle explode feeds a doc_id aggregate") {
    // Signatures are one ShingleSignature projection per document. The
    // replaced shape exploded every shingle and regrouped by doc_id
    // through a shuffle. The routes cut() their signature subtrees, so
    // the check reads every plan the build and the run execute
    // (checkpoint actions included), through a listener.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val aqe = new AdaptiveSparkPlanHelper {}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def shingleExplode(p: SparkPlan): Boolean = p match {
      case g: GenerateExec => g.generator.exists(_.isInstanceOf[graft.functions.WordNGrams])
      case _ => false
    }
    def docAggFedByExplode(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec =>
        a.groupingExpressions.exists(_.references.exists(_.name == "doc_id")) &&
          aqe.find(a)(shingleExplode).isDefined
      case _ => false
    }
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      Seq("q23_minhash_sig", "q24_dedup_minhash_lsh", "q25_dedup_simhash",
        "q26_dedup_simhash_pairs").map(q => q -> (() => SparkEntry.queries(q)(spark, sf))) :+
        ("Dedup.deduplicate" -> (() =>
          graft.queries.Dedup.deduplicate(Tables.t(spark, sf, "documents"))))
    spark.listenerManager.register(listener)
    try for ((name, build) <- cases) {
      seen.clear()
      build().collect()
      org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
      val plans = seen.asScala.toSeq.map(_.executedPlan)
      assert(plans.exists(_.toString.contains("shingle_signature")),
        s"$name runs no shingle_signature:\n${plans.mkString("\n")}")
      val bad = plans.filter(p => aqe.find(p)(docAggFedByExplode).isDefined)
      assert(bad.isEmpty, s"$name regroups exploded shingles by doc_id:\n${bad.mkString("\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("q62: quantize pass is the only embeddings scan (stats pass is separate)") {
    val p = plan("q62_quantize_int8")
    assert("FileScan".r.findAllIn(p).size == 1, s"q62 scans embeddings twice:\n$p")
  }

  test("q63: column profile shuffles the distinct-value skeleton, not an Expand") {
    val p = plan("q63_column_profile")
    assert(!p.contains("Expand"), s"q63 plans a row-multiplying Expand:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"q63 lacks map-side combine:\n$p")
  }

  test("q50/q64: top-k/bottom-k gate queries use the bounded-heap operator") {
    // the window-formulation alternative sorts every row within each
    // key (5-value event_type ⇒ parallelism 5 at 100×); the operator
    // keeps ≤ k rows per key per partition across the exchange
    for (q <- Seq("q50_topk_operator", "q64_bottomk_sample", "q92_source_cap")) {
      val p = plan(q)
      assert("TopKPerKey".r.findAllIn(p).size >= 2,
        s"$q lacks partial+final TopKPerKeyExec:\n$p")
    }
  }

  test("ANN top-k (q29/q45/q68) selects through bounded heaps, not a candidate-set window sort") {
    // the per-query candidate set IS the data at 100× (q45 measured
    // 38 s at sf10 sorting ~100 M candidate rows for a top-3); the
    // window that remains ranks only the k·|Q| survivors
    for (q <- Seq("q29_ann_lsh_topk", "q45_ann_ivf_topk", "q68_ann_multiprobe")) {
      val p = plan(q)
      assert("TopKPerKey".r.findAllIn(p).size >= 2,
        s"$q lacks partial+final TopKPerKeyExec:\n$p")
    }
  }

  test("q75: corpus block count is two-level (no window over the block hash)") {
    // count().over(Window.partitionBy(h)) puts every instance of a
    // mega-hot boilerplate block in ONE task with no AQE rescue; the
    // partial+final groupBy(h) + equi-join-back path map-side-combines
    // the hot key and skew-splits the join at runtime
    val p = plan("q75_block_dedup")
    assert(!p.contains("Window"), s"q75 plans a window over the block hash:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4, s"q75 lacks two-level aggs:\n$p")
  }

  test("q67: salted aggregation plans two aggregation levels, both map-side combined") {
    val p = plan("q67_salted_agg")
    // (key, salt) partial pairs + final re-key by group alone; each
    // level is itself partial+final → ≥4 HashAggregates
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("q66: heavy-hitter sketch rides the partial/final aggregate split") {
    val p = plan("q66_heavy_hitters")
    // typed Aggregator → ObjectHashAggregate; partial+final = map-side
    // combine ships O(k) maps, not rows
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q68: multi-probe ANN joins bucket-equi with a broadcast query side") {
    val p = plan("q68_ann_multiprobe")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q155/q179: cumulative sums are two-level (unpartitioned windows only over the bin table)") {
    // a bare Window.orderBy(score) is a one-partition WindowExec whose
    // input grows with score-key cardinality (toward O(docs) on a real
    // corpus); boundedCumBelow splits it so the only unpartitioned
    // window runs over the __bin table (key-range/binWidth rows) and
    // the per-key cumulative is PARTITIONED by bin.
    // q179 left this list in r12: its identical midrank machinery now
    // executes BEFORE the driver-scalar collect (the BigInt overflow
    // fix — n⁴-sized var products burst DECIMAL(38,0) at sf10), so its
    // returned plan is the 1-row local card; the boundedCumBelow shape
    // it rides is still pinned here through q155
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("q155_classifier_eval")) {
      val lp = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val unpart = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(unpart.nonEmpty, s"$q lost its bin-level cumulative window")
      for (w <- unpart)
        assert(w.orderSpec.forall(_.child.references.forall(_.name == "__bin")),
          s"$q has an unpartitioned window over a non-bin key:\n$w")
    }
  }

  test("plan sweep: unpartitioned windows only over certified bounded tables") {
    // The q155/q179 pin, generalized (the r9 verdict's item 3): a
    // Window with an EMPTY partitionSpec executes in ONE task over its
    // whole input — fine over a provably bounded table (bin tables,
    // top-k limited lists, |types|/|delay|/|shard| domains), a 100×
    // scale-killer over anything corpus-sized. Every gate query that
    // plans an unpartitioned window must be certified here WITH its
    // boundedness argument, and mechanically the window input must
    // have passed a cardinality-reducing operator (Aggregate or
    // Limit) — a bare unpartitioned window over raw scanned rows is
    // red regardless of the whitelist. Adding a corpus-keyed global
    // window to any gate makes this sweep fail by construction.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, Union, Window => LWindow}
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    // Mechanical guard (r11, advisor's tightening): the old collectFirst
    // over the window's ENTIRE subtree was satisfied by an Aggregate
    // anywhere below — even beneath corpus-sized joins or explodes
    // added AFTER the reduction. This walk instead proves the window
    // input itself is bounded: a reducing operator on the unary spine,
    // a Union/Join of bounded branches, or a LocalRelation; a Generate
    // or raw scan between the window and the reduction is red.
    def boundedInput(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: GlobalLimit | _: LocalLimit => true
      case u: Union => u.children.forall(boundedInput)
      case j: Join => boundedInput(j.left) && boundedInput(j.right)
      case _: Generate => false
      // LogicalRDD = a Checkpoints.cut() boundary (q185's cell table):
      // the reducing Aggregate lives behind the checkpoint, invisible
      // to plan walks (the documented cut() caveat). The certification
      // map's boundedness argument carries these; every scan leaf is a
      // LogicalRelation/DataSourceV2Relation and still fails here.
      case l if l.children.isEmpty =>
        l.isInstanceOf[LocalRelation] ||
          l.getClass.getSimpleName == "LogicalRDD"
      case u if u.children.length == 1 => boundedInput(u.children.head)
      case _ => false
    }
    val certified: Map[String, String] = Map(
      "q134_zipf_card" -> "rank/cumsum over the TakeOrdered top-40 list",
      "q151_copurchase_topk" -> "rank over the capped-basket pair top list",
      "q152_revenue_concentration" -> "cumulative over the bounded concentration-cell table",
      "q153_collocations" -> "rank over the TakeOrdered top-collocation list",
      "q154_skyline" -> "running-min over the groupBy-size-reduced frontier table",
      "q155_classifier_eval" -> "boundedCumBelow __bin table (≤101 rows)",
      "q161_event_trigrams" -> "rank over the TakeOrdered top-trigram list",
      "q162_rank_fusion" -> "RRF fuses two TOP-100 lists (≤200 rows)",
      "q171_profile_outliers" -> "top-20 deviation selection window",
      // q178/q180 left this list in r12: their |delay|-domain
      // cumulative windows now execute BEFORE the driver-scalar
      // collect (the q179 BigInt finish — n⁴-sized verdict products
      // burst DECIMAL(38,0) at 10¹² rows), so the returned plan is
      // the 1-row local card; q185/q216 likewise (the cell table
      // collects, the grand-total window is gone entirely)
      "q181_chi2_tokens" -> "20-row rank window after limit(20)",
      "q187_vocab_coverage" -> "rank/cumsum over the TakeOrdered top-1000 list",
      "q192_token_dispersion" -> "20-row rank window after limit(20)",
      "q197_session_paths" -> "10-row rank window after limit(10)",
      "q204_weekly_heatmap" -> "grand-total window over the ≤168-cell dow×hour aggregate",
      "q213_key_skew" -> "20-row rank window after limit(20)",
      "q206_top_duplicated_docs" -> "10-row rank window after limit(10)")
    val uncertified = scala.collection.mutable.ArrayBuffer[String]()
    val unreduced = scala.collection.mutable.ArrayBuffer[String]()
    val live = scala.collection.mutable.Set[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val lp = fn(spark, sf).queryExecution.optimizedPlan
      val unpart = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      if (unpart.nonEmpty) {
        live += name
        if (!certified.contains(name)) uncertified += name
        for (w <- unpart if !boundedInput(w.child)) unreduced += name
      }
    }
    assert(uncertified.isEmpty,
      s"gate queries with UNCERTIFIED unpartitioned windows: $uncertified")
    assert(unreduced.isEmpty,
      s"unpartitioned windows over un-reduced (corpus-sized) input: $unreduced")
    val stale = certified.keySet -- live
    assert(stale.isEmpty, s"stale bounded-window certifications: $stale")
  }

  test("core agg query stays inside whole-stage codegen") {
    val df = SparkEntry.queries("q01_agg_basic")(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark operators fused into whole-stage codegen
    assert(p.contains("*("), p)
  }
}
