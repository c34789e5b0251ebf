package graft.queries

import graft.Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.Tables._
import graft.functions.ExactCols._
import graft.functions.TextExprs

/** Corpus-preparation operators a production training-data pipeline
  * runs between raw crawl and tokenized shards — the stages the C4
  * (Raffel et al. 2020 §2.2), Gopher (Rae et al. 2021 §A1) and
  * RefinedWeb (Penedo et al. 2023 §3) pipelines document:
  *
  *  - PII detection/redaction with audit accounting (q71)
  *  - the quality-filter funnel with per-stage retention (q72)
  *  - deterministic sequence packing into fixed token budgets (q73)
  *  - TF-IDF keyword extraction (q74)
  *  - cross-corpus exact block dedup, the tractable stand-in for
  *    exact substring dedup (q75)
  *  - train/eval n-gram decontamination (q76)
  *  - deterministic per-stratum sampling with audit accounting (q79)
  *  - hashed-n-gram importance weighting for domain upsampling, the
  *    DSIR shape (Xie et al. 2023) with exact rational scores (q80)
  *
  * Shapes are chosen for the 100 TB case: scan-stage expressions plus
  * the minimum number of keyed shuffles; every float that reaches an
  * oracle is derived from exact integers (see ExactCols) so results
  * are partition-order-independent.
  */
object Pipeline {

  /** Same list as Text's quality scoring — the funnel gates on it. */
  private[queries] val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private[queries] val stopSetSql = stopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** Cumulative sum of `v` over all rows with strictly smaller `key`,
    * with NO unpartitioned window over the keyed table — the shape
    * that makes midrank/CDF statistics (q155 AUC, q179 Spearman)
    * survive 100×: a single `Window.orderBy(key)` is a one-partition
    * WindowExec whose input grows with key cardinality. Two levels
    * instead: (1) per-bin totals (bin = key div binWidth) — the ONLY
    * unpartitioned cumulative runs on this table, bounded by
    * key-range/binWidth rows (for the 10⁶-scaled shifted score keys
    * of q155/q157, range ≤ 2.001e9 ⇒ ≤ 101 bins at the default
    * width); (2) a within-bin cumulative PARTITIONED by bin — each
    * partition holds ≤ binWidth distinct keys and bins parallelize
    * across the cluster. out = bin_cum_below + in_bin_cum_below is
    * exactly Σ_{k'<k} v(k') regardless of binning, so gate hashes are
    * unchanged. Keys must be NONNEGATIVE (`div` truncates toward
    * zero, so negative keys would interleave bins — the q155 shifted-
    * key rule). Input `g` must be one row per distinct key. */
  private[queries] def boundedCumBelow(g: DataFrame, key: String, v: String,
                                       out: String,
                                       binWidth: Long = 20000000L): DataFrame = {
    val binned = g.withColumn("__bin", expr(s"$key div ${binWidth}L"))
    val binTot = binned.groupBy(col("__bin")).agg(sum(col(v)).as("__bv"))
    val wb = Window.orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val binCum = binTot
      .withColumn("__bcum", coalesce(sum(col("__bv")).over(wb), lit(0L)))
      .select(col("__bin"), col("__bcum"))
    val wi = Window.partitionBy(col("__bin")).orderBy(col(key))
      .rowsBetween(Window.unboundedPreceding, -1)
    binned
      .withColumn("__icum", coalesce(sum(col(v)).over(wi), lit(0L)))
      .join(broadcast(binCum), "__bin")
      .withColumn(out, col("__bcum") + col("__icum"))
      .drop("__bin", "__bcum", "__icum")
  }

  /** The cumulative Gopher stage-5 keep decision as ONE scan-stage
    * predicate over raw text — the per-doc form of [[funnelStats]]'s
    * c5 (same kernels, same integer-exact thresholds; PipelineSpec
    * pins filter-count ≡ the funnel's stage-5 row so the two
    * formulations cannot drift). This is the predicate a pipeline
    * actually FILTERS with, where funnelStats is the report. */
  def gopherKeep(text: Column): Column = {
    val toks = tokens(text)
    val sg = shingles(toks, 3, distinct = false)
    val ntok = size(toks).cast(LongType)
    val nalpha = TextExprs.alphaWordCount(toks)
    val wlen = length(translate(text, " ", "")).cast(LongType)
    val nstop = TextExprs.setHitCount(toks, stopwords)
    val ntotal = size(sg).cast(LongType)
    val ndist = size(array_distinct(sg)).cast(LongType)
    ntok >= 10 && wlen >= ntok * 3 && wlen <= ntok * 10 &&
      nalpha * 5 >= ntok * 4 && nstop >= 2 &&
      (ntotal - ndist) * 10 < ntotal * 3
  }

  /** Per-doc (skey, pos) pairs for the model-evaluation gates (q155
    * AUC card, q157 calibration bins): skey is the q88 classifier
    * score quantized to a shifted integer key ⌊10⁶·(score_num +
    * 1000·ntok)/ntok⌋ = 10⁹ + ⌊10⁶·score⌋ — the +1000·ntok shift keeps
    * the numerator nonnegative, because integer division diverges
    * between engines on negatives (Spark `div` truncates toward zero,
    * DuckDB `//` floors); `pos` is the [[gopherKeep]] rule as ground
    * truth, so the card measures how well the learned classifier
    * recovers the hand-written quality rule. score_num ≥ 0 ⇔ skey ≥
    * 10⁹ (floor of a negative rational is ≤ −1 after the shift), so
    * the keep threshold survives quantization exactly. Tokenless docs
    * are excluded (no defined score). */
  def classifierEvalScores(s: SparkSession, d: String): DataFrame = {
    val w = s.range(512).select(col("id").as("bucket"),
      (hmod(concat(lit("w:"), col("id").cast("string"))) % 2001L - 1000L).as("w"))
    val docs = t(s, d, "documents")
    classifierScore(docs, w)
      .join(docs.select(col("doc_id"), gopherKeep(col("text")).as("pos")), "doc_id")
      .filter(col("ntok") > 0)
      .select(expr("(1000000L * (score_num + 1000L * ntok)) div ntok").as("skey"),
        col("pos"))
  }

  /** DuckDB CTE chain for the [[gopherKeep]] ground-truth label —
    * ends in `tr(doc_id, pos)`; `tkv(doc_id, text, tk)` rides along.
    * Shared by the model-evaluation oracles (q155/q157 via
    * [[evalScoresSql]]) and the feature/agreement cards (q181). */
  private def gopherLabelSql: String = s"""
      tkv AS (SELECT doc_id, text, list_filter(string_split(text,' '), x->x<>'') tk
              FROM documents),
      gq AS (SELECT doc_id, CAST(len(tk) AS BIGINT) ntok,
               CAST(len(list_filter(tk, t -> regexp_matches(t,'[A-Za-z]')))
                 AS BIGINT) nalpha,
               CAST(length(replace(text,' ','')) AS BIGINT) wlen,
               CAST(len(list_filter(tk, t -> list_contains($stopSetSql, t)))
                 AS BIGINT) nstop,
               CAST(len(sg) AS BIGINT) ntotal,
               CAST(len(list_distinct(sg)) AS BIGINT) ndist
             FROM (SELECT doc_id, text, tk, CASE WHEN len(tk) >= 3
                     THEN [tk[i]||' '||tk[i+1]||' '||tk[i+2]
                           for i in generate_series(1, len(tk)-2)]
                     ELSE [] END sg FROM tkv)),
      tr AS (SELECT doc_id,
               (ntok >= 10 AND wlen >= ntok*3 AND wlen <= ntok*10
                AND nalpha*5 >= ntok*4 AND nstop >= 2
                AND (ntotal-ndist)*10 < ntotal*3) pos
             FROM gq)"""

  /** DuckDB CTE chain mirroring [[classifierEvalScores]] — ends in
    * `sc(skey, pos)`; shared by the q155 and q157 oracles. */
  private def evalScoresSql: String = s"""$gopherLabelSql,
      exq AS (SELECT doc_id, unnest(tk) tok FROM tkv),
      fq AS (SELECT doc_id, ${sql.hmod("'qw:'||tok")} % 512 b FROM exq),
      wq AS (SELECT b, ${sql.hmod("'w:'||CAST(b AS VARCHAR)")} % 2001 - 1000 w
             FROM generate_series(0,511) gs(b)),
      perq AS (SELECT doc_id, CAST(count(*) AS BIGINT) ntok,
                 CAST(SUM(wq.w) AS BIGINT) score_num
               FROM fq JOIN wq USING (b) GROUP BY 1),
      sc AS (SELECT (1000000*(score_num + 1000*perq.ntok)) // perq.ntok skey,
                    tr.pos pos
             FROM perq JOIN tr USING (doc_id) WHERE perq.ntok > 0)"""

  /** PII audit aggregation shared by the batch gate (q71) and the
    * streaming variant (PipelineStream): scan-stage regex match +
    * redacted-text checksum, then per-segment monoid sums — every
    * aggregate is order-independent, which is exactly what makes the
    * same plan valid as an incremental (update-mode) streaming
    * aggregation with O(|segments|) state. */
  def piiAudit(rows: DataFrame, segCol: String, nameCol: String): DataFrame = {
    val pat = "[0-9]{4,}"
    rows
      .select(col(segCol),
        regexp_count(col(nameCol), lit(pat)).cast(LongType).as("hits"),
        hmod(regexp_replace(col(nameCol), pat, "<ID>")).as("hred"))
      .groupBy(col(segCol))
      .agg(count(lit(1)).as("n"),
        sum(col("hits")).as("n_hits"),
        (sum(col("hred")) % P).as("redacted_sum"))
  }

  /** Deterministic stratified keep decision + per-stratum audit,
    * shared by the batch gate (q79) and the streaming variant
    * (PipelineStream): the keep decision is pure per-row hash
    * arithmetic — scan-stage, no shuffle, stable under repartitioning
    * and re-runs, streamable row-by-row — and the audit aggregates
    * are monoid sums keyed by stratum, so the identical plan runs
    * incrementally with O(|strata|) state. Rates are per-1000 keep
    * probabilities by stratum value (default: the gate-calibrated
    * downsample-English mix). */
  def stratifiedSampleAudit(docs: DataFrame,
                            rates: Map[String, Long] = Map("en" -> 250L),
                            defaultRate: Long = 600L): DataFrame = {
    val bucket = hmod(concat(lit("sample:"), col("doc_id").cast("string"))) % 1000
    val rate = rates.foldLeft(lit(defaultRate): Column) { case (acc, (k, v)) =>
      when(col("lang") === k, lit(v)).otherwise(acc)
    }
    val kept = bucket < rate
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        (sum(when(kept, hmod(col("doc_id").cast("string"))).otherwise(0L)) % P)
          .as("kept_checksum"),
        sum(when(kept, col("n_chars")).otherwise(0L)).as("kept_chars"))
  }

  /** Token-budget source mixing (the C4/ROOTS/Pile recipe stage:
    * given per-source target SHARES of a total token budget, compute
    * per-source keep rates and sample deterministically): rate_s =
    * min(1000, budget·share_s div tokens_s) per-mille, keep decision
    * = per-row hash arithmetic (same stable rule as
    * [[stratifiedSampleAudit]]). Returns the per-source audit with
    * the derived rate, kept counts/tokens and a membership checksum.
    *
    * Exactness: the rate is INTEGER floor division of exact int64s
    * (`div` — never a float ratio, so engines agree bit-for-bit);
    * shares are per-mille of `budgetTokens`. 100 TB shape: stage 1 is
    * one bounded groupBy (|sources| rows), stage 2 broadcasts that
    * table back and decides per row in the scan stage, stage 3 is a
    * monoid audit — no corpus-wide shuffle anywhere. */
  def sourceMixSample(docs: DataFrame, budgetTokens: Long,
                      shares: Map[String, Long],
                      defaultShare: Long): DataFrame =
    sourceMixAudit(docs,
      sourceMixRates(sourceTokenTotals(docs), budgetTokens, shares, defaultShare))

  /** Stage 1 of [[sourceMixSample]]/[[epochPlan]]: per-source token
    * totals — ONE bounded groupBy, |sources| rows. Monoid, so it is
    * also directly streamable (O(|sources|) state store rows); the
    * streaming front door is
    * [[graft.streaming.PipelineStream.sourceTokensStream]]. */
  def sourceTokenTotals(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), size(tokens(col("text"))).cast(LongType).as("ntok"))
      .groupBy(col("source"))
      .agg(sum(col("ntok")).as("src_tokens"))

  /** Stage 2 of [[sourceMixSample]]: derive per-mille keep rates from
    * a (source, src_tokens) totals table — driver-free column
    * arithmetic over a bounded table. */
  def sourceMixRates(totals: DataFrame, budgetTokens: Long,
                     shares: Map[String, Long],
                     defaultShare: Long): DataFrame = {
    require(budgetTokens > 0 && defaultShare >= 0 &&
      shares.values.forall(_ >= 0), "budget/shares out of range")
    val share = shares.foldLeft(lit(defaultShare): Column) { case (acc, (k, v)) =>
      when(col("source") === k, lit(v)).otherwise(acc)
    }
    totals
      .withColumn("share", share)
      .withColumn("rate",
        least(lit(1000L), expr(s"(CAST($budgetTokens AS BIGINT) * share) div src_tokens")))
      .select(col("source"), col("src_tokens"), col("rate"))
  }

  /** Stage 3 of [[sourceMixSample]]: scan-stage keep decision against
    * a broadcast rates table + the monoid audit. `docs` may be a
    * STREAMING DataFrame (stream-static broadcast join, then one
    * streaming aggregation with O(|sources|) state) — the q85
    * streaming parity path. */
  def sourceMixAudit(docs: DataFrame, rates: DataFrame): DataFrame = {
    val kept =
      (hmod(concat(lit("mix:"), col("doc_id").cast("string"))) % 1000) < col("rate")
    docs
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("ntok"))
      .join(broadcast(rates), "source")
      .groupBy(col("source"))
      .agg(max(col("src_tokens")).as("src_tokens"), // constant per source
        max(col("rate")).as("rate"),
        count(lit(1)).as("n_total"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("ntok")).otherwise(0L)).as("kept_tokens"),
        (sum(when(kept, hmod(col("doc_id").cast("string"))).otherwise(0L)) % P)
          .as("kept_checksum"))
  }

  /** Epoch planning for data-constrained training (Muennighoff et
    * al. 2023 "Scaling Data-Constrained Language Models": repeating
    * data up to ~4 epochs is near-free) — the stage AFTER
    * [[sourceMixSample]]'s one-epoch rates saturate: when a source's
    * token budget (budget·share‰) EXCEEDS its corpus, plan
    * `epochs = budget_s div tokens_s` full passes plus a
    * deterministically-sampled remainder pass at
    * `rem_rate = (budget_s mod tokens_s)·1000 div tokens_s` per-mille
    * (same stable hash rule as every sampling gate). Returns the
    * per-source audit: tokens, epochs, remainder rate, doc counts,
    * the planned token total (full passes + sampled remainder) and a
    * membership checksum of the remainder-pass docs.
    *
    * Exactness: all integer floor division on int64s — engines agree
    * bit-for-bit; nothing floats. 100 TB shape: identical to q85 —
    * one bounded groupBy (|sources| rows), broadcast back, scan-stage
    * keep decision, monoid audit; repeating is a WRITER-side loop
    * (epochs × the same shard stream), never a materialized blow-up. */
  def epochPlan(docs: DataFrame, budgetTokens: Long,
                shares: Map[String, Long],
                defaultShare: Long): DataFrame =
    epochPlanAudit(docs,
      epochPlanTable(sourceTokenTotals(docs), budgetTokens, shares, defaultShare))

  /** Stage 2 of [[epochPlan]]: the per-source (epochs, remainder
    * rate) plan from a totals table — bounded column arithmetic. */
  def epochPlanTable(totals: DataFrame, budgetTokens: Long,
                     shares: Map[String, Long],
                     defaultShare: Long): DataFrame = {
    require(budgetTokens > 0 && defaultShare >= 0 &&
      shares.values.forall(_ >= 0), "budget/shares out of range")
    val share = shares.foldLeft(lit(defaultShare): Column) { case (acc, (k, v)) =>
      when(col("source") === k, lit(v)).otherwise(acc)
    }
    totals
      .withColumn("share", share)
      .withColumn("budget_s",
        expr(s"(CAST($budgetTokens AS BIGINT) * share) div 1000"))
      .withColumn("epochs", expr("budget_s div src_tokens"))
      .withColumn("rem_rate",
        expr("((budget_s % src_tokens) * 1000) div src_tokens"))
      .select(col("source"), col("src_tokens"), col("epochs"), col("rem_rate"))
  }

  /** Stage 3 of [[epochPlan]]: remainder-pass keep decision against
    * the broadcast plan + monoid audit. Streamable like
    * [[sourceMixAudit]] (stream-static join, O(|sources|) state) —
    * the q99 streaming parity path. */
  def epochPlanAudit(docs: DataFrame, plan: DataFrame): DataFrame = {
    val kept =
      (hmod(concat(lit("epoch:"), col("doc_id").cast("string"))) % 1000) <
        col("rem_rate")
    docs
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("ntok"))
      .join(broadcast(plan), "source")
      .groupBy(col("source"))
      .agg(max(col("src_tokens")).as("src_tokens"), // constants per source
        max(col("epochs")).as("epochs"),
        max(col("rem_rate")).as("rem_rate"),
        count(lit(1)).as("n_total"),
        sum(when(kept, 1L).otherwise(0L)).as("n_sampled"),
        (max(col("epochs")) * max(col("src_tokens")) +
          sum(when(kept, col("ntok")).otherwise(0L))).as("planned_tokens"),
        (sum(when(kept, hmod(col("doc_id").cast("string"))).otherwise(0L)) % P)
          .as("sampled_checksum"))
  }

  /** Deterministic global shuffle into training shards: shard =
    * hash(doc_id) mod numShards, intra-shard order = a second
    * independent hash (min-id tie-break). Returns the per-shard audit
    * (doc count + an ORDER-SENSITIVE checksum Σ pos·h mod P, which
    * pins the exact permutation, not just membership) — the
    * reproducible-shuffle contract a tokenized-shard writer needs
    * (every re-run, any partitioning, yields byte-identical shards).
    *
    * 100 TB shape: assignment is scan-stage hash arithmetic; the only
    * shuffle is the per-shard sort (row_number windows on the shard
    * key), which is INHERENT to producing a per-shard total order —
    * parallelism equals numShards, so size numShards to the desired
    * output-file count (hash sharding keeps them balanced). The
    * checksum products stay far below 2^63 (pos ≤ shard size,
    * h < 10^6). */
  def shardAudit(docs: DataFrame, numShards: Int = 32): DataFrame = {
    require(numShards > 0, s"numShards out of range: $numShards")
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    docs
      .select(col("doc_id"),
        (hmod(concat(lit("shard:"), col("doc_id").cast("string"))) % numShards)
          .as("shard"),
        hmod(concat(lit("pos:"), col("doc_id").cast("string"))).as("skey"))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        (sum((col("pos") * (hmod(col("doc_id").cast("string")) % 1000000L)) % P) % P)
          .as("order_checksum"))
  }

  /** Learned-quality-classifier inference — the fastText-style linear
    * filter of CCNet (Wenzek et al. 2020) / LLaMA corpus prep: hashed
    * bag-of-words features × a model weight vector, keep documents
    * scoring above a threshold. `weights` is the (bucket, w) model
    * table — `buckets` rows of int64 weights (fixed-point: scale
    * float model weights at export time) — and features are hashed
    * token buckets WITH multiplicity (fastText sums token vectors,
    * then length-normalizes). Returns per-doc (doc_id, ntok,
    * score_num, score, keep): score_num = Σ w(bucket(tok)) + bias is
    * an exact int64 sum, score = score_num/ntok is ONE IEEE division
    * of exact integers, and keep compares score_num ≥ threshold·ntok
    * in integers only — the keep decision is bit-exact under any
    * partitioning (same contract as [[stratifiedSampleAudit]]).
    *
    * 100 TB shape: explode → broadcast-join → groupBy LOOKS like a
    * token-volume shuffle but is not — a doc's exploded tokens stay
    * in its input partition, so the map-side partial aggregate
    * collapses them to one row per doc before the exchange; shuffle
    * volume is O(docs), the weight table is an O(buckets) broadcast,
    * and nothing else moves. Tokenless docs score 0 / keep = false.
    *
    * Exact-clone collapsed (the Dedup-family doctrine): the score is
    * a function of text alone, so the per-token hash+join+sum runs
    * once per DISTINCT text (gid = min doc_id per text, one window
    * pass) and expands through the (gid, doc_id) group table —
    * identical results, and the dominant per-token md5 cost scales
    * with distinct texts, not corpus size, on crawl corpora where
    * exact clones are the single biggest duplication mode. */
  def classifierScore(docs: DataFrame, weights: DataFrame,
                      bias: Long = 0L, threshold: Long = 0L,
                      buckets: Int = 512): DataFrame = {
    require(buckets > 0, s"buckets out of range: $buckets")
    val withGid = docs.withColumn("gid",
      min(col("doc_id")).over(Window.partitionBy(col("text"))))
    val members = withGid.select(col("gid"), col("doc_id"))
    val reps = withGid.filter(col("doc_id") === col("gid"))
      .select(col("gid"), col("text"))
    val feats = reps
      .select(col("gid"), explode_outer(tokens(col("text"))).as("tok"))
      .select(col("gid"),
        when(col("tok").isNotNull,
          hmod(concat(lit("qw:"), col("tok"))) % buckets).as("b"))
    val per = feats.join(broadcast(weights), feats("b") === weights("bucket"), "left")
      .groupBy(col("gid"))
      .agg(count(col("b")).as("ntok"),
        (coalesce(sum(col("w")), lit(0L)) + lit(bias)).as("score_num"))
    members.join(per, "gid")
      .select(col("doc_id"), col("ntok"), col("score_num"))
      .withColumn("score",
        when(col("ntok") > 0, col("score_num").cast(DoubleType) / col("ntok"))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        col("ntok") > 0 && col("score_num") >= lit(threshold) * col("ntok"))
  }

  /** Vocabulary construction + out-of-vocabulary audit — the
    * tokenizer-prep stage (BPE/WordPiece corpora first fix a top-V
    * vocab, then measure how much of each document it covers; docs
    * with high OOV mass are noise/wrong-language and get dropped).
    * Vocab = top `v` tokens by corpus frequency with a TOTAL
    * deterministic order (count desc, token asc — ties at the cut
    * cannot flip membership between runs/engines). Returns per-doc
    * (doc_id, ntok, n_oov, oov_rate, keep): counts are exact int64,
    * oov_rate is ONE IEEE division, keep compares n_oov·1000 ≤
    * ntok·maxOovPerMille in integers only.
    *
    * 100 TB shape: the corpus count is a map-side-combined
    * groupBy(token) (shuffle = O(distinct tokens)); top-V is a
    * bounded global top-k (TakeOrdered — partial heaps per partition,
    * never a full sort); the vocab is an O(v) broadcast back into the
    * token stream's scan stage; the per-doc fold partial-aggregates
    * before its O(docs) exchange. Nothing corpus-sized shuffles
    * un-combined.
    *
    * Exact-clone collapsed (the q74/q88 doctrine): vocab counts are
    * Σ tf·group_size over distinct texts (≡ the uncollapsed corpus
    * count — clone multiplicity still votes on the vocab), and the
    * per-doc OOV fold is text-pure, so both exploded aggregations run
    * over distinct texts and expand through the (gid, doc_id) table.
    * A clone corpus scales every vocab count uniformly, so the top-V
    * set — and every doc's OOV — is invariant under cloning
    * (PipelineSpec pins both). */
  def vocabOovAudit(docs: DataFrame, v: Int = 16,
                    maxOovPerMille: Long = 450L): DataFrame = {
    require(v > 0 && maxOovPerMille >= 0, "vocab/threshold out of range")
    val withGid = docs.withColumn("gid",
      min(col("doc_id")).over(Window.partitionBy(col("text"))))
    val members = withGid.select(col("gid"), col("doc_id"))
      .cut() // feeds sizes and the expansion join
    val reps = withGid.filter(col("doc_id") === col("gid"))
      .select(col("gid"), col("text"))
    val sizes = members.groupBy(col("gid")).agg(count(lit(1)).as("gsz"))
    val ex = reps.select(col("gid"),
      explode_outer(tokens(col("text"))).as("tok"))
    val tf = ex.filter(col("tok").isNotNull)
      .groupBy(col("gid"), col("tok")).agg(count(lit(1)).as("tf"))
    val vocab = tf.join(sizes, "gid")
      .groupBy(col("tok")).agg(sum(col("tf") * col("gsz")).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(v)
      .select(col("tok").as("vtok"), lit(1L).as("inv"))
    val perRep = ex.join(broadcast(vocab), ex("tok") === col("vtok"), "left")
      .groupBy(col("gid"))
      .agg(count(col("tok")).as("ntok"),
        sum(when(col("tok").isNotNull && col("inv").isNull, 1L)
          .otherwise(0L)).as("n_oov"))
    members.join(perRep, "gid")
      .select(col("doc_id"), col("ntok"), col("n_oov"))
      .withColumn("oov_rate",
        when(col("ntok") > 0, col("n_oov").cast(DoubleType) / col("ntok"))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        col("ntok") > 0 && col("n_oov") * 1000L <= col("ntok") * maxOovPerMille)
  }

  /** Unigram-commonness scoring — the exact-arithmetic stand-in for
    * CCNet's (Wenzek et al. 2020 §4) perplexity filter: score each
    * document by the mean corpus frequency of its token instances
    * (rare-token-heavy docs score low, boilerplate scores high).
    * A real LM filter sums log-probabilities; logs differ in the
    * last ulp between libm and java.lang.Math (the q57 lesson), so
    * the score stays rational: num = Σ cnt(tok) over the doc's
    * instances and score = num/ntok is ONE IEEE division of exact
    * int64 sums. keep compares num ≥ threshold·ntok in integers.
    *
    * Exact-clone collapsed (q74's skeleton verbatim): tf and the
    * score are text-pure, and corpus frequency = Σ over distinct
    * texts tf·group_size, so the exploded aggregation — the one
    * genuine big shuffle — runs over distinct texts only; members/tf
    * are localCheckpoint'd (each feeds two plan references, the
    * derived-subtree-reuse rule). Overflow bound: num ≤ ntok·max(cnt)
    * — at 10^12 corpus tokens a 10^5-token doc stays under 10^17 <
    * 2^63; beyond that, bucket cnt per-mille first. */
  def commonnessScore(docs: DataFrame, threshold: Long = 0L): DataFrame = {
    val withGid = docs.withColumn("gid",
      min(col("doc_id")).over(Window.partitionBy(col("text"))))
    val members = withGid.select(col("gid"), col("doc_id"))
      .cut() // feeds sizes and the expansion join
    val reps = withGid.filter(col("doc_id") === col("gid"))
      .select(col("gid"), col("text"))
    val sizes = members.groupBy(col("gid")).agg(count(lit(1)).as("gsz"))
    val tf = reps.select(col("gid"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("gid"), col("tok")).agg(count(lit(1)).as("tf"))
      .cut() // feeds freq and the per-doc fold
    val freq = tf.join(sizes, "gid")
      .groupBy(col("tok")).agg(sum(col("tf") * col("gsz")).as("cnt"))
    val per = tf.join(freq, "tok")
      .groupBy(col("gid"))
      .agg(sum(col("tf")).as("ntok"),
        sum(col("tf") * col("cnt")).as("num"))
    members.join(per, Seq("gid"), "left")
      .select(col("doc_id"),
        coalesce(col("ntok"), lit(0L)).as("ntok"),
        coalesce(col("num"), lit(0L)).as("num"))
      .withColumn("score",
        when(col("ntok") > 0, col("num").cast(DoubleType) / col("ntok"))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        col("ntok") > 0 && col("num") >= lit(threshold) * col("ntok"))
  }

  /** Bigram-LM fluency scoring — the next rung above
    * [[commonnessScore]] on the CCNet (Wenzek et al. 2020 §4)
    * perplexity-filter ladder: a document is scored by the mean
    * CONDITIONAL probability of its token transitions under a bigram
    * model trained on the corpus itself (word salads with plausible
    * unigrams but improbable transitions score low; fluent text
    * scores high). A real KenLM filter sums log-probabilities; logs
    * differ in the last ulp between libm and java.lang.Math (the q57
    * lesson), so the score stays rational: each bigram (p,c)
    * contributes r = ⌊10⁶·c₂(p,c)/c₁(p)⌋ (an exact int64 — c₂ ≤ c₁
    * by construction since c₁(p) = Σ_c c₂(p,c)), num = Σ r over the
    * doc's bigram instances, and score = num/nbg is ONE IEEE division
    * of exact int64s. keep compares num ≥ threshold·nbg in integers
    * only (threshold in parts-per-million of conditional probability).
    *
    * 100 TB shape: the model is a map-side-combined groupBy(bigram)
    * (shuffle = O(distinct bigrams) — the table a 100 TB corpus
    * prunes by count floor; this corpus doesn't need to); the prefix
    * marginal c₁ re-aggregates that table, not the corpus; the ratio
    * table is cut() once (it feeds c₁ and the per-doc fold — the
    * derived-subtree-reuse rule) and joins back by bigram key with
    * map-side-combined per-doc partial sums — shuffle volume O(docs).
    *
    * Exact-clone collapsed ([[commonnessScore]]'s skeleton, one level
    * up): bigram tf and the score are text-pure, corpus counts are
    * Σ tf·group_size over distinct texts, and — because every count
    * scales uniformly under cloning — the RATIO table, hence every
    * doc's score, is invariant under cloning (PipelineSpec pins it). */
  def bigramLmScore(docs: DataFrame, threshold: Long = 0L): DataFrame = {
    val withGid = docs.withColumn("gid",
      min(col("doc_id")).over(Window.partitionBy(col("text"))))
    val members = withGid.select(col("gid"), col("doc_id"))
      .cut() // feeds sizes and the expansion join
    val reps = withGid.filter(col("doc_id") === col("gid"))
      .select(col("gid"), col("text"))
    val sizes = members.groupBy(col("gid")).agg(count(lit(1)).as("gsz"))
    val bf = reps
      .select(col("gid"),
        explode(shingles(tokens(col("text")), 2, distinct = false)).as("bg"))
      .groupBy(col("gid"), col("bg")).agg(count(lit(1)).as("bf"))
      .cut() // feeds the model counts and the per-doc fold
    val c2 = bf.join(sizes, "gid")
      .groupBy(col("bg")).agg(sum(col("bf") * col("gsz")).as("c2"))
      .withColumn("pr", substring_index(col("bg"), " ", 1))
      .cut() // feeds the marginal and the ratio join
    val c1 = c2.groupBy(col("pr")).agg(sum(col("c2")).as("c1"))
    val ratio = c2.join(c1, "pr")
      .select(col("bg"), expr("(1000000 * c2) div c1").as("r"))
    val per = bf.join(ratio, "bg")
      .groupBy(col("gid"))
      .agg(sum(col("bf")).as("nbg"), sum(col("bf") * col("r")).as("num"))
    members.join(per, Seq("gid"), "left")
      .select(col("doc_id"),
        coalesce(col("nbg"), lit(0L)).as("nbg"),
        coalesce(col("num"), lit(0L)).as("num"))
      .withColumn("score",
        when(col("nbg") > 0, col("num").cast(DoubleType) / col("nbg"))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        col("nbg") > 0 && col("num") >= lit(threshold) * col("nbg"))
  }

  /** Noise-span localization — [[bigramLmScore]] sharpened from a
    * per-document verdict to a WHERE: the worst `window`-bigram
    * sliding sum of floor-ratio transition scores, with its position.
    * This is the span-level refinement of the CCNet page-level
    * perplexity filter: a document that is globally fluent but
    * carries one garbled segment (OCR noise, encoding damage, spam
    * injection) scores fine on the q109 mean yet flags here, and
    * worst_pos says where to look (or cut). Scores are the q109
    * model's exact int64 ratios; the sliding sum runs the IDENTICAL
    * window SQL on both engines (the q103 doctrine), and the
    * argmin's (sum asc, pos asc) tie-break is encoded arithmetically
    * as min(ws·2²⁰ + pos) — the q60 doctrine; positions must stay
    * below 2²⁰ (a 1 M-token doc — far above any pretraining doc cap).
    *
    * 100 TB shape: the model is q109's O(distinct bigrams) shuffle;
    * the window is doc-LOCAL (partitionBy doc, parallelism = docs —
    * never a corpus-wide window); per-doc argmin is a partial+final
    * aggregate. Exact-clone collapsed like q109 (positions are
    * text-pure; the positional table is cut() once and feeds the
    * model, the instance join and the bigram count). */
  def noiseSpanAudit(docs: DataFrame, window: Int = 8,
                     perBigramFloor: Long = 29000L): DataFrame = {
    require(window > 0, s"window out of range: $window")
    val withGid = docs.withColumn("gid",
      min(col("doc_id")).over(Window.partitionBy(col("text"))))
    val members = withGid.select(col("gid"), col("doc_id"))
      .cut() // feeds the expansion join and sizes
    val reps = withGid.filter(col("doc_id") === col("gid"))
      .select(col("gid"), col("text"))
    val sizes = members.groupBy(col("gid")).agg(count(lit(1)).as("gsz"))
    val posTable = reps
      .select(col("gid"),
        posexplode(shingles(tokens(col("text")), 2, distinct = false)))
      .select(col("gid"), (col("pos") + 1L).as("pos"), col("col").as("bg"))
      .cut() // feeds the model counts, the instance join and nbg
    val c2 = posTable.join(sizes, "gid")
      .groupBy(col("bg")).agg(sum(col("gsz")).as("c2"))
      .withColumn("pr", substring_index(col("bg"), " ", 1))
      .cut() // feeds the marginal and the ratio join
    val c1 = c2.groupBy(col("pr")).agg(sum(col("c2")).as("c1"))
    val ratio = c2.join(c1, "pr")
      .select(col("bg"), expr("(1000000 * c2) div c1").as("r"))
    val w = Window.partitionBy(col("gid")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    val win = posTable.join(ratio, "bg")
      .select(col("gid"), col("pos"), col("r"))
      .withColumn("ws", sum(col("r")).over(w))
      .withColumn("wn", count(lit(1)).over(w))
    val per = win.filter(col("wn") === window)
      .groupBy(col("gid"))
      .agg(count(lit(1)).as("n_windows"),
        min(col("ws") * lit(1048576L) + col("pos")).as("m"))
    val nbgT = posTable.groupBy(col("gid")).agg(count(lit(1)).as("nbg"))
    members
      .join(nbgT, Seq("gid"), "left")
      .join(per, Seq("gid"), "left")
      .select(col("doc_id"),
        coalesce(col("nbg"), lit(0L)).as("nbg"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(expr("m div 1048576"), lit(0L)).as("worst_sum"),
        coalesce(col("m") % 1048576L, lit(0L)).as("worst_pos"))
      .withColumn("flag",
        col("n_windows") > 0 &&
          col("worst_sum") < lit(window.toLong * perBigramFloor))
  }

  /** The q109 bigram model as an exportable (bg, r) table — the
    * fixed-recipe artifact [[graft.streaming.PipelineStream
    * .bigramScoreStream]] pins in its closure. Direct (uncollapsed)
    * formulation: corpus bigram counts, prefix marginal, floor-ratio —
    * semantically identical to [[bigramLmScore]]'s gsz-weighted
    * internal model (the streaming parity spec proves it transitively
    * against the q109 gate). c₂ feeds the marginal and the ratio join
    * (two references → cut(), the derived-subtree-reuse rule). */
  def bigramModel(docs: DataFrame): DataFrame = {
    val ex = docs.select(
      explode(shingles(tokens(col("text")), 2, distinct = false)).as("bg"))
    val c2 = ex.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .withColumn("pr", substring_index(col("bg"), " ", 1))
      .cut()
    val c1 = c2.groupBy(col("pr")).agg(sum(col("c2")).as("c1"))
    c2.join(c1, "pr")
      .select(col("bg"), expr("(1000000 * c2) div c1").as("r"))
  }

  /** Bigram LM with unigram BACKOFF, trained on a held-out source
    * slice (Katz 1987's idea in the exact-integer regime): unlike
    * [[bigramLmScore]] — which trains on the scored corpus itself, so
    * every bigram is seen — the model here comes from ONE pinned
    * source and the rest of the corpus genuinely exercises the
    * unseen path (~20% of bigrams at gate sf). Seen bigrams
    * contribute the q109 floor ratio r = ⌊10⁶·c₂/c₁⌋; unseen ones
    * back off to a tenth of the unigram mass ratio ⌊⌊10⁶·c_u/N⌋/10⌋
    * (the fixed backoff penalty — no Good–Turing discounting, which
    * would put floats in the gate); unseen unigrams score 0. All
    * integer floor arithmetic.
    *
    * 100 TB shape: the model side is one bigram-count + one
    * unigram-count shuffle over the TRAIN slice (scan-stage source
    * predicate); N is one driver scalar (the q62 contract). The
    * scored side is exact-clone collapsed (scores are text-pure given
    * the model): rep-level bigram fold + O(docs) expansion. */
  def backoffLmScore(docs: DataFrame, trainSource: String): DataFrame = {
    val train = docs.filter(col("source") === trainSource)
    val c2 = train
      .select(explode(shingles(tokens(col("text")), 2, distinct = false)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .withColumn("pr", substring_index(col("bg"), " ", 1))
      .cut() // feeds the marginal and the ratio join
    val c1 = c2.groupBy(col("pr")).agg(sum(col("c2")).as("c1"))
    val ratio = c2.join(c1, "pr")
      .select(col("bg"), expr("(1000000 * c2) div c1").as("r"))
    val uni = train
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
      .cut() // feeds the total scalar and the backoff join
    val total = uni.agg(sum(col("cu"))).head.getLong(0)
    val back = uni.select(col("tok").as("w2"),
      expr(s"((1000000 * cu) div ${total}L) div 10").as("ub"))
    val withGid = docs.withColumn("gid",
      min(col("doc_id")).over(Window.partitionBy(col("text"))))
    val members = withGid.select(col("gid"), col("doc_id")).cut()
    val reps = withGid.filter(col("doc_id") === col("gid"))
      .select(col("gid"), col("text"))
    val per = reps
      .select(col("gid"),
        explode(shingles(tokens(col("text")), 2, distinct = false)).as("bg"))
      .groupBy(col("gid"), col("bg")).agg(count(lit(1)).as("bf"))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(ratio, Seq("bg"), "left")
      .join(back, Seq("w2"), "left")
      .groupBy(col("gid"))
      .agg(sum(col("bf")).as("nbg"),
        sum(when(col("r").isNull, col("bf")).otherwise(0L)).as("n_unseen"),
        sum(col("bf") *
          coalesce(col("r"), col("ub"), lit(0L))).as("num"))
    members.join(per, Seq("gid"), "left")
      .select(col("doc_id"),
        coalesce(col("nbg"), lit(0L)).as("nbg"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        coalesce(col("num"), lit(0L)).as("num"))
  }

  /** Temperature-scaled source mixing (τ = 1/2) — the multilingual /
    * multi-source rebalancing rule of mC4 (Xue et al. 2021 §3.1) and
    * XLM-R (Conneau et al. 2020 §3.1): sampling shares proportional
    * to p_s^τ instead of p_s, flattening the source distribution so
    * head sources stop drowning the tail. Shares are derived FROM THE
    * DATA (unlike [[sourceMixRates]]' given shares): w_s =
    * ⌊√tokens_s⌋ (integer — both engines' correctly-rounded IEEE
    * sqrt agrees bit-for-bit on int64 inputs ≤ 2^52, and ⌊·⌋ of the
    * same double is the same int), share_s = w_s·1000 div Σw
    * per-mille, then the q85 rate rule: rate_s = min(1000,
    * budget·share_s div tokens_s). Everything after the sqrt is
    * integer floor arithmetic.
    *
    * 100 TB shape: input is [[sourceTokenTotals]]' bounded table; the
    * Σw normalizer is a single-partition window over |sources| rows
    * (bounded by construction — never the corpus); the output feeds
    * [[sourceMixAudit]]'s broadcast + scan-stage keep, so the corpus
    * is touched exactly twice (totals, audit), shuffled never. */
  def temperatureMixRates(totals: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budget out of range: $budgetTokens")
    totals
      .withColumn("w",
        floor(sqrt(col("src_tokens").cast(DoubleType))).cast(LongType))
      .withColumn("sumw", sum(col("w")).over(Window.partitionBy()))
      .withColumn("share", expr("(w * 1000) div sumw"))
      .withColumn("rate",
        least(lit(1000L),
          expr(s"(CAST($budgetTokens AS BIGINT) * share) div src_tokens")))
      .select(col("source"), col("src_tokens"), col("w"), col("rate"))
  }

  /** Context-window chunking — the long-document stage a pretraining
    * tokenizer pipeline runs before packing (HuggingFace
    * `return_overflowing_tokens` semantics): split each document into
    * windows of `chunk` tokens advancing by `stride` (overlap =
    * chunk − stride preserves cross-boundary context), last window
    * short. Window count m = 1 if n ≤ chunk else
    * ⌈(n − chunk)/stride⌉ + 1 — every start < n and no window is
    * contained in its predecessor. Returns the per-doc audit:
    * window count, total window tokens (> ntok by the overlap mass),
    * and a position-sensitive checksum Σ h(window)·(j+1) mod P that
    * pins each window's exact text and position.
    *
    * 100 TB shape: chunking is per-row-local — explode(sequence) +
    * slice + one hash per window in the scan stage, partial+final
    * per-doc aggregate; NO shuffle beyond the O(docs) agg exchange
    * (the q60 per-row-kernel doctrine: a window-function formulation
    * over exploded tokens would shuffle the token stream). Bounded:
    * a doc emits ⌈n/stride⌉ windows — linear in its own length. */
  def chunkAudit(docs: DataFrame, chunk: Int = 16, stride: Int = 12): DataFrame = {
    require(chunk > 0 && stride > 0 && stride <= chunk,
      s"chunk/stride out of range: $chunk/$stride")
    val tk = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("ntok", size(col("tk")).cast(LongType))
    val per = tk.filter(col("ntok") >= 1L)
      .withColumn("m",
        when(col("ntok") <= chunk, lit(1L))
          .otherwise(expr(s"(ntok - $chunk + $stride - 1) div $stride + 1")))
      .select(col("doc_id"), col("tk"),
        explode(expr("sequence(0L, m - 1L)")).as("j"))
      .select(col("doc_id"), col("j"),
        slice(col("tk"), (col("j") * stride + 1).cast("int"), lit(chunk)).as("ctk"))
      .select(col("doc_id"), col("j"),
        array_join(col("ctk"), " ").as("ctext"),
        size(col("ctk")).cast(LongType).as("clen"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("chunk_tokens"),
        (sum((hmod(col("ctext")) * (col("j") + 1L)) % P) % P).as("chunk_checksum"))
    tk.select(col("doc_id"), col("ntok"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ntok"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("chunk_tokens"), lit(0L)).as("chunk_tokens"),
        coalesce(col("chunk_checksum"), lit(0L)).as("chunk_checksum"))
  }

  /** Parallel quality-ensemble vote (q101's semantics) over SHARED
    * subtrees — the derived-subtree-reuse doctrine applied one level
    * up: the 4-operator composition ([[gopherKeep]] +
    * [[classifierScore]] + [[vocabOovAudit]] + [[commonnessScore]])
    * re-runs the clone-collapse window and the tokenize/explode once
    * PER VOTE; here ONE cut() (gid, tok, tf) token-frequency table
    * and one members/sizes pair feed all four, and the per-doc
    * expansion happens once at the end instead of inside each vote.
    * Per-instance sums become tf-weighted sums (Σ w·tf ≡ Σ w per
    * instance — exact int64 either way); tokenless docs lose their
    * tf rows and re-enter through the final left joins with every
    * vote false, exactly the composition's explode_outer semantics.
    * PipelineSpec pins ensemble ≡ composition column-for-column. */
  def qualityEnsemble(docs: DataFrame, weights: DataFrame,
                      bias: Long = 0L, clfThreshold: Long = 0L,
                      buckets: Int = 512, v: Int = 16,
                      maxOovPerMille: Long = 450L,
                      commonThreshold: Long = 0L,
                      minVotes: Int = 3): DataFrame = {
    require(buckets > 0 && v > 0 && maxOovPerMille >= 0 && minVotes >= 0,
      "ensemble params out of range")
    val withGid = docs.withColumn("gid",
      min(col("doc_id")).over(Window.partitionBy(col("text"))))
    val members = withGid.select(col("gid"), col("doc_id"))
      .cut() // feeds sizes and the final expansion
    val reps = withGid.filter(col("doc_id") === col("gid"))
      .select(col("gid"), col("text"))
    val sizes = members.groupBy(col("gid")).agg(count(lit(1)).as("gsz"))
    val tf = reps.select(col("gid"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("gid"), col("tok")).agg(count(lit(1)).as("tf"))
      .cut() // feeds all four votes: the shared tokenized table
    // gopher vote: scan-stage predicate on the rep text (text-pure)
    val gv = reps.select(col("gid"), gopherKeep(col("text")).as("v_gopher"))
    // classifier vote: Σ tf·w over hashed buckets (≡ per-instance Σ w)
    val cv = tf
      .withColumn("b", hmod(concat(lit("qw:"), col("tok"))) % buckets)
      .join(broadcast(weights), col("b") === weights("bucket"), "left")
      .groupBy(col("gid"))
      .agg(sum(col("tf")).as("ntok"),
        (coalesce(sum(col("w") * col("tf")), lit(0L)) + lit(bias)).as("num"))
      .select(col("gid"),
        (col("ntok") > 0 && col("num") >= lit(clfThreshold) * col("ntok"))
          .as("v_classifier"))
    // vocab: top-v by clone-weighted corpus count (total order), then
    // the OOV fold — both straight off tf
    val vocab = tf.join(sizes, "gid")
      .groupBy(col("tok")).agg(sum(col("tf") * col("gsz")).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(v)
      .select(col("tok").as("vtok"), lit(1L).as("inv"))
    val ov = tf.join(broadcast(vocab), tf("tok") === col("vtok"), "left")
      .groupBy(col("gid"))
      .agg(sum(col("tf")).as("ntok"),
        sum(when(col("inv").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .select(col("gid"),
        (col("ntok") > 0 && col("n_oov") * 1000L <= col("ntok") * maxOovPerMille)
          .as("v_oov"))
    // commonness vote: corpus frequency joined back into tf
    val freq = tf.join(sizes, "gid")
      .groupBy(col("tok")).agg(sum(col("tf") * col("gsz")).as("cnt"))
    val mv = tf.join(freq, "tok")
      .groupBy(col("gid"))
      .agg(sum(col("tf")).as("ntok"), sum(col("tf") * col("cnt")).as("num"))
      .select(col("gid"),
        (col("ntok") > 0 && col("num") >= lit(commonThreshold) * col("ntok"))
          .as("v_common"))
    val votes = gv
      .join(cv, Seq("gid"), "left")
      .join(ov, Seq("gid"), "left")
      .join(mv, Seq("gid"), "left")
      .select(col("gid"), col("v_gopher"),
        coalesce(col("v_classifier"), lit(false)).as("v_classifier"),
        coalesce(col("v_oov"), lit(false)).as("v_oov"),
        coalesce(col("v_common"), lit(false)).as("v_common"))
    val nv = Seq("v_gopher", "v_classifier", "v_oov", "v_common")
      .map(c => when(col(c), 1L).otherwise(0L)).reduce(_ + _)
    members.join(votes, "gid")
      .select(col("doc_id"), col("v_gopher"), col("v_classifier"),
        col("v_oov"), col("v_common"))
      .withColumn("n_votes", nv)
      .withColumn("keep", col("n_votes") >= minVotes)
  }

  /** Per-source document cap — the RefinedWeb (Penedo et al. 2023
    * §3.4) per-domain cap: keep at most `k` docs per source, chosen
    * by a DETERMINISTIC salted hash order (doc_id tie-break) so every
    * re-run keeps the same set — a cap, not a sample. Returns the
    * per-source audit (n_total, n_kept, kept membership checksum).
    *
    * 100 TB shape: selection goes through [[graft.plans.TopK]]'s
    * bounded-heap operator — partial heaps carry ≤ k rows per source
    * per upstream partition into the exchange (the q45 lesson: the
    * row_number window form sorts the full corpus per source, with no
    * AQE skew rescue on a hot domain). The audits are monoid sums. */
  def sourceCapAudit(docs: DataFrame, k: Int = 10): DataFrame = {
    val keyed = docs.select(col("source"), col("doc_id"),
      hmod(concat(lit("cap:"), col("doc_id").cast("string"))).as("hkey"))
    val kept = graft.plans.TopK.perKey(keyed,
      Seq(col("source")), Seq(col("hkey"), col("doc_id")), k)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        (sum(hmod(col("doc_id").cast("string"))) % P).as("kept_checksum"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_checksum"), lit(0L)).as("kept_checksum"))
  }

  /** C4-style DESTRUCTIVE span dedup (Raffel et al. 2020 §2.2:
    * "we discarded all but one of any three-sentence span occurring
    * more than once"), over the same non-overlapping b-token blocks
    * as the q75 report: a block occurrence survives iff it is the
    * corpus-wide FIRST occurrence of its hash — smallest
    * (doc_id, block_pos), an argmin the plan computes as one
    * partial+final struct-min groupBy, never a window sort — and each
    * document is rewritten from its surviving blocks plus the
    * always-kept short tail. Where q75 REPORTS duplication, this is
    * the operator that REMOVES it. Returns the per-doc audit:
    * block/removal counts, the rewritten token count, and a
    * POSITIONAL membership checksum (Σ ((h mod 10⁶)·pos) mod P over
    * kept blocks) pinning exactly which blocks survive at which
    * positions — the membership-checksum doctrine the destructive
    * gates share (q79/q87/q92).
    *
    * 100 TB shape: scan-stage BlockHash kernel → partial+final
    * groupBy(h) struct-min (map-side combine absorbs a boilerplate
    * hot block before the shuffle) → 1:1 equi-join back on h (AQE
    * skew-splittable) → map-side-combined per-doc monoid sums. No
    * windows, no driver traffic; the checksum terms are modded per
    * term so ANSI sums cannot overflow on million-block docs. */
  def spanDedupAudit(docs: DataFrame, b: Int = 8): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast(LongType).as("ntok"),
        TextExprs.blockHash(col("tk"), b).as("bs"))
    val ex = base.select(col("doc_id"), posexplode(col("bs")))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("j"),
        col("col").as("h"))
    val fo = ex.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("j"))).as("f"))
    val per = ex.join(fo, "h")
      .select(col("doc_id"), col("j"), col("h"),
        (col("f.doc_id") === col("doc_id") && col("f.j") === col("j"))
          .as("kept"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
        (sum(when(col("kept"), ((col("h") % 1000000L) * col("j")) % P)
          .otherwise(0L)) % P).as("kept_checksum"))
    base.join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("ntok") - lit(b.toLong) * coalesce(col("n_removed"), lit(0L)))
          .as("kept_tokens"),
        coalesce(col("kept_checksum"), lit(0L)).as("kept_checksum"))
  }

  /** Maximal repeated-span report — the SLIDING-window complement of
    * the blocked q75/q96 family, the per-doc audit of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr): every k-token window whose hash occurs more than
    * once corpus-wide marks its [pos, pos+k−1] token interval as
    * duplicated, and overlapping/adjacent intervals merge into maximal
    * spans (the suffix-array result for repeats ≥ k tokens, computed
    * with joins instead of a suffix array — blocked hashing misses any
    * duplicate that is not block-aligned; sliding windows are
    * shift-invariant). Returns per doc: token count, number of maximal
    * duplicated spans, tokens covered by their union, and a span
    * checksum (Σ (start·4096 + end) mod P) pinning exact extents.
    *
    * 100 TB shape: scan-stage shingle kernel → hash-once-per-window →
    * partial+final groupBy(h) count (map-side combine absorbs hot
    * boilerplate windows) → equi-join back of only the duplicated
    * hashes (AQE skew-splittable). The interval merge window runs
    * over DUPLICATED positions of DISTINCT texts only (exact-clone
    * collapsed, gsz-weighted counts) — per-doc cardinality is bounded
    * by document length, and the partition keys (text for the
    * collapse, gid for the merge) have corpus-scale cardinality, so
    * parallelism tracks the corpus (the q75 lesson about corpus-wide
    * windows does not apply: both windows are per-doc-local by
    * construction). */
  def repeatedSpanAudit(docs: DataFrame, k: Int = 8): DataFrame = {
    val kl = k.toLong
    // exact-clone collapse (RESULT-IDENTICAL at any clone mix, not
    // just when texts are distinct): identical texts have identical
    // window-hash sequences, so the corpus-wide occurrence count of a
    // hash is Σ_reps (occurrences in rep × clone-group size) — the
    // gsz-weighted sum — and the per-doc span result is a pure
    // function of (own text, global dup-hash set), i.e. one island
    // pass per DISTINCT text expanded through the group table.
    // Measured 13.8 s → rep-level cost at sf10 (100× clones).
    val withGid = docs.withColumn("gid",
      min(col("doc_id")).over(Window.partitionBy(col("text"))))
    val members = withGid.select(col("gid"), col("doc_id"))
    val gsz = members.groupBy(col("gid")).agg(count(lit(1)).as("gsz"))
    val base = withGid.filter(col("doc_id") === col("gid"))
      .join(gsz, "gid")
      .select(col("gid"), col("gsz"), tokens(col("text")).as("tk"))
      .select(col("gid"), col("gsz"),
        size(col("tk")).cast(LongType).as("ntok"),
        shingles(col("tk"), k, distinct = false).as("ws"))
      .cut() // feeds the count, the join-back, and the per-doc base
    val ex = base.select(col("gid"), col("gsz"), posexplode(col("ws")))
      .select(col("gid"), (col("pos") + 1).cast(LongType).as("p"),
        hmod(col("col")).as("h"), col("gsz"))
    val dup = ex.groupBy(col("h")).agg(sum(col("gsz")).as("c"))
      .filter(col("c") > 1).select(col("h"))
    val wOrd = Window.partitionBy(col("gid")).orderBy(col("p"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val spans = ex.join(dup, "h")
      .select(col("gid"), col("p"))
      .withColumn("pe", max(col("p") + lit(kl - 1L)).over(wPrev))
      .withColumn("ni",
        when(col("pe").isNull || col("p") > col("pe") + 1L, 1L).otherwise(0L))
      .withColumn("isl", sum(col("ni")).over(wOrd))
      .groupBy(col("gid"), col("isl"))
      .agg(min(col("p")).as("s"), (max(col("p")) + lit(kl - 1L)).as("e"))
    val per = spans.groupBy(col("gid"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1L).as("dup_tokens"),
        (sum((col("s") * lit(4096L) + col("e")) % P) % P).as("span_checksum"))
    members
      .join(base.select(col("gid"), col("ntok")), "gid")
      .join(per, Seq("gid"), "left")
      .select(col("doc_id"), col("ntok"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("span_checksum"), lit(0L)).as("span_checksum"))
  }

  /** Contaminated-span localization — q76's membership test sharpened
    * to a WHERE, the way production decontamination actually removes
    * leakage (PaLM and GPT-4 drop a window AROUND each n-gram
    * collision rather than the whole document; Brown et al. 2020 §C
    * documents the 13-gram window form): for each eval-side doc,
    * every positional `k`-gram that appears anywhere in the train
    * side is a hit, overlapping/adjacent hit windows merge into
    * maximal spans (the q103 gaps-and-islands rule), and the audit
    * reports what span-removal would cut — n_hits, n_spans, longest
    * span, flagged tokens, plus the q103 extent checksum pinning
    * exact span boundaries.
    *
    * Split rule is q76's verbatim: bucket = hmod(doc_id) % 100,
    * train < 80, eval ≥ 90 (the gap rows simulate held-out data).
    *
    * 100 TB shape: train side reduces to a DISTINCT hash set (one
    * shuffle, text-collapsed by construction); eval side is
    * exact-clone collapsed (spans are a pure function of text given
    * the train set — one island pass per distinct eval text, expanded
    * through the member table); the hit test is a semi-join on hash
    * (AQE skew-splittable); the island window is doc-LOCAL, never
    * corpus-wide. */
  def contaminationSpanAudit(docs: DataFrame, k: Int = 5): DataFrame = {
    val kl = k.toLong
    val withBucket = docs.withColumn("bucket",
      hmod(col("doc_id").cast("string")) % 100L)
    val train = withBucket.filter(col("bucket") < 80L)
      .select(explode(shingles(tokens(col("text")), k, distinct = true)).as("sg"))
      .select(hmod(col("sg")).as("h")).distinct()
    val withGid = withBucket.filter(col("bucket") >= 90L)
      .withColumn("gid",
        min(col("doc_id")).over(Window.partitionBy(col("text"))))
    val members = withGid.select(col("gid"), col("doc_id"))
    val base = withGid.filter(col("doc_id") === col("gid"))
      .select(col("gid"), tokens(col("text")).as("tk"))
      .select(col("gid"), size(col("tk")).cast(LongType).as("ntok"),
        shingles(col("tk"), k, distinct = false).as("ws"))
      .cut() // feeds the hit join and the per-doc base
    val ex = base.select(col("gid"), posexplode(col("ws")))
      .select(col("gid"), (col("pos") + 1).cast(LongType).as("p"),
        hmod(col("col")).as("h"))
    val hits = ex.join(train, Seq("h"), "leftsemi")
    val wOrd = Window.partitionBy(col("gid")).orderBy(col("p"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val spans = hits
      .select(col("gid"), col("p"))
      .withColumn("pe", max(col("p") + lit(kl - 1L)).over(wPrev))
      .withColumn("ni",
        when(col("pe").isNull || col("p") > col("pe") + 1L, 1L).otherwise(0L))
      .withColumn("isl", sum(col("ni")).over(wOrd))
      .groupBy(col("gid"), col("isl"))
      .agg(count(lit(1)).as("nh"), min(col("p")).as("s"),
        (max(col("p")) + lit(kl - 1L)).as("e"))
    val per = spans.groupBy(col("gid"))
      .agg(sum(col("nh")).as("n_hits"),
        count(lit(1)).as("n_spans"),
        max(col("e") - col("s") + 1L).as("max_span_tokens"),
        sum(col("e") - col("s") + 1L).as("flagged_tokens"),
        (sum((col("s") * lit(4096L) + col("e")) % P) % P).as("span_checksum"))
    members
      .join(base.select(col("gid"), col("ntok")), "gid")
      .join(per, Seq("gid"), "left")
      .select(col("doc_id"), col("ntok"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"),
        coalesce(col("flagged_tokens"), lit(0L)).as("flagged_tokens"),
        coalesce(col("span_checksum"), lit(0L)).as("span_checksum"))
  }

  /** Packing-efficiency A/B — the measure-don't-guess audit for the
    * q73 packing knob: what each packing strategy costs in padding at
    * a fixed sequence budget. Four strategies over the same sharded
    * corpus (shard/order rules = q73's verbatim):
    *
    *  - `a_pad_each`: one doc per sequence, padded to the budget
    *    (docs over budget take ⌈ntok/budget⌉ sequences) — the naive
    *    baseline every padding-waste paper measures against.
    *  - `b_nextfit`: docs kept WHOLE in hash order, a new sequence
    *    opens when the current one can't fit the next doc (next-fit
    *    bin packing; no cross-sequence attention contamination).
    *  - `c_nextfit_sorted`: next-fit after sorting the shard by ntok
    *    DESC (the decreasing heuristic — long docs first, short docs
    *    plug the gaps).
    *  - `d_concat`: q73's concatenation packing (docs may span
    *    sequences; only the last sequence per shard is padded).
    *
    * One row per strategy: sequences, total/pad tokens, utilization
    * ppm (⌊10⁶·tokens/(budget·seqs)⌋ — integer, oracle-exact).
    *
    * 100 TB shape: a/d are shard-local window/aggregate arithmetic
    * (q73's plan); b/c are inherently sequential PER SHARD — the
    * parallel unit is the shard (as in any production packer: shard
    * count is the knob that sizes a shard to an executor), so both
    * run as one typed mapGroups over the shard key, one shuffle
    * total, state = the shard's (ntok, order) pairs. The ORACLE
    * replays b/c with a recursive CTE stepping doc-by-doc per shard
    * (the q77/q97 trajectory-replay doctrine). */
  def packingEfficiencyAudit(docs: DataFrame, budget: Long = 256L,
                             numShards: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pd = docs
      .select(col("doc_id"),
        (hmod(col("doc_id").cast("string")) % numShards).as("shard"),
        hmod(concat(lit("pack:"), col("doc_id").cast("string"))).as("h"),
        size(tokens(col("text"))).cast(LongType).as("ntok"))
      .filter(col("ntok") > 0)
      .cut() // feeds all four strategies
    // next-fit fold over one explicit ordering; docs ≥ budget take
    // dedicated ⌈ntok/budget⌉ sequences and reset the open one
    def nextFit(sorted: Seq[Long]): (Long, Long) = {
      var nseq = 0L
      var fill = 0L
      var total = 0L
      sorted.foreach { ntok =>
        total += ntok
        if (ntok >= budget) {
          if (fill > 0L) { nseq += 1L; fill = 0L }
          nseq += (ntok + budget - 1L) / budget
        } else if (fill + ntok <= budget) fill += ntok
        else { nseq += 1L; fill = ntok }
      }
      if (fill > 0L) nseq += 1L
      (nseq, nseq * budget - total)
    }
    // every branch carries its own total_tokens so the final shape is
    // a plain union of one-row aggregates — no scalar cross joins (the
    // PlanSpec nested-loop sweep rightly dislikes even 1-row ones)
    val bc = pd.select(col("shard"), col("h"), col("doc_id"), col("ntok"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (_: Long, it: Iterator[(Long, Long, Long, Long)]) =>
        val rows = it.toArray
        val byHash = rows.sortBy(r => (r._2, r._3)).map(_._4).toSeq
        val byLenDesc = rows.sortBy(r => (-r._4, r._2, r._3)).map(_._4).toSeq
        val (nb, pb) = nextFit(byHash)
        val (nc, pc) = nextFit(byLenDesc)
        (nb, pb, nc, pc, rows.map(_._4).sum)
      }
      .toDF("nb", "pb", "nc", "pc", "tt")
      .agg(sum(col("nb")).as("nb"), sum(col("pb")).as("pb"),
        sum(col("nc")).as("nc"), sum(col("pc")).as("pc"),
        sum(col("tt")).as("total_tokens"))
    val aAgg = pd.agg(
      sum(expr(s"(ntok + ${budget - 1}) div $budget")).as("na"),
      sum(expr(s"((ntok + ${budget - 1}) div $budget) * $budget - ntok")).as("pa"),
      sum(col("ntok")).as("total_tokens"))
    val dAgg = pd.groupBy(col("shard"))
      .agg(sum(col("ntok")).as("tt"))
      .agg(sum(expr(s"(tt + ${budget - 1}) div $budget")).as("nd"),
        sum(expr(s"((tt + ${budget - 1}) div $budget) * $budget - tt")).as("pd"),
        sum(col("tt")).as("total_tokens"))
    // util in INTEGER division (div both engines) — a double quotient
    // cast to long can land 1 ulp under an exact integer and floor low
    def strat(src: DataFrame, name: String, n: String, p: String): DataFrame =
      src.selectExpr(s"'$name' AS strategy", s"$n AS n_seqs",
        "total_tokens", s"$p AS pad_tokens",
        s"(1000000 * total_tokens) div ($n * $budget) AS util_ppm")
    strat(aAgg, "a_pad_each", "na", "pa")
      .unionByName(strat(bc, "b_nextfit", "nb", "pb"))
      .unionByName(strat(bc, "c_nextfit_sorted", "nc", "pc"))
      .unionByName(strat(dAgg, "d_concat", "nd", "pd"))
  }

  /** Content-defined-chunk dedup report (the LBFS/CDC boundary rule
    * applied to corpus dedup): chunks end where hmod(token) ≡ 0
    * (mod `mod`) — boundaries are a function of CONTENT, so an
    * insertion or deletion early in a document shifts only the chunk
    * it lands in and every later chunk re-aligns with its duplicates
    * (fixed blocks q75 lose all alignment after the edit point; the
    * sliding q103 windows recover alignment but cost one hash per
    * position — CDC pays one hash per token and one per ~`mod`-token
    * chunk). Per doc: chunk count, corpus-wide duplicated-chunk
    * count, and a duplicated-chunk checksum.
    *
    * 100 TB shape: identical to q75 — scan-stage CdcChunkHash kernel,
    * partial+final groupBy(h) count, equi-join back of c>1 hashes
    * (AQE skew-splittable), per-doc monoid sums. No windows. */
  def cdcChunkAudit(docs: DataFrame, mod: Int = 16): DataFrame = {
    val ex = docs.select(col("doc_id"),
      explode_outer(TextExprs.cdcChunkHash(tokens(col("text")), mod)).as("h"))
    val dup = ex.filter(col("h").isNotNull)
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h").as("dh"))
    ex.join(dup, col("h") === col("dh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("h")).as("n_chunks"),
        sum(when(col("dh").isNotNull, 1L).otherwise(0L)).as("n_dup"),
        (sum(when(col("dh").isNotNull, col("h") % 1000000L).otherwise(0L)) % P)
          .as("dup_checksum"))
  }

  /** Stage 1 of DSIR (Xie et al. 2023): the hashed-unigram token
    * feature stream (doc_id, lang, f) with B buckets — scan-stage
    * explode + hash, no state. */
  def dsirFeatures(docs: DataFrame, buckets: Int = 128): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
        (hmod(col("tok")) % buckets).as("f"))

  /** Stage 2 of DSIR: the +1-smoothed target-vs-background bucket
    * table. BOUNDED at B rows regardless of corpus size, and every
    * aggregate is a monoid sum — so the identical plan is a streaming
    * aggregation with O(B) state (PipelineStream). */
  def dsirBuckets(ex: DataFrame, target: String = "en"): DataFrame =
    ex.groupBy(col("f"))
      .agg(sum(when(col("lang") === target, 1L).otherwise(0L)).as("tc0"),
        count(lit(1)).as("ac"))
      .select(col("f"), (col("tc0") + lit(1L)).as("tc"),
        (col("ac") - col("tc0") + lit(1L)).as("bc"))

  /** Stage 3 of DSIR: per-doc importance weight from a bucket table —
    * broadcast hash join against the bounded bucket table, per-doc
    * monoid sums (partial-aggregated before the doc_id shuffle), and
    * ONE IEEE division of two int64 sums (never a float accumulation,
    * never a log) — bit-identical across engines and partitionings. */
  def dsirWeights(ex: DataFrame, buckets: DataFrame): DataFrame =
    ex.join(broadcast(buckets), "f")
      .groupBy(col("doc_id"))
      .agg(sum(col("tc")).as("num"), sum(col("bc")).as("den"))
      .withColumn("weight", col("num").cast(DoubleType) / col("den"))

  /** The 8-round BPE training trajectory as a recursive CTE (the q77
    * replay pattern), shared by q97 (the merge rules) and q98 (the
    * encode — round-8 segmentations ARE the encoding of the training
    * corpus). Symbol strings use chr(31) double-separators and the
    * same sequential replace as `BpeOp` — byte-identical semantics. */
  private lazy val bpeCtes: String = s"""
      w AS (SELECT tok AS word, CAST(count(*) AS BIGINT) n
            FROM (SELECT unnest(list_filter(string_split(text,' '), x->x<>'')) tok
                  FROM documents) GROUP BY 1),
      seg AS (
        SELECT 0 AS iter, word, n,
               chr(31)||chr(31)||
                 array_to_string([word[i] for i in generate_series(1,len(word))],
                                 chr(31)||chr(31))||chr(31)||chr(31) AS t,
               NULL::VARCHAR AS ml, NULL::VARCHAR AS mr, NULL::BIGINT AS mc
        FROM w
        UNION ALL
        SELECT p.iter+1, p.word, p.n,
               replace(p.t, chr(31)||FIRST_VALUE(p.u.pa) OVER win||chr(31)||chr(31)||
                            FIRST_VALUE(p.u.pb) OVER win||chr(31),
                            chr(31)||FIRST_VALUE(p.u.pa) OVER win||
                            FIRST_VALUE(p.u.pb) OVER win||chr(31)) AS t,
               FIRST_VALUE(p.u.pa) OVER win AS ml,
               FIRST_VALUE(p.u.pb) OVER win AS mr,
               CAST(FIRST_VALUE(p.cnt) OVER win AS BIGINT) AS mc
        FROM (
            SELECT iter, word, n, t, u,
                   CASE WHEN u.pa IS NULL THEN NULL
                        ELSE SUM(n) OVER (PARTITION BY u.pa, u.pb) END AS cnt
            FROM (
              SELECT iter, word, n, t,
                unnest(CASE WHEN len(sy) >= 2
                  THEN [{'pa': sy[i], 'pb': sy[i+1]}
                        for i in generate_series(1, len(sy)-1)]
                  ELSE [{'pa': NULL, 'pb': NULL}] END) AS u
              FROM (SELECT iter, word, n, t,
                           list_filter(string_split(t, chr(31)), x -> x <> '') AS sy
                    FROM seg)) e0) p
        WHERE p.iter < 8
        WINDOW win AS (ORDER BY p.cnt DESC NULLS LAST, p.u.pa, p.u.pb
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        QUALIFY row_number() OVER (PARTITION BY p.word ORDER BY p.u.pa, p.u.pb) = 1
      )"""

  /** Decontamination oracle shared by q76 (shuffled-equi form) and
    * q82 (Bloom-prefiltered form) — same exact output, two physical
    * strategies. */
  private lazy val decontOracleSql: String = s"""
      WITH docs AS (
        SELECT doc_id,
          ${sql.hmod("CAST(doc_id AS VARCHAR)")} % 100 bucket,
          CASE WHEN len(tk) >= 5
            THEN list_distinct([tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4]
                                for i in generate_series(1, len(tk)-4)])
            ELSE [] END sg
        FROM (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
              FROM documents)),
      train AS (SELECT DISTINCT ${sql.hmod("s")} h
                FROM (SELECT unnest(sg) s FROM docs WHERE bucket < 80)),
      test AS (SELECT doc_id, ${sql.hmod("s")} h
               FROM (SELECT doc_id, unnest(sg) s FROM docs WHERE bucket >= 90)),
      hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) nh
               FROM test WHERE h IN (SELECT h FROM train) GROUP BY 1)
      SELECT d.doc_id, CAST(len(sg) AS BIGINT) n_shingles,
             CAST(COALESCE(nh, 0) AS BIGINT) n_contaminated
      FROM docs d LEFT JOIN hits USING (doc_id)
      WHERE bucket >= 90 ORDER BY doc_id"""

  private[graft] val funnelStages = Seq("0_all", "1_min_tokens",
    "2_word_len", "3_alpha_ratio", "4_stopwords", "5_repetition")

  /** One-row funnel statistics (d0..d5 docs, t0..t5 tokens surviving
    * each cumulative Gopher stage) — shared by q72 and the streaming
    * variant. The single global aggregate of 12 monoid sums is the
    * whole shuffle; rule inputs are scan-stage kernels. */
  def funnelStats(docs: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val sg = shingles(toks, 3, distinct = false)
    val pd = docs.select(
      size(toks).cast(LongType).as("ntok"),
      TextExprs.alphaWordCount(toks).as("nalpha"),
      length(translate(col(textCol), " ", "")).cast(LongType).as("wlen"),
      TextExprs.setHitCount(toks, stopwords).as("nstop"),
      size(sg).cast(LongType).as("ntotal"),
      size(array_distinct(sg)).cast(LongType).as("ndist"))
    val c1 = col("ntok") >= 10
    val c2 = c1 && col("wlen") >= col("ntok") * 3 && col("wlen") <= col("ntok") * 10
    val c3 = c2 && col("nalpha") * 5 >= col("ntok") * 4
    val c4 = c3 && col("nstop") >= 2
    val c5 = c4 && (col("ntotal") - col("ndist")) * 10 < col("ntotal") * 3
    val conds: Seq[Column] = Seq(lit(true), c1, c2, c3, c4, c5)
    val aggs = conds.zipWithIndex.flatMap { case (c, i) =>
      Seq(sum(when(c, 1L).otherwise(0L)).as(s"d$i"),
        sum(when(c, col("ntok")).otherwise(0L)).as(s"t$i"))
    }
    pd.agg(aggs.head, aggs.tail: _*)
  }

  /** Unpivot [[funnelStats]]'s wide row into the per-stage retention
    * table (kept OUT of funnelStats so the streaming plan stays a
    * pure aggregation — Generate after a streaming agg is the part
    * Structured Streaming can't run incrementally). */
  def funnelTable(stats: DataFrame): DataFrame = {
    val stackArgs = funnelStages.zipWithIndex
      .map { case (n, i) => s"'$n', d$i, t$i" }.mkString(", ")
    stats.selectExpr(s"stack(6, $stackArgs) AS (stage, docs, toks_kept)")
      .orderBy(col("stage"))
  }

  val entries: Vector[Q] = Vector(

    // PII detection + redaction with audit accounting: regex-match
    // ID-like digit runs, count hits, and checksum the REDACTED text
    // (md5-fold sum) so the gate proves the rewrite itself, not just
    // the match counts. Pure scan-stage projection + one small
    // groupBy — the cheapest distributed shape; on a real corpus the
    // pattern set grows (emails, phones, keys) but the shape doesn't.
    Q("q71_pii_redact", (s, d) => {
      piiAudit(t(s, d, "customer"), "c_mktsegment", "c_name")
        .orderBy(col("c_mktsegment"))
    }, Some(s"""
      SELECT c_mktsegment, count(*) AS n,
        CAST(SUM(len(regexp_extract_all(c_name, '[0-9]{4,}'))) AS BIGINT)
          AS n_hits,
        CAST(SUM(${sql.hmod("regexp_replace(c_name, '[0-9]{4,}', '<ID>', 'g')")})
          % $P AS BIGINT) AS redacted_sum
      FROM customer GROUP BY 1 ORDER BY 1""")),

    // Quality-filter funnel: the Gopher rule set applied CUMULATIVELY,
    // reporting per-stage surviving docs + tokens — the retention
    // table every pipeline paper publishes. One scan computes all six
    // rule inputs (native kernels), one global aggregate folds all
    // stages at once (12 conditional sums), stack() unpivots the
    // single row — no per-stage rescans, no shuffle of doc rows.
    // All thresholds are integer-exact (mean word length in [3,10] ⇔
    // 3·ntok ≤ wlen ≤ 10·ntok, etc.) so both engines agree bit-wise.
    Q("q72_filter_funnel", (s, d) => {
      funnelTable(funnelStats(t(s, d, "documents"), "text"))
    }, Some(s"""
      WITH pd AS (
        SELECT CAST(len(tk) AS BIGINT) ntok,
          CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT)
            nalpha,
          CAST(length(replace(text, ' ', '')) AS BIGINT) wlen,
          CAST(len(list_filter(tk, t -> list_contains($stopSetSql, t))) AS BIGINT)
            nstop,
          CAST(len(sg) AS BIGINT) ntotal,
          CAST(len(list_distinct(sg)) AS BIGINT) ndist
        FROM (SELECT text, tk, CASE WHEN len(tk) >= 3
                THEN [tk[i]||' '||tk[i+1]||' '||tk[i+2]
                      for i in generate_series(1, len(tk)-2)]
                ELSE [] END sg
              FROM (SELECT text,
                      list_filter(string_split(text,' '), x->x<>'') tk
                    FROM documents))),
      fl AS (
        SELECT *,
          (ntok >= 10) c1,
          (ntok >= 10 AND wlen >= ntok*3 AND wlen <= ntok*10) c2,
          (ntok >= 10 AND wlen >= ntok*3 AND wlen <= ntok*10
           AND nalpha*5 >= ntok*4) c3,
          (ntok >= 10 AND wlen >= ntok*3 AND wlen <= ntok*10
           AND nalpha*5 >= ntok*4 AND nstop >= 2) c4,
          (ntok >= 10 AND wlen >= ntok*3 AND wlen <= ntok*10
           AND nalpha*5 >= ntok*4 AND nstop >= 2
           AND (ntotal-ndist)*10 < ntotal*3) c5
        FROM pd)
      SELECT * FROM (
        SELECT '0_all' stage, CAST(count(*) AS BIGINT) docs,
               CAST(COALESCE(SUM(ntok),0) AS BIGINT) toks_kept FROM fl
        UNION ALL SELECT '1_min_tokens',
          CAST(SUM(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN c1 THEN ntok ELSE 0 END) AS BIGINT) FROM fl
        UNION ALL SELECT '2_word_len',
          CAST(SUM(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN c2 THEN ntok ELSE 0 END) AS BIGINT) FROM fl
        UNION ALL SELECT '3_alpha_ratio',
          CAST(SUM(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN c3 THEN ntok ELSE 0 END) AS BIGINT) FROM fl
        UNION ALL SELECT '4_stopwords',
          CAST(SUM(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN c4 THEN ntok ELSE 0 END) AS BIGINT) FROM fl
        UNION ALL SELECT '5_repetition',
          CAST(SUM(CASE WHEN c5 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN c5 THEN ntok ELSE 0 END) AS BIGINT) FROM fl)
      ORDER BY stage""")),

    // Deterministic sequence packing: the GPT-style concat-and-chunk
    // tokenizer stage, made distributed the way real pipelines do it —
    // shard by id hash, concatenate within each shard in a
    // hash-determined order, chunk at a fixed token budget. Reports
    // the packing accounting per shard (sequences produced, docs that
    // span a chunk boundary). The per-shard cumulative sum is the ONLY
    // inherently sequential step; sharding is the parallelism answer —
    // 32 shards here, O(100k) at 100 TB so each shard's window sorts a
    // bounded slice (this is the q64 lesson: never window over a
    // handful of partitions at scale).
    Q("q73_seq_packing", (s, d) => {
      val budget = 256L
      val pd = t(s, d, "documents")
        .select(col("doc_id"),
          (hmod(col("doc_id").cast("string")) % 32).as("shard"),
          hmod(concat(lit("pack:"), col("doc_id").cast("string"))).as("h"),
          size(tokens(col("text"))).cast(LongType).as("ntok"))
        .filter(col("ntok") > 0)
      val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pd.withColumn("cum", sum(col("ntok")).over(w))
        .withColumn("spans",
          expr(s"(cum - ntok) div $budget") =!= expr(s"(cum - 1) div $budget"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("docs"),
          sum(col("ntok")).as("total_tokens"),
          sum(when(col("spans"), 1L).otherwise(0L)).as("n_spanning"),
          expr(s"(max(cum) + ${budget - 1}) div $budget").as("n_seqs"))
        .orderBy(col("shard"))
    }, Some(s"""
      WITH pd AS (
        SELECT doc_id,
          ${sql.hmod("CAST(doc_id AS VARCHAR)")} % 32 shard,
          ${sql.hmod("'pack:'||CAST(doc_id AS VARCHAR)")} h,
          CAST(len(list_filter(string_split(text,' '), x->x<>'')) AS BIGINT) ntok
        FROM documents),
      cm AS (
        SELECT shard, ntok,
          SUM(ntok) OVER (PARTITION BY shard ORDER BY h, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
        FROM pd WHERE ntok > 0)
      SELECT shard, CAST(count(*) AS BIGINT) docs,
        CAST(SUM(ntok) AS BIGINT) total_tokens,
        CAST(SUM(CASE WHEN (cum - ntok) // 256 <> (cum - 1) // 256
                      THEN 1 ELSE 0 END) AS BIGINT) n_spanning,
        CAST((MAX(cum) + 255) // 256 AS BIGINT) n_seqs
      FROM cm GROUP BY 1 ORDER BY 1""")),

    // TF-IDF keyword extraction: top-1 term per document with a
    // RATIONAL idf (the q57 lesson — the raw odds ratio (N−df+0.5)/
    // (df+0.5) ranks identically to the log form but is bit-exact
    // cross-engine). Shape: token explode → (doc,term) tf counts with
    // map-side combine, term df counts, one broadcast scalar N, and
    // the per-doc argmax as a plain struct-min aggregate with the
    // tie-break encoded in field order (no window, no per-doc sort).
    Q("q74_tfidf_top1", (s, d) => {
      // exact-clone collapse (the Dedup-family doctrine): tf and the
      // top term are functions of text alone, and df — the number of
      // DOCS containing a term, the oracle's definition — equals the
      // sum of group sizes over the distinct texts containing it. The
      // exploded (doc_id, term) aggregation, this suite's one genuine
      // big shuffle (8.6× wall at sf10 in r5), shrinks by the clone
      // factor; every value is bit-identical (same integers into the
      // same double arithmetic), so the oracle is unchanged.
      val docs = t(s, d, "documents")
      val withGid = docs.withColumn("gid",
        min(col("doc_id")).over(Window.partitionBy(col("text"))))
      val members = withGid.select(col("gid"), col("doc_id"))
        .cut() // referenced by sizes and the expansion
      val reps = withGid.filter(col("doc_id") === col("gid"))
        .select(col("gid"), col("text"))
      val sizes = members.groupBy(col("gid")).agg(count(lit(1)).as("gsz"))
      val ex = reps.select(col("gid"), explode(tokens(col("text"))).as("term"))
      val tf = ex.groupBy(col("gid"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfc = tf.join(sizes, "gid")
        .groupBy(col("term")).agg(sum(col("gsz")).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(dfc, "term").crossJoin(broadcast(n))
        .withColumn("score",
          col("tf").cast(DoubleType) *
            ((col("n").cast(DoubleType) - col("df").cast(DoubleType) + lit(0.5)) /
              (col("df").cast(DoubleType) + lit(0.5))))
      val top = scored.groupBy(col("gid"))
        .agg(min(struct((-col("score")).as("ns"), col("term").as("term"),
          col("tf").as("tf"), col("df").as("df"))).as("m"))
      members.join(top, "gid")
        .select(col("doc_id"), col("m.term").as("top_term"),
          col("m.tf").as("tf"), col("m.df").as("df"),
          (-col("m.ns")).as("score"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH ex AS (
        SELECT doc_id, unnest(list_filter(string_split(text,' '), x->x<>'')) term
        FROM documents),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) tf
             FROM ex GROUP BY 1, 2),
      dfc AS (SELECT term, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
      n AS (SELECT count(*) n FROM documents),
      sc AS (
        SELECT doc_id, term, tf, df,
          CAST(tf AS DOUBLE) *
            ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5::DOUBLE) /
             (CAST(df AS DOUBLE) + 0.5::DOUBLE)) score,
          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) rk
        FROM tf JOIN dfc USING (term), n)
      SELECT doc_id, term AS top_term, tf, df, score
      FROM sc WHERE rk = 1 ORDER BY doc_id""")),

    // Cross-corpus exact block dedup (the tractable form of RefinedWeb
    // exact-substring dedup): hash non-overlapping 8-token blocks per
    // doc in the scan stage (BlockHash kernel — one streamed md5 per
    // block; the transform-lambda form ran an interpreted closure per
    // block that re-sliced + re-joined the token array each time),
    // count each block hash corpus-wide, report per-doc
    // duplicated-block counts. The corpus count is TWO-LEVEL: a
    // partial+final groupBy(h) (map-side combine collapses a mega-hot
    // boilerplate block before the shuffle) then an equi-join back of
    // only the c>1 hashes — the window-over-h form put every instance
    // of a hot block hash in ONE task with no AQE rescue, while the
    // join path is skew-split at runtime. The scan+kernel subtree is
    // recomputed per join side (self-join rule) but is codegen-cheap.
    // 279 duplicate block instances exist in this corpus (planted
    // near-dup pairs share runs >= 8 tokens).
    Q("q75_block_dedup", (s, d) => {
      val B = 8
      val ex = t(s, d, "documents")
        .select(col("doc_id"),
          explode_outer(TextExprs.blockHash(tokens(col("text")), B)).as("h"))
      val dup = ex.filter(col("h").isNotNull)
        .groupBy(col("h")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select(col("h").as("dh"))
      ex.join(dup, col("h") === col("dh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(col("h")).as("n_blocks"),
          sum(when(col("dh").isNotNull, 1L).otherwise(0L)).as("n_dup"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      bl AS (SELECT doc_id, CASE WHEN len(tk) >= 8
               THEN [${sql.hmod("array_to_string(tk[(j-1)*8+1 : j*8], ' ')")}
                     for j in generate_series(1, len(tk)//8)]
               ELSE [] END bh FROM tk),
      ex AS (SELECT doc_id, unnest(bh) h FROM bl),
      cnt AS (SELECT h, count(*) c FROM ex GROUP BY 1),
      dup AS (SELECT doc_id, SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) nd
              FROM ex JOIN cnt USING (h) GROUP BY 1)
      SELECT b.doc_id, CAST(len(bh) AS BIGINT) n_blocks,
             CAST(COALESCE(nd, 0) AS BIGINT) n_dup
      FROM bl b LEFT JOIN dup USING (doc_id) ORDER BY doc_id""")),

    // Train/eval decontamination (GPT-3 §5 / PaLM app.): does any
    // held-out doc share a word-5-gram with the train split? Reuses
    // q58's hash split (train <80, test ≥90), distinct shingle hashes
    // per side, LEFT SEMI join test-shingles against the train set —
    // the exact shape at 100 TB (the train set is big, so it stays a
    // shuffled equi-join; nothing is collected). Reports per test doc
    // its shingle count and how many are contaminated.
    Q("q76_decontaminate", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        (hmod(col("doc_id").cast("string")) % 100).as("bucket"),
        shingles(tokens(col("text")), 5, distinct = true).as("sg"))
      val train = docs.filter(col("bucket") < 80)
        .select(explode(col("sg")).as("sh"))
        .select(hmod(col("sh")).as("h")).distinct()
        .withColumn("hit", lit(1L))
      // explode_outer + left join: ONE test-side scan yields both the
      // per-doc shingle count and the hit count (the semi-join +
      // re-scan-for-base form computed the shingle arrays twice)
      docs.filter(col("bucket") >= 90)
        .select(col("doc_id"), explode_outer(col("sg")).as("sh"))
        .select(col("doc_id"), hmod(col("sh")).as("h"))
        .join(train, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(col("h")).as("n_shingles"),
          coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
        .orderBy(col("doc_id"))
    }, Some(decontOracleSql)),

    // Deterministic stratified sampling with audit accounting: each
    // stratum (language) gets its own keep rate, the keep decision is
    // a pure hash of the doc id (salted independently of q58's split
    // hash), and the gate reports per-stratum totals plus an id
    // checksum of the KEPT set — proving membership, not just counts.
    // This is the downsample-the-dominant-language step of a corpus
    // mix (e.g. C4/ROOTS rebalancing). 100 TB shape: the decision is
    // scan-stage per-row arithmetic (no shuffle, streamable, stable
    // under repartitioning/re-runs); the audit is one tiny groupBy.
    Q("q79_stratified_sample", (s, d) => {
      stratifiedSampleAudit(t(s, d, "documents"))
        .orderBy(col("lang"))
    }, Some(s"""
      WITH s AS (
        SELECT lang, n_chars, doc_id,
          ${sql.hmod("'sample:'||CAST(doc_id AS VARCHAR)")} % 1000
            < CASE WHEN lang = 'en' THEN 250 ELSE 600 END AS kept
        FROM documents)
      SELECT lang, count(*) AS n_total,
        CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN kept THEN ${sql.hmod("CAST(doc_id AS VARCHAR)")}
                 ELSE 0 END) % ${P} AS BIGINT) AS kept_checksum,
        CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      FROM s GROUP BY lang ORDER BY lang""")),

    // Hashed-n-gram importance weights (the DSIR shape, Xie et al.
    // 2023 "Data Selection for Language Models via Importance
    // Resampling"): hash unigrams into B=128 buckets, estimate
    // target (lang='en') vs background bucket frequencies with +1
    // smoothing, score each doc by the ratio of its token-weighted
    // bucket masses. Exactness: the score is a single IEEE division
    // of two int64 sums (never a float accumulation, never a log) —
    // bit-identical across engines and partitionings. 100 TB shape:
    // the bucket table is BOUNDED at B rows regardless of corpus
    // size → broadcast hash join against the token stream; per-doc
    // sums partial-aggregate before the doc_id shuffle (tokens of a
    // doc are co-located after explode); top-k is TakeOrdered, no
    // global sort.
    Q("q80_importance_weights", (s, d) => {
      val ex = dsirFeatures(t(s, d, "documents"))
      dsirWeights(ex, dsirBuckets(ex))
        .orderBy(col("weight").desc, col("doc_id"))
        .limit(25)
    }, Some(s"""
      WITH tk AS (SELECT doc_id, lang,
                    list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      ex AS (SELECT doc_id, lang, ${sql.hmod("tok")} % 128 f
             FROM (SELECT doc_id, lang, unnest(tk) tok FROM tk)),
      b AS (SELECT f,
              SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) + 1 tc,
              COUNT(*) - SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) + 1 bc
            FROM ex GROUP BY 1),
      sc AS (SELECT doc_id, CAST(SUM(tc) AS BIGINT) num,
               CAST(SUM(bc) AS BIGINT) den
             FROM ex JOIN b USING (f) GROUP BY 1)
      SELECT doc_id, num, den, CAST(num AS DOUBLE) / den AS weight
      FROM sc ORDER BY weight DESC, doc_id LIMIT 25""")),

    // Decontamination again (same EXACT output and oracle as q76) but
    // through the physical strategy that wins when the corpus dwarfs
    // the eval suite: the eval side is SMALL, so build a Bloom filter
    // of its shingle hashes on the driver (bounded: |eval shingles| ·
    // ~10 bits), ship it inside a codegen expression, and prune the
    // TRAIN side in its scan stage — only probable hits (true matches
    // + fpp·|train|) survive to the distinct+join, instead of every
    // distinct train shingle shuffling corpus-wide. The exact
    // equi-join afterwards eliminates Bloom false positives, so the
    // gate result is bit-identical to q76's. q76 keeps the
    // no-prefilter form (right when BOTH sides are large).
    Q("q82_decontaminate_bloom", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        (hmod(col("doc_id").cast("string")) % 100).as("bucket"),
        shingles(tokens(col("text")), 5, distinct = true).as("sg"))
      val testEx = docs.filter(col("bucket") >= 90)
        .select(col("doc_id"), explode_outer(col("sg")).as("sh"))
        .select(col("doc_id"), hmod(col("sh")).as("h"))
      // construction-time jobs (query BUILDING runs them eagerly, so
      // plan-only inspections pay them too): one count to SIZE the
      // filter — a fixed capacity would be a silent fpp/perf cliff
      // once the eval suite outgrows it — then the bloomFilter
      // aggregation itself. Both scan only the small eval side; the
      // downstream exact join keeps the result correct at ANY fpp.
      val evalHashes = testEx.filter(col("h").isNotNull)
      val bf = evalHashes.stat.bloomFilter("h",
        math.max(1000L, evalHashes.count()), 0.01)
      val train = docs.filter(col("bucket") < 80)
        .select(explode(col("sg")).as("sh"))
        .select(hmod(col("sh")).as("h"))
        .filter(graft.functions.BloomExprs.mightContain(col("h"), bf))
        .distinct()
        .withColumn("hit", lit(1L))
      testEx.join(train, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(col("h")).as("n_shingles"),
          coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
        .orderBy(col("doc_id"))
    }, Some(decontOracleSql)),

    // token-budget source mixing: bounded per-source totals →
    // integer-div rates (src0's boosted share caps at 1000 ‰, src1
    // lands mid-range, the default share downsamples the rest) →
    // scan-stage keep decision + monoid audit
    Q("q85_source_mix", (s, d) => {
      sourceMixSample(t(s, d, "documents"), 8000L,
        Map("src0" -> 200L, "src1" -> 150L), 30L)
        .orderBy(col("source"))
    }, Some(s"""
      WITH tk AS (SELECT source, doc_id,
                    CAST(len(list_filter(string_split(text,' '), x->x<>'')) AS BIGINT) ntok
                  FROM documents),
      tot AS (SELECT source, CAST(SUM(ntok) AS BIGINT) src_tokens FROM tk GROUP BY 1),
      rt AS (SELECT source, src_tokens,
               CAST(least(1000, (8000 * (CASE source WHEN 'src0' THEN 200
                                         WHEN 'src1' THEN 150 ELSE 30 END)) // src_tokens)
                    AS BIGINT) rate
             FROM tot),
      s AS (SELECT t.source, t.doc_id, t.ntok, r.src_tokens, r.rate,
              ${sql.hmod("'mix:'||CAST(doc_id AS VARCHAR)")} % 1000 < r.rate AS kept
            FROM tk t JOIN rt r USING (source))
      SELECT source,
        CAST(max(src_tokens) AS BIGINT) AS src_tokens,
        CAST(max(rate) AS BIGINT) AS rate,
        count(*) AS n_total,
        CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT) AS kept_tokens,
        CAST(SUM(CASE WHEN kept THEN ${sql.hmod("CAST(doc_id AS VARCHAR)")}
                 ELSE 0 END) % ${P} AS BIGINT) AS kept_checksum
      FROM s GROUP BY source ORDER BY source""")),

    // deterministic global shuffle into 32 training shards — the
    // order-sensitive checksum pins the exact permutation each shard
    // writer would emit
    Q("q87_shard_shuffle", (s, d) => {
      shardAudit(t(s, d, "documents"))
        .orderBy(col("shard"))
    }, Some(s"""
      WITH a AS (SELECT doc_id,
                   ${sql.hmod("'shard:'||CAST(doc_id AS VARCHAR)")} % 32 shard,
                   ${sql.hmod("'pos:'||CAST(doc_id AS VARCHAR)")} skey
                 FROM documents),
      p AS (SELECT shard, doc_id,
              CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
                   AS BIGINT) pos
            FROM a)
      SELECT shard, count(*) AS n_docs,
        CAST(SUM((pos * (${sql.hmod("CAST(doc_id AS VARCHAR)")} % 1000000)) % ${P})
             % ${P} AS BIGINT) AS order_checksum
      FROM p GROUP BY shard ORDER BY shard""")),

    // learned-quality-classifier inference: hashed bag-of-words ×
    // broadcast int64 weight table → exact per-doc score + keep
    // decision (the weights here are a deterministic hash-derived
    // stand-in for an exported model — the gate pins the INFERENCE
    // plumbing: featurization, broadcast join, exact scoring)
    Q("q88_quality_classifier", (s, d) => {
      val w = s.range(512).select(col("id").as("bucket"),
        (hmod(concat(lit("w:"), col("id").cast("string"))) % 2001L - 1000L).as("w"))
      classifierScore(t(s, d, "documents"), w)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      ex AS (SELECT doc_id, unnest(tk) tok FROM tk),
      f AS (SELECT doc_id, ${sql.hmod("'qw:'||tok")} % 512 b FROM ex),
      w AS (SELECT b, ${sql.hmod("'w:'||CAST(b AS VARCHAR)")} % 2001 - 1000 w
            FROM generate_series(0,511) g(b)),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) ntok,
                     CAST(SUM(w.w) AS BIGINT) score_num
              FROM f JOIN w USING (b) GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(p.ntok, 0) AS BIGINT) AS ntok,
        CAST(COALESCE(p.score_num, 0) AS BIGINT) AS score_num,
        CASE WHEN COALESCE(p.ntok, 0) > 0
             THEN CAST(p.score_num AS DOUBLE) / p.ntok
             ELSE 0.0::DOUBLE END AS score,
        (COALESCE(p.ntok, 0) > 0 AND COALESCE(p.score_num, 0) >= 0) AS keep
      FROM documents d LEFT JOIN per p USING (doc_id) ORDER BY doc_id""")),

    // vocabulary construction + OOV filter: top-16 corpus vocab with
    // a total tie-break order, broadcast membership, integer keep
    // decision (this corpus draws from a 31-token pool, so V=16 is
    // the discriminating half — OOV rates span 0.18-0.77)
    Q("q90_vocab_oov", (s, d) => {
      vocabOovAudit(t(s, d, "documents"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      ex AS (SELECT doc_id, unnest(tk) tok FROM tk),
      v AS (SELECT tok FROM (SELECT tok, count(*) c FROM ex
                             GROUP BY 1 ORDER BY c DESC, tok LIMIT 16)),
      per AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) ntok,
                CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  n_oov
              FROM ex e LEFT JOIN v ON e.tok = v.tok GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(ntok, 0) AS BIGINT) AS ntok,
        CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
        CASE WHEN COALESCE(ntok, 0) > 0
             THEN CAST(n_oov AS DOUBLE) / ntok
             ELSE 0.0::DOUBLE END AS oov_rate,
        (COALESCE(ntok, 0) > 0 AND COALESCE(n_oov, 0) * 1000 <= ntok * 450)
          AS keep
      FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""")),

    // unigram-commonness score (the rational perplexity-filter
    // stand-in): mean corpus frequency of each doc's token instances,
    // threshold 900 splits this corpus 415 keep / 85 drop
    Q("q91_commonness", (s, d) => {
      commonnessScore(t(s, d, "documents"), threshold = 900L)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      ex AS (SELECT doc_id, unnest(tk) tok FROM tk),
      freq AS (SELECT tok, CAST(count(*) AS BIGINT) cnt FROM ex GROUP BY 1),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) ntok,
                CAST(SUM(cnt) AS BIGINT) num
              FROM ex JOIN freq USING (tok) GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(ntok, 0) AS BIGINT) AS ntok,
        CAST(COALESCE(num, 0) AS BIGINT) AS num,
        CASE WHEN COALESCE(ntok, 0) > 0
             THEN CAST(num AS DOUBLE) / ntok
             ELSE 0.0::DOUBLE END AS score,
        (COALESCE(ntok, 0) > 0 AND COALESCE(num, 0) >= 900 * ntok) AS keep
      FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""")),

    // per-source doc cap through the TopKPerKey bounded-heap
    // operator: 20 sources × 25 docs capped at 10 — the membership
    // checksum pins WHICH ten survive, proving the deterministic
    // hash order, not just the counts
    Q("q92_source_cap", (s, d) => {
      sourceCapAudit(t(s, d, "documents"))
        .orderBy(col("source"))
    }, Some(s"""
      WITH a AS (SELECT source, doc_id,
                   ${sql.hmod("'cap:'||CAST(doc_id AS VARCHAR)")} hkey
                 FROM documents),
      r AS (SELECT source, doc_id,
              row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id) rk
            FROM a),
      kept AS (SELECT source, CAST(count(*) AS BIGINT) n_kept,
                 CAST(SUM(${sql.hmod("CAST(doc_id AS VARCHAR)")}) % ${P}
                      AS BIGINT) kept_checksum
               FROM r WHERE rk <= 10 GROUP BY 1)
      SELECT t.source, t.n_total,
        CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
        CAST(COALESCE(kept_checksum, 0) AS BIGINT) AS kept_checksum
      FROM (SELECT source, count(*) n_total FROM documents GROUP BY 1) t
      LEFT JOIN kept USING (source) ORDER BY source""")),

    // C4 §2.2 destructive span dedup: keep only the corpus-wide FIRST
    // occurrence of each 8-token block (argmin via struct-min, not a
    // window sort), rewritten token count + positional membership
    // checksum. 144 block instances across 24 docs lose to an earlier
    // occurrence on this corpus (the planted near-dup pairs' shared
    // runs ≥ 8 tokens — same signal q75 counts, here removed)
    Q("q96_span_dedup", (s, d) => {
      spanDedupAudit(t(s, d, "documents"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      bl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) ntok,
               CASE WHEN len(tk) >= 8
                 THEN [{'j': j,
                        'h': ${sql.hmod("array_to_string(tk[(j-1)*8+1 : j*8], ' ')")}}
                       for j in generate_series(1, len(tk)//8)]
                 ELSE [] END bs
             FROM tk),
      ex AS (SELECT doc_id, u.j j, u.h h
             FROM (SELECT doc_id, unnest(bs) u FROM bl)),
      fo AS (SELECT h, doc_id fd, j fj FROM (
               SELECT h, doc_id, j,
                      row_number() OVER (PARTITION BY h ORDER BY doc_id, j) rn
               FROM ex)
             WHERE rn = 1),
      per AS (SELECT e.doc_id,
                CAST(count(*) AS BIGINT) n_blocks,
                CAST(SUM(CASE WHEN e.doc_id = f.fd AND e.j = f.fj
                         THEN 0 ELSE 1 END) AS BIGINT) n_removed,
                CAST(SUM(CASE WHEN e.doc_id = f.fd AND e.j = f.fj
                         THEN ((e.h % 1000000) * e.j) % ${P} ELSE 0 END)
                     % ${P} AS BIGINT) kept_checksum
              FROM ex e JOIN fo f USING (h) GROUP BY 1)
      SELECT b.doc_id,
        CAST(COALESCE(n_blocks, 0) AS BIGINT) AS n_blocks,
        CAST(COALESCE(n_removed, 0) AS BIGINT) AS n_removed,
        CAST(b.ntok - 8*COALESCE(n_removed, 0) AS BIGINT) AS kept_tokens,
        CAST(COALESCE(kept_checksum, 0) AS BIGINT) AS kept_checksum
      FROM bl b LEFT JOIN per USING (doc_id) ORDER BY doc_id""")),

    // BPE merge-rule training (Sennrich 2016): 8 argmax-pair→merge
    // rounds over the corpus word table; the oracle replays the WHOLE
    // trajectory in a recursive CTE (the q77 pattern) — same ␟␟
    // string segmentation, same sequential replace, same
    // (count desc, pair asc) tie-break. Output is the learned rule
    // per round + weighted pair count + corpus distinct-symbol count
    // after the merge; on this corpus the trajectory runs e+r, i+n,
    // o+w, o+r, s+t, m+er, a+t, l+u with non-increasing counts
    Q("q97_bpe_train", (s, d) => {
      import s.implicits._
      graft.operators.BpeOp.train(t(s, d, "documents"), rounds = 8)
        .map(m => (m.round.toLong, m.left, m.right, m.pairN, m.nSyms))
        .toDF("round", "left_sym", "right_sym", "pair_n", "n_syms")
        .orderBy(col("round"))
    }, Some(s"""
      WITH RECURSIVE $bpeCtes,
      ex2 AS (SELECT iter, ml, mr, mc,
                     unnest(list_filter(string_split(t, chr(31)), x -> x <> '')) AS sym
              FROM seg WHERE iter >= 1)
      SELECT CAST(iter AS BIGINT) AS round,
             MIN(ml) AS left_sym, MIN(mr) AS right_sym,
             CAST(MIN(mc) AS BIGINT) AS pair_n,
             CAST(COUNT(DISTINCT sym) AS BIGINT) AS n_syms
      FROM ex2 GROUP BY 1 ORDER BY 1""")),

    // BPE encoding with the learned rules (Sennrich's apply_bpe:
    // fold merges in learned order): per-doc subtoken counts,
    // fertility (one int64/int64 IEEE division) and an
    // order-independent segmentation checksum. Oracle reuses the q97
    // trajectory CTE — encoding the training corpus IS its round-8
    // segmentation, so `fin` reads seg at iter = 8
    Q("q98_bpe_encode", (s, d) => {
      val docs = t(s, d, "documents")
      val merges = graft.operators.BpeOp.train(docs, rounds = 8)
        .map(m => (m.left, m.right))
      graft.operators.BpeOp.encode(docs, merges)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE $bpeCtes,
      wk AS (SELECT word,
               CAST(len(list_filter(string_split(t, chr(31)), x -> x <> ''))
                    AS BIGINT) k,
               ${sql.hmod("t")} h
             FROM seg WHERE iter = 8),
      ex AS (SELECT doc_id,
                    unnest(list_filter(string_split(text,' '), x->x<>'')) tok
             FROM documents),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) ntok,
                     CAST(SUM(k) AS BIGINT) n_subtok,
                     CAST(SUM(h) % ${P} AS BIGINT) subtok_checksum
              FROM ex JOIN wk ON ex.tok = wk.word GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(ntok, 0) AS BIGINT) AS ntok,
        CAST(COALESCE(n_subtok, 0) AS BIGINT) AS n_subtok,
        CASE WHEN COALESCE(ntok, 0) > 0
             THEN CAST(n_subtok AS DOUBLE) / ntok
             ELSE 0.0::DOUBLE END AS fertility,
        CAST(COALESCE(subtok_checksum, 0) AS BIGINT) AS subtok_checksum
      FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""")),

    // epoch planning (data-constrained training): budget 40k tokens
    // against ~1.4k tokens/source — src0 at 100‰ repeats 2 full
    // epochs, src1 at 50‰ exactly 1, the default 10‰ stays sub-epoch
    // (pure sampling): all three regimes live; integer floor
    // division throughout
    Q("q99_epoch_plan", (s, d) => {
      epochPlan(t(s, d, "documents"), 40000L,
        Map("src0" -> 100L, "src1" -> 50L), 10L)
        .orderBy(col("source"))
    }, Some(s"""
      WITH tk AS (SELECT source, doc_id,
                    CAST(len(list_filter(string_split(text,' '), x->x<>''))
                         AS BIGINT) ntok
                  FROM documents),
      tot AS (SELECT source, CAST(SUM(ntok) AS BIGINT) src_tokens
              FROM tk GROUP BY 1),
      pl AS (SELECT source, src_tokens,
               (CAST(40000 AS BIGINT) *
                (CASE source WHEN 'src0' THEN 100
                             WHEN 'src1' THEN 50 ELSE 10 END)) // 1000
                 AS budget_s
             FROM tot),
      p2 AS (SELECT source, src_tokens,
               budget_s // src_tokens AS epochs,
               ((budget_s % src_tokens) * 1000) // src_tokens AS rem_rate
             FROM pl),
      s AS (SELECT t.source, t.doc_id, t.ntok,
                   p.src_tokens, p.epochs, p.rem_rate,
                   ${sql.hmod("'epoch:'||CAST(doc_id AS VARCHAR)")} % 1000
                     < p.rem_rate AS kept
            FROM tk t JOIN p2 p USING (source))
      SELECT source,
        CAST(max(src_tokens) AS BIGINT) AS src_tokens,
        CAST(max(epochs) AS BIGINT) AS epochs,
        CAST(max(rem_rate) AS BIGINT) AS rem_rate,
        count(*) AS n_total,
        CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        CAST(max(epochs) * max(src_tokens) +
             SUM(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT)
          AS planned_tokens,
        CAST(SUM(CASE WHEN kept THEN ${sql.hmod("CAST(doc_id AS VARCHAR)")}
                 ELSE 0 END) % ${P} AS BIGINT) AS sampled_checksum
      FROM s GROUP BY source ORDER BY source""")),

    // the tokenizer-family capstone (q94's composition pattern):
    // train BPE (q97) → encode every doc (q98) → pack the SUBTOKEN
    // stream into fixed 256-subtoken training sequences across 8
    // shards (q73's shard-window shape over n_subtok instead of
    // whitespace tokens) — raw text to model-ready sequence
    // accounting in one audited plan
    Q("q100_bpe_pack", (s, d) => {
      val docs = t(s, d, "documents")
      val merges = graft.operators.BpeOp.train(docs, rounds = 8)
        .map(m => (m.left, m.right))
      val pd = graft.operators.BpeOp.encode(docs, merges)
        .select(col("doc_id"),
          (hmod(col("doc_id").cast("string")) % 8).as("shard"),
          hmod(concat(lit("pack:"), col("doc_id").cast("string"))).as("h"),
          col("n_subtok"))
        .filter(col("n_subtok") > 0)
      val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pd.withColumn("cum", sum(col("n_subtok")).over(w))
        .withColumn("spans",
          expr("(cum - n_subtok) div 256") =!= expr("(cum - 1) div 256"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_subtok")).as("total_subtok"),
          sum(when(col("spans"), 1L).otherwise(0L)).as("n_spanning"),
          expr("(max(cum) + 255) div 256").as("n_seqs"))
        .orderBy(col("shard"))
    }, Some(s"""
      WITH RECURSIVE $bpeCtes,
      wk AS (SELECT word,
               CAST(len(list_filter(string_split(t, chr(31)), x -> x <> ''))
                    AS BIGINT) k
             FROM seg WHERE iter = 8),
      exd AS (SELECT doc_id,
                     unnest(list_filter(string_split(text,' '), x->x<>'')) tok
              FROM documents),
      per AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) n_subtok
              FROM exd JOIN wk ON exd.tok = wk.word GROUP BY 1),
      pd AS (SELECT doc_id,
               ${sql.hmod("CAST(doc_id AS VARCHAR)")} % 8 shard,
               ${sql.hmod("'pack:'||CAST(doc_id AS VARCHAR)")} h,
               n_subtok
             FROM per WHERE n_subtok > 0),
      cm AS (SELECT shard, n_subtok,
               SUM(n_subtok) OVER (PARTITION BY shard ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
             FROM pd)
      SELECT shard, CAST(count(*) AS BIGINT) docs,
        CAST(SUM(n_subtok) AS BIGINT) total_subtok,
        CAST(SUM(CASE WHEN (cum - n_subtok) // 256 <> (cum - 1) // 256
                      THEN 1 ELSE 0 END) AS BIGINT) n_spanning,
        CAST((MAX(cum) + 255) // 256 AS BIGINT) n_seqs
      FROM cm GROUP BY 1 ORDER BY 1""")),

    // parallel quality-ensemble vote (the FineWeb/DataComp practice:
    // independent quality signals each vote, majority keeps — q72's
    // CASCADE made a parallel combinator): Gopher stage-5, the
    // learned classifier, OOV rate and commonness each vote per doc,
    // keep at ≥ 3 of 4. SHARED-SUBTREE FORM (r8): one cut()
    // (gid, tok, tf) table feeds all four votes instead of each
    // vote re-collapsing and re-tokenizing the corpus — same-JVM
    // min-of-passes A/B: 1.57× at sf0.1, 1.79× at sf1 (r8 A/B);
    // PipelineSpec pins ensemble ≡ composition column-for-column
    Q("q101_quality_ensemble", (s, d) => {
      val w = s.range(512).select(col("id").as("bucket"),
        (hmod(concat(lit("w:"), col("id").cast("string"))) % 2001L - 1000L)
          .as("w"))
      qualityEnsemble(t(s, d, "documents"), w, commonThreshold = 900L)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, text,
                    list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      gp AS (SELECT doc_id,
               (ntok >= 10 AND wlen >= ntok*3 AND wlen <= ntok*10
                AND nalpha*5 >= ntok*4 AND nstop >= 2
                AND (ntotal-ndist)*10 < ntotal*3) v_gopher
             FROM (
               SELECT doc_id, CAST(len(tk) AS BIGINT) ntok,
                 CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))
                      AS BIGINT) nalpha,
                 CAST(length(replace(text, ' ', '')) AS BIGINT) wlen,
                 CAST(len(list_filter(tk, t -> list_contains($stopSetSql, t)))
                      AS BIGINT) nstop,
                 CAST(len(sg) AS BIGINT) ntotal,
                 CAST(len(list_distinct(sg)) AS BIGINT) ndist
               FROM (SELECT doc_id, text, tk, CASE WHEN len(tk) >= 3
                       THEN [tk[i]||' '||tk[i+1]||' '||tk[i+2]
                             for i in generate_series(1, len(tk)-2)]
                       ELSE [] END sg
                     FROM tk))),
      exq AS (SELECT doc_id, unnest(tk) tok FROM tk),
      fq AS (SELECT doc_id, ${sql.hmod("'qw:'||tok")} % 512 b FROM exq),
      wq AS (SELECT b, ${sql.hmod("'w:'||CAST(b AS VARCHAR)")} % 2001 - 1000 w
             FROM generate_series(0,511) g(b)),
      cv AS (SELECT doc_id, CAST(count(*) AS BIGINT) ntok,
                    CAST(SUM(wq.w) AS BIGINT) num
             FROM fq JOIN wq USING (b) GROUP BY 1),
      vq AS (SELECT tok FROM (SELECT tok, count(*) c FROM exq
                              GROUP BY 1 ORDER BY c DESC, tok LIMIT 16)),
      ov AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) ntok,
                    CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                         AS BIGINT) n_oov
             FROM exq e LEFT JOIN vq v ON e.tok = v.tok GROUP BY 1),
      fr AS (SELECT tok, CAST(count(*) AS BIGINT) cnt FROM exq GROUP BY 1),
      cm2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) ntok,
                     CAST(SUM(cnt) AS BIGINT) num
              FROM exq JOIN fr USING (tok) GROUP BY 1),
      votes AS (SELECT d.doc_id,
          COALESCE(g.v_gopher, FALSE) AS v_gopher,
          (COALESCE(c.ntok, 0) > 0 AND COALESCE(c.num, 0) >= 0)
            AS v_classifier,
          (COALESCE(o.ntok, 0) > 0 AND COALESCE(o.n_oov, 0) * 1000
             <= o.ntok * 450) AS v_oov,
          (COALESCE(m.ntok, 0) > 0 AND COALESCE(m.num, 0) >= 900 * m.ntok)
            AS v_common
        FROM documents d
        LEFT JOIN gp g USING (doc_id) LEFT JOIN cv c USING (doc_id)
        LEFT JOIN ov o USING (doc_id) LEFT JOIN cm2 m USING (doc_id))
      SELECT doc_id, v_gopher, v_classifier, v_oov, v_common,
        CAST((CASE WHEN v_gopher THEN 1 ELSE 0 END +
              CASE WHEN v_classifier THEN 1 ELSE 0 END +
              CASE WHEN v_oov THEN 1 ELSE 0 END +
              CASE WHEN v_common THEN 1 ELSE 0 END) AS BIGINT) AS n_votes,
        ((CASE WHEN v_gopher THEN 1 ELSE 0 END +
          CASE WHEN v_classifier THEN 1 ELSE 0 END +
          CASE WHEN v_oov THEN 1 ELSE 0 END +
          CASE WHEN v_common THEN 1 ELSE 0 END) >= 3) AS keep
      FROM votes ORDER BY doc_id""")),

    // maximal repeated-span report (Lee et al. 2021 ExactSubstr
    // audit): sliding 8-token windows (shift-invariant, unlike the
    // blocked q75/q96 hashes), duplicated windows merged into maximal
    // per-doc spans via per-doc-local gaps-and-islands — both engines
    // run the IDENTICAL window SQL (max-over-preceding then running
    // sum), and every output is integer-exact
    Q("q103_repeated_spans", (s, d) => {
      repeatedSpanAudit(t(s, d, "documents"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      sg AS (SELECT doc_id, CASE WHEN len(tk) >= 8
               THEN [{'p': i,
                      'h': ${sql.hmod("array_to_string(tk[i : i+7], ' ')")}}
                     for i in generate_series(1, len(tk)-7)]
               ELSE [] END ws
             FROM tk),
      ex AS (SELECT doc_id, u.p p, u.h h
             FROM (SELECT doc_id, unnest(ws) u FROM sg)),
      dup AS (SELECT h FROM ex GROUP BY h HAVING count(*) > 1),
      fl AS (SELECT doc_id, p,
               max(p + 7) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pe
             FROM ex JOIN dup USING (h)),
      il AS (SELECT doc_id, p,
               SUM(CASE WHEN pe IS NULL OR p > pe + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p) isl
             FROM fl),
      sp AS (SELECT doc_id, isl, min(p) s, max(p) + 7 e
             FROM il GROUP BY 1, 2),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_spans,
                CAST(SUM(e - s + 1) AS BIGINT) dup_tokens,
                CAST(SUM((s*4096 + e) % ${P}) % ${P} AS BIGINT) span_checksum
              FROM sp GROUP BY 1)
      SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS ntok,
        CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
        CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
        CAST(COALESCE(span_checksum, 0) AS BIGINT) AS span_checksum
      FROM tk t LEFT JOIN per USING (doc_id) ORDER BY doc_id""")),

    // content-defined-chunk dedup report (LBFS boundary rule over
    // word tokens): chunk ends where hmod(token) % 16 = 0 or at
    // end-of-doc; the oracle replays boundary selection and chunk
    // hashing with list comprehensions — 1381 chunks, 153 duplicated
    // instances on this corpus (the planted near-dup pairs' shared
    // runs re-align across the edits, which fixed blocks cannot)
    Q("q104_cdc_chunks", (s, d) => {
      cdcChunkAudit(t(s, d, "documents"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      bd AS (SELECT doc_id, tk,
               [i for i in generate_series(1, len(tk))
                if (${sql.hmod("tk[i]")}) % 16 = 0 OR i = len(tk)] ends
             FROM tk),
      ch AS (SELECT doc_id,
               [${sql.hmod(
                 "array_to_string(tk[CASE WHEN j = 1 THEN 1 ELSE ends[j-1]+1 END : ends[j]], ' ')")}
                for j in generate_series(1, len(ends))] chs
             FROM bd),
      ex AS (SELECT doc_id, unnest(chs) h FROM ch),
      cnt AS (SELECT h, count(*) c FROM ex GROUP BY 1),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_chunks,
                CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) n_dup,
                CAST(SUM(CASE WHEN c > 1 THEN h % 1000000 ELSE 0 END) % ${P}
                     AS BIGINT) dup_checksum
              FROM ex JOIN cnt USING (h) GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks,
        CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup,
        CAST(COALESCE(dup_checksum, 0) AS BIGINT) AS dup_checksum
      FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""")),

    // bigram-LM fluency score (the conditional-probability rung above
    // q91's unigram commonness): ⌊10⁶·c₂/c₁⌋ per transition, exact
    // int64 sums; threshold 34500 ppm splits this corpus 254 keep /
    // 246 drop
    Q("q109_bigram_lm", (s, d) => {
      bigramLmScore(t(s, d, "documents"), threshold = 34500L)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      bgl AS (SELECT doc_id, CASE WHEN len(tk) >= 2
                THEN [tk[i]||' '||tk[i+1] for i in generate_series(1, len(tk)-1)]
                ELSE [] END bs FROM tk),
      ex AS (SELECT doc_id, unnest(bs) bg FROM bgl),
      c2 AS (SELECT bg, CAST(count(*) AS BIGINT) c2 FROM ex GROUP BY 1),
      c1 AS (SELECT split_part(bg,' ',1) pr, CAST(SUM(c2) AS BIGINT) c1
             FROM c2 GROUP BY 1),
      r AS (SELECT bg, CAST((1000000*c2) // c1 AS BIGINT) r
            FROM c2 JOIN c1 ON split_part(c2.bg,' ',1) = c1.pr),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) nbg,
                CAST(SUM(r.r) AS BIGINT) num
              FROM ex JOIN r USING (bg) GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(nbg, 0) AS BIGINT) AS nbg,
        CAST(COALESCE(num, 0) AS BIGINT) AS num,
        CASE WHEN COALESCE(nbg, 0) > 0
             THEN CAST(num AS DOUBLE) / nbg
             ELSE 0.0::DOUBLE END AS score,
        (COALESCE(nbg, 0) > 0 AND COALESCE(num, 0) >= 34500 * nbg) AS keep
      FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""")),

    // temperature-scaled source mixing (τ = 1/2): data-derived
    // ⌊√tokens⌋ weights → per-mille shares → the q85 rate rule; at
    // budget 25000 the lightest sources cap at 1000 ‰ while the
    // heaviest sample near 720 ‰ — the flattening τ buys
    Q("q110_temperature_mix", (s, d) => {
      val docs = t(s, d, "documents")
      val rates = temperatureMixRates(sourceTokenTotals(docs), 25000L)
        .cut() // bounded table feeding the audit join and the w join
      sourceMixAudit(docs, rates.select(col("source"), col("src_tokens"), col("rate")))
        .join(broadcast(rates.select(col("source"), col("w"))), "source")
        .orderBy(col("source"))
    }, Some(s"""
      WITH tk AS (SELECT source, doc_id,
                    CAST(len(list_filter(string_split(text,' '), x->x<>'')) AS BIGINT) ntok
                  FROM documents),
      tot AS (SELECT source, CAST(SUM(ntok) AS BIGINT) src_tokens FROM tk GROUP BY 1),
      wt AS (SELECT source, src_tokens,
               CAST(floor(sqrt(CAST(src_tokens AS DOUBLE))) AS BIGINT) w
             FROM tot),
      sw AS (SELECT CAST(SUM(w) AS BIGINT) sumw FROM wt),
      rt AS (SELECT source, src_tokens, w,
               CAST(least(1000, (25000 * ((w*1000)//sumw)) // src_tokens)
                    AS BIGINT) rate
             FROM wt, sw),
      s AS (SELECT t.source, t.doc_id, t.ntok, r.src_tokens, r.w, r.rate,
              ${sql.hmod("'mix:'||CAST(doc_id AS VARCHAR)")} % 1000 < r.rate AS kept
            FROM tk t JOIN rt r USING (source))
      SELECT source,
        CAST(max(src_tokens) AS BIGINT) AS src_tokens,
        CAST(max(rate) AS BIGINT) AS rate,
        count(*) AS n_total,
        CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT) AS kept_tokens,
        CAST(SUM(CASE WHEN kept THEN ${sql.hmod("CAST(doc_id AS VARCHAR)")}
                 ELSE 0 END) % ${P} AS BIGINT) AS kept_checksum,
        CAST(max(w) AS BIGINT) AS w
      FROM s GROUP BY source ORDER BY source""")),

    // context-window chunking (16-token windows, stride 12): per-doc
    // window count, total window tokens (overlap mass rides above
    // ntok) and a position-sensitive window checksum
    Q("q111_context_chunks", (s, d) => {
      chunkAudit(t(s, d, "documents"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      cl AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) ntok,
               CASE WHEN len(tk) <= 16 THEN 1
                    ELSE (len(tk) - 16 + 12 - 1)//12 + 1 END m
             FROM tk WHERE len(tk) >= 1),
      cs AS (SELECT doc_id,
               [{'j': j,
                 'h': ${sql.hmod("array_to_string(tk[(j-1)*12+1 : (j-1)*12+16], ' ')")},
                 'c': len(tk[(j-1)*12+1 : (j-1)*12+16])}
                for j in generate_series(1, m)] ws
             FROM cl),
      ex AS (SELECT doc_id, u.j j, u.h h, u.c c
             FROM (SELECT doc_id, unnest(ws) u FROM cs)),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_chunks,
                CAST(SUM(c) AS BIGINT) chunk_tokens,
                CAST(SUM((h * j) % ${P}) % ${P} AS BIGINT) chunk_checksum
              FROM ex GROUP BY 1)
      SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS ntok,
        CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks,
        CAST(COALESCE(chunk_tokens, 0) AS BIGINT) AS chunk_tokens,
        CAST(COALESCE(chunk_checksum, 0) AS BIGINT) AS chunk_checksum
      FROM tk t LEFT JOIN per USING (doc_id) ORDER BY doc_id""")),

    // noise-span localization: worst 8-bigram sliding fluency sum +
    // its position under the q109 model — the span-level refinement
    // of the page-level perplexity filter; identical window SQL on
    // both engines, argmin encoded as min(ws·2^20 + pos); floor
    // 29000/bigram flags 77 docs on this corpus
    Q("q114_noise_spans", (s, d) => {
      noiseSpanAudit(t(s, d, "documents"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      bgl AS (SELECT doc_id, CASE WHEN len(tk) >= 2
                THEN [{'p': i, 'bg': tk[i]||' '||tk[i+1]}
                      for i in generate_series(1, len(tk)-1)]
                ELSE [] END bs FROM tk),
      ex AS (SELECT doc_id, u.p pos, u.bg bg
             FROM (SELECT doc_id, unnest(bs) u FROM bgl)),
      c2 AS (SELECT bg, CAST(count(*) AS BIGINT) c2 FROM ex GROUP BY 1),
      c1 AS (SELECT split_part(bg,' ',1) pr, CAST(SUM(c2) AS BIGINT) c1
             FROM c2 GROUP BY 1),
      r AS (SELECT bg, CAST((1000000*c2) // c1 AS BIGINT) r
            FROM c2 JOIN c1 ON split_part(c2.bg,' ',1) = c1.pr),
      inst AS (SELECT doc_id, pos, r.r FROM ex JOIN r USING (bg)),
      win AS (SELECT doc_id, pos,
                SUM(r) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) ws,
                COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) wn
              FROM inst),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_windows,
                CAST(MIN(ws * 1048576 + pos) AS BIGINT) m
              FROM win WHERE wn = 8 GROUP BY 1),
      nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) nbg FROM ex GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(nbg, 0) AS BIGINT) AS nbg,
        CAST(COALESCE(n_windows, 0) AS BIGINT) AS n_windows,
        CAST(COALESCE(m // 1048576, 0) AS BIGINT) AS worst_sum,
        CAST(COALESCE(m % 1048576, 0) AS BIGINT) AS worst_pos,
        (COALESCE(n_windows, 0) > 0 AND COALESCE(m // 1048576, 0) < 232000)
          AS flag
      FROM documents d LEFT JOIN nb USING (doc_id)
      LEFT JOIN per USING (doc_id) ORDER BY doc_id""")),

    // contaminated-span localization: q76's train/eval split, but hits
    // are POSITIONAL 5-grams and overlapping hits merge into maximal
    // spans (q103's islands) — the PaLM/GPT-4 remove-a-window form of
    // decontamination; the extent checksum pins exact boundaries
    Q("q120_contamination_spans", (s, d) => {
      contaminationSpanAudit(t(s, d, "documents"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH bk AS (SELECT doc_id,
                    ${sql.hmod("CAST(doc_id AS VARCHAR)")} % 100 bucket,
                    list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      train AS (SELECT DISTINCT ${sql.hmod("s")} h
                FROM (SELECT unnest(CASE WHEN len(tk) >= 5
                        THEN list_distinct([array_to_string(tk[i : i+4], ' ')
                               for i in generate_series(1, len(tk)-4)])
                        ELSE [] END) s
                      FROM bk WHERE bucket < 80)),
      ev AS (SELECT doc_id, tk FROM bk WHERE bucket >= 90),
      sg AS (SELECT doc_id, CASE WHEN len(tk) >= 5
               THEN [{'p': i, 'h': ${sql.hmod("array_to_string(tk[i : i+4], ' ')")}}
                     for i in generate_series(1, len(tk)-4)]
               ELSE [] END ws FROM ev),
      ex AS (SELECT doc_id, u.p p, u.h h
             FROM (SELECT doc_id, unnest(ws) u FROM sg)),
      ht AS (SELECT doc_id, p FROM ex WHERE h IN (SELECT h FROM train)),
      fl AS (SELECT doc_id, p,
               max(p + 4) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pe
             FROM ht),
      il AS (SELECT doc_id, p,
               SUM(CASE WHEN pe IS NULL OR p > pe + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p) isl
             FROM fl),
      sp AS (SELECT doc_id, isl, CAST(count(*) AS BIGINT) nh,
               min(p) s, max(p) + 4 e
             FROM il GROUP BY 1, 2),
      per AS (SELECT doc_id, CAST(SUM(nh) AS BIGINT) n_hits,
                CAST(count(*) AS BIGINT) n_spans,
                CAST(MAX(e - s + 1) AS BIGINT) max_span_tokens,
                CAST(SUM(e - s + 1) AS BIGINT) flagged_tokens,
                CAST(SUM((s*4096 + e) % ${P}) % ${P} AS BIGINT) span_checksum
              FROM sp GROUP BY 1)
      SELECT e.doc_id, CAST(len(tk) AS BIGINT) AS ntok,
        CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
        CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
        CAST(COALESCE(max_span_tokens, 0) AS BIGINT) AS max_span_tokens,
        CAST(COALESCE(flagged_tokens, 0) AS BIGINT) AS flagged_tokens,
        CAST(COALESCE(span_checksum, 0) AS BIGINT) AS span_checksum
      FROM ev e LEFT JOIN per USING (doc_id) ORDER BY doc_id""")),

    // packing-efficiency A/B: pad-each vs next-fit (hash order) vs
    // next-fit-decreasing vs q73 concat at budget 256 — the oracle
    // replays both next-fit folds doc-by-doc per shard with a
    // recursive CTE (q77/q97 trajectory doctrine); measured story at
    // gate sf: 21% / 80% / 79% / 87% utilization
    Q("q121_packing_efficiency", (s, d) => {
      packingEfficiencyAudit(t(s, d, "documents"))
        .orderBy(col("strategy"))
    }, Some(s"""
      WITH RECURSIVE pd AS (
        SELECT doc_id, ${sql.hmod("CAST(doc_id AS VARCHAR)")} % 32 shard,
          ${sql.hmod("'pack:'||CAST(doc_id AS VARCHAR)")} h,
          CAST(len(list_filter(string_split(text,' '), x->x<>'')) AS BIGINT) ntok
        FROM documents),
      pf AS (SELECT * FROM pd WHERE ntok > 0),
      ob AS (SELECT shard, ntok,
               row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) rn
             FROM pf),
      oc AS (SELECT shard, ntok,
               row_number() OVER (PARTITION BY shard ORDER BY ntok DESC, h, doc_id) rn
             FROM pf),
      rws AS (SELECT 'b_nextfit' strat, shard, ntok, rn FROM ob
              UNION ALL
              SELECT 'c_nextfit_sorted', shard, ntok, rn FROM oc),
      cnt AS (SELECT strat, shard, CAST(max(rn) AS BIGINT) mx FROM rws GROUP BY 1, 2),
      rec AS (
        SELECT strat, shard, CAST(0 AS BIGINT) rn,
          CAST(0 AS BIGINT) nseq, CAST(0 AS BIGINT) fill
        FROM cnt
        UNION ALL
        SELECT r.strat, r.shard, r.rn + 1,
          r.nseq + CASE WHEN w.ntok >= 256
                        THEN (CASE WHEN r.fill > 0 THEN 1 ELSE 0 END)
                             + (w.ntok + 255) // 256
                        WHEN r.fill + w.ntok <= 256 THEN 0 ELSE 1 END,
          CASE WHEN w.ntok >= 256 THEN 0
               WHEN r.fill + w.ntok <= 256 THEN r.fill + w.ntok
               ELSE w.ntok END
        FROM rec r JOIN rws w
          ON w.strat = r.strat AND w.shard = r.shard AND w.rn = r.rn + 1),
      fin AS (SELECT r.strat,
                CAST(SUM(r.nseq + CASE WHEN r.fill > 0 THEN 1 ELSE 0 END) AS BIGINT) ns
              FROM rec r JOIN cnt c
                ON c.strat = r.strat AND c.shard = r.shard AND r.rn = c.mx
              GROUP BY 1),
      tot AS (SELECT CAST(SUM(ntok) AS BIGINT) total_tokens FROM pf),
      sa AS (SELECT CAST(SUM((ntok + 255) // 256) AS BIGINT) ns,
               CAST(SUM(((ntok + 255) // 256) * 256 - ntok) AS BIGINT) pad
             FROM pf),
      sd AS (SELECT CAST(SUM((tt + 255) // 256) AS BIGINT) ns,
               CAST(SUM(((tt + 255) // 256) * 256 - tt) AS BIGINT) pad
             FROM (SELECT shard, SUM(ntok) tt FROM pf GROUP BY 1)),
      allr AS (
        SELECT 'a_pad_each' strategy, sa.ns n_seqs, t.total_tokens,
               sa.pad pad_tokens
        FROM sa, tot t
        UNION ALL
        SELECT f.strat, f.ns, t.total_tokens, f.ns * 256 - t.total_tokens
        FROM fin f, tot t
        UNION ALL
        SELECT 'd_concat', sd.ns, t.total_tokens, sd.pad FROM sd, tot t)
      SELECT strategy, n_seqs, total_tokens, pad_tokens,
        CAST((1000000 * total_tokens) // (n_seqs * 256) AS BIGINT) AS util_ppm
      FROM allr ORDER BY strategy""")),

    // perplexity-bucket partitioning — CCNet's head/middle/tail split
    // (Wenzek et al. 2020 §4.3: rank documents by LM perplexity, train
    // preferentially on the fluent head). The LM is q109's bigram
    // model; a doc's integer score s = ⌊num/nbg⌋ (floor of the mean
    // per-bigram ratio — higher = more fluent). Buckets by FIXED
    // calibrated thresholds (head s ≥ 35000, tail s < 34000, middle
    // between, bigram-less docs '3_short') — a scan-stage CASE, NOT a
    // corpus-wide rank: the exact-tertile form needs a total-order
    // window (single-partition sort at 100 TB), while CCNet itself
    // thresholds on scalars computed once from a sample. Calibrated
    // on this corpus: ≈30/40/30 at both gate sfs, all buckets live.
    // Per bucket: docs, bigram mass, exact score range, membership
    // checksum. Cost: q109's model (clone-collapsed, O(distinct
    // bigrams) shuffle) + one bounded 4-row rollup
    Q("q133_perplexity_buckets", (s, d) => {
      bigramLmScore(t(s, d, "documents"))
        .withColumn("sc",
          when(col("nbg") > 0, expr("num div nbg")).otherwise(lit(0L)))
        .withColumn("bucket",
          when(col("nbg") === 0L, lit("3_short"))
            .when(col("sc") >= 35000L, lit("0_head"))
            .when(col("sc") < 34000L, lit("2_tail"))
            .otherwise(lit("1_middle")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nbg")).as("bigram_mass"),
          min(col("sc")).as("min_s"),
          max(col("sc")).as("max_s"),
          (sum(hmod(col("doc_id").cast("string"))) % P).as("doc_checksum"))
        .orderBy(col("bucket"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      bgl AS (SELECT doc_id, CASE WHEN len(tk) >= 2
                THEN [tk[i]||' '||tk[i+1] for i in generate_series(1, len(tk)-1)]
                ELSE [] END bs FROM tk),
      ex AS (SELECT doc_id, unnest(bs) bg FROM bgl),
      c2 AS (SELECT bg, CAST(count(*) AS BIGINT) c2 FROM ex GROUP BY 1),
      c1 AS (SELECT split_part(bg,' ',1) pr, CAST(SUM(c2) AS BIGINT) c1
             FROM c2 GROUP BY 1),
      r AS (SELECT bg, CAST((1000000*c2) // c1 AS BIGINT) r
            FROM c2 JOIN c1 ON split_part(c2.bg,' ',1) = c1.pr),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) nbg,
                CAST(SUM(r.r) AS BIGINT) num
              FROM ex JOIN r USING (bg) GROUP BY 1),
      sc AS (SELECT d.doc_id, COALESCE(nbg, 0) nbg,
               CASE WHEN COALESCE(nbg, 0) > 0 THEN num // nbg ELSE 0 END s
             FROM documents d LEFT JOIN per USING (doc_id)),
      b AS (SELECT doc_id, nbg, s,
              CASE WHEN nbg = 0 THEN '3_short'
                   WHEN s >= 35000 THEN '0_head'
                   WHEN s < 34000 THEN '2_tail'
                   ELSE '1_middle' END bucket
            FROM sc)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(nbg) AS BIGINT) AS bigram_mass,
        CAST(MIN(s) AS BIGINT) AS min_s, CAST(MAX(s) AS BIGINT) AS max_s,
        CAST(SUM(${sql.hmod("CAST(doc_id AS VARCHAR)")}) % ${P} AS BIGINT)
          AS doc_checksum
      FROM b GROUP BY 1 ORDER BY 1""")),

    // backoff bigram LM: model trained on the pinned src0 slice only,
    // the remaining 95% of the corpus exercising the unseen path
    // (~20% of bigrams) through the tenth-of-unigram backoff — the
    // held-out-perplexity shape q109 (self-trained) cannot produce
    Q("q147_backoff_lm", (s, d) => {
      backoffLmScore(t(s, d, "documents"), "src0")
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, source,
                    list_filter(string_split(text,' '), x->x<>'') tk
                  FROM documents),
      bgl AS (SELECT doc_id, source, CASE WHEN len(tk) >= 2
                THEN [tk[i]||' '||tk[i+1] for i in generate_series(1, len(tk)-1)]
                ELSE [] END bs FROM tk),
      ex AS (SELECT doc_id, source, unnest(bs) bg FROM bgl),
      c2 AS (SELECT bg, CAST(count(*) AS BIGINT) c2 FROM ex
             WHERE source = 'src0' GROUP BY 1),
      c1 AS (SELECT split_part(bg,' ',1) pr, CAST(SUM(c2) AS BIGINT) c1
             FROM c2 GROUP BY 1),
      r AS (SELECT bg, CAST((1000000*c2) // c1 AS BIGINT) r
            FROM c2 JOIN c1 ON split_part(c2.bg,' ',1) = c1.pr),
      ut AS (SELECT unnest(tk) tok FROM tk WHERE source = 'src0'),
      cu AS (SELECT tok, CAST(count(*) AS BIGINT) cu FROM ut GROUP BY 1),
      n AS (SELECT CAST(SUM(cu) AS BIGINT) total FROM cu),
      back AS (SELECT tok w2, CAST(((1000000*cu) // total) // 10 AS BIGINT) ub
               FROM cu, n),
      per AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) nbg,
                CAST(SUM(CASE WHEN r.r IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  n_unseen,
                CAST(SUM(COALESCE(r.r, b.ub, 0)) AS BIGINT) num
              FROM ex e
                LEFT JOIN r ON r.bg = e.bg
                LEFT JOIN back b ON b.w2 = split_part(e.bg,' ',-1)
              GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(nbg, 0) AS BIGINT) AS nbg,
        CAST(COALESCE(n_unseen, 0) AS BIGINT) AS n_unseen,
        CAST(COALESCE(num, 0) AS BIGINT) AS num
      FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""")),

    // model-evaluation card (the metrology stage after q88's
    // inference: AUC + confusion matrix, every figure an exact
    // integer): ground truth = the gopherKeep rule, prediction = the
    // q88 classifier. AUC is the Mann-Whitney rank-sum over the
    // quantized score key — 2U = Σ_s np_s·(2·cumneg_below(s) + nn_s)
    // handles ties with midranks exactly, no sort of the corpus:
    // docs reduce to a map-side-combined groupBy(skey), the
    // cumulative-negative sum runs two-level (boundedCumBelow: the
    // unpartitioned window sees ≤101 bin rows, the per-key cumulative
    // is partitioned by bin), and one final aggregate folds AUC and the
    // threshold-0 confusion counts together (predicted-positive ⇔
    // skey ≥ 10⁹, exactly score_num ≥ 0). n²-sized 2U rides
    // DECIMAL(38,0)/HUGEINT; every ppm is a nonnegative floor ratio.
    // r12 BOUND (the q208 audit rule): 2U ≤ n_pos·n_neg ≤ 2.5·10²³
    // at 10¹² docs — inside DECIMAL(38,0) with 14 digits to spare;
    // the two_u OUTPUT column is int64-safe to n_pos·n_neg ≤ 9.2·10¹⁸
    // (≈3·10⁹ docs per class — past that the bounded auc_ppm is the
    // number to read and the ANSI Long cast is the loud guard)
    Q("q155_classifier_eval", (s, d) => {
      val th = 1000000000L
      val g = classifierEvalScores(s, d)
        .groupBy(col("skey"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
          sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
      // two-level cumulative (boundedCumBelow): the unpartitioned
      // window sees only the ≤101-row bin table, never the skey table
      val cum = boundedCumBelow(g, "skey", "nn", "cnb")
      cum.agg(
        sum(col("np") + col("nn")).as("n_docs"),
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        sum(col("np").cast(DecimalType(38, 0)) * (col("cnb") * 2L + col("nn")))
          .cast(LongType).as("two_u"),
        sum(when(col("skey") >= th, col("np")).otherwise(0L)).as("tp"),
        sum(when(col("skey") >= th, col("nn")).otherwise(0L)).as("fp"),
        sum(when(col("skey") < th, col("nn")).otherwise(0L)).as("tn"),
        sum(when(col("skey") < th, col("np")).otherwise(0L)).as("fn"))
        .withColumn("auc_ppm", expr(
          "CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
            "(CAST(1000000 AS DECIMAL(38,0)) * two_u) div (2L * n_pos * n_neg) " +
            "ELSE -1L END AS BIGINT)"))
        .withColumn("acc_ppm", expr("(1000000L * (tp + tn)) div n_docs"))
        .withColumn("prec_ppm", expr(
          "CASE WHEN tp + fp > 0 THEN (1000000L * tp) div (tp + fp) ELSE -1L END"))
        .withColumn("rec_ppm", expr(
          "CASE WHEN n_pos > 0 THEN (1000000L * tp) div n_pos ELSE -1L END"))
        .withColumn("f1_ppm", expr(
          "CASE WHEN 2L*tp + fp + fn > 0 THEN " +
            "(1000000L * 2L * tp) div (2L*tp + fp + fn) ELSE -1L END"))
        .select(col("n_docs"), col("n_pos"), col("n_neg"), col("two_u"),
          col("auc_ppm"), col("tp"), col("fp"), col("tn"), col("fn"),
          col("acc_ppm"), col("prec_ppm"), col("rec_ppm"), col("f1_ppm"))
    }, Some(s"""
      WITH $evalScoresSql,
      gg AS (SELECT skey,
               CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) np,
               CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) nn
             FROM sc GROUP BY 1),
      cum AS (SELECT *, COALESCE(SUM(nn) OVER (ORDER BY skey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cnb
              FROM gg),
      agg AS (SELECT CAST(SUM(np+nn) AS BIGINT) n_docs,
                CAST(SUM(np) AS BIGINT) n_pos,
                CAST(SUM(nn) AS BIGINT) n_neg,
                CAST(SUM(CAST(np AS HUGEINT) * (2*cnb + nn)) AS BIGINT) two_u,
                CAST(SUM(CASE WHEN skey >= 1000000000 THEN np ELSE 0 END)
                  AS BIGINT) tp,
                CAST(SUM(CASE WHEN skey >= 1000000000 THEN nn ELSE 0 END)
                  AS BIGINT) fp,
                CAST(SUM(CASE WHEN skey < 1000000000 THEN nn ELSE 0 END)
                  AS BIGINT) tn,
                CAST(SUM(CASE WHEN skey < 1000000000 THEN np ELSE 0 END)
                  AS BIGINT) fn
              FROM cum)
      SELECT n_docs, n_pos, n_neg, two_u,
        CAST(CASE WHEN n_pos > 0 AND n_neg > 0
             THEN (1000000 * CAST(two_u AS HUGEINT)) // (2*n_pos*n_neg)
             ELSE -1 END AS BIGINT) AS auc_ppm,
        tp, fp, tn, fn,
        CAST((1000000*(tp+tn)) // n_docs AS BIGINT) AS acc_ppm,
        CAST(CASE WHEN tp + fp > 0 THEN (1000000*tp) // (tp+fp)
             ELSE -1 END AS BIGINT) AS prec_ppm,
        CAST(CASE WHEN n_pos > 0 THEN (1000000*tp) // n_pos
             ELSE -1 END AS BIGINT) AS rec_ppm,
        CAST(CASE WHEN 2*tp + fp + fn > 0 THEN (1000000*2*tp) // (2*tp+fp+fn)
             ELSE -1 END AS BIGINT) AS f1_ppm
      FROM agg""")),

    // calibration / reliability bins (the companion card to q155 —
    // Guo et al. 2017's reliability diagram in its exact regime):
    // docs bucketed by the quantized classifier score into FIXED
    // 20M-wide skey bins (a scan-stage integer division of the
    // always-nonnegative shifted key — never a corpus-rank/quantile
    // window, the q133 doctrine), each bin reporting volume, truth
    // positives, exact score mass, and the empirical positive rate —
    // a calibrated model's pos_rate tracks its bin's mean score.
    // Bounded output (score range / bin width); one keyed shuffle
    Q("q157_calibration_bins", (s, d) => {
      classifierEvalScores(s, d)
        .select(expr("skey div 20000000L").as("bin"), col("skey"), col("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
          sum(col("skey")).as("sum_skey"))
        .withColumn("pos_rate_ppm", expr("(1000000L * n_pos) div n"))
        .orderBy(col("bin"))
    }, Some(s"""
      WITH $evalScoresSql
      SELECT skey // 20000000 AS bin, CAST(count(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        CAST(SUM(skey) AS BIGINT) AS sum_skey,
        CAST((1000000 * SUM(CASE WHEN pos THEN 1 ELSE 0 END)) // count(*)
             AS BIGINT) AS pos_rate_ppm
      FROM sc GROUP BY 1 ORDER BY 1""")),

    // χ² feature selection (Yang & Pedersen 1997; the classical
    // which-tokens-predict-quality card): per token type, the 2×2
    // document-presence × gopherKeep-label contingency table, ranked
    // by the χ² statistic in its exact-integer form chi2_ppm =
    // ⌊10⁶·n·(ad−bc)²/((a+b)(c+d)(a+c)(b+d))⌋ — every product rides
    // DECIMAL(38,0)/HUGEINT (n⁵-sized numerator), the floor ratio is
    // nonnegative so Spark div ≡ DuckDB //. n_pos/n_neg are driver
    // scalars (the q137 rule, no 1-row cross join); presence is
    // per-doc DISTINCT tokens; df ≥ 5 keeps the candidate set sane;
    // selection is TakeOrderedAndProject + a 20-row rank window (the
    // q134 shape). Tokens present in EVERY doc have c+d = 0 → -1
    // sentinel (χ² undefined, carries no signal)
    Q("q181_chi2_tokens", (s, d) => {
      val docs = t(s, d, "documents")
      val lab = docs.select(col("doc_id"), gopherKeep(col("text")).as("pos"))
        .cut() // feeds the marginal scalars and the per-token join
      val tot = lab.agg(sum(when(col("pos"), 1L).otherwise(0L)),
        count(lit(1))).head
      val nPos = if (tot.isNullAt(0)) 0L else tot.getLong(0)
      val nAll = tot.getLong(1)
      val nNeg = nAll - nPos
      val ct = docs
        .select(col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("tok"))
        .join(lab, "doc_id")
        .groupBy(col("tok"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos_tok"),
          sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg_tok"))
        .filter(col("n_pos_tok") + col("n_neg_tok") >= 5L)
        .withColumn("n_pos_rest", lit(nPos) - col("n_pos_tok"))
        .withColumn("n_neg_rest", lit(nNeg) - col("n_neg_tok"))
        .withColumn("chi2_ppm", expr(
          s"""CASE WHEN n_pos_rest + n_neg_rest = 0
                     OR ${nPos}L = 0 OR ${nNeg}L = 0 THEN -1L
              ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * ${nAll}L *
                (CAST(n_pos_tok AS DECIMAL(38,0)) * n_neg_rest -
                 CAST(n_neg_tok AS DECIMAL(38,0)) * n_pos_rest) *
                (CAST(n_pos_tok AS DECIMAL(38,0)) * n_neg_rest -
                 CAST(n_neg_tok AS DECIMAL(38,0)) * n_pos_rest))
                div (CAST(n_pos_tok + n_neg_tok AS DECIMAL(38,0)) *
                     (n_pos_rest + n_neg_rest) * ${nPos}L * ${nNeg}L)
                AS BIGINT) END"""))
      val w = Window.orderBy(col("chi2_ppm").desc, col("tok").asc)
      ct.orderBy(col("chi2_ppm").desc, col("tok").asc).limit(20)
        .withColumn("rank", row_number().over(w).cast(LongType))
        .select(col("rank"), col("tok"), col("n_pos_tok"), col("n_neg_tok"),
          col("n_pos_rest"), col("n_neg_rest"), col("chi2_ppm"))
        .orderBy(col("rank"))
    }, Some(s"""
      WITH $gopherLabelSql,
      pres AS (SELECT DISTINCT doc_id, tok
               FROM (SELECT doc_id, unnest(tk) tok FROM tkv)),
      tot AS (SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) np,
                CAST(count(*) AS BIGINT) n FROM tr),
      ct AS (SELECT tok,
               CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) a,
               CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) b
             FROM pres JOIN tr USING (doc_id) GROUP BY 1
             HAVING count(*) >= 5),
      x AS (SELECT tok, a, b, np - a c, (n - np) - b dd, n, np, n - np nn
            FROM ct, tot),
      chi AS (SELECT tok, a n_pos_tok, b n_neg_tok, c n_pos_rest,
                dd n_neg_rest,
                CASE WHEN c + dd = 0 OR np = 0 OR nn = 0 THEN -1
                     ELSE CAST((1000000 * CAST(n AS HUGEINT) *
                       (CAST(a AS HUGEINT)*dd - CAST(b AS HUGEINT)*c) *
                       (CAST(a AS HUGEINT)*dd - CAST(b AS HUGEINT)*c))
                       // (CAST(a+b AS HUGEINT) * (c+dd) * np * nn)
                       AS BIGINT) END chi2_ppm
              FROM x)
      SELECT CAST(row_number() OVER (ORDER BY chi2_ppm DESC, tok ASC)
               AS BIGINT) AS rank,
        tok, n_pos_tok, n_neg_tok, n_pos_rest, n_neg_rest, chi2_ppm
      FROM chi ORDER BY chi2_ppm DESC, tok ASC LIMIT 20""")),

    // Cohen's kappa (Cohen 1960) between the learned classifier's
    // keep decision (skey ≥ 10⁹ ⇔ score ≥ 0, the q155 threshold) and
    // the hand-written gopherKeep rule — chance-corrected agreement,
    // fully rational: κ = (n·po − pe)/(n² − pe) with pe = pp·ap +
    // pn·an from the marginals; kappa_ppm = sign(num)·⌊10⁶·|num|/den⌋
    // (magnitude-floor keeps Spark div ≡ DuckDB // on the possibly-
    // negative numerator — the q155 shift rule's sibling), verdict
    // thresholds by cross-multiplication (κ ≥ 0.4 ⇔ 5·num ≥ 2·den).
    // One aggregate over the scored-doc table; n²-sized terms ride
    // DECIMAL(38,0)/HUGEINT
    Q("q182_cohens_kappa", (s, d) => {
      classifierEvalScores(s, d)
        .agg(count(lit(1)).as("n"),
          sum(when(col("skey") >= 1000000000L && col("pos"), 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("skey") >= 1000000000L && !col("pos"), 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("skey") < 1000000000L && !col("pos"), 1L)
            .otherwise(0L)).as("tn"),
          sum(when(col("skey") < 1000000000L && col("pos"), 1L)
            .otherwise(0L)).as("fn"))
        .withColumn("pe", expr(
          "CAST(tp+fp AS DECIMAL(38,0)) * (tp+fn) + " +
            "CAST(tn+fn AS DECIMAL(38,0)) * (tn+fp)"))
        .withColumn("num", expr(
          "CAST(n AS DECIMAL(38,0)) * (tp+tn) - pe"))
        .withColumn("den", expr(
          "CAST(n AS DECIMAL(38,0)) * n - pe"))
        .select(col("n"), col("tp"), col("fp"), col("tn"), col("fn"),
          expr("CAST(CASE WHEN den = 0 THEN 0 ELSE " +
            "CASE WHEN num < 0 THEN -1 ELSE 1 END * " +
            "((CAST(1000000 AS DECIMAL(38,0)) * abs(num)) div den) " +
            "END AS BIGINT)").as("kappa_ppm"),
          expr("CASE WHEN den = 0 THEN 'degenerate' " +
            "WHEN 5 * num >= 2 * den THEN 'strong' " +
            "WHEN num > 0 THEN 'weak' ELSE 'none' END").as("verdict"))
    }, Some(s"""
      WITH $evalScoresSql,
      cm AS (SELECT CAST(count(*) AS BIGINT) n,
               CAST(SUM(CASE WHEN skey >= 1000000000 AND pos
                 THEN 1 ELSE 0 END) AS BIGINT) tp,
               CAST(SUM(CASE WHEN skey >= 1000000000 AND NOT pos
                 THEN 1 ELSE 0 END) AS BIGINT) fp,
               CAST(SUM(CASE WHEN skey < 1000000000 AND NOT pos
                 THEN 1 ELSE 0 END) AS BIGINT) tn,
               CAST(SUM(CASE WHEN skey < 1000000000 AND pos
                 THEN 1 ELSE 0 END) AS BIGINT) fn
             FROM sc),
      k AS (SELECT n, tp, fp, tn, fn,
              CAST(tp+fp AS HUGEINT)*(tp+fn)
                + CAST(tn+fn AS HUGEINT)*(tn+fp) pe
            FROM cm),
      r AS (SELECT n, tp, fp, tn, fn,
              CAST(n AS HUGEINT)*(tp+tn) - pe num,
              CAST(n AS HUGEINT)*n - pe den
            FROM k)
      SELECT n, tp, fp, tn, fn,
        CAST(CASE WHEN den = 0 THEN 0
             ELSE (CASE WHEN num < 0 THEN -1 ELSE 1 END) *
                  ((1000000 * abs(num)) // den) END AS BIGINT) AS kappa_ppm,
        CASE WHEN den = 0 THEN 'degenerate'
             WHEN 5 * num >= 2 * den THEN 'strong'
             WHEN num > 0 THEN 'weak' ELSE 'none' END AS verdict
      FROM r""")),

    // shard-balance audit (the operational card next to q73 packing /
    // q93 splits): docs hash-assigned to 8 shards (the stable per-row
    // arithmetic of q79 — scan-stage, reproducible under
    // repartitioning), per shard doc/token volumes and the balance
    // ratio skew_ppm = ⌊10⁶·tokens·8/total⌋ (10⁶ = perfectly even).
    // The corpus token total is one driver scalar (the q134 rule);
    // one keyed shuffle, 8-row output
    Q("q184_shard_balance", (s, d) => {
      val perDoc = t(s, d, "documents")
        .select((hmod(concat(lit("shard:"), col("doc_id").cast("string")))
          % 8L).as("shard"),
          size(tokens(col("text"))).cast(LongType).as("ntok"))
        .cut() // feeds the total scalar and the per-shard groupBy
      val totRow = perDoc.agg(sum(col("ntok"))).head
      val total = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
      perDoc.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tokens"))
        .withColumn("skew_ppm",
          if (total == 0L) lit(-1L)
          else expr(s"CAST((CAST(1000000 AS DECIMAL(38,0)) * tokens * 8)" +
            s" div ${total}L AS BIGINT)")) // 10⁶·tokens·8 > int64 at 100 TB
        .orderBy(col("shard"))
    }, Some(s"""
      WITH pd AS (SELECT ${sql.hmod("'shard:'||CAST(doc_id AS VARCHAR)")} % 8
                    AS shard,
                  CAST(len(list_filter(string_split(text,' '), x->x<>''))
                    AS BIGINT) ntok
                  FROM documents),
      tot AS (SELECT CAST(SUM(ntok) AS BIGINT) total FROM pd)
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(ntok) AS BIGINT) AS tokens,
        CAST(CASE WHEN total = 0 THEN -1
             ELSE (1000000 * SUM(ntok) * 8) // total END AS BIGINT)
          AS skew_ppm
      FROM pd, tot GROUP BY shard, total ORDER BY shard""")),

    // operating-point selection (the threshold-sweep companion to
    // q155's AUC: AUC says the ranking is good, this picks WHERE to
    // cut it): confusion counts at five FIXED skey thresholds (the
    // q133 calibrated-literal doctrine — score std ≈ 100 milli on
    // ±1000 bucket weights, so ±100 milli spans the distribution),
    // winner by Youden's J. The argmax never divides: J = TPR − FPR
    // has the SAME denominator np·nn at every threshold, so
    // argmax J = argmax (tp·nn − fp·np) — an integer compare. r12
    // OVERFLOW AUDIT (the q179 rule): tp·nn ≤ n² = 10²⁴ at 10¹²
    // docs bursts int64, so the distributed plan stops at the ONE
    // 12-sum aggregate (counts, all linear), the single row collects
    // (q134/q137 driver-scalar rule), J products run in BigInt on
    // the driver, and no unbounded magnitude is ever a column —
    // the card carries only counts and the is_best flag.
    Q("q223_operating_point", (s, d) => {
      val ths = Seq(900000000L, 950000000L, 1000000000L,
        1050000000L, 1100000000L)
      val sc = classifierEvalScores(s, d)
      val aggs = ths.zipWithIndex.flatMap { case (th, i) =>
        Seq(
          sum(when(col("skey") >= th && col("pos"), 1L).otherwise(0L))
            .as(s"tp$i"),
          sum(when(col("skey") >= th && !col("pos"), 1L).otherwise(0L))
            .as(s"fp$i"))
      } ++ Seq(
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("nn"))
      val r = sc.agg(aggs.head, aggs.tail: _*).head()
      def lv(name: String): Long = {
        val i = r.fieldIndex(name)
        if (r.isNullAt(i)) 0L else r.getLong(i)
      }
      val np = lv("np")
      val nn = lv("nn")
      val rows = ths.zipWithIndex.map { case (th, i) =>
        val tp = lv(s"tp$i")
        val fp = lv(s"fp$i")
        (th, tp, fp, np - tp, nn - fp, BigInt(tp) * nn - BigInt(fp) * np)
      }
      val bestJ = rows.map(_._6).max
      val best = rows.filter(_._6 == bestJ).map(_._1).min
      import s.implicits._
      rows.map { case (th, tp, fp, fn, tn, _) =>
        (th, tp, fp, fn, tn, th == best)
      }.toDF("threshold", "tp", "fp", "fn", "tn", "is_best")
        .orderBy(col("threshold"))
    }, Some(s"""
      WITH $evalScoresSql,
      tot AS (SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) np,
                     CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) nn
              FROM sc),
      th(threshold) AS (VALUES (900000000), (950000000), (1000000000),
                               (1050000000), (1100000000)),
      cf AS (SELECT th.threshold,
               CAST(SUM(CASE WHEN skey >= th.threshold AND pos
                        THEN 1 ELSE 0 END) AS BIGINT) tp,
               CAST(SUM(CASE WHEN skey >= th.threshold AND NOT pos
                        THEN 1 ELSE 0 END) AS BIGINT) fp
             FROM sc, th GROUP BY 1),
      j AS (SELECT threshold, tp, fp, tot.np - tp fn, tot.nn - fp tn,
              CAST(tp AS HUGEINT)*tot.nn - CAST(fp AS HUGEINT)*tot.np jnum
            FROM cf, tot)
      SELECT CAST(threshold AS BIGINT) AS threshold, tp, fp,
        CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
        row_number() OVER (ORDER BY jnum DESC, threshold) = 1 AS is_best
      FROM j ORDER BY threshold"""))
  )
}
