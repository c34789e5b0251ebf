package graft.miw

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.functions.{LineFields, ValueCounts}

/** Compiles a [[LogFormat]] into a declarative Spark plan:
  *
  * {{{
  * spark.read.text → line-fields generator (one tokenizing pass) →
  * row-bounds filter → per-field Column exprs (casts, date/time
  * buckets, URL normalize, preprocessing) → match predicates (where)
  * → groupBy(composite key) → agg(...) → ratio projections
  * }}}
  *
  * This is the whole reference product (miw/mr_job.cc + miw/log_format
  * .cc + miw/log_record.cc) re-expressed as a Catalyst logical plan:
  * filters run before aggregation so predicate pushdown applies, and
  * the groupBy compiles to partial+final HashAggregate (the
  * reference's combiner/reducer split). The reference's one pass over
  * a line (tokenize, filter, transform, key) is one
  * [[graft.functions.LineFields]] generator: it is interpreted
  * (CodegenFallback), so its Generate runs outside whole-stage
  * codegen, as does any operator holding one of the two evtx blob
  * UDFs. The bounds filter and the per-field projection above it,
  * including the native cast/URL/time kernels of [[FieldKernels]],
  * are whole-stage codegen'd. String union and union_count fields
  * merge in one native aggregate, [[graft.functions.ValueCounts]]: a
  * mutable value → count map per group whose `eval` already returns
  * the sorted arrays, so no projection follows the aggregate.
  *
  * Known, documented divergences from the reference (SURVEY §7.4):
  * union arrays are canonically sorted (reference: nondeterministic
  * first-seen order); `max` is computed correctly (reference loses
  * merged maxima to a copy bug, log_record.cc:177-185); grouping is
  * case-sensitive by default (reference's strcasecmp btree merges keys
  * case-insensitively as a side effect — opt in via
  * [[Options.caseInsensitiveKeys]] for exact migration); non-aggregated
  * fields keep a deterministic `min` instead of thread-race "first".
  */
object MiwEngine {

  final case class Options(
      skipHeader: Boolean = false,
      storeContent: Boolean = false,
      /** Merge keys differing only in ASCII case, like the reference's
        * strcasecmp btree does as a side effect (miw/mr_job.h:93-95).
        * Off by default: the Spark-native default is exact grouping;
        * turn on for exact migration of formats that relied on it. */
      caseInsensitiveKeys: Boolean = false)

  /** Backtick-quoted column ref: format field names may contain dots
    * ("H.323 message") or other chars col() would parse. */
  private def fcol(name: String): Column = col("`" + name + "`")

  /** Internal working column names (never collide with format fields). */
  private val KEY = "__miw_key"
  private val NTOK = "__miw_ntok"
  private val LINE = "__miw_line"
  /** Prefix of the struct column a union_count field aggregates to. */
  private val UC = "__uc_"

  /** Field types whose union dedups; the others concatenate. */
  private val StringKinds = Set("string", "date", "time", "url")

  /** Dictionaries above this size no longer inline into an isin
    * predicate (which would bloat the plan and its broadcast): exact
    * AND-matches become broadcast semi/anti joins instead — the
    * distributed analog of the reference's per-thread dict cache
    * (log_format.cc:283-311). */
  private[miw] val DictInlineLimit = 1000

  /** A big-dictionary exact match deferred to a broadcast semi/anti
    * join on the processed token. */
  private final case class DictJoin(tok: Column, terms: Seq[String], anti: Boolean)

  /** match_file dictionary, loaded once at plan build (and closed —
    * the terms travel with the serialized plan or a broadcast). */
  private def loadDict(path: String, sourceDir: Option[String]): Seq[String] =
    scala.util.Using.resource(
      scala.io.Source.fromFile(LogFormat.resolveDict(path, sourceDir))) { src =>
      src.mkString.split("\\s+").filter(_.nonEmpty).toSeq
    }

  /** Match predicates (log_format.cc:327-399; semantics per the golden
    * tests, SURVEY §7.4 hazard 8): "and"/key matches must all hold;
    * "or" matches are collected and at least one must fire. Exact
    * AND-matches over dictionaries larger than [[DictInlineLimit]]
    * come back as [[DictJoin]]s rather than predicates. */
  private def matchFilters(fmt: LogFormat, processed: FieldSpec => Column)
      : (Option[Column], Seq[DictJoin]) = {
    val orConds = scala.collection.mutable.ArrayBuffer.empty[Column]
    val andConds = scala.collection.mutable.ArrayBuffer.empty[Column]
    val joins = scala.collection.mutable.ArrayBuffer.empty[DictJoin]
    for (f <- fmt.resolvedFields if f.matchSpec.isDefined && f.aggregation != "ratio"
         && f.filterType != "contain") {
      val m = f.matchSpec.get
      val tok = processed(f)
      val terms: Seq[String] = m.matchFile match {
        case Some(path) => loadDict(path, fmt.sourceDir)
        case None => m.matchStr.toSeq
      }
      val isOr = m.logic == "or" && !f.key
      if (terms.nonEmpty) {
        if (terms.size > DictInlineLimit && m.exact && !isOr)
          joins += DictJoin(tok, terms, anti = m.negative)
        else {
          // balanced combination: a linear reduce over a large dict
          // builds an expression tree deep enough to overflow the
          // analyzer's recursion
          def bal(cs: Seq[Column])(op: (Column, Column) => Column): Column =
            if (cs.size == 1) cs.head
            else { val (l, r) = cs.splitAt(cs.size / 2); op(bal(l)(op), bal(r)(op)) }
          val inSet = tok.isin(terms: _*)
          val containsAll = bal(terms.map(t => tok.contains(t)))(_ && _)
          val containsAny = bal(terms.map(t => tok.contains(t)))(_ || _)
          (m.negative, m.exact, isOr) match {
            case (false, true, false)  => andConds += inSet
            case (false, false, false) => andConds += containsAll
            case (false, true, true)   => orConds += inSet
            case (false, false, true)  => orConds += containsAny
            case (true, true, _)       => andConds += !inSet
            case (true, false, _)      => andConds += !(inSet || containsAny)
          }
        }
      }
    }
    val keep = (andConds.toSeq ++
      (if (orConds.nonEmpty) Seq(orConds.reduce(_ || _)) else Nil))
      .reduceOption(_ && _)
    (keep, joins.toSeq)
  }

  private def applyDictJoins(df: DataFrame, joins: Seq[DictJoin]): DataFrame =
    joins.zipWithIndex.foldLeft(df) { case (cur, (j, idx)) =>
      val spark = cur.sparkSession
      import spark.implicits._
      val dcol = s"__miw_dict_$idx"
      val dict = broadcast(j.terms.toDF(dcol))
      // NULL tokens: the inline predicate path drops them (both isin
      // and !isin evaluate NULL → filtered); a left_anti join would
      // KEEP them (no match) — pre-filter so the join path agrees
      // with the predicate path regardless of dictionary size
      val nn = if (j.anti) cur.filter(j.tok.isNotNull) else cur
      nn.join(dict, j.tok === col(dcol), if (j.anti) "left_anti" else "left_semi")
    }

  // ------------------------------------------------------------ parse

  /** Typed value, key and match columns from one raw string token per
    * field, shared by the delimited-text [[parse]] and [[runOnTable]]:
    * the key column, then each non-ratio field's value column (plus the
    * evtx/DNS preprocessing columns), the match predicate and any
    * dictionary joins. `tail` gives the raw token tail a
    * microsoftdnslogs field decodes. */
  private def fieldColumns(fmt: LogFormat, raw: FieldSpec => Column, tail: FieldSpec => Column)
      : (Seq[Column], Option[Column], Seq[DictJoin]) = {
    val fields = fmt.resolvedFields
    // processed string token per field (transformed); shared by the key
    // builder, matches, and the typed value
    def processed(f: FieldSpec): Column = {
      val tok = raw(f)
      val isDateKind = f.ftype == "date" ||
        Set("day", "month", "year").contains(f.processing)
      if (isDateKind && f.processing.nonEmpty) {
        val ts = FieldExprs.parseDate(tok, f.dateFormat)
        when(ts.isNull, tok)
          .otherwise(FieldExprs.dateBucket(ts, f.processing, f.processingOffset))
      } else if (isDateKind) tok // date type without processing keeps the raw string
      else if (Set("hour", "minute", "second").contains(f.processing))
        FieldExprs.timeBucket(tok, f.processing, f.processingOffset)
      else if (f.ftype == "url") FieldExprs.urlNormalize(tok, f.urlFormat)
      else tok
    }

    val (keep, dictJoins) = matchFilters(fmt, processed)

    val valueCols = scala.collection.mutable.ArrayBuffer.empty[Column]
    for (f <- fields if f.aggregation != "ratio") {
      if (f.filterType == "contain") {
        // derived 1/0 indicator over the sibling string field at the
        // same pos (filter_contain, log_format.cc:718-751)
        val sibling = fields.find(g =>
          g.pos == f.pos && g.filter.isEmpty && g.name != f.name && g.ftype == "string")
        valueCols += (sibling match {
          case Some(g) => when(processed(g).contains(f.filter), 1L).otherwise(0L)
          case None => lit(0L)
        }).as(f.name)
      } else {
        val tok = processed(f)
        val v = f.ftype match {
          case "int"   => FieldExprs.atoi(tok)
          case "float" => FieldExprs.atof(tok)
          case "bool"  => FieldExprs.atob(tok)
          case _       => trim(tok) // string / date / time / url kinds
        }
        valueCols += v.as(f.name)
        f.preprocessing match {
          case "evtxcsv" => valueCols += FieldExprs.evtxcsvUdf(tok).as(f.name + "_kv")
          case "evtxcsv2" => valueCols += FieldExprs.evtxcsv2Udf(tok).as(f.name + "_kv")
          // decoded from the concatenated token tail (log_format.cc:549-555)
          case "microsoftdnslogs" => valueCols += FieldExprs.dnsNameCol(tail(f)).as(f.name + "_dns")
          case _ =>
        }
      }
    }

    // composite key from processed key tokens, "_"-joined, appname
    // suffix (log_format.cc:557-563,591-592)
    val keyParts = fields.filter(f => f.key && f.aggregation != "ratio").map(processed)
    val keyCol = if (keyParts.isEmpty) lit("") else concat_ws("_", keyParts: _*)
    val keyWithApp =
      if (fmt.appname.nonEmpty) concat(keyCol, lit("_" + fmt.appname)) else keyCol
    (keyWithApp.as(KEY) +: valueCols.toSeq, keep, dictJoins)
  }

  /** Lines (single string column) → one typed column per field plus the
    * composite key, with comment/blank/bounds/match filtering applied. */
  def parse(fmt: LogFormat, lines: DataFrame, opts: Options = Options()): DataFrame = {
    val lineCol = col(lines.columns.head)
    var df = lines.select(lineCol.as(LINE))

    // header skip drops the literal first line, before any other filter
    // (log_format.cc:194-198); the first row of the first file partition
    // carries monotonic id 0.
    if (opts.skipHeader)
      df = df.withColumn("__miw_idx", monotonically_increasing_id())
        .filter(col("__miw_idx") =!= 0).drop("__miw_idx")

    // comment / blank-line skip (log_format.cc:199-202)
    if (fmt.commentchar.nonEmpty)
      df = df.filter(!col(LINE).startsWith(fmt.commentchar.take(1)))
    df = df.filter(length(trim(col(LINE))) > 0)

    // one tokenizing pass: token count plus the quote-stripped token at
    // each read position (and the raw tails the DNS decoder reads)
    val read = fmt.resolvedFields.filter(_.aggregation != "ratio")
    val positions = read.map(_.pos).distinct.sorted
    val tails = read.filter(_.preprocessing == "microsoftdnslogs").map(_.pos).distinct.sorted
    def tok(p: Int) = s"__miw_t$p"
    def tail(p: Int) = s"__miw_tail$p"
    df = df.select(col(LINE), LineFields.column(col(LINE), fmt.delims, fmt.quotechar,
      positions, tails, NTOK +: (positions.map(tok) ++ tails.map(tail))))
    // row-bounds guard (log_format.cc:258-262)
    df = df.filter(col(NTOK) > fmt.maxPos)

    val (cols, keep, dictJoins) =
      fieldColumns(fmt, f => col(tok(f.pos)), f => col(tail(f.pos)))
    val extra =
      if (opts.storeContent) Seq(col(LINE).as("__miw_content")) else Nil
    val filtered = applyDictJoins(keep.map(df.filter).getOrElse(df), dictJoins)
    filtered.select(cols ++ extra: _*)
  }

  // -------------------------------------------------------- aggregate

  /** Aggregate column(s) of one non-ratio field. A union_count field
    * aggregates to one `struct<values, counts>` column, which
    * [[aggregate]] splits into the emitted pair. */
  private def fieldAggs(f: FieldSpec): Seq[Column] = {
    val c = fcol(f.name)
    // non-aggregated filter_contain indicators force sum
    // (log_record.cc:296-299)
    if (f.filterType == "contain") Seq(sum(c).as(f.name))
    else if (!f.aggregated) Seq(min(c).as(f.name))
    else f.aggregation match {
      case "sum" => Seq(sum(c).as(f.name))
      case "max" => Seq(max(c).as(f.name))
      case "count" => Seq(min(c).as(f.name), count(c).as(f.name + "_count"))
      // Σ / n at finalize (log_record.cc:627-632)
      case "mean" => Seq((sum(c).cast(DoubleType) / count(c)).as(f.name))
      case "variance" =>
        // naive (Σx² − (Σx)²/n) / max(1, n−1) — exact expression order
        // of the reference finalize (log_record.cc:633-641), Bessel
        // dropped at n=1
        val sx = sum(c).cast(DoubleType)
        val sxx = sum(c * c).cast(DoubleType)
        val n = count(c).cast(DoubleType)
        Seq(((sxx - (sx * sx) / n) / greatest(lit(1.0), n - 1)).as(f.name))
      // union: strings dedup, numerics concatenate
      // (log_record.cc:57-142); both canonically sorted for determinism
      case "union" if StringKinds(f.ftype) => Seq(ValueCounts.values(c).as(f.name))
      case "union" => Seq(array_sort(collect_list(c)).as(f.name))
      case "union_count" => Seq(ValueCounts(c.cast("string")).as(UC + f.name))
      case _ => Seq(min(c).as(f.name))
    }
  }

  /** Grouped aggregation per the per-field aggregation configs, plus the
    * implicit `logs` row count and post-agg ratio columns
    * (miw/log_record.cc:251-324 merge kernel + :600-679 finalize).
    * Batch jobs and both [[graft.streaming.MiwStreaming]] entry points
    * run this one builder, as the reference's `-merge_results` loop
    * reuses its merge and finalize (miw/job.cc:197-226). `groupCols`
    * are grouped on beside the key and kept (the windowed stream's
    * window). */
  def aggregate(fmt: LogFormat, parsed: DataFrame, opts: Options = Options(),
                groupCols: Seq[Column] = Nil): DataFrame = {
    val fields = fmt.resolvedFields
    val aggs = scala.collection.mutable.ArrayBuffer.empty[Column]
    aggs += count(lit(1)).as("logs")

    // hidden Σ columns for ratio numerators/denominators that reference
    // mean/variance fields (ratio reads reap[0] = the running sum,
    // log_record.cc:747-823)
    val ratioRefs = fields.filter(_.aggregation == "ratio")
      .flatMap(f => Seq(f.numerator, f.denominator)).filter(_ != "logs").toSet

    for (f <- fields if f.aggregation != "ratio") {
      val c = fcol(f.name)
      val aggregation =
        if (f.filterType == "contain" || !f.aggregated) "" else f.aggregation
      aggs ++= fieldAggs(f)
      if ((aggregation == "mean" || aggregation == "variance") && ratioRefs(f.name))
        aggs += sum(c).as("__sum_" + f.name)
      if (f.preprocessing == "evtxcsv" || f.preprocessing == "evtxcsv2")
        // maps are not orderable: deterministic pick via min_by on the
        // source string value (reference keeps a thread-race "first")
        aggs += min_by(fcol(f.name + "_kv"), c).as(f.name + "_kv")
      if (f.preprocessing == "microsoftdnslogs")
        aggs += min(fcol(f.name + "_dns")).as(f.name + "_dns")
    }
    if (opts.storeContent)
      aggs += collect_list(col("__miw_content")).as("content")

    // The key is emitted as "id" (log_record.cc:656) — unless a declared
    // field is itself named "id", which overwrites it in the reference's
    // JSON assembly (jrec["id"] is written first, fields after).
    val fieldNamedId = fields.exists(f => f.name == "id" && f.aggregation != "ratio")
    var out =
      if (opts.caseInsensitiveKeys) {
        // group on the lowered key; display case is the deterministic
        // min over merged originals (the reference keeps whichever
        // casing a thread inserted first — a race we don't reproduce)
        val all = min(col(KEY)).as(KEY) +: aggs.toSeq
        parsed.groupBy(lower(col(KEY)).as("__miw_cikey") +: groupCols: _*)
          .agg(all.head, all.tail: _*)
          .drop("__miw_cikey")
      } else parsed.groupBy(col(KEY) +: groupCols: _*).agg(aggs.head, aggs.tail.toSeq: _*)
    out = if (fieldNamedId) out.drop(KEY) else out.withColumnRenamed(KEY, "id")

    // each union_count struct → `<name>` (sorted values) and
    // `<name>_count` (their counts) in its place (log_record.cc:611-615)
    if (out.columns.exists(_.startsWith(UC)))
      out = out.select(out.columns.toSeq.flatMap { n =>
        if (!n.startsWith(UC)) Seq(fcol(n))
        else {
          val name = n.stripPrefix(UC)
          Seq(fcol(n).getField("values").as(name), fcol(n).getField("counts").as(name + "_count"))
        }
      }: _*)

    // ratio: float32 division, 0 when denominator is 0, widened to
    // double on output (log_record.cc:747-823; float artifacts are part
    // of the golden values, SURVEY §7.4 hazard 4)
    for (f <- fields if f.aggregation == "ratio") {
      def operand(name: String): Column =
        if (name == "logs") col("logs").cast(FloatType)
        else {
          val src = fields.find(_.name == name)
          val base = src match {
            case Some(s) if s.aggregation == "mean" || s.aggregation == "variance" =>
              col("__sum_" + name)
            case _ => fcol(name)
          }
          base.cast(FloatType)
        }
      val num = operand(f.numerator)
      val den = operand(f.denominator)
      // Spark's Divide promotes float operands to double; re-rounding the
      // double quotient to float reproduces the reference's float32
      // division (correctly-rounded in both cases), then widens.
      out = out.withColumn(f.name,
        when(den === 0.0f, 0.0f).otherwise((num / den).cast(FloatType))
          .cast(DoubleType))
    }
    out = out.drop(out.columns.filter(_.startsWith("__sum_")): _*)

    // std_date_dt synthesis (log_record.cc:655-673): last date-kind
    // value + last time-kind value, joined with T…Z
    val dateFields = fields.filter(f => f.ftype == "date")
    val timeFields = fields.filter(f => f.ftype == "time")
    val dateVal = dateFields.lastOption.map(f => fcol(f.name).cast("string"))
      .getOrElse(lit("0000-00-00"))
    val timeVal = timeFields.lastOption.map(f => fcol(f.name).cast("string"))
      .getOrElse(lit("00:00:00"))
    out = out
      .withColumn("format_name", lit(fmt.formatName))
      .withColumn("std_date_dt",
        when(dateVal.contains("T"), concat(dateVal, lit("Z")))
          .otherwise(concat(dateVal, lit("T"), timeVal, lit("Z"))))
    if (fmt.appname.nonEmpty) out = out.withColumn("appname", lit(fmt.appname))
    out
  }

  // -------------------------------------------------------------- run

  /** Full pipeline over text files: the `miw` CLI's one query
    * (app/miw.cc → miw/job.cc). Multiple files are a single unioned
    * scan — the distributed answer to both the per-file loop and
    * `-merge_results` (SURVEY §2.7). */
  def run(spark: SparkSession, fmt: LogFormat, paths: Seq[String],
          opts: Options = Options()): DataFrame = {
    val lines = spark.read.textFile(paths: _*).toDF("value")
    aggregate(fmt, parse(fmt, lines, opts), opts)
  }

  /** In-memory lines variant (reference buffer scan,
    * metis/defsplitter.hh:49-51). */
  def runOnLines(spark: SparkSession, fmt: LogFormat, lines: Seq[String],
                 opts: Options = Options()): DataFrame = {
    import spark.implicits._
    aggregate(fmt, parse(fmt, lines.toDF("value"), opts), opts)
  }

  /** Structured-source variant: apply a format to a table whose
    * columns already exist (parquet/csv/json/JDBC — anything Spark
    * reads), matching fields BY NAME instead of token position. The
    * tokenizer stage disappears; per-field transforms (date/time
    * bucketing, URL normalization, C casts), match predicates,
    * filter_contain, key construction, and the aggregation/finalize
    * pipeline are identical to the delimited-text path. This makes
    * the format model a general query spec rather than a text
    * parser: the same JSON drives a 100 TB parquet scan with full
    * predicate pushdown and pruning (only named fields are read).
    * Every non-derived field name must be a column of `table`.
    */
  def runOnTable(fmt: LogFormat, table: DataFrame,
                 opts: Options = Options()): DataFrame = {
    // no preprocessing over structured columns, so no token tail is read
    val plain = fmt.copy(fields = fmt.fields.map(_.copy(preprocessing = "")))
    val (cols, keep, dictJoins) =
      fieldColumns(plain, f => fcol(f.name).cast("string"), _ => lit(null))
    val filtered = applyDictJoins(keep.map(table.filter).getOrElse(table), dictJoins)
    aggregate(plain, filtered.select(cols: _*), opts.copy(storeContent = false))
  }

  /** Top-k display ordering: count desc, key asc
    * (miw/mr_job.cc:74-107). */
  def topK(result: DataFrame, k: Int): DataFrame =
    result.orderBy(col("logs").desc, col("id").asc).limit(k)
}
