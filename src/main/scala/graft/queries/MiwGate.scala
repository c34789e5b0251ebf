package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables._
import graft.functions.ValueCounts
import graft.miw.{FieldExprs, LogFormat, MiwEngine}

/** Correctness-gate coverage for the MIW engine itself and the
  * remaining reference aggregations/transforms that q01–q22 exercise
  * only via plain DataFrame plans: the full format-driven pipeline
  * end-to-end, the ValueCounts kernel, naive variance, URL
  * normalization, and unpadded date bucketing.
  *
  * The end-to-end query (q34) synthesizes delimited log lines from
  * the events table, runs them through LogFormat → MiwEngine
  * (tokenize → project → filter_contain → groupBy key → agg →
  * finalize), and the oracle recomputes the same answer relationally
  * from the source table — so the whole parse/compile/aggregate path
  * is differentially tested, not just unit-tested.
  */
object MiwGate {

  private val evFormat = LogFormat.parse(
    """{"format_name":"evgate","delims":",","fields":[
        {"name":"etype","pos":0,"type":"string","key":true},
        {"name":"uid_sum","pos":1,"type":"int","aggregated":true,"aggregation":"sum"},
        {"name":"uid_mean","pos":1,"type":"int","aggregated":true,"aggregation":"mean"},
        {"name":"props","pos":2,"type":"string"},
        {"name":"hit7","pos":2,"type":"int","filter":"7","filter_type":"contain"}
      ]}""")

  val entries: Vector[Q] = Vector(

    // format-driven pipeline end-to-end over synthesized log lines
    Q("q34_miw_pipeline", (s, d) => {
      val lines = t(s, d, "events")
        .select(concat_ws(",",
          col("event_type"), col("user_id").cast("string"), col("props")).as("value"))
      MiwEngine.aggregate(evFormat, MiwEngine.parse(evFormat, lines))
        .orderBy(col("id"))
    }, Some("""
      SELECT event_type AS id, count(*) AS logs,
             event_type AS etype,
             CAST(SUM(user_id) AS BIGINT) AS uid_sum,
             CAST(SUM(user_id) AS DOUBLE) / count(user_id) AS uid_mean,
             min(replace(props, '"', '')) AS props,
             CAST(SUM(CASE WHEN props LIKE '%7%' THEN 1 ELSE 0 END) AS BIGINT) AS hit7,
             'evgate' AS format_name,
             '0000-00-00T00:00:00Z' AS std_date_dt
      FROM events GROUP BY event_type ORDER BY id""")),

    // union_count via the ValueCounts kernel (vs q14's two-phase SQL);
    // the rendered "k:cnt" strings are sorted, as the oracle sorts them
    Q("q35_union_count_agg", (s, d) => {
      val m = ValueCounts((col("user_id") % 20).cast("string"))
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(m.as("m"))
        .select(col("event_type"),
          concat_ws(",", array_sort(zip_with(col("m.values"), col("m.counts"),
            (k, n) => concat(k, lit(":"), n)))).as("bucket_counts"))
        .orderBy(col("event_type"))
    }, Some("""
      SELECT event_type,
             array_to_string(list_sort(list(bucket || ':' || cnt)), ',') AS bucket_counts
      FROM (SELECT event_type, CAST(user_id % 20 AS VARCHAR) AS bucket, count(*) AS cnt
            FROM events GROUP BY 1, 2)
      GROUP BY 1 ORDER BY 1""")),

    // naive variance, reference expression order (Σx² − (Σx)²/n)/(n−1)
    Q("q36_variance", (s, d) => {
      val c = col("user_id")
      val sx = sum(c).cast(DoubleType)
      val sxx = sum(c * c).cast(DoubleType)
      val n = count(c).cast(DoubleType)
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("logs"),
          ((sxx - (sx * sx) / n) / greatest(lit(1.0), n - 1)).as("var_uid"))
        .orderBy(col("event_type"))
    }, Some("""
      SELECT event_type, count(*) AS logs,
             (CAST(SUM(user_id*user_id) AS DOUBLE)
               - (CAST(SUM(user_id) AS DOUBLE) * CAST(SUM(user_id) AS DOUBLE))
                 / CAST(COUNT(user_id) AS DOUBLE))
             / GREATEST(CAST(1 AS DOUBLE), CAST(COUNT(user_id) AS DOUBLE) - 1) AS var_uid
      FROM events GROUP BY 1 ORDER BY 1""")),

    // URL normalization (%scheme://%host%port) over synthesized URLs —
    // parse_url-based rebuild checked against direct construction
    Q("q37_url_normalize", (s, d) => {
      val url = concat(lit("https://svc"), (col("user_id") % 10).cast("string"),
        lit(".example.com:8443/p/"), col("event_type"),
        lit("?uid="), (col("user_id") % 100).cast("string"))
      t(s, d, "events")
        .select(FieldExprs.urlNormalize(url, "%scheme://%host%port").as("origin"))
        .groupBy(col("origin"))
        .agg(count(lit(1)).as("logs"))
        .orderBy(col("origin"))
    }, Some("""
      SELECT 'https://svc' || CAST(user_id % 10 AS VARCHAR) || '.example.com:8443' AS origin,
             count(*) AS logs
      FROM events GROUP BY 1 ORDER BY 1""")),

    // unpadded date bucketing with a 15-minute offset (reference
    // std::to_string tm fields — '2024-3-7T9:45:00' style keys)
    Q("q38_date_bucket_unpadded", (s, d) => {
      t(s, d, "events")
        .groupBy(FieldExprs.dateBucket(col("ts"), "minute", 15).as("bucket"))
        .agg(count(lit(1)).as("logs"))
        .orderBy(col("bucket"))
    }, Some("""
      SELECT CAST(year(ts) AS VARCHAR) || '-' || CAST(month(ts) AS VARCHAR) || '-'
             || CAST(day(ts) AS VARCHAR) || 'T' || CAST(hour(ts) AS VARCHAR) || ':'
             || lpad(CAST((minute(ts)//15)*15 AS VARCHAR), 2, '0') || ':00' AS bucket,
             count(*) AS logs
      FROM events GROUP BY 1 ORDER BY 1"""))
  )
}
