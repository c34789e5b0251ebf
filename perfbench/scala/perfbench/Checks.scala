package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** Output checks. A result is a set of rows, each column either a scalar
  * (as printed) or an array of printed elements. `perturb` deliberately
  * corrupts a result before it is checked, so the checker itself can be
  * tested: "drop_group" loses one group (MIW, dedup), "change_count"
  * adds one to a group's `logs` (MIW), "change_state" adds one to the
  * stream state's Σ`logs`. */
object Checks {
  type Row = Map[String, Any] // String | Seq[String]

  /** The CLI's JSON-lines file. */
  def readJson(path: String): Seq[Row] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      Json.mapper.readTree(l).properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isArray) v.elements().asScala.map(_.asText).toVector else v.asText)
      }.toMap
    }.toVector
    finally src.close()
  }

  def perturbRows(rows: Seq[Row], perturb: String, victim: String): Seq[Row] = perturb match {
    case "drop_group" => rows.filterNot(_("id") == victim)
    case "change_count" => rows.map(r =>
      if (r("id") == victim) r.updated("logs", (r("logs").toString.toLong + 1).toString) else r)
    case _ => rows
  }

  private def numEq(out: String, exp: JsonNode): Boolean =
    scala.util.Try {
      if (exp.isIntegralNumber) BigDecimal(out) == BigDecimal(exp.asText)
      else {
        // the generator's double arithmetic may differ in the last bits
        val (a, b) = (out.toDouble, exp.asDouble)
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      }
    }.getOrElse(false)

  private def valueEq(out: Any, exp: JsonNode): Boolean = (out, exp) match {
    case (xs: Seq[_], e) if e.isArray =>
      val es = e.elements().asScala.toVector
      xs.size == es.size && xs.zip(es).forall { case (x, ev) => valueEq(x, ev) }
    case (s: String, e) if e.isNumber => numEq(s, e)
    case (s: String, e) => s == e.asText
    case _ => false
  }

  /** MIW: Σlogs equals the kept lines, the group count equals the
    * distinct keys, and each sampled group equals the generator's fold. */
  def miw(rows: Seq[Row], expected: JsonNode): Option[String] = {
    val kept = expected.get("kept").asLong
    val groups = expected.get("groups").asLong
    val logs = rows.map(_.get("logs").fold(0L)(_.toString.toLong)).sum
    if (rows.size != groups) return Some(s"groups ${rows.size} != expected $groups")
    if (logs != kept) return Some(s"sum(logs) $logs != kept lines $kept")
    val byId = rows.map(r => r("id").toString -> r).toMap
    for (s <- expected.get("samples").elements().asScala) {
      val id = s.get("id").asText
      val row = byId.getOrElse(id, return Some(s"group $id missing"))
      for (e <- s.properties().asScala if e.getKey != "id") {
        val got = row.getOrElse(e.getKey, return Some(s"group $id has no column ${e.getKey}"))
        if (!valueEq(got, e.getValue))
          return Some(s"group $id column ${e.getKey}: got $got, expected ${e.getValue}")
      }
    }
    None
  }

  /** Dedup, by properties that hold for any MinHash/LSH hash family:
    * every survivor is the min id of its exact-clone group, and every
    * planted family keeps at least one survivor (a singleton keeps
    * exactly its own). Two families merged into one component would
    * leave one of them with none. A family split across components
    * keeps more than one; `queries.split_clusters` reports that. */
  def dedup(survivors: Seq[Long], expected: JsonNode, perturb: String): Option[String] = {
    val families = expected.get("families").elements().asScala.map(
      _.elements().asScala.map(_.elements().asScala.map(_.asLong).toVector).toVector).toVector
    val got = perturb match {
      // the survivor of the first single-text family: never legitimately absent
      case "drop_group" => survivors.diff(families.find(_.size == 1).get.head.take(1))
      case _ => survivors
    }
    val groupOf = (for ((fam, f) <- families.zipWithIndex; g <- fam; id <- g) yield id -> (f, g)).toMap
    if (got.distinct.size != got.size) return Some("a survivor id repeats")
    for (id <- got) groupOf.get(id) match {
      case None => return Some(s"survivor $id is no input document")
      case Some((_, g)) if g.head != id => return Some(s"survivor $id is an exact clone of ${g.head}")
      case _ =>
    }
    val kept = got.map(id => groupOf(id)._1).toSet
    families.indices.find(f => !kept(f)).map(f =>
      s"planted family $f (docs ${families(f).flatten.take(3).mkString(",")}...) has no survivor")
  }

  /** Stream: the state's key count and Σlogs equal the batch engine's
    * result over the same lines. */
  def stream(stateKeys: Long, stateLogs: Long, batchKeys: Long, batchLogs: Long,
             perturb: String): Option[String] = {
    val l = if (perturb == "change_state") stateLogs + 1 else stateLogs
    if (stateKeys != batchKeys) Some(s"state keys $stateKeys != batch groups $batchKeys")
    else if (l != batchLogs) Some(s"state sum(logs) $l != batch sum(logs) $batchLogs")
    else None
  }
}
