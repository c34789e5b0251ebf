package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into the program. `op` groups the
  * spans of one operation; `parent` is the enclosing span (-1 = root). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counters Spark reports for the work done inside one span. */
final class SpanCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
  var planMs = 0L
  // SQL metrics read from the executed plans of the span's queries
  var scanRows = 0L; var minFilterRows = Long.MaxValue
  var bandCandidates = 0L; var verifiedPairs = 0L
}

/** The traced run's recorder. Spans are kept in memory and written at
  * the end. Spark's listener events arrive asynchronously, so each event
  * is attributed to the innermost span whose wall interval holds its
  * timestamp (every action runs synchronously inside its span); [[drain]]
  * waits until the bus has delivered everything posted so far. */
final class Tracer(spark: SparkSession) {
  private val t0Ns = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Int, Long, Long)] // id, name, op, ns, ms
  private var nextId = 0

  def span[T](name: String, op: Int)(body: => T): T = {
    val id = nextId; nextId += 1
    open = (id, name, op, System.nanoTime(), System.currentTimeMillis()) :: open
    try body
    finally {
      val (_, _, _, ns, ms) = open.head
      open = open.tail
      val parent = open.headOption.map(_._1).getOrElse(-1)
      spans.synchronized {
        spans += Span(id, name, parent, op, ns, System.nanoTime(), ms, System.currentTimeMillis())
      }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.sortBy(_.id).toSeq)

  // ---------------------------------------------------------- events

  private val events = mutable.ArrayBuffer.empty[(Long, SpanCounters => Unit)]
  private def record(tsMs: Long)(f: SpanCounters => Unit): Unit =
    events.synchronized(events += ((tsMs, f)))

  @volatile private var markerSeen = false

  private def isMarker(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty("perfbench.marker") != null)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (isMarker(e)) markerSeen = true else record(e.time)(_.jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      e.stageInfo.submissionTime.foreach(t => record(t)(_.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) record(e.taskInfo.launchTime) { c =>
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val at = phases.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      val plan = nodes(qe.executedPlan)
      def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      val scanRows = plan.collect { case s: FileSourceScanExec => rows(s) }.sum
      val filterRows = plan.collect { case f: FilterExec => rows(f) }
      val band = plan.collect {
        case j: BaseJoinExec if j.leftKeys.flatMap(_.references.map(_.name)).toSet == Set("band", "sig") => rows(j)
      }.sum
      // the jaccard verification: a filter, or folded into a join condition
      val verified = plan.collect {
        case f: FilterExec if f.condition.toString.contains("array_intersect") => rows(f)
        case j: BaseJoinExec if j.condition.exists(_.toString.contains("array_intersect")) => rows(j)
      }.sum
      record(at) { c =>
        c.planMs += planMs
        c.scanRows += scanRows
        if (filterRows.nonEmpty) c.minFilterRows = math.min(c.minFilterRows, filterRows.min)
        c.bandCandidates += band; c.verifiedPairs += verified
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Every physical node, looking through adaptive wrappers and query
    * stages; a reused exchange is counted once, where it was built. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: other.children.flatMap(nodes)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Blocks until the listener bus has delivered every event posted
    * before this call: both listeners share the bus's queue, so seeing
    * a marker job's start means everything before it was delivered. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    markerSeen = false
    sc.setLocalProperty("perfbench.marker", "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("perfbench.marker", null)
    val deadline = System.currentTimeMillis() + 60000
    while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
    require(markerSeen, "listener bus did not drain within 60 s")
  }

  /** Counters per span id, each event charged to the innermost span
    * (the latest-started one) that contains its timestamp. */
  def countersBySpan(): Map[Int, SpanCounters] = {
    drain()
    val ss = allSpans
    val out = mutable.Map.empty[Int, SpanCounters]
    events.synchronized {
      for ((ts, f) <- events) {
        val inner = ss.filter(s => s.startMs <= ts && ts <= s.endMs)
        if (inner.nonEmpty) f(out.getOrElseUpdate(inner.maxBy(_.startNs).id, new SpanCounters))
      }
    }
    out.toMap
  }

  /** Spans as JSON lines; self time = duration minus the time covered
    * by direct children (which never overlap: calls are sequential). */
  def writeSpans(path: String): Unit = {
    val ss = allSpans
    val kids = ss.groupBy(_.parent)
    val w = new java.io.PrintWriter(path)
    try ss.foreach { s =>
      val childS = kids.getOrElse(s.id, Nil).map(_.seconds).sum
      w.println(Json.mapper.writeValueAsString(ListMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> (s.startNs - t0Ns) / 1e9, "end_s" -> (s.endNs - t0Ns) / 1e9,
        "dur_s" -> s.seconds, "self_s" -> (s.seconds - childS))))
    } finally w.close()
  }
}
