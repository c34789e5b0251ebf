package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Checkpoints._
import graft.{Bench, Session, SparkEntry}

/** Same-JVM A/B of two query arms (a dev tool; nothing else calls it).
  * The host has multi-second noise windows, so cross-run timings are
  * worthless; the arms alternate in one JVM and min-of-passes per arm
  * decides.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=… \
  *   sbt "runMain graft.tools.AB <armA> <armB>"
  *
  * An arm is a [[SparkEntry.queries]] name, optionally written
  * `name@k=v,k2=v2`: those SQL confs are set for that arm only and
  * restored after it. So one tool compares two queries, or one query
  * under two confs. Equality comes first — a faster different answer
  * is not a win: each arm's result is materialized under its own confs
  * and compared as a multiset (`exceptAll` both ways); a mismatch
  * exits 1. The materialized results are released before timing, so
  * the timed passes run with no extra blocks held. Each of the
  * [[passes]] timed passes then forces the full result with `foreach`
  * behind [[Bench.barrier]], as Bench does, with the same
  * [[Bench.quietAccumulatorRace]] log setting.
  */
object AB {
  val passes = 3

  final case class Arm(query: String, confs: Seq[(String, String)])

  def parseArm(s: String): Arm = s.split("@", 2) match {
    case Array(q) => Arm(q, Nil)
    case Array(q, kvs) => Arm(q, kvs.split(",").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(s"arm conf '$kv' is not k=v")
      }
    })
  }

  /** Runs `body` with `confs` set, then restores each key's prior value
    * (unsetting keys that had none). */
  def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Why `a` and `b` differ as multisets of rows, or None when equal. */
  def mismatch(a: DataFrame, b: DataFrame): Option[String] = {
    def shape(df: DataFrame) = df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
    if (shape(a) != shape(b))
      Some(s"schemas differ: ${a.schema.simpleString} vs ${b.schema.simpleString}")
    else {
      val (onlyA, onlyB) = (a.exceptAll(b).count(), b.exceptAll(a).count())
      if (onlyA + onlyB == 0) None else Some(s"$onlyA rows only in A, $onlyB rows only in B")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: AB <armA> <armB>; arm = query[@k=v,k2=v2]")
      sys.exit(2)
    }
    val arms = Seq(parseArm(args(0)), parseArm(args(1)))
    val unknown = arms.map(_.query).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to a testdata directory"))
    val spark = Session()
    Bench.quietAccumulatorRace()
    def query(arm: Arm): DataFrame = SparkEntry.queries(arm.query)(spark, sfDir)

    val Seq(a, b) = arms.map(arm => withConfs(spark, arm.confs)(query(arm).cut(eager = true)))
    mismatch(a, b) match {
      case Some(why) =>
        println(s"[ab] MISMATCH: $why")
        spark.stop()
        sys.exit(1)
      case None => println(s"[ab] results identical: ${a.count()} rows")
    }
    // drop the checkpointed blocks of both results: the timed passes
    // rebuild each query from scratch and must not carry them
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    var prev = 0.0
    def pass(arm: Arm): Double = {
      Bench.barrier(prev)
      val t0 = System.nanoTime()
      withConfs(spark, arm.confs)(query(arm).foreach(_ => ()))
      prev = (System.nanoTime() - t0) / 1e9
      prev
    }
    val times = (1 to passes).map { i =>
      val (ta, tb) = (pass(arms(0)), pass(arms(1)))
      println(f"[ab] pass $i: A=$ta%.3f s  B=$tb%.3f s")
      (ta, tb)
    }
    val (minA, minB) = (times.map(_._1).min, times.map(_._2).min)
    println(f"[ab] A ${args(0)} min=$minA%.3f s")
    println(f"[ab] B ${args(1)} min=$minB%.3f s")
    println(f"[ab] min ratio A/B = ${minA / minB}%.3f")
    spark.stop()
  }
}
