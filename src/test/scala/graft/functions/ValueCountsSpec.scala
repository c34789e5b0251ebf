package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The value-count kernel's merge laws over random buffers, and the
  * kernel through Spark's partial/final aggregate (hash-based and
  * sort-based) against a plain Scala group-and-count fold. */
class ValueCountsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until 200).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  /** Few distinct values, so values repeat: the empty string,
    * multi-byte UTF-8 (U+FB00 sorts after the 4-byte U+1F600 in UTF-8
    * but before it in UTF-16) and nulls. */
  private val valueGen: Gen[String] = Gen.frequency(
    6 -> Gen.listOfN(2, Gen.oneOf('a', 'b', 'Z')).map(_.mkString),
    1 -> Gen.const(""),
    2 -> Gen.oneOf("é", "漢字", "ﬀ", "😀", "a😀"),
    1 -> Gen.const(null: String))
  private val valuesGen = Gen.listOf(valueGen)

  private val kernel = ValueCounts(BoundReference(0, StringType, nullable = true), withCounts = true)

  private def bufferOf(vals: Seq[String]): ValueCounts.Buffer =
    vals.foldLeft(kernel.createAggregationBuffer()) { (b, v) =>
      kernel.update(b, InternalRow(if (v == null) null else UTF8String.fromString(v)))
    }

  private def contents(b: ValueCounts.Buffer): Map[String, Long] = {
    val m = Map.newBuilder[String, Long]
    b.forEach((k, n) => m += k.toString -> n(0))
    m.result()
  }

  /** The Scala reference: occurrences of each non-null value. */
  private def fold(vals: Seq[String]): Map[String, Long] =
    vals.filter(_ != null).groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }

  private val utf8Order: Ordering[String] = (a, b) =>
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  test("update counts each non-null value; eval sorts in UTF-8 binary order") {
    forAll(valuesGen) { vals =>
      val b = bufferOf(vals)
      assert(contents(b) == fold(vals))
      val row = kernel.eval(b).asInstanceOf[InternalRow]
      val got = row.getArray(0).toArray[UTF8String](StringType).map(_.toString).toSeq
      val counts = row.getArray(1).toLongArray().toSeq
      val expected = fold(vals).toSeq.sortBy(_._1)(utf8Order)
      assert(got == expected.map(_._1) && counts == expected.map(_._2))
    }
  }

  test("a new value is copied: the input row's bytes may be reused") {
    val bytes = "aa".getBytes(UTF_8)
    val shared = UTF8String.fromBytes(bytes)
    val b = kernel.createAggregationBuffer()
    kernel.update(b, InternalRow(shared))
    bytes(0) = 'b'.toByte
    kernel.update(b, InternalRow(shared))
    assert(contents(b) == Map("aa" -> 1L, "ba" -> 1L))
  }

  test("merge is commutative and associative, with the empty buffer as identity") {
    // merge reuses its arguments, so every use gets fresh buffers
    forAll(Gen.zip(valuesGen, valuesGen, valuesGen)) { case (a, b, c) =>
      def m(x: ValueCounts.Buffer, y: ValueCounts.Buffer) = kernel.merge(x, y)
      assert(contents(m(bufferOf(a), bufferOf(b))) == contents(m(bufferOf(b), bufferOf(a))))
      assert(contents(m(m(bufferOf(a), bufferOf(b)), bufferOf(c))) ==
        contents(m(bufferOf(a), m(bufferOf(b), bufferOf(c)))))
      assert(contents(m(bufferOf(a), kernel.createAggregationBuffer())) == fold(a))
      assert(contents(m(kernel.createAggregationBuffer(), bufferOf(a))) == fold(a))
    }
  }

  test("deserialize(serialize(b)) equals b") {
    forAll(valuesGen) { vals =>
      val b = bufferOf(vals)
      val back = kernel.deserialize(kernel.serialize(b))
      assert(contents(back) == contents(b))
      assert(kernel.serialize(back).length == kernel.serialize(b).length)
    }
  }

  test("any split of the input, merged through serialized buffers, equals the whole") {
    forAll(Gen.zip(valuesGen, Gen.listOf(Gen.choose(0, 50)))) { case (vals, cuts0) =>
      val cuts = (0 +: cuts0.map(_ % (vals.size + 1)) :+ vals.size).sorted
      val parts = cuts.zip(cuts.tail).map { case (i, j) => vals.slice(i, j) }
      val merged = parts.map(p => kernel.deserialize(kernel.serialize(bufferOf(p))))
        .reduce(kernel.merge)
      assert(contents(merged) == fold(vals))
    }
  }

  private val rows: Seq[(String, String)] = {
    val rowGen = Gen.zip(Gen.choose(0, 29).map(k => s"k$k"), valueGen)
    (0 until 3000).map(i => rowGen.apply(Gen.Parameters.default, Seed(i.toLong)).get)
  }

  private def checkAgainstFold(partitions: Int): Unit = {
    import spark.implicits._
    val df = rows.toDF("k", "v").repartition(partitions)
      .groupBy("k")
      .agg(ValueCounts(col("v")).as("vc"), ValueCounts.values(col("v")).as("u"),
        array_sort(collect_set(col("v"))).as("set"))
    assert(df.schema("u").dataType == ArrayType(StringType, containsNull = false))
    assert(df.schema("vc").dataType == ValueCounts.CountsType)
    val got = df.select(col("k"), col("vc.values"), col("vc.counts"), col("u"), col("set"))
      .as[(String, Seq[String], Seq[Long], Seq[String], Seq[String])].collect()
    val expected = rows.groupBy(_._1).map { case (k, kvs) => k -> fold(kvs.map(_._2)) }
    assert(got.map(_._1).toSet == expected.keySet)
    got.foreach { case (k, values, counts, u, set) =>
      val e = expected(k).toSeq.sortBy(_._1)(utf8Order)
      assert(values == e.map(_._1) && counts == e.map(_._2), k)
      // the keys-only form is exactly the sorted collect_set it replaces
      assert(u == values && set == values, k)
    }
  }

  for (partitions <- Seq(1, 7))
    test(s"DataFrame aggregate equals a Scala group-and-count fold at $partitions partition(s)") {
      checkAgainstFold(partitions)
    }

  test("DataFrame aggregate equals the fold on the sort-based fallback path") {
    val threshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val before = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "1")
    try checkAgainstFold(7)
    finally before.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  test("a group of only nulls gives empty arrays, never null") {
    import spark.implicits._
    val r = Seq(("a", null: String), ("a", null)).toDF("k", "v").groupBy("k")
      .agg(ValueCounts(col("v")).as("vc"), ValueCounts.values(col("v")).as("u"))
      .select(col("vc.values"), col("vc.counts"), col("u")).head()
    assert(r.getSeq[String](0).isEmpty && r.getSeq[Long](1).isEmpty && r.getSeq[String](2).isEmpty)
  }
}
