package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class AbSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }
  private val base = Seq(1L -> "a", 2L -> "b", 2L -> "b", 3L -> "c")

  test("equality holds for the same rows in a different order") {
    assert(AB.mismatch(df(base: _*), df(base.reverse: _*)).isEmpty)
  }

  test("equality fails for one changed cell, one duplicated row, or another schema") {
    val changed = AB.mismatch(df(base: _*), df(base.updated(3, 3L -> "x"): _*))
    assert(changed.contains("1 rows only in A, 1 rows only in B"), changed)
    val duplicated = AB.mismatch(df(base: _*), df(base :+ (1L -> "a"): _*))
    assert(duplicated.contains("0 rows only in A, 1 rows only in B"), duplicated)
    assert(AB.mismatch(df(base: _*), df(base: _*).withColumnRenamed("v", "w"))
      .exists(_.startsWith("schemas differ")))
  }

  test("arm parsing: a bare name, name@k=v,k2=v2, and a malformed conf") {
    assert(AB.parseArm("q01_agg_basic") == AB.Arm("q01_agg_basic", Nil))
    assert(AB.parseArm("q24@spark.sql.adaptive.enabled=false,graft.x=a=b") ==
      AB.Arm("q24", Seq("spark.sql.adaptive.enabled" -> "false", "graft.x" -> "a=b")))
    intercept[IllegalArgumentException](AB.parseArm("q24@novalue"))
  }

  test("an arm's confs apply inside the arm only and are restored after it") {
    val set = "spark.sql.shuffle.partitions"
    val unset = "graft.ab.spec.probe"
    val before = spark.conf.get(set)
    assert(spark.conf.getOption(unset).isEmpty)
    val inside = AB.withConfs(spark, Seq(set -> "7", unset -> "on")) {
      (spark.conf.get(set), spark.conf.get(unset))
    }
    assert(inside == ("7", "on"))
    assert(spark.conf.get(set) == before && spark.conf.getOption(unset).isEmpty)
    intercept[RuntimeException] {
      AB.withConfs(spark, Seq(set -> "9"))(throw new RuntimeException("arm failed"))
    }
    assert(spark.conf.get(set) == before)
  }
}
