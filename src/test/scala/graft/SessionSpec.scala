package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {
  import Session.{CpusVar, cpusFrom}

  test("cpusFrom: 4 when unset, the integer when valid") {
    assert(cpusFrom(Map.empty) == 4)
    assert(cpusFrom(Map(CpusVar -> "8")) == 8)
    assert(cpusFrom(Map(CpusVar -> " 1 ")) == 1)
  }

  test("cpusFrom rejects a non-integer or a value below 1, naming the variable") {
    for (bad <- Seq("abc", "0", "-2", "", "4.5", "8 cores")) {
      val e = intercept[IllegalArgumentException](cpusFrom(Map(CpusVar -> bad)))
      assert(e.getMessage.contains(CpusVar) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("the factory sets threads and shuffle partitions from cpus") {
    val conf = SparkTestSession.spark.conf
    assert(SparkTestSession.spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("no main source other than graft/Session.scala builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    val builders = sources.filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString)
    assert(builders == Seq("graft/Session.scala"))
  }
}
