package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.miw.{Output, Tokenizer}

/** Property-based invariants. The merge laws are what make the
  * distributed engine correct: Spark may split, reorder, and regroup
  * partial aggregates arbitrarily, so every custom merge must be a
  * commutative monoid — checked here over random data rather than
  * hand-picked examples. */
class PropertiesSpec extends AnyFunSuite {

  /** Deterministic mini-forAll: 200 seeded samples per property (the
    * scalatest-scalacheck bridge isn't in the offline dep set). */
  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until 200).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }
  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(g1, g2))(t => f(t._1, t._2))

  private val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)

  test("simpleSplit: tokens contain no delimiters, no empties, and preserve content") {
    val delims = ",;"
    val lineGen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(',', ';')))
      .map(_.mkString)
    forAll(lineGen) { line =>
      val toks = Tokenizer.simpleSplit(line, delims)
      assert(toks.forall(t => t.nonEmpty && !t.exists(delims.contains(_))))
      assert(toks.mkString == line.filterNot(delims.contains(_)))
    }
  }

  test("quotedSplit equals simpleSplit on quote-free input") {
    val lineGen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(','))).map(_.mkString)
    forAll(lineGen) { line =>
      assert(Tokenizer.quotedSplit(line, ",", '"') == Tokenizer.simpleSplit(line, ","))
    }
  }

  test("formatG round-trips: parsing the output recovers the double at 17 sig digits") {
    forAll(Gen.chooseNum(-1e18, 1e18)) { d =>
      val s = Output.formatG(d, 17)
      // 17 significant decimal digits uniquely identify a double
      assert(java.lang.Double.parseDouble(s) == d, s"$d -> $s")
    }
  }

  test("formatG(_, 6) matches C %g on representative values") {
    // spot contract (full C comparison lives in OutputSpec goldens)
    assert(Output.formatG(0.0001, 6) == "0.0001")
    assert(Output.formatG(0.00001, 6) == "1e-05")
    assert(Output.formatG(123456789.0, 6) == "1.23457e+08")
    assert(Output.formatG(-2.5, 6) == "-2.5")
  }

  // ---- native text kernels (interpreted eval path) vs independent
  //      Scala references — fuzzed; codegen parity rides the df-level
  //      TextExprsSpec + the q30/q31/q60 oracle gates ----

  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String
  import graft.functions.{AlnumCount, AlphaWordCount, PositionalFingerprint, SetHitCount, TokenStats, WinnowFingerprint}

  private def strArray(xs: Seq[String]): GenericArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])

  test("SetHitCount fuzz: counts occurrences of set members") {
    val wordsGen = Gen.listOfN(5, word)
    forAll(wordsGen, Gen.listOf(word)) { (ws, toks) =>
      val e = SetHitCount(Literal("x"), ws)
      val got = e.nullSafeEval(strArray(toks)).asInstanceOf[Long]
      assert(got == toks.count(ws.toSet.contains).toLong)
    }
  }

  test("AlnumCount fuzz: equals regex-strip length incl. unicode") {
    val charGen = Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', ',', '!', 'é', 'ß', '日'))
    forAll(Gen.listOf(charGen).map(_.mkString)) { s =>
      val got = AlnumCount(Literal("x")).nullSafeEval(UTF8String.fromString(s))
      assert(got == s.replaceAll("[^A-Za-z0-9]", "").length.toLong, s"on '$s'")
    }
  }

  test("AlphaWordCount fuzz: equals per-token regex check") {
    val tokGen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('1', '!', '.', 'é')))
      .map(_.mkString)
    forAll(Gen.listOf(tokGen)) { toks =>
      val got = AlphaWordCount(Literal("x")).nullSafeEval(strArray(toks))
      assert(got == toks.count(_.exists(c => (c >= 'A' && c <= 'Z') ||
        (c >= 'a' && c <= 'z'))).toLong)
    }
  }

  test("PositionalFingerprint fuzz: equals the positional-weight reference") {
    val P = 1000000007L
    def refHash(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseUnsignedLong(hex.substring(0, 15), 16) % P
    }
    forAll(Gen.listOf(word)) { toks =>
      val got = PositionalFingerprint(Literal("x")).nullSafeEval(strArray(toks))
      val ref = if (toks.isEmpty) 0L
        else toks.zipWithIndex.map { case (t, i) => refHash(t) * ((i % 16) + 1) }.sum % P
      assert(got == ref)
    }
  }

  test("TokenStats fuzz: equals the regex + split reference") {
    val charGen = Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', ',', '!', '.', 'é', 'ß'))
    val pat = java.util.regex.Pattern.compile("[A-Za-z0-9]+|[^A-Za-z0-9 ]")
    forAll(Gen.listOf(charGen).map(_.mkString)) { s =>
      val row = TokenStats(Literal("x")).nullSafeEval(UTF8String.fromString(s))
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val m = pat.matcher(s)
      var rtok = 0L
      while (m.find()) rtok += 1
      val pieces = s.split(" ").filter(_.nonEmpty).map(t => (t.length + 3L) / 4).sum
      assert((row.getLong(0), row.getLong(1)) == ((rtok, pieces)), s"on '$s'")
    }
  }

  test("WinnowFingerprint fuzz: equals a straightforward reference winnower") {
    val P = 1000000007L
    val M = 1L << 20
    def refHash(s: String): Long = {
      // independent route: hex-string parse (the kernel shifts bytes)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseUnsignedLong(hex.substring(0, 15), 16) % P
    }
    def reference(sh: Seq[String], w: Int): (Long, Long) = {
      if (sh.isEmpty) return (0L, 0L)
      val h = sh.map(refHash)
      val n = h.length
      val sel = (0 to math.max(n - w, 0)).map { i =>
        (i to math.min(i + w - 1, n - 1)).map(j => h(j) * M + (M - (j + 1))).min / M
      }.toSet
      (sel.size.toLong, sel.sum % P)
    }
    forAll(Gen.listOf(Gen.listOfN(2, word).map(_.mkString(" "))), Gen.choose(1, 6)) {
      (sh, w) =>
        val e = WinnowFingerprint(Literal("x"), w)
        val row = e.nullSafeEval(strArray(sh))
          .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        assert((row.getLong(0), row.getLong(1)) == reference(sh, w))
    }
  }
}
