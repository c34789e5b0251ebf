package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Exact-arithmetic Column helpers shared by the dedup / similarity /
  * text-analysis operators.
  *
  * Everything here is engineered so that a DuckDB oracle can reproduce
  * results BIT-IDENTICALLY, and so results are independent of
  * partitioning and merge order — which is also precisely what makes
  * them safe at cluster scale:
  *
  *  - Hashing goes through md5 (identical bytes everywhere) folded to a
  *    60-bit integer, not engine-native hash functions.
  *  - Vector math int-scales float32 embeddings to int64 (×1e6) first;
  *    integer dot products / norms are exact and order-independent,
  *    unlike float summation which drifts with partial-aggregation
  *    order. The final divisions are deterministic IEEE double ops on
  *    exact integers.
  *
  * All helpers are pure Column expressions (codegen-friendly where
  * Spark supports it; higher-order functions evaluate per-row without
  * shuffles).
  */
object ExactCols {

  /** Modulus for hash folding: 1e9+7 (prime). Products with small
    * coefficients stay far below 2^63. */
  val P = 1000000007L

  /** 60-bit integer from the first 15 hex chars of md5 —
    * reproducible in any engine that has md5. */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** h60 folded into [0, P). */
  def hmod(c: Column): Column = h60(c) % P

  // MessageDigest is not thread-safe and getInstance per call is a
  // measured hot-path cost (q118/q119/q224 call hmodJvm once per
  // TOKEN); one instance per task thread, reset between calls
  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** JVM-side mirror of [[hmod]] (md5 first-15-hex → int64, % P) for
    * per-row imperative paths (typed streaming maps) that must agree
    * bit-for-bit with the columnar expression.
    * ExactColsSpec pins JVM ≡ column. */
  def hmodJvm(s: String): Long = hmodBytes(s.getBytes("UTF-8"))

  /** [[hmodJvm]] over raw UTF-8 bytes — the one JVM md5 fold; the
    * native text kernels hash `UTF8String` bytes through it. */
  def hmodBytes(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    foldDigest(md.digest(bytes))
  }

  /** md5 digest → [[hmod]] value. The first 15 hex chars of the
    * digest are the top 60 bits of the first 8 bytes read big-endian,
    * so the value is computed directly from the bytes — no hex
    * formatting/parsing round trip (was ~1 µs/call, dominating the
    * per-token codec paths). Kernels that stream several tokens into
    * one digest fold it here. */
  def foldDigest(d: Array[Byte]): Long = {
    val be =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    (be >>> 4) % P
  }

  /** Whitespace tokens, empties dropped (same as the wordcount path).
    * array_remove, NOT filter(_ =!= "") — ArrayRemove is codegen while
    * the filter lambda is an interpreted per-token closure; identical
    * semantics (split emits no nulls, array_remove drops every ""). */
  def tokens(text: Column): Column =
    array_remove(split(text, " "), "")

  /** Word n-gram shingles (space-joined), optionally distinct —
    * native single-pass expression (NGramExpr.WordNGrams); fewer than
    * n tokens → empty array. */
  def shingles(toks: Column, n: Int, distinct: Boolean): Column =
    NGramExpr.wordNGrams(toks, n, distinct)

  /** float32 vector → int64 vector, scaled by 1e6 with HALF_UP
    * rounding (DuckDB: list_transform(v, x -> CAST(round(CAST(x AS
    * DOUBLE)*1000000) AS BIGINT))) — the IScale codegen kernel, not
    * the `transform(v, x => round(...))` lambda: that form ran one
    * interpreted closure per element in the scan stage of every
    * embedding query (equivalence fuzz-tested in VectorExprsSpec). */
  def iscale(vec: Column): Column = VectorExprs.iscale(vec)

  /** Exact integer dot product of two int64 vectors — a native
    * codegen Expression (VectorExprs.LongDot); the declarative
    * zip_with+aggregate form is semantically identical but evaluates
    * one interpreted closure per element, which dominates pair-join
    * runtimes. */
  def idot(a: Column, b: Column): Column = VectorExprs.longDot(a, b)

  /** Euclidean norm of an int64 vector (double, from an exact int). */
  def inorm(v: Column): Column = sqrt(idot(v, v).cast(DoubleType))

  /** Cosine similarity of two int64-scaled vectors: deterministic
    * double division of exact integers. */
  def icosine(av: Column, bv: Column, anorm: Column, bnorm: Column): Column =
    idot(av, bv).cast(DoubleType) / (anorm * bnorm)

  /** SQL fragment mirrors (DuckDB dialect) — kept beside the Column
    * versions so each side of an oracle pair is maintained together. */
  object sql {
    def h60(e: String): String = s"('0x'||substring(md5($e),1,15))::BIGINT"
    def hmod(e: String): String = s"${h60(e)} % ${P}"
    def tokens(e: String): String =
      s"list_filter(string_split($e,' '), x->x<>'')"
    val iscale: String =
      "list_transform(%s, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT))"
  }
}
