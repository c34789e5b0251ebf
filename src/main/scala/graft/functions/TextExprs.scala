package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native text kernels (same rationale as VectorExprs: the
  * declarative `filter(toks, t => w1 === t || w2 === t || …)` form
  * runs one interpreted closure per token with an O(|words|) equality
  * chain inside — at corpus scale that lambda dominates the scan
  * stage. These loop over ArrayData in generated Java against a
  * shared hash set.) */

/** Count of array elements contained in a FIXED word set — the
  * stopword/marker-hit counter behind quality scoring (q31) and
  * language-ID (q30). Occurrences count (duplicates included),
  * matching `list_filter(tk, t -> list_contains(set, t))` in the
  * DuckDB oracles. Null input → null; null elements don't count. */
case class SetHitCount(child: Expression, words: Seq[String])
    extends UnaryExpression with Serializable {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  // one set per expression instance, shared across rows (and shipped
  // into generated code via a codegen object reference)
  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i) && set.contains(xs.getUTF8String(i))) acc += 1L
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val setRef = ctx.addReferenceObj("hitSet", set, "java.util.HashSet")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = $xs.numElements();
        long $acc = 0L;
        for (int $i = 0; $i < $n; $i++) {
          if (!$xs.isNullAt($i) && $setRef.contains($xs.getUTF8String($i))) $acc++;
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): SetHitCount =
    copy(child = newChild)
  override def prettyName: String = "set_hit_count"
}

/** Per-term occurrence counts over a token array — SetHitCount
  * generalized to return one count PER word instead of the total:
  * `term_counts(tk, [w0, w1, …])[i]` equals
  * `len(list_filter(tk, x -> x = wi))`. One hash-probe per token for
  * ALL terms, replacing the per-term interpreted `filter(col, x =>
  * x === tm)` lambdas that dominated q57's scan stage (the same
  * hot-loop class q31 hit at 100×). Null input → null; null elements
  * don't count. */
case class TermCounts(child: Expression, words: Seq[String])
    extends UnaryExpression with Serializable {
  require(words.nonEmpty && words.distinct.size == words.size)

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  // word → slot index, shared across rows and shipped into generated
  // code as a codegen object reference (same pattern as SetHitCount)
  @transient private lazy val slots: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](words.size * 2)
    words.zipWithIndex.foreach { case (w, i) =>
      m.put(UTF8String.fromString(w), Integer.valueOf(i))
    }
    m
  }

  /** Exposed for generated code. */
  def compute(xs: ArrayData): ArrayData = {
    val counts = new Array[Long](words.size)
    val n = xs.numElements()
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val slot = slots.get(xs.getUTF8String(i))
        if (slot != null) counts(slot.intValue()) += 1L
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val ref = ctx.addReferenceObj("termCounts", this, classOf[TermCounts].getName)
      s"${ev.value} = $ref.compute($xs);"
    })

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
  override def prettyName: String = "term_counts"
}

/** Count of ASCII-alphanumeric characters in a string — semantics of
  * `length(regexp_replace(s, '[^A-Za-z0-9]', ''))` without running a
  * regex per row (the regex dominated the q31 scan at 100×). The
  * character class is pure ASCII, and UTF-8 continuation/lead bytes
  * are ≥ 0x80, so a single byte scan is exact for any input: each
  * counted byte IS one matching character, every non-ASCII character
  * contributes only non-matching bytes. Null → null. */
case class AlnumCount(child: Expression)
    extends UnaryExpression with Serializable {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${dt.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val bytes = a.asInstanceOf[UTF8String].getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if ((b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z') ||
          (b >= 'a' && b <= 'z')) acc += 1L
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val acc = ctx.freshName("acc")
      s"""
        byte[] $bytes = $s.getBytes();
        long $acc = 0L;
        for (int $i = 0; $i < $bytes.length; $i++) {
          byte $b = $bytes[$i];
          if (($b >= '0' && $b <= '9') || ($b >= 'A' && $b <= 'Z') ||
              ($b >= 'a' && $b <= 'z')) $acc++;
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): AlnumCount =
    copy(child = newChild)
  override def prettyName: String = "alnum_count"
}

/** Whole winnowing selection (Schleimer et al.) as ONE per-row kernel
  * over the shingle array: md5-fold each shingle to the shared 60-bit
  * hash (identical to ExactCols.hmod — first 15 hex chars of md5 =
  * first 8 digest bytes >>> 4, mod P), then per window of `w`
  * consecutive hashes select the min with the rightmost-on-ties
  * arithmetic encoding h·2²⁰ + (2²⁰ − (pos+1)), and reduce the
  * DISTINCT selected hashes to (n_fp, Σ mod P).
  *
  * Winnowing has NO cross-row dependency — the posexplode → window
  * formulation shuffles and sorts every (doc, pos, hash) row
  * (100 M rows at sf10) to compute something each row can compute
  * alone. This kernel keeps the whole query a scan-stage projection.
  * The heavy work (|shingles| md5 calls per row) swamps the one
  * virtual call into the reference object, which is how the code is
  * shipped into generated code (whole-stage codegen stays intact). */
case class WinnowFingerprint(child: Expression, w: Int)
    extends UnaryExpression with Serializable {
  require(w > 0)

  private val M = 1L << 20

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("n_fp", LongType, nullable = false),
    StructField("fp", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  /** Exposed for generated code. */
  def compute(xs: ArrayData): InternalRow = {
    val n = xs.numElements()
    if (n == 0) return new GenericInternalRow(Array[Any](0L, 0L))
    val h = new Array[Long](n)
    var i = 0
    while (i < n) {
      h(i) = ExactCols.hmodBytes(xs.getUTF8String(i).getBytes)
      i += 1
    }
    val selected = new java.util.HashSet[java.lang.Long]()
    val lastStart = math.max(n - w, 0)
    i = 0
    while (i <= lastStart) {
      var best = Long.MaxValue
      var j = i
      val end = math.min(i + w - 1, n - 1)
      while (j <= end) {
        val enc = h(j) * M + (M - (j + 1))
        if (enc < best) best = enc
        j += 1
      }
      selected.add(best / M)
      i += 1
    }
    var sum = 0L
    val it = selected.iterator()
    while (it.hasNext) sum += it.next()
    new GenericInternalRow(Array[Any](selected.size.toLong, sum % ExactCols.P))
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val ref = ctx.addReferenceObj("winnow", this, classOf[WinnowFingerprint].getName)
      s"${ev.value} = $ref.compute($xs);"
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
  override def prettyName: String = "winnow_fingerprint"
}

/** A document's MinHash AND SimHash signature as ONE per-row kernel
  * over its shingle OCCURRENCES (word n-grams, `distinct = false`):
  * each occurrence is md5-folded once (ExactCols.hmodBytes, the
  * shared hmod), and one loop keeps
  *  - NH minima mh_j = min ((2j+1)·h + j²+7) mod P (the MinHash
  *    family; min is idempotent, so occurrences give the same minima
  *    as the distinct shingle set), and
  *  - SIMBITS bit counters c_k = #{h : bit k of h set}; simhash bit
  *    k is set iff 2·c_k > #occurrences (majority with multiplicity).
  * An empty array gives mh_j = P (the no-shingle sentinel) and
  * simhash 0. Null input → null; null elements are skipped.
  *
  * Every shingle of a document lives in its row, so the signature
  * needs no explode → groupBy(doc) shuffle: the operator stays a
  * scan-stage projection inside whole-stage codegen (doGenCode calls
  * compute, as WinnowFingerprint does). */
case class ShingleSignature(child: Expression)
    extends UnaryExpression with Serializable {
  import ShingleSignature.{NH, SIMBITS}

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(
    (0 until NH).map(j => StructField(s"mh$j", LongType, nullable = false)) :+
      StructField("simhash", LongType, nullable = false))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  /** Exposed for generated code. */
  def compute(xs: ArrayData): InternalRow = {
    val P = ExactCols.P
    val n = xs.numElements()
    val mh = Array.fill(NH)(P)
    val bits = new Array[Long](SIMBITS)
    var occ = 0L
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val h = ExactCols.hmodBytes(xs.getUTF8String(i).getBytes)
        var j = 0
        while (j < NH) {
          val v = ((2L * j + 1) * h + (j.toLong * j + 7)) % P
          if (v < mh(j)) mh(j) = v
          j += 1
        }
        var k = 0
        while (k < SIMBITS) { bits(k) += (h >>> k) & 1L; k += 1 }
        occ += 1
      }
      i += 1
    }
    var sim = 0L
    var k = 0
    while (k < SIMBITS) { if (2 * bits(k) > occ) sim |= 1L << k; k += 1 }
    val out = new Array[Any](NH + 1)
    var j = 0
    while (j < NH) { out(j) = mh(j); j += 1 }
    out(NH) = sim
    new GenericInternalRow(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val ref = ctx.addReferenceObj("shingleSig", this, classOf[ShingleSignature].getName)
      s"${ev.value} = $ref.compute($xs);"
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleSignature =
    copy(child = newChild)
  override def prettyName: String = "shingle_signature"
}

object ShingleSignature {
  /** MinHash functions (4 LSH bands × 2 rows in Dedup); the oracle SQL
    * lists the same NH minima. */
  val NH = 8
  /** SimHash width: h < P < 2³⁰, so every bit of h is counted. */
  val SIMBITS = 30
}

/** Count of array elements containing at least one ASCII letter —
  * the "fraction of words with alphabetic characters" input of
  * Gopher-style quality filtering (Rae et al. 2021), as a byte scan
  * (same exactness argument as AlnumCount: the class is ASCII, UTF-8
  * non-ASCII bytes are ≥ 0x80). Null input → null; null elements
  * count as non-alpha. */
case class AlphaWordCount(child: Expression)
    extends UnaryExpression with Serializable {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  /** Exposed for generated code. */
  def compute(xs: ArrayData): Long = {
    val n = xs.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val bytes = xs.getUTF8String(i).getBytes
        var j = 0
        var hit = false
        while (j < bytes.length && !hit) {
          val b = bytes(j)
          hit = (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')
          j += 1
        }
        if (hit) acc += 1L
      }
      i += 1
    }
    acc
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val ref = ctx.addReferenceObj("alphaWords", this, classOf[AlphaWordCount].getName)
      s"${ev.value} = $ref.compute($xs);"
    })

  override protected def withNewChildInternal(newChild: Expression): AlphaWordCount =
    copy(child = newChild)
  override def prettyName: String = "alpha_word_count"
}

/** Position-weighted rolling document fingerprint:
  * Σᵢ hmod(tokᵢ)·((i mod 16)+1) mod P over the token array (0-based
  * i), 0 for empty — the q33 formulation as one kernel instead of a
  * zip_with + aggregate pair whose interpreted lambdas re-enter the
  * md5 expression per element. Terms are ≤ 16·P and docs are far
  * below 2⁶³/16P tokens, so the running sum cannot overflow; integer
  * addition is order-exact so the single trailing mod matches the
  * declarative form. */
case class PositionalFingerprint(child: Expression)
    extends UnaryExpression with Serializable {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  /** Exposed for generated code. */
  def compute(xs: ArrayData): Long = {
    val n = xs.numElements()
    if (n == 0) return 0L
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += ExactCols.hmodBytes(xs.getUTF8String(i).getBytes) * ((i % 16) + 1)
      i += 1
    }
    acc % ExactCols.P
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val ref = ctx.addReferenceObj("posFp", this, classOf[PositionalFingerprint].getName)
      s"${ev.value} = $ref.compute($xs);"
    })

  override protected def withNewChildInternal(newChild: Expression): PositionalFingerprint =
    copy(child = newChild)
  override def prettyName: String = "positional_fingerprint"
}

/** One-pass token statistics over the raw text, replacing q32's
  * `regexp_extract_all('[A-Za-z0-9]+|[^A-Za-z0-9 ]')` + per-token
  * HOF pair (the regex materializes an array of every match just to
  * count it). Two outputs per row:
  *
  *  - `rtok`: the match count of that regex = number of ASCII-alnum
  *    RUNS plus number of other non-space CHARACTERS. Characters, not
  *    bytes: UTF-8 continuation bytes ((b & 0xC0) == 0x80) don't
  *    start a character, and any multi-byte character is by
  *    construction non-alnum non-space — the same per-character
  *    semantics RE2 (DuckDB oracle) and Java regex (BMP) apply.
  *  - `pieces`: Σ ceil(len/4) over single-space-split tokens, len in
  *    characters — the BPE-ish piece estimate.
  */
case class TokenStats(child: Expression)
    extends UnaryExpression with Serializable {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("rtok", LongType, nullable = false),
    StructField("pieces", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${dt.simpleString}")
  }

  /** Exposed for generated code. */
  def compute(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    var rtok = 0L
    var pieces = 0L
    var inRun = false      // inside an ASCII-alnum run
    var tokLen = 0L        // characters in the current space-split token
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      val isCont = (b & 0xc0) == 0x80
      if (!isCont) {
        val alnum = (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z') ||
          (b >= 'a' && b <= 'z')
        if (alnum) { if (!inRun) { rtok += 1; inRun = true } }
        else {
          inRun = false
          if (b != ' ') rtok += 1
        }
        if (b == ' ') {
          if (tokLen > 0) pieces += (tokLen + 3) / 4
          tokLen = 0
        } else tokLen += 1
      }
      i += 1
    }
    if (tokLen > 0) pieces += (tokLen + 3) / 4
    new GenericInternalRow(Array[Any](rtok, pieces))
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val ref = ctx.addReferenceObj("tokStats", this, classOf[TokenStats].getName)
      s"${ev.value} = $ref.compute($s);"
    })

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
  override def prettyName: String = "token_stats"
}

/** Per-row token-block hashes behind q75 cross-corpus block dedup:
  * for each consecutive run of `b` tokens (floor(n/b) blocks, tail
  * remainder dropped), the shared document hash (ExactCols.hmod —
  * first 15 hex chars of md5, mod P) of the space-joined block. One
  * md5 over the block bytes, streamed — the declarative
  * `transform(sequence(1, nblocks), j -> hmod(array_join(slice(...))))`
  * form runs an interpreted closure per block that re-slices and
  * re-concatenates the token array each time (the q31/q57 hot-loop
  * class). Fewer than `b` tokens → empty array; null input → null;
  * null elements are skipped exactly like array_join skips them. */
case class BlockHash(child: Expression, b: Int)
    extends UnaryExpression with Serializable {
  require(b > 0)

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  /** Exposed for generated code. */
  def compute(xs: ArrayData): ArrayData = {
    val n = xs.numElements()
    val k = n / b
    val out = new Array[Long](k)
    if (k > 0) {
      val md = java.security.MessageDigest.getInstance("MD5")
      var blk = 0
      while (blk < k) {
        var j = blk * b
        val end = j + b
        var first = true
        while (j < end) {
          if (!xs.isNullAt(j)) {
            if (!first) md.update(' '.toByte)
            md.update(xs.getUTF8String(j).getBytes)
            first = false
          }
          j += 1
        }
        out(blk) = ExactCols.foldDigest(md.digest()) // resets md for the next block
        blk += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val ref = ctx.addReferenceObj("blockHash", this, classOf[BlockHash].getName)
      s"${ev.value} = $ref.compute($xs);"
    })

  override protected def withNewChildInternal(newChild: Expression): BlockHash =
    copy(child = newChild)
  override def prettyName: String = "block_hash"
}

/** Content-defined chunk hashes (the Rabin/CDC boundary idea of LBFS,
  * Muthitacharoen et al. 2001, over word tokens): token i ends a chunk
  * when hmod(token) ≡ 0 (mod `mod`) — a property of the CONTENT, not
  * the position — or at end-of-document; each chunk hashes to
  * hmod(space-joined chunk tokens). Because boundaries move with the
  * content, inserting one token early in a document only perturbs the
  * chunk containing the insertion — every later chunk re-aligns and
  * still matches its duplicate elsewhere, which is exactly what
  * fixed-position blocks (BlockHash) cannot do. One pass, two digest
  * states (boundary test + chunk accumulator); expected chunk length
  * ≈ `mod` tokens. */
case class CdcChunkHash(child: Expression, mod: Int)
    extends UnaryExpression with Serializable {
  require(mod > 1)

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  /** Exposed for generated code. */
  def compute(xs: ArrayData): ArrayData = {
    val n = xs.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Long](n / mod + 1)
    if (n > 0) {
      val cmd = java.security.MessageDigest.getInstance("MD5")
      var first = true
      var i = 0
      while (i < n) {
        val tok =
          if (xs.isNullAt(i)) UTF8String.EMPTY_UTF8 else xs.getUTF8String(i)
        if (!first) cmd.update(' '.toByte)
        cmd.update(tok.getBytes)
        first = false
        if (ExactCols.hmodBytes(tok.getBytes) % mod == 0 || i == n - 1) {
          out += ExactCols.foldDigest(cmd.digest()) // resets the accumulator for the next chunk
          first = true
        }
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val ref = ctx.addReferenceObj("cdcChunkHash", this, classOf[CdcChunkHash].getName)
      s"${ev.value} = $ref.compute($xs);"
    })

  override protected def withNewChildInternal(newChild: Expression): CdcChunkHash =
    copy(child = newChild)
  override def prettyName: String = "cdc_chunk_hash"
}

/** Common-prefix and common-suffix token counts of two token arrays —
  * the near-dup-pair anatomy kernel (q222): one forward and one
  * backward scan per pair, returning struct(prefix, suffix). The
  * declarative form would zip both arrays twice through interpreted
  * lambdas (the q31/q57 hot-loop class); this runs two tight
  * UTF8String-equality loops in one pass over the pair. Null input →
  * null; a null ELEMENT stops the scan on its side (never equal),
  * matching the oracle's `a[i] <> b[i]` mismatch semantics on
  * null-free token lists. */
case class CommonAffix(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("prefix", LongType, nullable = false),
    StructField("suffix", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<string> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** Exposed for generated code. */
  def compute(a: ArrayData, b: ArrayData): InternalRow = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.min(na, nb)
    var p = 0L
    while (p < n && !a.isNullAt(p.toInt) && !b.isNullAt(p.toInt) &&
      a.getUTF8String(p.toInt) == b.getUTF8String(p.toInt)) p += 1L
    var sfx = 0L
    while (sfx < n && !a.isNullAt((na - 1 - sfx).toInt) &&
      !b.isNullAt((nb - 1 - sfx).toInt) &&
      a.getUTF8String((na - 1 - sfx).toInt) ==
        b.getUTF8String((nb - 1 - sfx).toInt)) sfx += 1L
    new GenericInternalRow(Array[Any](p, sfx))
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xs, ys) => {
      val ref = ctx.addReferenceObj("commonAffix", this, classOf[CommonAffix].getName)
      s"${ev.value} = $ref.compute($xs, $ys);"
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CommonAffix = copy(left = l, right = r)
  override def prettyName: String = "common_affix"
}

object TextExprs {
  def setHitCount(toks: Column, words: Seq[String]): Column =
    Shim.column(SetHitCount(Shim.expression(toks), words))

  def commonAffix(a: Column, b: Column): Column =
    Shim.column(CommonAffix(Shim.expression(a), Shim.expression(b)))

  def termCounts(toks: Column, words: Seq[String]): Column =
    Shim.column(TermCounts(Shim.expression(toks), words))

  def tokenStats(text: Column): Column =
    Shim.column(TokenStats(Shim.expression(text)))

  def positionalFingerprint(toks: Column): Column =
    Shim.column(PositionalFingerprint(Shim.expression(toks)))

  def alphaWordCount(toks: Column): Column =
    Shim.column(AlphaWordCount(Shim.expression(toks)))

  def alnumCount(s: Column): Column =
    Shim.column(AlnumCount(Shim.expression(s)))

  def winnowFingerprint(shingles: Column, w: Int): Column =
    Shim.column(WinnowFingerprint(Shim.expression(shingles), w))

  /** struct<mh0..mh7, simhash> of a shingle-occurrence array. */
  def shingleSignature(shingles: Column): Column =
    Shim.column(ShingleSignature(Shim.expression(shingles)))

  def blockHash(toks: Column, b: Int): Column =
    Shim.column(BlockHash(Shim.expression(toks), b))

  def cdcChunkHash(toks: Column, mod: Int): Column =
    Shim.column(CdcChunkHash(Shim.expression(toks), mod))
}
