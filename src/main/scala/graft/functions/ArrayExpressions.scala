package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}

// Native Catalyst expressions for the two hot loops the built-in
// higher-order functions can't run fast: min-hash signatures and dense
// dot products. Both implement `doGenCode`, so they compile into the
// whole-stage-codegen Java loop instead of interpreting one lambda call
// per array element (measured ~6× on the LSH dedup pipeline at sf0.1).
//
// Semantics match the pure-expression reference implementations kept in
// `graft.ops.Dedup.minhashSignature` (hash family differs — XXH64
// direct vs composed — but both are deterministic xxhash64 families) and
// `graft.ops.Similarity.dot` (bit-identical: same sequential fold).

/** `minhash_signature(tokens, k)`: k-slot MinHash signature of an
  * array<string>. Slot i = min over tokens of
  * XXH64(XXH64(token, 42), 42 + i); empty/null-element tokens are
  * skipped; an empty array yields Long.MaxValue slots. */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = Array.fill(k)(Long.MaxValue)
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val b = XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
        var i = 0
        while (i < k) {
          val h = XXH64.hashLong(b, 42L + i)
          if (h < out(i)) out(i) = h
          i += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[XXH64].getName
    val uad = classOf[UnsafeArrayData].getName
    nullSafeCodeGen(ctx, ev, arr => {
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      s"""
         |long[] $out = new long[$k];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |int $n = $arr.numElements();
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$arr.isNullAt($j)) {
         |    long $b = $xxh.hashUTF8String($arr.getUTF8String($j), 42L);
         |    for (int $i = 0; $i < $k; $i++) {
         |      long $h = $xxh.hashLong($b, 42L + $i);
         |      if ($h < $out[$i]) $out[$i] = $h;
         |    }
         |  }
         |}
         |${ev.value} = $uad.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** `dot_product(a, b)`: sequential-fold dot product of two array<double>
  * columns — bit-identical to
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (s,x) -> s+x)` and to a
  * DuckDB list inner product, but codegen'd into one Java loop. Null
  * inputs yield null; lengths are folded to the shorter (zip semantics).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |double $s = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `word_shingles(text, n)`: distinct word n-gram shingles — lowercase,
  * whitespace-tokenized, n words joined by a single space; texts shorter
  * than n words collapse to one shingle of all tokens (the empty text
  * yields [""]). Exactly the semantics of the higher-order reference
  * [[graft.ops.Dedup.shingles]], but one compiled loop per row instead
  * of ~2 interpreted lambda calls per word. doGenCode emits a static
  * kernel call ([[ExprKernels.wordShingles]]), so the expression stays
  * inside whole-stage codegen — a CodegenFallback here would knock the
  * WHOLE containing stage back to interpreted Volcano mode.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    ExprKernels.wordShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.wordShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** `l2_normalize(v)`: v / sqrt(dot(v,v)) over an array<double>, one
  * compiled loop per row. NULL for zero (or empty) vectors, so degenerate
  * embeddings are dropped loudly at an explicit `isNotNull` filter instead
  * of silently propagating NaN similarities through threshold/rank
  * filters. Division is by the norm (not multiplication by its inverse),
  * bit-identical to the higher-order `transform(v, x -> x / sqrt(dot))`
  * form it replaces — which also re-evaluated the full dot product once
  * PER ELEMENT (O(d²) per row) because the norm lived inside the lambda.
  */
case class L2Normalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "l2_normalize"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); s += x * x; i += 1 }
    if (s <= 0.0) null
    else {
      val nrm = math.sqrt(s)
      val out = new Array[Double](n)
      i = 0
      while (i < n) { out(i) = v.getDouble(i) / nrm; i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val uad = classOf[UnsafeArrayData].getName
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val nrm = ctx.freshName("nrm")
      val out = ctx.freshName("out")
      s"""
         |int $n = $v.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $v.getDouble($i);
         |  $s += $x * $x;
         |}
         |if ($s <= 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $nrm = java.lang.Math.sqrt($s);
         |  double[] $out = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = $v.getDouble($i) / $nrm;
         |  }
         |  ${ev.value} = $uad.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}

/** `quality_score_raw(text)`: the UNROUNDED composite quality score of
  * [[graft.ops.TextAnalysis.qualityScoreFromParts]] — length, word-count,
  * stopword and punctuation signals — in ONE pass over the string instead
  * of several interpreted higher-order-lambda passes (split + filter +
  * regexp_replace + stopword filter). Bit-identical arithmetic: counts
  * are exact integers, the double ops replay the HOF form's exact order,
  * and rounding is deliberately NOT done here — callers wrap with
  * Spark's own `round(..., 4)` so cross-engine round-half parity is
  * Spark's, not ours. doGenCode emits a static kernel call
  * ([[ExprKernels.qualityScoreRaw]]), so the expression stays inside
  * whole-stage codegen (a CodegenFallback would knock the whole
  * containing stage back to interpreted Volcano mode).
  *
  * Tokenization parity: Java-regex `\s` separators (space, \t, \n,
  * VT, \f, \r), tokens from the UTF8String-lowercased text, empties
  * dropped — exactly `filter(split(lower(text), "\\s+"), len > 0)`.
  * Punctuation parity: code points outside [A-Za-z0-9] and `\s`, counted
  * on the ORIGINAL text like the `regexp_replace` length difference.
  */
case class QualityScoreRaw(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "quality_score_raw"

  override def nullSafeEval(input: Any): Any =
    ExprKernels.qualityScoreRaw(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.qualityScoreRaw($c)")

  override protected def withNewChildInternal(newChild: Expression): QualityScoreRaw =
    copy(child = newChild)
}


/** `token_count(text)`: number of matches of the BPE-ish tokenizer
  * pattern `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` — letter runs, digit runs,
  * and single non-alphanumeric marks each count as one token — in ONE
  * character scan instead of `regexp_extract_all` materializing every
  * match string just to take the array's size (the corpus-audit hot loop:
  * token histograms/profiles pay this per document at 100 TB).
  *
  * Bit-identical to the regex count: `\s` is Java-regex whitespace (the
  * six ASCII chars — U+00A0 etc. do NOT separate and DO count as marks),
  * runs are maximal (regex alternatives are greedy), and a supplementary
  * character is ONE mark (Java regex char classes match code points).
  * doGenCode emits a static kernel call ([[ExprKernels.tokenCount]]),
  * so the expression stays inside whole-stage codegen. */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_count"

  override def nullSafeEval(input: Any): Any =
    ExprKernels.tokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.tokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}


/** Static kernels for the generated-code path: whole-stage codegen
  * calls these as ONE static Java call per row (Scala top-level objects
  * compile to static forwarders), so the scans stay JIT-compiled without
  * any CodegenFallback. The interpreted `nullSafeEval` paths delegate to
  * the SAME methods, so both execution modes share one implementation.
  */
object ExprKernels {

  private val stop: java.util.Set[String] =
    java.util.Set.of("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** See [[WordShingles]] for semantics. */
  def wordShingles(input: UTF8String, n: Int): ArrayData = {
    val text = input.toString.toLowerCase(java.util.Locale.ROOT)
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val out = new java.util.LinkedHashSet[String]
    if (toks.length <= n) out.add(toks.mkString(" "))
    else {
      var i = 0
      val sb = new java.lang.StringBuilder
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** See [[SimHashPortable]] for semantics and parity notes. */
  def simhashPortable(input: UTF8String, bits: Int): Long = {
    val text = input.toString.toLowerCase(java.util.Locale.ROOT)
    val toks = text.split("\\s+")
    val counts = new Array[Int](bits)
    val md = md5Local.get()
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      if (tok.nonEmpty) {
        md.reset()
        val dig = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 15 hex chars of the digest = the 60-bit unsigned value
        // conv(substr(md5(t),1,15),16,10) parses — nibble-exact
        var v = 0L
        var i = 0
        while (i < 15) {
          val nib =
            if ((i & 1) == 0) (dig(i >> 1) >>> 4) & 0xF
            else dig(i >> 1) & 0xF
          v = v * 16 + nib
          i += 1
        }
        var j = 0
        while (j < bits) {
          if (((v >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (counts(j) > 0) sig += 1L << j
      j += 1
    }
    sig
  }

  /** See [[QualityScoreRaw]] for semantics and parity notes. */
  def qualityScoreRaw(u: UTF8String): Double = {
    val nChars = u.numChars()
    val s = u.toString
    var punct = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val alnum = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9')
      if (!alnum && !(cp < 128 && isWs(cp.toChar))) punct += 1
      i += Character.charCount(cp)
    }
    val lower = u.toLowerCase.toString
    var nWords = 0
    var nStop = 0
    var j = 0
    val n = lower.length
    while (j < n) {
      while (j < n && isWs(lower.charAt(j))) j += 1
      if (j < n) {
        val st = j
        while (j < n && !isWs(lower.charAt(j))) j += 1
        nWords += 1
        if (j - st <= 4 && stop.contains(lower.substring(st, j))) nStop += 1
      }
    }
    val lenScore = math.min(nChars.toDouble / 400.0, 1.0)
    val wordScore = math.min(nWords.toDouble / 80.0, 1.0)
    val punctRatio = if (nChars > 0) punct.toDouble / nChars else 0.0
    val punctPenalty = math.min(punctRatio * 5.0, 1.0)
    val stopRatio = if (nWords > 0) nStop.toDouble / nWords else 0.0
    val stopScore = math.min(stopRatio * 5.0, 1.0)
    lenScore * 0.3 + wordScore * 0.3 + stopScore * 0.3 + (1.0 - punctPenalty) * 0.1
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def md5Hex(md: java.security.MessageDigest, s: String): UTF8String = {
    md.reset()
    val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((dig(i) >>> 4) & 0xF)
      out(2 * i + 1) = hexDigits(dig(i) & 0xF)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** See [[CdcChunks]] for semantics and parity notes. */
  def cdcChunks(input: UTF8String, modulus: Int): ArrayData = {
    // tokenizer parity with the HOF reference: Java-regex \s+ split,
    // empties dropped, NO lowercasing (chunk digests are case-sensitive)
    val toks = input.toString.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val md = md5Local.get()
    val rows = new java.util.ArrayList[Any]
    val sb = new java.lang.StringBuilder
    var start = 0
    var i = 0
    while (i < n) {
      // boundary AFTER 1-based position i+1 iff the 60-bit md5 image of
      // the token ≡ 0 (mod modulus); a boundary at the LAST token never
      // splits (the reference's `p < n` filter), so its hash is skipped
      var boundary = false
      if (i < n - 1) {
        md.reset()
        val dig = md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 15 hex chars of the digest = the 60-bit unsigned value
        // conv(substr(md5(t),1,15),16,10) parses — nibble-exact (the
        // proven [[simhashPortable]] image)
        var v = 0L
        var k = 0
        while (k < 15) {
          val nib =
            if ((k & 1) == 0) (dig(k >> 1) >>> 4) & 0xF
            else dig(k >> 1) & 0xF
          v = v * 16 + nib
          k += 1
        }
        boundary = v % modulus == 0
      }
      if (boundary || i == n - 1) {
        sb.setLength(0)
        var j = start
        while (j <= i) {
          if (j > start) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        rows.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i - start + 1, md5Hex(md, sb.toString))))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(rows.toArray)
  }

  /** See [[TokenCount]] for semantics and regex-parity notes. */
  def tokenCount(input: UTF8String): Int = {
    val s = input.toString
    val len = s.length
    var i = 0
    var n = 0
    while (i < len) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        n += 1
        i += 1
        while (i < len && { val d = s.charAt(i); (d >= 'A' && d <= 'Z') || (d >= 'a' && d <= 'z') }) i += 1
      } else if (c >= '0' && c <= '9') {
        n += 1
        i += 1
        while (i < len && { val d = s.charAt(i); d >= '0' && d <= '9' }) i += 1
      } else if (isWs(c)) {
        i += 1
      } else {
        n += 1
        i += Character.charCount(s.codePointAt(i))
      }
    }
    n
  }
}

/** `simhash_portable(text, bits)`: the md5-based portable SimHash
  * signature in ONE compiled pass — tokenize (lowercase, `\s+` split,
  * empties dropped), md5 each token, take the first 15 hex chars as a
  * 60-bit value, vote ±1 per bit, assemble the sign word. Replaces the
  * higher-order-function pipeline (`aggregate` × `zip_with` ×
  * `transform` over `bits` slots per token), whose lambdas are
  * CodegenFallback — interpreted per (token × bit), ~48 boxed lambda
  * calls per token — with a tight kernel loop. Bit-identical by
  * construction: the same token set (the [[ExprKernels.wordShingles]]
  * tokenizer this file already proves parity for), the same
  * `conv(substr(md5(t),1,15),16,10)` 60-bit image (nibble-exact), the
  * same ±1 vote and `counts > 0` sign rule — the DuckDB oracle
  * replaying all 48 bits (`dd_simhash_md5`) pins it value-for-value. */
case class SimHashPortable(child: Expression, bits: Int) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_portable"

  override def nullSafeEval(input: Any): Any =
    ExprKernels.simhashPortable(input.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.simhashPortable($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashPortable =
    copy(child = newChild)
}

/** `cdc_chunks(text, modulus)`: content-defined chunking in ONE compiled
  * pass — tokenize (Java-regex `\s+` split, empties dropped, case
  * preserved), declare a boundary after every token whose 60-bit md5
  * image (`conv(substr(md5(t),1,15),16,10)`, the proven
  * [[SimHashPortable]] image) is ≡ 0 mod `modulus`, and emit one
  * `struct(chunk_tokens INT, chunk_digest STRING)` per chunk, where the
  * digest is the md5 hex of the chunk's tokens joined by single spaces.
  * Replaces the higher-order pipeline (a per-token `filter` lambda over
  * `sequence(1,n)` computing md5→conv→pmod — CodegenFallback, interpreted
  * per token — plus per-chunk `slice`+`array_join`+`md5`) with one kernel
  * loop. Chunk order is document order, so `posexplode` positions are the
  * reference's chunk_idx exactly; the HOF form is retained as
  * [[graft.ops.TextAnalysis.contentDefinedChunksHof]], the replayable
  * reference, and the `g7_cdc_chunk` DuckDB oracle replays boundary rule,
  * slices and digests value-for-value. */
case class CdcChunks(child: Expression, modulus: Int) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        // nullable=true mirrors the HOF reference's derived-expression
        // schema (arithmetic over struct fields / md5 are nullable), so
        // the dumped parquet schema is unchanged query-for-query
        org.apache.spark.sql.types.StructField("chunk_tokens", IntegerType, nullable = true),
        org.apache.spark.sql.types.StructField("chunk_digest", StringType, nullable = true))),
      containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any =
    ExprKernels.cdcChunks(input.asInstanceOf[UTF8String], modulus)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.cdcChunks($c, $modulus)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

/** Column-level entry points for the native expressions. */
object native {

  def cdcChunks(text: Column, modulus: Int): Column =
    Bridge.column(CdcChunks(Bridge.expression(text.cast("string")), modulus))

  def simhashPortable(text: Column, bits: Int): Column =
    Bridge.column(SimHashPortable(Bridge.expression(text.cast("string")), bits))

  def wordShingles(text: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(text), n))


  def minhashSignature(tokens: Column, k: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(tokens), k))

  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))

  def l2normalize(v: Column): Column =
    Bridge.column(L2Normalize(Bridge.expression(v.cast("array<double>"))))

  /** Single-pass BPE-ish token count, bit-identical to
    * `size(regexp_extract_all(text, tokenPattern, 0))` (property-tested
    * in TextAnalysisSpec). */
  def tokenCount(text: Column): Column =
    Bridge.column(TokenCount(Bridge.expression(text.cast("string"))))

  /** Rounded composite quality score: native single-pass raw score,
    * rounded by Spark's own `round` for cross-engine parity. */
  def qualityScore(text: Column): Column =
    org.apache.spark.sql.functions.round(
      Bridge.column(QualityScoreRaw(Bridge.expression(text.cast("string")))), 4)

  /** Unrounded quality score. For thresholds and cross-engine-exact
    * reporting prefer this raw double (IEEE arithmetic is deterministic,
    * so it is bit-identical in any engine evaluating the same formula) and
    * truncate for display — `round` half-way ties break differently across
    * engines (Spark rounds the shortest decimal repr, DuckDB the binary
    * value), which `cp_corpus_clean` hit at sf0.1. */
  def qualityScoreRaw(text: Column): Column =
    Bridge.column(QualityScoreRaw(Bridge.expression(text.cast("string"))))
}
