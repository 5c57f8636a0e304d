package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, NumericType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the vector hot path (SURVEY §7.3:
  * "custom expression only if the plain-column form shows up hot in
  * bench" — it did: higher-order-function dot products are interpreted
  * per element, and q30–q32 spend their time there).
  *
  * `graft_dot(a, b)` = Σ a(i)·b(i), accumulated left-to-right exactly like
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` and DuckDB's
  * `list_reduce(list_prepend(0.0, list_transform(...)))` — bit-identical
  * doubles, so swapping it into oracle-gated queries is safe.
  *
  * Codegen emits a tight primitive loop inside whole-stage codegen (no
  * lambda dispatch, no boxing); the interpreted fallback mirrors it.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<double> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Static hash helper shared by interpreted eval and generated code. */
object GraftHash {
  /** First 60 bits of md5(bytes) as a non-negative long — numerically
    * equal to `conv(substring(md5(x),1,15),16,10)` (15 hex nibbles), the
    * engine's cross-engine hash (graft.functions.Text.h60 / DuckDB
    * `('0x'||substr(md5(x),1,15))::BIGINT`). */
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def packH60(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) | ((d(2) & 0xffL) << 36) |
      ((d(3) & 0xffL) << 28) | ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xffL) >>> 4)

  def h60(bytes: Array[Byte]): Long =
    packH60(md.get().digest(bytes)) // digest() resets the instance

  private val hexDigits = "0123456789ABCDEF".getBytes
  private val simTag2 = "#2".getBytes

  /** One-pass media SimHash of a BINARY payload — the native kernel
    * behind `graft_simhash64_bytes` (q119's signature pass). Replays the
    * column-level hex pipeline EXACTLY — hex(payload) → byte-aligned
    * 16-hex-char windows (stride 2 chars = 1 byte; a payload under 8
    * bytes contributes its whole shorter hex as the single shingle) →
    * h60(w) / h60(w ++ "#2") → the [[simhash64]] majority fold — so the
    * signature, the banding, the pairs output, and the DuckDB oracle are
    * all bit-identical to the hex path (ExpressionsSpec asserts it on
    * the real corpus). What it removes is every intermediate the column
    * form materializes per doc: the 2×-payload hex STRING column, the
    * ~N-element array of 16-char substring COPIES, two boxed
    * array<long> hash columns, and the second pass the fold makes over
    * them — here one shared hex buffer is written once and md5 reads
    * windows from it in place. The md5 calls themselves are unchanged
    * (they must be: their input defines the oracle-replayable
    * signature, see the q119 scaladoc). */
  def mediaSimhash(payload: Array[Byte]): Long = {
    val n = payload.length
    val hex = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      val v = payload(i) & 0xff
      hex(2 * i) = hexDigits(v >>> 4)
      hex(2 * i + 1) = hexDigits(v & 0xf)
      i += 1
    }
    val m = md.get()
    val counts = new Array[Int](64)
    var nsh = 0
    var off = 0
    val last = if (n < 8) 0 else 2 * (n - 8)
    val len = if (n < 8) 2 * n else 16
    while (off <= last) {
      m.update(hex, off, len)
      val h1 = packH60(m.digest())
      m.update(hex, off, len)
      m.update(simTag2)
      val h2 = packH60(m.digest())
      var b = 0
      while (b < 32) {
        if (((h1 >>> b) & 1L) == 1L) counts(b) += 1
        if (((h2 >>> b) & 1L) == 1L) counts(b + 32) += 1
        b += 1
      }
      nsh += 1
      off += 2
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2 * counts(b) > nsh) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** MinHash machinery shared by the native expression and the operator
    * layer (graft.operators.Dedup generates the DuckDB mirror SQL from
    * these same constants — single source of truth). */
  val MinHashP31: Long = 2147483647L // Mersenne 2^31-1: a·x stays in a long
  /** 8 affine permutations h_i(x) = (a_i·x + b_i) mod P31 (4 bands × 2). */
  val minhashPerms: Array[(Long, Long)] =
    Array.tabulate(8)(i => (1000003L * (2 * i + 1) + 17L, 7919L * i + 42L))

  /** Spread the low 16 bits of v to even bit positions (classic
    * magic-mask bit twiddle): bit b of the input lands at bit 2b. */
  def spread16(v0: Long): Long = {
    var v = v0 & 0xffffL
    v = (v | (v << 8)) & 0x00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0fL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }

  /** 32-bit Morton (Z-order) code: x's bit b at 2b, y's bit b at 2b+1.
    * Equal, by construction, to the per-bit fold
    * Σ_b ((x>>b)&1)<<2b + ((y>>b)&1)<<(2b+1) over b = 0..15 — the form
    * the DuckDB oracle and the HOF spec reference evaluate. */
  def morton(x: Long, y: Long): Long = spread16(x) | (spread16(y) << 1)

  private val shingleSep = UTF8String.fromString(" ")

  /** MinHash signature over a token array: for every 3-token shingle
    * (joined with ' ', exactly `concat_ws(" ", slice(t, i, 3))`), hash
    * with h60 mod P31, and keep the min of each affine permutation — one
    * pass, no shingle-array or per-permutation-array materialization.
    * Arrays with <3 tokens yield all-null entries, matching
    * `array_min(transform([], …))` = null in the HOF reference. */
  def minhashSig(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val k = minhashPerms.length
    if (n < 3) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](k))
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i <= n - 3) {
      val s = UTF8String.concatWs(shingleSep,
        tokens.getUTF8String(i), tokens.getUTF8String(i + 1), tokens.getUTF8String(i + 2))
      val h = h60(s.getBytes) % MinHashP31
      var j = 0
      while (j < k) {
        val v = (minhashPerms(j)._1 * h + minhashPerms(j)._2) % MinHashP31
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** Distinct 8-gram h60 hashes over a token array, first-occurrence
    * order — equals `array_distinct(transform(offsets, i ->
    * h60(concat_ws(" ", slice(t, i, 8)))))` (array_distinct keeps first
    * occurrences; so does the LinkedHashSet). One native pass: no gram
    * strings or interpreted lambdas survive the projection, only the
    * 64-bit hashes. Arrays with <8 tokens yield an empty array, matching
    * the HOF guard. */
  def ngram8Hashes(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val w = 8
    if (n < w) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val parts = new Array[UTF8String](w)
    var i = 0
    while (i <= n - w) {
      var j = 0
      while (j < w) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
      seen.add(h60(UTF8String.concatWs(shingleSep, parts: _*).getBytes))
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Content-defined chunk id per token: a boundary falls AFTER token i
    * (1-based) when i >= 3 and h60 of the trailing 3-gram (space-joined)
    * is divisible by `modulus`; a token's chunk id counts boundaries
    * strictly before it. One pass — equals the HOF flags + prefix-sum
    * fold in graft.operators.TrainingData (spec-asserted). */
  def cdcChunkIds(tokens: ArrayData, modulus: Long): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Int](n)
    var cid = 0
    var i = 0
    while (i < n) {
      out(i) = cid
      // modulus == 0 ⇒ no boundaries: mirrors the HOF reference, whose
      // pmod(h, 0) is null and never satisfies === 0 (and avoids the
      // ArithmeticException a raw % would throw). Negative moduli keep
      // parity too: h60 is non-negative, so both raw % and pmod are 0
      // exactly when |modulus| divides the hash.
      if (i >= 2 && modulus != 0L) {
        val g = UTF8String.concatWs(shingleSep,
          tokens.getUTF8String(i - 2), tokens.getUTF8String(i - 1),
          tokens.getUTF8String(i))
        if (h60(g.getBytes) % modulus == 0L) cid += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct adjacent-bigram count over a token array, one pass with a
    * pair hash set. Equals `size(array_distinct(bigram-strings))` because
    * tokens come from `split(text, " ")` and so cannot contain the join
    * character — the (t[i], t[i+1]) pair IS the joined string's identity.
    * Arrays with <2 elements have 0 bigrams. */
  def bigramDistinct(a: ArrayData): Int = {
    val n = a.numElements()
    if (n < 2) return 0
    val seen = new java.util.HashSet[AnyRef]()
    var i = 0
    while (i < n - 1) {
      seen.add(new java.util.AbstractMap.SimpleImmutableEntry(
        a.getUTF8String(i), a.getUTF8String(i + 1)))
      i += 1
    }
    seen.size()
  }

  /** 64-bit SimHash over two parallel token-hash arrays: signature bit b
    * is set iff more tokens have bit b of their hash set than clear —
    * bits 0-31 read hs1, bits 32-63 read hs2 (bit b−32). Exactly the
    * fold-per-bit HOF form ([[graft.operators.Dedup.simhashReference]],
    * spec-asserted equal): sum of ±1 > 0 ⇔ 2·(set count) > n. One pass
    * over the tokens instead of 64 interpreted folds. */
  def simhash64(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h1 = x.getLong(i)
      val h2 = y.getLong(i)
      var b = 0
      while (b < 32) {
        if (((h1 >>> b) & 1L) == 1L) counts(b) += 1
        if (((h2 >>> b) & 1L) == 1L) counts(b + 32) += 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2 * counts(b) > n) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** `graft_h60(s)`: the cross-engine 60-bit md5 hash as one native step —
  * replaces the md5 → hex-string → conv → decimal-string → cast chain
  * (three string materializations per value) in the dedup/fingerprint hot
  * paths, with identical results (spec-asserted). */
case class H60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_h60 expects a string argument, got ${child.dataType.sql}")

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_h60"

  override protected def nullSafeEval(s: Any): Any =
    GraftHash.h60(s.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.GraftHash.h60($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): H60 =
    copy(child = newChild)
}

/** `graft_simhash64(hs1, hs2)`: 64-bit SimHash from two parallel
  * ARRAY<LONG> token-hash columns in one native pass — replaces 64
  * interpreted `aggregate` folds (one per signature bit) in the q28/q29
  * hot path with a single loop; results are spec-asserted equal to the
  * HOF reference form. */
case class SimHash64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64 expects two array<bigint> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftHash.simhash64(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.GraftHash.simhash64($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHash64 =
    copy(left = newLeft, right = newRight)
}

/** `graft_simhash64_bytes(payload)`: 64-bit media SimHash of a BINARY
  * payload in ONE native pass — the byte-level shingle kernel replacing
  * q119's four-column hex pipeline (hex string → substring array → two
  * array<long> hash columns → fold). Bit-identical to that pipeline by
  * construction ([[GraftHash.mediaSimhash]] replays its md5 inputs
  * exactly), so the DuckDB oracle is unchanged; ExpressionsSpec asserts
  * parity on the real corpus including the <8-byte and empty-payload
  * edge shingles. */
case class SimHashBytes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64_bytes expects a binary argument, got ${dt.sql}")
  }

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_simhash64_bytes"

  override protected def nullSafeEval(a: Any): Any =
    GraftHash.mediaSimhash(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.GraftHash.mediaSimhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashBytes =
    copy(child = newChild)
}

/** `graft_bigram_distinct(tokens)`: distinct adjacent-bigram count of an
  * ARRAY<STRING> in one native pass — replaces the per-bigram
  * string-building HOF chain (`transform` + `slice` + `concat_ws` +
  * `array_distinct`) in the q47 hot path; spec-asserted equal. */
case class BigramDistinct(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_bigram_distinct expects array<string>, got ${dt.sql}")
  }

  override def dataType: DataType = IntegerType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_bigram_distinct"

  override protected def nullSafeEval(a: Any): Any =
    GraftHash.bigramDistinct(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.GraftHash.bigramDistinct($c)")

  override protected def withNewChildInternal(newChild: Expression): BigramDistinct =
    copy(child = newChild)
}

/** `graft_minhash_sig(tokens)`: the full MinHash signature (8 affine
  * permutation minima over h60'd 3-token shingles) in one native pass —
  * replaces a shingle-string array + per-permutation interpreted
  * `transform`/`array_min` chain in the q26/q27 hot path; spec-asserted
  * equal to the staged HOF reference. */
case class MinHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects array<string>, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(a: Any): Any =
    GraftHash.minhashSig(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.GraftHash.minhashSig($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `graft_ngram8(tokens)`: distinct h60 hashes of all 8-token grams in
  * one native pass — the contamination-fingerprint hot path (q60); spec-
  * asserted equal to the HOF reference form. */
case class Ngram8Hashes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_ngram8 expects array<string>, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_ngram8"

  override protected def nullSafeEval(a: Any): Any =
    GraftHash.ngram8Hashes(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.GraftHash.ngram8Hashes($c)")

  override protected def withNewChildInternal(newChild: Expression): Ngram8Hashes =
    copy(child = newChild)
}

/** `graft_cdc_ids(tokens, modulus)`: per-token content-defined chunk ids
  * (rolling 3-gram h60 boundaries) in one native pass — q72's hot path;
  * spec-asserted equal to the HOF flags + prefix-fold reference. */
case class CdcChunkIds(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cdc_ids expects (array<string>, bigint), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_cdc_ids"

  override protected def nullSafeEval(a: Any, m: Any): Any =
    GraftHash.cdcChunkIds(a.asInstanceOf[ArrayData], m.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, m) => s"graft.expressions.GraftHash.cdcChunkIds($a, $m)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CdcChunkIds =
    copy(left = newLeft, right = newRight)
}

/** `graft_zorder(x, y)`: 32-bit Morton (Z-order) code interleaving the
  * low 16 bits of two non-negative integer keys — the multi-dimensional
  * clustering key that makes ONE sort order serve range predicates on
  * BOTH dimensions (q88's layout audit; the technique behind Delta/
  * Iceberg Z-ORDER BY). Pure bit arithmetic, codegen'd via the shared
  * [[GraftHash.morton]] twiddle; the DuckDB mirror evaluates the
  * equivalent per-bit fold. */
case class ZOrderCode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_zorder expects two bigint arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_zorder"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftHash.morton(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.GraftHash.morton($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderCode =
    copy(left = newLeft, right = newRight)
}

/** Imperative registration fallback for sessions NOT built with
  * `spark.sql.extensions=graft.expressions.GraftExtensions` (e.g. a
  * harness-owned SparkSession calling SparkEntry.queries directly).
  * Idempotent; called from Tables.load so every query self-heals. */
object GraftFunctions {
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val key = spark.sessionState.hashCode().toString
    if (registered.add(key)) {
      val reg = spark.sessionState.functionRegistry
      reg.createOrReplaceTempFunction("graft_dot", GraftExtensions.dotBuilder, "scala_udf")
      reg.createOrReplaceTempFunction("graft_h60", GraftExtensions.h60Builder, "scala_udf")
      reg.createOrReplaceTempFunction("graft_simhash64", GraftExtensions.simhash64Builder, "scala_udf")
      reg.createOrReplaceTempFunction("graft_simhash64_bytes", GraftExtensions.simhashBytesBuilder, "scala_udf")
      reg.createOrReplaceTempFunction("graft_bigram_distinct", GraftExtensions.bigramDistinctBuilder, "scala_udf")
      reg.createOrReplaceTempFunction("graft_minhash_sig", GraftExtensions.minhashSigBuilder, "scala_udf")
      reg.createOrReplaceTempFunction("graft_ngram8", GraftExtensions.ngram8Builder, "scala_udf")
      reg.createOrReplaceTempFunction("graft_cdc_ids", GraftExtensions.cdcIdsBuilder, "scala_udf")
      reg.createOrReplaceTempFunction("graft_zorder", GraftExtensions.zorderBuilder, "scala_udf")
      reg.createOrReplaceTempFunction("graft_region", GraftExtensions.regionBuilder, "scala_udf")
    }
  }
}

object GraftExtensions {
  private[expressions] val dotBuilder: Seq[Expression] => Expression = children => {
    val widened = children.map { c =>
      c.dataType match {
        case ArrayType(FloatType, n) => Cast(c, ArrayType(DoubleType, n))
        case _ => c
      }
    }
    DotProduct(widened(0), widened(1))
  }

  private[expressions] val h60Builder: Seq[Expression] => Expression =
    children => H60(children.head)

  private[expressions] val simhash64Builder: Seq[Expression] => Expression =
    children => SimHash64(children(0), children(1))

  private[expressions] val simhashBytesBuilder: Seq[Expression] => Expression =
    children => SimHashBytes(children.head)

  private[expressions] val bigramDistinctBuilder: Seq[Expression] => Expression =
    children => BigramDistinct(children.head)

  private[expressions] val minhashSigBuilder: Seq[Expression] => Expression =
    children => MinHashSig(children.head)

  private[expressions] val ngram8Builder: Seq[Expression] => Expression =
    children => Ngram8Hashes(children.head)

  private[expressions] val zorderBuilder: Seq[Expression] => Expression =
    children => {
      val widened = children.map { c =>
        c.dataType match {
          case ByteType | ShortType | IntegerType => Cast(c, LongType)
          case _ => c
        }
      }
      ZOrderCode(widened(0), widened(1))
    }

  private[expressions] val regionBuilder: Seq[Expression] => Expression = {
    case Seq(catalog, lon, lat) =>
      // any numeric coordinate widens to the double the index compares
      def widen(c: Expression) = c.dataType match {
        case _: NumericType if c.dataType != DoubleType => Cast(c, DoubleType)
        case _ => c
      }
      RegionLookup(catalog, widen(lon), widen(lat))
    case children => throw new IllegalArgumentException(
      s"graft_region expects (catalog, lon, lat), got ${children.size} arguments")
  }

  private[expressions] val cdcIdsBuilder: Seq[Expression] => Expression =
    children => {
      // accept any integral modulus (SQL `8` is int; 8S/8Y are valid too)
      val m = children(1).dataType match {
        case ByteType | ShortType | IntegerType => Cast(children(1), LongType)
        case _ => children(1)
      }
      CdcChunkIds(children(0), m)
    }
}

/** Session extension registering the graft function family. Activate with
  * `spark.sql.extensions=graft.expressions.GraftExtensions` (all graft
  * session builders set it). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      GraftExtensions.dotBuilder))
    ext.injectFunction((
      FunctionIdentifier("graft_h60"),
      new ExpressionInfo(classOf[H60].getName, "graft_h60"),
      GraftExtensions.h60Builder))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      GraftExtensions.simhash64Builder))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64_bytes"),
      new ExpressionInfo(classOf[SimHashBytes].getName, "graft_simhash64_bytes"),
      GraftExtensions.simhashBytesBuilder))
    ext.injectFunction((
      FunctionIdentifier("graft_bigram_distinct"),
      new ExpressionInfo(classOf[BigramDistinct].getName, "graft_bigram_distinct"),
      GraftExtensions.bigramDistinctBuilder))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      GraftExtensions.minhashSigBuilder))
    ext.injectFunction((
      FunctionIdentifier("graft_ngram8"),
      new ExpressionInfo(classOf[Ngram8Hashes].getName, "graft_ngram8"),
      GraftExtensions.ngram8Builder))
    ext.injectFunction((
      FunctionIdentifier("graft_cdc_ids"),
      new ExpressionInfo(classOf[CdcChunkIds].getName, "graft_cdc_ids"),
      GraftExtensions.cdcIdsBuilder))
    ext.injectFunction((
      FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrderCode].getName, "graft_zorder"),
      GraftExtensions.zorderBuilder))
    ext.injectFunction((
      FunctionIdentifier("graft_region"),
      new ExpressionInfo(classOf[RegionLookup].getName, "graft_region"),
      GraftExtensions.regionBuilder))
    // manifest-stats file pruning folded into logical statistics, so a
    // WHERE-pruned snap relation can broadcast (see SnapStatsPrune)
    ext.injectOptimizerRule(_ => graft.sources.SnapStatsPrune)
  }
}
