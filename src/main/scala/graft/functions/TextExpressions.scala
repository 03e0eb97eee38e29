package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingling as a native expression.
  *
  * The composable form (`transform(sequence(...), i -> array_join(slice(...)))`)
  * pays Spark's interpreted higher-order-lambda cost per element plus a slice
  * allocation per shingle — measured ~1ms/doc. This expression does the whole
  * doc in one JVM call (split, filter empties, join windows); semantics are
  * identical to [[TextFunctions.shingles]]: lowercase, split on \s+, drop
  * empties, docs shorter than n yield one whole-doc shingle.
  *
  * All five expressions here participate in whole-stage codegen via a typed
  * helper call (`addReferenceObj` + direct method invocation) instead of
  * `CodegenFallback` — no per-row boxing, no InternalRow round-trip; the
  * generated code assigns the primitive/ArrayData result directly.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def shingle(input: UTF8String): ArrayData = {
    val toks = input.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val out =
      if (toks.length >= n)
        Array.tabulate(toks.length - n + 1) { i =>
          val sb = new java.lang.StringBuilder(toks(i))
          var j = i + 1
          while (j < i + n) { sb.append(' ').append(toks(j)); j += 1 }
          UTF8String.fromString(sb.toString)
        }
      else Array(UTF8String.fromString(toks.mkString(" ")))
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override def nullSafeEval(input: Any): Any = shingle(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.shingle($c);")
  }

  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** 64-bit SimHash of a document in one pass: tokenize (same rules as
  * [[WordShingles]]), hash each token with Spark's own xxhash64 (seed 42 —
  * bit-identical to `functions.xxhash64(token)`), vote per bit, sign → bit.
  * Replaces an explode + 64 aggregate columns + re-group with a single
  * per-row call (measured ~6× on the near-dup pipeline).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function

  override def dataType: DataType = LongType

  def hash(input: UTF8String): Long = {
    val toks = input.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = XxHash64Function.hash(UTF8String.fromString(toks(i)), StringType, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  override def nullSafeEval(input: Any): Any = hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.hash($c);")
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** Order-sensitive 64-bit document fingerprint — the rolling hash chain of
  * [[TextFunctions.fingerprint]] (`aggregate(tokens, seed, xxhash64(acc, w))`)
  * as one native call per row. Spark's multi-arg `xxhash64(acc, w)` folds
  * left from seed 42 (`hash(w, hash(acc, 42))`), replicated here with
  * XxHash64Function so native ≡ composable bit-for-bit (asserted in
  * NorthStarSpec). The composable form pays an interpreted lambda invocation
  * per token (~1 ms/doc measured) — this is the q37 hot path.
  */
case class Fingerprint64(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function

  override def dataType: DataType = LongType

  def hash(input: UTF8String): Long = {
    val toks = input.toLowerCase.toString.split("\\s+")
    var acc = 1469598103934665603L
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) {
        val seed = XxHash64Function.hash(acc, LongType, 42L)
        acc = XxHash64Function.hash(UTF8String.fromString(toks(i)), StringType, seed)
      }
      i += 1
    }
    acc
  }

  override def nullSafeEval(input: Any): Any = hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fingerprint", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.hash($c);")
  }

  override protected def withNewChildInternal(c: Expression): Fingerprint64 = copy(child = c)
}

/** MinHash signature (array of k longs) in one pass over the document.
  * Element i equals the composable `min(xxhash64(lit(i), sh))` over the
  * doc's exploded distinct shingles (min over a multiset = min over the set,
  * so dedup is unnecessary): per shingle, seed_i = hash(i:int, 42) is
  * precomputed once, then hash(shingle, seed_i) in a tight loop. Replaces
  * k aggregate columns × an exploded shingle relation (k hash evals per
  * shuffled row) with zero extra shuffle rows.
  */
case class MinHashSig(child: Expression, shingleSize: Int, numHashes: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => XxHash64Function.hash(i, IntegerType, 42L))

  def sig(input: UTF8String): ArrayData = {
    val toks = input.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val nSh = if (toks.length >= shingleSize) toks.length - shingleSize + 1 else 1
    val sb = new java.lang.StringBuilder
    var s = 0
    while (s < nSh) {
      sb.setLength(0)
      val end = math.min(s + shingleSize, toks.length)
      var j = s
      while (j < end) { if (j > s) sb.append(' '); sb.append(toks(j)); j += 1 }
      val sh = UTF8String.fromString(sb.toString)
      var i = 0
      while (i < numHashes) {
        val h = XxHash64Function.hash(sh, StringType, seeds(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      s += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(input: Any): Any = sig(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHash", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.sig($c);")
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** Native language-ID: same semantics as the composable
  * [[TextFunctions.langId]] (stopword-hit argmax, earlier-name tie-break, CJK
  * override, 'und' fallback) in one pass per row instead of per-language
  * interpreted lambda filters. Equivalence is asserted in NorthStarSpec. */
case class LangId(child: Expression) extends UnaryExpression {
  private val ordered: Array[(String, Set[String])] =
    TextFunctions.stopwords.toArray.sortBy(_._1).map { case (l, ws) => (l, ws.toSet) }

  override def dataType: DataType = StringType

  def idOf(input: UTF8String): UTF8String = {
    val s = input.toString
    if (s.exists(c => c >= '一' && c <= '鿿')) return UTF8String.fromString("zh")
    val toks = s.toLowerCase.split("\\s+").filter(_.nonEmpty)
    var bestScore = 0; var bestLang = "und"
    var i = 0
    while (i < ordered.length) {
      val (lang, set) = ordered(i)
      var score = 0
      var j = 0
      while (j < toks.length) { if (set.contains(toks(j))) score += 1; j += 1 }
      if (score > bestScore) { bestScore = score; bestLang = lang } // first lang wins ties
      i += 1
    }
    UTF8String.fromString(bestLang)
  }

  override def nullSafeEval(input: Any): Any = idOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langId", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.idOf($c);")
  }

  override protected def withNewChildInternal(c: Expression): LangId = copy(child = c)
}

object TextExpressions {

  /** Sizing args must be integer literals (they shape the expression, not the
    * row); a non-literal SQL arg gets a standard analysis error instead of a
    * raw ClassCastException. */
  private def intLit(fn: String, param: String, e: Expression): Int = e match {
    case Literal(v, org.apache.spark.sql.types.IntegerType |
                    org.apache.spark.sql.types.LongType |
                    org.apache.spark.sql.types.ShortType |
                    org.apache.spark.sql.types.ByteType) if v != null =>
      v.toString.toInt
    case _ => throw new org.apache.spark.sql.AnalysisException(
      "NON_FOLDABLE_ARGUMENT",
      Map("funcName" -> s"`$fn`", "paramName" -> s"`$param`", "paramType" -> "\"INT\""))
  }

  /** Register `word_shingles(text, n)`, `simhash64`, `lang_id`,
    * `fingerprint64` and `minhash_sig` (once per session). */
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark,
      "word_shingles" -> (es => WordShingles(es.head, intLit("word_shingles", "n", es(1)))),
      "simhash64" -> (es => SimHash64(es.head)),
      "lang_id" -> (es => LangId(es.head)),
      "fingerprint64" -> (es => Fingerprint64(es.head)),
      "minhash_sig" -> (es => MinHashSig(es.head,
        intLit("minhash_sig", "shingle_size", es(1)),
        intLit("minhash_sig", "num_hashes", es(2)))))

  /** Column API (register per session first). */
  def wordShingles(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function("word_shingles", c,
      org.apache.spark.sql.functions.lit(n))

  def simhash64(c: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", c)

  def langId(c: Column): Column =
    org.apache.spark.sql.functions.call_function("lang_id", c)

  def fingerprint64(c: Column): Column =
    org.apache.spark.sql.functions.call_function("fingerprint64", c)

  def minhashSig(c: Column, shingleSize: Int, numHashes: Int): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig", c,
      org.apache.spark.sql.functions.lit(shingleSize),
      org.apache.spark.sql.functions.lit(numHashes))
}
