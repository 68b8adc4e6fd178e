package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram shingling: one compiled pass per document.
  *
  * The composable form — `array_distinct(transform(sequence(0, len-n),
  * i => concat_ws(' ', slice(tokens, i+1, n))))` — runs the lambda in
  * Catalyst's INTERPRETED higher-order-function path: per shingle it
  * allocates a slice array, dispatches concat_ws reflectively, then
  * array_distinct rescans the result. Measured on the corpus fixture
  * that path is the single largest cost of every shingle-based operator
  * (Jaccard index build, MinHash signatures, top n-grams): ~6 µs per
  * shingle of pure interpretation overhead.
  *
  * This expression emits the distinct n-gram array in one tight loop
  * (split, StringBuilder window join, LinkedHashSet dedup) behind a
  * single static call that whole-stage codegen inlines. Semantics are
  * bit-identical to the composable form (and to the DuckDB oracle's
  * `string_split(text,' ')` shingling):
  *  - tokens = split on the single space character, EMPTY TOKENS KEPT
  *    (Java `split(" ", -1)` == Spark `split(c, " ")` == DuckDB
  *    `string_split`);
  *  - fewer than n tokens → one shingle: the space-rejoin of all tokens;
  *  - first-occurrence order (what array_distinct produces).
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle width must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires a string input, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingles.compute($c, $n);")

  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
}

object WordShingles {
  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n)
      return new GenericArrayData(
        Array[Any](UTF8String.fromString(toks.mkString(" "))))
    val seen = new java.util.LinkedHashSet[String](
      math.max(8, toks.length * 2))
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  def wordShingles(text: Column, n: Int): Column =
    Shim.column(WordShingles(Shim.expression(text), n))
}

/** Native engine-neutral MinHash signature: the k lane minima over a
  * document's word n-gram shingles in one compiled pass, behind a single
  * static call that whole-stage codegen inlines (the [[WordShingles]]
  * idiom). Per shingle (the [[WordShingles]] tokenization: split on the
  * single space, empty tokens kept, fewer than n tokens → the whole
  * text):
  *  - x = the first 4 bytes of MD5 over the shingle's UTF-8 bytes, read
  *    big-endian and unsigned, mod P = 2³¹−1 — DuckDB's
  *    `('0x'||substr(md5(s),1,8))::BIGINT % P`;
  *  - lane i = (a_i·x + b_i) mod P, which cannot overflow (x, a_i,
  *    b_i < P < 2³¹).
  * Shingles are hashed straight out of the input's bytes (a shingle is
  * a byte range of a valid UTF-8 text); duplicates need no dedup, since
  * min is idempotent. NeutralMinHashSpec checks it against the composed
  * explode → md5 → hex → conv → lanes → min chain. */
case class NeutralMinHashSignature(child: Expression, k: Int, n: Int)
    extends UnaryExpression {
  require(k >= 1 && n >= 1, "signature length and shingle width must be >= 1")
  @transient private lazy val laneA =
    Array.tabulate(k)(NeutralMinHashSignature.a)
  @transient private lazy val laneB =
    Array.tabulate(k)(NeutralMinHashSignature.b)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"neutral_minhash requires a string input, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "neutral_minhash"

  override def nullSafeEval(input: Any): Any =
    NeutralMinHashSignature.compute(input.asInstanceOf[UTF8String], n,
      laneA, laneB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("laneA", laneA, "long[]")
    val b = ctx.addReferenceObj("laneB", laneB, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NeutralMinHashSignature.compute(" +
        s"$c, $n, $a, $b);")
  }

  override protected def withNewChildInternal(c: Expression)
      : NeutralMinHashSignature = copy(child = c)
}

object NeutralMinHashSignature {
  val P = 2147483647L // 2^31 - 1, Mersenne prime
  /** Fixed LCG lane constants — embedded identically in the kernel and
    * the generated oracle SQL. */
  def a(i: Int): Long = (2654435761L * (i + 1) + 1) % P
  def b(i: Int): Long = (40503L * (i + 1) * (i + 1) + 7) % P

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def compute(text: UTF8String, n: Int, a: Array[Long],
      b: Array[Long]): ArrayData = {
    // Malformed input decodes to U+FFFD in the reference's String form;
    // re-encode it so the byte ranges hash the same bytes.
    val bytes = (if (text.isValid) text
      else UTF8String.fromString(text.toString)).getBytes
    val len = bytes.length
    val md = md5.get()
    val digest = new Array[Byte](16)
    val mins = Array.fill(a.length)(Long.MaxValue)
    def fold(from: Int, until: Int): Unit = {
      md.update(bytes, from, until - from)
      md.digest(digest, 0, 16)
      val x = ((digest(0) & 0xffL) << 24 | (digest(1) & 0xffL) << 16 |
        (digest(2) & 0xffL) << 8 | (digest(3) & 0xffL)) % P
      var i = 0
      while (i < mins.length) {
        val h = (a(i) * x + b(i)) % P
        if (h < mins(i)) mins(i) = h
        i += 1
      }
    }
    // ends(j) = the byte offset just past token j
    var tokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') tokens += 1; i += 1 }
    if (tokens < n) fold(0, len)
    else {
      val ends = new Array[Int](tokens)
      var j = 0
      i = 0
      while (i < len) { if (bytes(i) == ' ') { ends(j) = i; j += 1 }; i += 1 }
      ends(tokens - 1) = len
      var s = 0
      while (s + n <= tokens) {
        fold(if (s == 0) 0 else ends(s - 1) + 1, ends(s + n - 1))
        s += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  def signature(text: Column, k: Int, n: Int): Column =
    Shim.column(NeutralMinHashSignature(Shim.expression(text), k, n))
}

/** Native Jaro–Winkler similarity (Winkler 1990): the edit-distance
  * family's "typo metric" for short identity strings (names, titles,
  * keys), where levenshtein over-penalizes transpositions. Classic
  * parameters, chosen to REPLAY DuckDB's `jaro_winkler_similarity`
  * exactly (verified against probe pairs in DedupSpec): empty input →
  * 0.0, match window floor(max(|a|,|b|)/2)−1, transpositions halved,
  * prefix boost l·0.1·(1−jaro) with l ≤ 4 applied ONLY above the 0.7
  * boost threshold. One static call inlined by whole-stage codegen —
  * no per-row interpretation (the WordShingles precedent). Operates on
  * UTF-16 code units == code points for the fixtures' ASCII text (the
  * oracle comparison assumes BMP input). */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler requires two string inputs, got ($a, $b)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.similarity(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinkler.similarity($a, $b);")

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): JaroWinkler = copy(left = l, right = r)
}

object JaroWinkler {
  def similarity(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString; val b = ub.toString
    val l1 = a.length; val l2 = b.length
    if (l1 == 0 || l2 == 0) return 0.0
    val w = math.max(math.max(l1, l2) / 2 - 1, 0)
    val ma = new Array[Boolean](l1)
    val mb = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + w)
      var j = math.max(0, i - w)
      var found = false
      while (!found && j <= hi) {
        if (!mb(j) && a.charAt(i) == b.charAt(j)) {
          ma(i) = true; mb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0; i = 0
    while (i < l1) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val half = t / 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 +
      (m - half).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(l1, l2))
    while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }

  def jaroWinkler(a: Column, b: Column): Column =
    Shim.column(JaroWinkler(Shim.expression(a), Shim.expression(b)))
}

/** Per-document character-entropy summary — total chars, distinct
  * chars, Shannon entropy (bits/char) — in ONE compiled pass.
  *
  * The composable form (`TextAnalysis.charEntropy`'s original
  * pipeline) explodes one row PER CHARACTER (sequence → transform →
  * substr), then shuffles twice: a (doc_id, ch) count and a doc-grain
  * total. At corpus scale that is |total characters| rows through two
  * exchanges to answer a per-doc question a single projection can.
  * This expression computes the code-point histogram and the entropy
  * sum in a tight loop behind one static call that whole-stage codegen
  * inlines — zero exploded rows, zero entropy-side shuffles.
  *
  * Arithmetic is REPLAY-IDENTICAL to the certified composable form
  * (and so to the DuckDB oracle):
  *  - chars are code points, matching `substr(text, i, 1)` /
  *    `length()` semantics in both engines;
  *  - each per-char term is `(c/n) · log2(n/c)` with Spark's exact
  *    log2 (`StrictMath.log(x) / StrictMath.log(2)` — verified
  *    against the catalyst codegen template) rounded to 9 decimals by
  *    Spark's exact double rounding (`java.math.BigDecimal.valueOf`
  *    + `setScale(9, HALF_UP)` — the Round codegen template);
  *  - terms sum as exact BigDecimal (order-independent, the
  *    decimal(20,9) SUM equivalent), one final `.doubleValue()`
  *    (Decimal→double cast equivalent).
  * Empty text yields (0, 0, 0.0) — callers filter empty docs to match
  * the oracle's `range(1, len+1)` doc-dropping behavior. */
case class CharEntropyStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"char_entropy_stats requires a string input, got $t")
  }
  override def dataType: DataType = CharEntropyStats.schema
  override def prettyName: String = "char_entropy_stats"

  override def nullSafeEval(input: Any): Any =
    CharEntropyStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharEntropyStats.compute($c);")

  override protected def withNewChildInternal(c: Expression): CharEntropyStats =
    copy(child = c)
}

object CharEntropyStats {
  val schema: StructType = StructType(Seq(
    StructField("n_chars_tok", LongType, nullable = false),
    StructField("distinct_chars", LongType, nullable = false),
    StructField("entropy_bits", DoubleType, nullable = false)))

  private val LOG2 = java.lang.StrictMath.log(2)

  def compute(text: UTF8String): InternalRow = {
    val s = text.toString
    val counts = new java.util.HashMap[Integer, Array[Long]](64)
    var n = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1
    }
    if (n == 0L)
      return new GenericInternalRow(Array[Any](0L, 0L, 0.0))
    val nD = n.toDouble
    var sum = java.math.BigDecimal.ZERO
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0).toDouble
      val term = (c / nD) * (java.lang.StrictMath.log(nD / c) / LOG2)
      sum = sum.add(java.math.BigDecimal.valueOf(term)
        .setScale(9, java.math.RoundingMode.HALF_UP))
    }
    new GenericInternalRow(
      Array[Any](n, counts.size.toLong, sum.doubleValue()))
  }

  def charEntropyStats(text: Column): Column =
    Shim.column(CharEntropyStats(Shim.expression(text)))
}
