package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Character-level text statistics as native codegen expressions — the
  * [[graft.extra.Signals.charEntropy]] hot path. The Column-expression
  * formulation (38 translate-counts folded by a higher-order aggregate)
  * costs ~0.6 ms/row: ArrayAggregate is CodegenFallback, so every row pays
  * interpreted lambda dispatch plus two BigDecimal rounds per symbol. This
  * expression does ONE pass over the string inside whole-stage codegen
  * (~µs/row) and reproduces the engine-exact arithmetic bit for bit: per
  * symbol p = cnt/total, ln(p) pinned to 6 decimals via the same
  * BigDecimal HALF_UP that Spark's `round` uses, micronat terms HALF_UP to
  * integers, integer sum (order-free by construction).
  */
object TextEntropy {

  /** Entropy in integer micronats over the 37-symbol alphabet
    * (a–z, 0–9, space) + other bucket. ASCII case is folded here (A–Z maps
    * to the a–z bucket), so the SQL-exposed `char_entropy_micro` is safe on
    * mixed-case input without a `lower()` wrapper; for the bucket alphabet
    * this is exactly equivalent to lowercasing first, because every
    * non-ASCII codepoint lands in the 'other' bucket regardless of case
    * (the one caveat: locale-expanding lowercasings like U+0130 → "i"+dot
    * count 1 char here vs 2 after `lower()` — outside the a–z/0–9 path,
    * negligible). 0 for the empty string (the Column layer maps it to
    * NULL).
    */
  def entropyMicro(u: UTF8String): Long = {
    val s = u.toString
    val counts = new Array[Long](38)
    var total = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      total += 1
      val idx =
        if (cp >= 'a' && cp <= 'z') cp - 'a'
        else if (cp >= 'A' && cp <= 'Z') cp - 'A'
        else if (cp >= '0' && cp <= '9') 26 + (cp - '0')
        else if (cp == ' ') 36
        else 37
      counts(idx) += 1
    }
    if (total == 0L) return 0L
    var sum = 0L
    var k = 0
    while (k < 38) {
      val c = counts(k)
      if (c > 0) {
        val p = c.toDouble / total
        val lnp6 = java.math.BigDecimal.valueOf(math.log(p))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        sum += java.math.BigDecimal.valueOf(-p * lnp6 * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      }
      k += 1
    }
    sum
  }

  /** Column wrapper: `char_entropy_micro(lowered_text)`. */
  def charEntropyMicro(lowered: Column): Column =
    GraftShim.column(CharEntropyMicro(GraftShim.expression(lowered)))
}

/** The fingerprint normalizer as ONE codegen byte pass:
  * `trim(regexp_replace(regexp_replace(lower(s), "[^a-z0-9 ]", ""), " +", " "))`
  * without java.util.regex on the hot path. Two reasons, both measured:
  * (1) one pass, zero intermediate Strings — the Column formulation
  * materializes three full copies per row; (2) java.util.regex is
  * indirect-branch-bound (CharPredicate lambda dispatch), which this
  * project's measurement host serializes catastrophically under thread
  * concurrency — a pure-JVM control (no Spark) measured the SAME regex at
  * 24 µs/row on 1 thread and 847 µs/row/thread on 32 threads (flat
  * aggregate throughput), while table-lookup byte loops like this one
  * scale perfectly (PLANS.md round 14). On real cluster cores the
  * regex is merely ~10× slower than this loop, not ~30× per added thread.
  *
  * ASCII inputs (every byte < 0x80) take the exact byte loop: A–Z folded,
  * [a-z0-9] kept, runs of spaces collapsed to one and trimmed, everything
  * else dropped — provably the regex chain's output for ASCII. Any
  * non-ASCII input falls back to the ORIGINAL construction
  * (UTF8String.toLowerCase, then the two regexes) so locale-expanding
  * lowercasings (U+0130 → "i" + combining dot) keep bit-identical
  * fingerprints. Property-locked against the Column formulation in
  * TextStatsSpec.
  */
object TextNormalize {
  private val nonAlnum = java.util.regex.Pattern.compile("[^a-z0-9 ]")
  private val spaceRuns = java.util.regex.Pattern.compile(" +")

  def normalize(u: UTF8String): UTF8String = {
    val b = u.getBytes
    var ascii = true
    var i = 0
    while (ascii && i < b.length) { if (b(i) < 0) ascii = false; i += 1 }
    if (!ascii) {
      val lowered = u.toLowerCase.toString
      val stripped = nonAlnum.matcher(lowered).replaceAll("")
      return UTF8String.fromString(
        spaceRuns.matcher(stripped).replaceAll(" ").trim)
    }
    val out = new Array[Byte](b.length)
    var n = 0
    var pendingSpace = false
    i = 0
    while (i < b.length) {
      var c = b(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
        pendingSpace = false
        out(n) = c
        n += 1
      } else if (c == ' ') pendingSpace = true
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, n))
  }

  /** Column wrapper: the normalized fingerprint text. */
  def asciiNormalize(text: Column): Column =
    GraftShim.column(AsciiNormalize(GraftShim.expression(text)))
}

/** The engine's tokenizer as ONE codegen pass:
  * `filter(split(lower(text), " "), t => t =!= "")` without java.util.regex
  * (StringSplit compiles a Pattern) and without the interpreted
  * higher-order ArrayFilter lambda — the two per-row costs every text
  * operator was paying. Exact by construction at any input: lowercasing
  * first through the SAME UTF8String.toLowerCase that Spark's `lower`
  * uses (so locale expansions match bit-for-bit), then splitting on the
  * 0x20 byte — which in UTF-8 can only ever BE the space character
  * (continuation bytes have the high bit set), so byte-level splitting ≡
  * character-level splitting — and dropping empty segments exactly as the
  * filter did. Property-locked against the Column composition in
  * TextStatsSpec. Same host-measured motivation as [[TextNormalize]]:
  * regex is indirect-branch-bound and serializes under thread concurrency
  * on this box; a byte loop scales perfectly (PLANS.md round 14).
  */
object TextTokens {
  def tokensOf(u: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = u.toLowerCase.getBytes
    var n = 0
    var i = 0
    var inTok = false
    while (i < b.length) { // count tokens
      if (b(i) == ' ') inTok = false
      else if (!inTok) { inTok = true; n += 1 }
      i += 1
    }
    val out = new Array[AnyRef](n)
    var k = 0
    i = 0
    while (i < b.length) {
      if (b(i) != ' ') {
        val start = i
        while (i < b.length && b(i) != ' ') i += 1
        out(k) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, start, i))
        k += 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Column wrapper: the non-empty lowercased space-split tokens. */
  def lowerSpaceTokens(text: Column): Column =
    GraftShim.column(LowerSpaceTokens(GraftShim.expression(text)))
}

/** The engine's word w-gram stream as ONE codegen pass:
  * `transform(sequence(1, n-w+1), i => array_join(slice(toks, i, w), " "))`
  * over [[TextTokens.lowerSpaceTokens]] — without the per-gram interpreted
  * eval the Column form pays. `transform`'s lambda body NEVER enters
  * whole-stage codegen (LambdaFunction evals interpreted), so every gram
  * ran Slice.nullSafeEval (an ArrayDataIndexedSeq allocation + boxed copy)
  * plus ArrayJoin.eval — sampled as the top executor stacks of the sf10
  * corpus_build probe, 503s cpu for repetitionMetrics alone. This kernel
  * lowercases once (same UTF8String.toLowerCase), records token byte
  * offsets, and builds each gram with one byte copy — output strings are
  * byte-identical to the Column form's (single 0x20 between tokens,
  * multi-space gaps collapsed by tokenization), property-locked in
  * TextStatsSpec. Docs with fewer than w tokens yield an EMPTY array —
  * under the explode every consumer applies, identical to the Column
  * form's size(toks) >= w pre-filter.
  */
object TextGrams {
  /** All w-grams of `u`'s lowercased space-split tokens, in order. */
  private def rawGrams(u: UTF8String, w: Int): Array[AnyRef] = {
    val b = u.toLowerCase.getBytes
    var n = 0
    var i = 0
    var inTok = false
    while (i < b.length) { // count tokens
      if (b(i) == ' ') inTok = false
      else if (!inTok) { inTok = true; n += 1 }
      i += 1
    }
    if (n < w) return Array.empty[AnyRef]
    val starts = new Array[Int](n)
    val ends = new Array[Int](n)
    var k = 0
    i = 0
    while (i < b.length) {
      if (b(i) != ' ') {
        val s = i
        while (i < b.length && b(i) != ' ') i += 1
        starts(k) = s; ends(k) = i; k += 1
      } else i += 1
    }
    val m = n - w + 1
    val out = new Array[AnyRef](m)
    var g = 0
    while (g < m) {
      var len = w - 1 // the w-1 joining spaces
      var j = g
      while (j < g + w) { len += ends(j) - starts(j); j += 1 }
      val gb = new Array[Byte](len)
      var p = 0
      j = g
      while (j < g + w) {
        if (j > g) { gb(p) = ' '; p += 1 }
        val tl = ends(j) - starts(j)
        System.arraycopy(b, starts(j), gb, p, tl)
        p += tl
        j += 1
      }
      out(g) = UTF8String.fromBytes(gb)
      g += 1
    }
    out
  }

  def gramsOf(u: UTF8String, w: Int,
              distinct: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val all = rawGrams(u, w)
    val out = if (!distinct || all.length <= 1) all
    else { // first-occurrence order, like array_distinct
      val seen = new java.util.HashSet[AnyRef](all.length * 2)
      val buf = new Array[AnyRef](all.length)
      var k = 0
      var i = 0
      while (i < all.length) {
        if (seen.add(all(i))) { buf(k) = all(i); k += 1 }
        i += 1
      }
      if (k == all.length) all else java.util.Arrays.copyOf(buf, k)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The per-document top w-gram IN-ROW — `(count, char-length)` of the
    * most frequent gram, ties broken by binary-ascending gram exactly as
    * `ORDER BY cnt DESC, gram ASC` does — replacing the corpus-sized
    * (doc, gram) aggregate + per-doc window the Gopher repetition metrics
    * paid: at 100 TB the top gram of a document is a per-row statistic,
    * not a shuffle. NULL struct when the doc has fewer than w tokens
    * (the left-join miss of the aggregate form).
    */
  def topGramOf(u: UTF8String, w: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val all = rawGrams(u, w)
    if (all.length == 0) return null
    val counts = new java.util.HashMap[AnyRef, Int](all.length * 2)
    var i = 0
    while (i < all.length) {
      counts.merge(all(i), 1, Integer.sum _)
      i += 1
    }
    var bestGram: UTF8String = null
    var bestCnt = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = e.getKey.asInstanceOf[UTF8String]
      val c = e.getValue.intValue()
      if (c > bestCnt || (c == bestCnt && g.compareTo(bestGram) < 0)) {
        bestGram = g; bestCnt = c
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestCnt.toLong, bestGram.numChars()))
  }

  /** Column wrapper: the space-joined word w-grams of the lowercased
    * space-split tokens (empty array when the doc has fewer than w).
    */
  def lowerSpaceGrams(text: Column, w: Int, distinct: Boolean = false): Column =
    GraftShim.column(LowerSpaceGrams(GraftShim.expression(text), w, distinct))

  /** Column wrapper: struct(top_cnt, top_len) of the doc's top w-gram. */
  def topGramStats(text: Column, w: Int): Column =
    GraftShim.column(TopGramStats(GraftShim.expression(text), w))
}

/** One-pass word w-gram stream (see [[TextGrams]]). */
case class LowerSpaceGrams(child: Expression, w: Int, distinct: Boolean)
    extends UnaryExpression {
  require(w >= 1, s"gram width must be >= 1, got $w")
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextGrams.gramsOf(input.asInstanceOf[UTF8String], w, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextGrams.gramsOf($c, $w, $distinct)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-row top w-gram statistics (see [[TextGrams.topGramOf]]). */
case class TopGramStats(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"gram width must be >= 1, got $w")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("top_cnt",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("top_len",
      org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextGrams.topGramOf(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.TextGrams.topGramOf($c, $w);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass lowercase space tokenizer (see [[TextTokens]]). */
case class LowerSpaceTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextTokens.tokensOf(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextTokens.tokensOf($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass fingerprint normalization (see [[TextNormalize]]). */
case class AsciiNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextNormalize.normalize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextNormalize.normalize($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass char-unigram entropy in integer micronats (see [[TextEntropy]]).
  * Codegen is a single static call — the loop lives in compiled Scala, not
  * generated Java, so there is no method-size risk however wide the
  * enclosing stage.
  */
case class CharEntropyMicro(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextEntropy.entropyMicro(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextEntropy.entropyMicro($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
