package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot loops of similarity/dedup — the
  * "custom `Expression` (with `doGenCode`) beats a UDF beats everything else"
  * tier. The higher-order-function formulations (`zip_with` + `aggregate`)
  * are interpreted per element with boxed lambda calls; these compile to a
  * tight primitive loop inside WholeStageCodegen.
  *
  * SEMANTICS CONTRACT: each expression reproduces its HOF twin bit-for-bit
  * (strict left-to-right double accumulation, same element casts) so the
  * DuckDB oracle parity of the declared queries is unchanged — unit-tested
  * in VectorExpressionsSpec.
  */
object VectorExpressions {

  /** `dot(a, b)`: Σ (double)a[i] * (double)b[i], left-to-right, over two
    * `array<float>` columns. Null array → null; and — matching the HOF twin
    * `aggregate(zip_with(a, b, _*_), 0d, _+_)` on edge inputs — unequal
    * lengths or a null ELEMENT also yield null (zip_with pads the shorter
    * side with null, and null poisons the fold), instead of silently
    * truncating to the common prefix (ADVICE r5). */
  case class FloatVectorDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes() = {
      def ok(dt: DataType) = dt match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dot requires array<float> inputs, got ${left.dataType} / ${right.dataType}")
    }

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |  }
           |  if (!${ev.isNull}) ${ev.value} = $acc;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Widest modulus safe with base 31 in int64: the largest 58-bit prime —
    * `31 * (mod-1) + maxCodePoint` stays below 2⁶³, so the fold never
    * overflows on either engine (DuckDB BIGINT arithmetic traps on
    * overflow; this bound is what makes the oracle twin possible). */
  val Mod58: Long = 288230376151711717L

  /** Rolling polynomial hash (base 31; default mod 1e9+7) over a string's
    * code points — the native twin of `TextAnalysis.rollingHash` (which
    * folds `ascii()` over `split(s, "")`), matching the DuckDB
    * `list_reduce(unicode(...))` oracle. `mod` widens the hash: the default
    * keeps round-1 query outputs stable (~30 bits); [[Mod58]] gives ~58-bit
    * entropy for the 64-bit-class SimHash. */
  case class StringRollingHash(child: Expression, mod: Long = 1000000007L) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes() =
      if (child.dataType.isInstanceOf[StringType])
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rolling_hash requires string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      rollingHashJava(input.asInstanceOf[UTF8String].toString, mod)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExpressions.rollingHashJava($c.toString(), ${mod}L)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `double_bits(x)`: injective native LONG encoding of a double for
    * DISTINCT counting — `Double.doubleToLongBits(x + 0.0)`. The `+ 0.0`
    * folds `-0.0` onto `0.0` and `doubleToLongBits` canonicalizes every
    * NaN payload, so bits-equality is exactly `countDistinct`'s
    * value-equality — while the distinct-pair stream stays 8-byte longs
    * instead of shortest-round-trip strings (`ndvFrame`'s hot path: the
    * string form pays a Ryu render + UTF8String hash per pair). */
  case class DoubleBits(child: Expression) extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    override def dataType: DataType = LongType
    // ImplicitCastInputTypes: FLOAT/int/decimal SQL callers widen to double
    // implicitly (exact for float and int32-and-under; the doc'd contract).
    // AbstractDataType is private[sql]; the inferred Seq[DoubleType.type]
    // conforms covariantly without naming it.
    override def inputTypes = Seq(DoubleType)

    override protected def nullSafeEval(input: Any): Any =
      java.lang.Double.doubleToLongBits(input.asInstanceOf[Double] + 0.0d)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"java.lang.Double.doubleToLongBits($c + 0.0d)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `trigram_distinct(s)`: number of DISTINCT hash-keyed word trigrams in
    * one codegen'd pass — the hot loop of the repetition quality rule. The
    * declarative twin (per-word rolling hashes in a `transform`, keys in a
    * second `transform`) evaluates the word-hash array INSIDE the key
    * lambda, i.e. once per gram — O(words²) per doc, measured 14 s at
    * sf0.1; the HOF form that avoids that still re-materializes every
    * array interpreted. This expression splits, hashes each word once,
    * folds each 3-window key, and counts distinct keys in O(chars) with
    * zero array allocation. Key definition (MUST stay in lockstep with
    * `TextAnalysis.repetitionRatioOracle`): per-word [[rollingHashJava]]
    * mod 1e9+7, window fold `((h1·131 + h2) mod M · 131 + h3) mod M`. */
  case class TrigramDistinctCount(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes() =
      if (child.dataType.isInstanceOf[StringType])
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"trigram_distinct requires string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      trigramDistinctJava(input.asInstanceOf[UTF8String].toString)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExpressions.trigramDistinctJava($c.toString())")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def trigram_distinct(c: Column): Column =
    ColumnBridge.column(TrigramDistinctCount(ColumnBridge.expression(c)))

  /** Static helper for generated code: distinct hash-keyed word trigrams.
    * Split semantics match `split(text, ' ')` / DuckDB `string_split`
    * (consecutive separators yield empty words, hash 0). */
  def trigramDistinctJava(s: String): Long = {
    val M = 1000000007L
    val words = s.split(" ", -1)
    if (words.length < 3) return 0L
    val seen = new java.util.HashSet[java.lang.Long](words.length * 2)
    var h1 = rollingHashJava(words(0), M)
    var h2 = rollingHashJava(words(1), M)
    var i = 2
    while (i < words.length) {
      val h3 = rollingHashJava(words(i), M)
      seen.add(((h1 * 131 + h2) % M * 131 + h3) % M)
      h1 = h2
      h2 = h3
      i += 1
    }
    seen.size().toLong
  }

  /** Static helper for generated code. */
  def rollingHashJava(s: String): Long = rollingHashJava(s, 1000000007L)

  def rollingHashJava(s: String, mod: Long): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** MinHash signature over an `array<string>` of shingles: element i is
    * `min over shingles of md5("i|" + shingle)` (lowercase hex) — exactly
    * `array_min(transform(sh, s -> md5(concat("i|", s))))` per hash, but all
    * `numHashes` minima in ONE pass with a reused digest instance instead of
    * `numHashes` interpreted array traversals. */
  case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(_: StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires array<string>, got $dt")
    }

    override protected def nullSafeEval(input: Any): Any =
      minhashJava(input.asInstanceOf[ArrayData], numHashes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExpressions.minhashJava($c, $numHashes)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Static helper for generated code: one pass over the shingles, tracking
    * the min digest per hash index. Nothing is allocated per (shingle,
    * hash): the `"h|"` prefixes are built once per call, each shingle's
    * bytes are taken once, and each digest lands in one reused buffer
    * (`digest(buf, 0, 16)` also resets the instance). Raw digests compare
    * unsigned-lexicographically, which is the order of their lowercase hex
    * forms, so only the `numHashes` minima are hex-encoded. An empty input
    * gives nulls, as `array_min` of an empty array does. */
  def minhashJava(shingles: ArrayData, numHashes: Int): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val prefixes = Array.tabulate(numHashes)(h => s"$h|".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val minima = new Array[Array[Byte]](numHashes)
    val dig = new Array[Byte](16)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val shingle = shingles.getUTF8String(i).getBytes
      var h = 0
      while (h < numHashes) {
        md.update(prefixes(h))
        md.update(shingle)
        md.digest(dig, 0, 16)
        if (minima(h) == null) minima(h) = dig.clone()
        else if (java.util.Arrays.compareUnsigned(dig, minima(h)) < 0)
          System.arraycopy(dig, 0, minima(h), 0, 16)
        h += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(minima.map { m =>
      if (m == null) null
      else {
        val hex = new Array[Char](32)
        var j = 0
        while (j < 16) {
          hex(2 * j) = HexDigits((m(j) >> 4) & 0xf)
          hex(2 * j + 1) = HexDigits(m(j) & 0xf)
          j += 1
        }
        UTF8String.fromString(new String(hex)): AnyRef
      }
    })
  }

  def minhash_sig(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), numHashes))

  /** `sorted_intersect_count(a, b)`: |a ∩ b| of two string SETS that are
    * each SORTED ascending in the binary UTF8 order `sort_array` uses
    * (nulls first) and duplicate-free (`array_distinct`) — a linear merge
    * walk over both arrays. Returns the identical INT that
    * `size(array_intersect(a, b))` returns on such inputs (pinned against
    * random sets in VectorExpressionsSpec) but does neither of the things
    * that made array_intersect the dominant per-pair cost of the
    * banding-curve sweep and the scored-candidates stage: no per-row hash
    * set over every element of the left array, and no materialized
    * intersection array that `size` immediately discards. The contract is
    * the CALLER's: both sides must come from `sort_array(array_distinct(…))`
    * (or an equivalently sorted set) — unsorted input silently
    * undercounts, which is why this is not a general array_intersect
    * replacement and both production call sites sort at the source. */
  case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def checkInputDataTypes() = {
      def ok(dt: DataType) = dt match {
        case ArrayType(_: StringType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count requires array<string> inputs, got ${left.dataType} / ${right.dataType}")
    }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      sortedIntersectCountJava(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.VectorExpressions.sortedIntersectCountJava($a, $b)")

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Merge-count kernel for [[SortedIntersectCount]]. Null elements sort
    * first (the `sort_array` ascending order), and a null on BOTH sides
    * counts once — matching `array_intersect`'s null semantics on sets. */
  def sortedIntersectCountJava(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val an = a.isNullAt(i)
      val bn = b.isNullAt(j)
      if (an || bn) {
        if (an && bn) { n += 1; i += 1; j += 1 }
        else if (an) i += 1
        else j += 1
      } else {
        val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (c == 0) { n += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    n
  }

  /** private[graft] (ADVICE r16): the kernel silently undercounts on
    * unsorted or non-distinct input — the contract is the CALLER's
    * (`sort_array(array_distinct(…))` at the source, as both production
    * call sites do). Restricting visibility keeps a future external caller
    * from wiring it to raw arrays and getting wrong Jaccards with no
    * error. */
  private[graft] def sorted_intersect_count(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** `top_gram_chars(words, n)`: per-row "most repetitious n-gram" char
    * mass — max over the row's distinct space-joined n-grams g of
    * `count(g) × (numChars(g) − (n−1))`, i.e. the chars the gram's
    * occurrences cover, counting word chars only (the `− (n−1)` drops the
    * joining spaces once, matching `length(bgram) − 1` in the explode
    * form). NULL when the row has fewer than n words — the exact value the
    * explode → groupBy(doc, gram) → groupBy(doc) max → LEFT JOIN pipeline
    * produced for that row (join miss → null), pinned bit-equal in
    * VectorExpressionsSpec. Replacing that pipeline makes the Gopher
    * repetition rules ROW-LOCAL: the per-(doc, gram) count map lives for
    * one row inside the projection instead of crossing two corpus-sized
    * exchanges per gram order (guide §2.3 "aggregate before you shuffle" —
    * here the shuffle disappears entirely). */
  case class TopGramChars(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = LongType
    // ALWAYS nullable: a row with fewer than n words yields null regardless
    // of the child's nullability (the left-join-miss shape of the explode
    // pipeline this replaces) — without this override the planner hardwires
    // isNull=false for non-null children and the sentinel null is dropped
    override def nullable: Boolean = true
    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(_: StringType, _) if n >= 1 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_gram_chars requires array<string> input and n >= 1, got ${child.dataType}, n=$n")
    }

    override protected def nullSafeEval(input: Any): Any =
      topGramCharsJava(input.asInstanceOf[ArrayData], n) match {
        case java.lang.Long.MIN_VALUE => null
        case v => v
      }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val raw = ctx.freshName("raw")
        s"""
           |long $raw = graft.functions.VectorExpressions.topGramCharsJava($c, $n);
           |if ($raw == Long.MIN_VALUE) { ${ev.isNull} = true; }
           |else { ${ev.value} = $raw; }
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Kernel for [[TopGramChars]]: one hash map of the row's n-grams →
    * (count, charMass); returns Long.MIN_VALUE as the "no grams" sentinel
    * (fewer than n words). Gram identity is the space-joined string — the
    * same identity the explode form grouped on. */
  def topGramCharsJava(words: ArrayData, n: Int): Long = {
    val nw = words.numElements()
    if (nw < n) return java.lang.Long.MIN_VALUE
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i <= nw - n) {
      // skip windows containing a null word (ADVICE r16): getUTF8String is
      // null for a null element (and UTF8String.concat propagates null), so
      // the gram would NPE below — and the explode pipeline this replaces
      // never counted null grams either (length(null) is null, ignored by
      // max). Unreachable from split() output; latent-input hardening only.
      var hasNull = false
      var k0 = 0
      while (k0 < n) { if (words.isNullAt(i + k0)) hasNull = true; k0 += 1 }
      if (hasNull) { i += 1 }
      else {
      val gram =
        if (n == 1) words.getUTF8String(i)
        else {
          val parts = new Array[UTF8String](2 * n - 1)
          var k = 0
          while (k < n) {
            parts(2 * k) = words.getUTF8String(i + k)
            if (k < n - 1) parts(2 * k + 1) = UTF8String.fromString(" ")
            k += 1
          }
          UTF8String.concat(parts: _*)
        }
      val slot = counts.computeIfAbsent(gram,
        _ => Array(0L, (gram.numChars() - (n - 1)).toLong))
      slot(0) += 1L
      i += 1
      }
    }
    var best = Long.MinValue
    val it = counts.values().iterator()
    while (it.hasNext) {
      val s = it.next()
      val v = s(0) * s(1)
      if (v > best) best = v
    }
    best
  }

  def top_gram_chars(words: Column, n: Int): Column =
    ColumnBridge.column(TopGramChars(ColumnBridge.expression(words), n))

  /** `gram_tfs(words, n)`: the row's distinct word n-grams with their
    * term frequencies, as `array<struct<w1…wn: string, tf: bigint>>` in
    * first-occurrence order. Replaces the
    * `explode(n-gram structs) → groupBy(doc_id, …, w1…wn) → count`
    * pipeline for PER-DOCUMENT tf tables: the count is a row-local fact
    * (every gram of a document lives in its source row), so aggregating it
    * through a corpus-sized exchange shuffles data to compute something
    * each row already knows (guide §2.3 "aggregate before you shuffle" —
    * here the tf aggregation disappears from the plan entirely, the same
    * move as [[TopGramChars]]). Identical rows: exploding this array
    * yields exactly the distinct (gram, count) pairs the groupBy produced,
    * and downstream filters on the word fields drop the same rows either
    * way.
    *
    * Null-word windows are skipped — their grams were dropped downstream
    * by every caller's `w =!= ""` filter anyway (null predicate), and the
    * gram identity below cannot represent them. private[graft]: gram
    * identity is the space-joined window, injective only while words
    * contain no spaces (true for every `split(text, ' ')` caller). */
  case class GramTfs(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StructType(
        (1 to n).map(i => org.apache.spark.sql.types.StructField(
          s"w$i", StringType, nullable = true)) :+
          org.apache.spark.sql.types.StructField("tf", LongType, nullable = false)),
      containsNull = false)
    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(_: StringType, _) if n >= 1 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gram_tfs requires array<string> input and n >= 1, got ${child.dataType}, n=$n")
    }

    override protected def nullSafeEval(input: Any): Any =
      gramTfsJava(input.asInstanceOf[ArrayData], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExpressions.gramTfsJava($c, $n)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Kernel for [[GramTfs]]: one insertion-ordered map over the row's
    * n-gram windows (key = space-joined window; first-occurrence position
    * kept so output words are slices of the input, not copies). */
  def gramTfsJava(words: ArrayData, n: Int): ArrayData = {
    val nw = words.numElements()
    val out = new java.util.ArrayList[InternalRow]()
    if (nw >= n) {
      // key → [firstPos, count]
      val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
      var i = 0
      while (i <= nw - n) {
        var hasNull = false
        var k = 0
        while (k < n) { if (words.isNullAt(i + k)) hasNull = true; k += 1 }
        if (!hasNull) {
          val key =
            if (n == 1) words.getUTF8String(i)
            else {
              val parts = new Array[UTF8String](2 * n - 1)
              var j = 0
              while (j < n) {
                parts(2 * j) = words.getUTF8String(i + j)
                if (j < n - 1) parts(2 * j + 1) = UTF8String.fromString(" ")
                j += 1
              }
              UTF8String.concat(parts: _*)
            }
          val slot = counts.computeIfAbsent(key, _ => Array(i.toLong, 0L))
          slot(1) += 1L
        }
        i += 1
      }
      val it = counts.values().iterator()
      while (it.hasNext) {
        val s = it.next()
        val pos = s(0).toInt
        val row = new Array[Any](n + 1)
        var k = 0
        while (k < n) { row(k) = words.getUTF8String(pos + k); k += 1 }
        row(n) = s(1)
        out.add(InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(row)))
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  private[graft] def gram_tfs(words: Column, n: Int): Column =
    ColumnBridge.column(GramTfs(ColumnBridge.expression(words), n))

  /** `word_ngrams(words, n)`: the row's sliding word n-grams in window
    * order — gram i is words i … i+n-1 joined by ' ' with `concat_ws`
    * semantics (null words skipped). The native twin of
    * `transform(sequence(1, size(ws) - n + 1), i -> concat_ws(' ', ws[i], …, ws[i+n-1]))`:
    * inside that lambda Spark re-evaluates `ws` — for `split(text, ' ')` a
    * whole split — once per element (no common-subexpression elimination
    * across a HOF boundary), so shingling cost O(words²) per row. Here the
    * split is an ordinary child, evaluated once per row, and the windows
    * are one pass. Fewer than n words → empty array (where the HOF form's
    * `sequence` would run descending); null array → null. Bit-equal to the
    * HOF form in VectorExpressionsSpec. */
  case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = child.dataType match {
      case ArrayType(st: StringType, _) => ArrayType(st, containsNull = false)
      case _ => ArrayType(StringType, containsNull = false)
    }
    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(_: StringType, _) if n >= 1 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_ngrams requires array<string> input and n >= 1, got ${child.dataType}, n=$n")
    }

    override protected def nullSafeEval(input: Any): Any =
      wordNgramsJava(input.asInstanceOf[ArrayData], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExpressions.wordNgramsJava($c, $n)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private val Space = UTF8String.fromString(" ")

  /** Kernel for [[WordNgrams]]: `UTF8String.concatWs` per window is
    * `concat_ws`'s own implementation, so null words drop out the same way. */
  def wordNgramsJava(words: ArrayData, n: Int): ArrayData = {
    val grams = new Array[Any](math.max(words.numElements() - n + 1, 0))
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < grams.length) {
      var k = 0
      while (k < n) {
        window(k) = if (words.isNullAt(i + k)) null else words.getUTF8String(i + k)
        k += 1
      }
      grams(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(grams)
  }

  def word_ngrams(words: Column, n: Int): Column =
    ColumnBridge.column(WordNgrams(ColumnBridge.expression(words), n))

  // ------------------------------------------------------------ Column API

  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVectorDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def rolling_hash(c: Column): Column =
    ColumnBridge.column(StringRollingHash(ColumnBridge.expression(c)))

  def double_bits(c: Column): Column =
    ColumnBridge.column(DoubleBits(ColumnBridge.expression(c)))

  /** One-pass SimHash over a text's whitespace words: per word the rolling
    * hash (base 31, `mod`), per bit a ±1 vote, sign-combined into a
    * `bits`-wide signature. Replaces the built-ins formulation —
    * `explode(split) → groupBy(doc) → bits × sum(when)` — which shuffles
    * every word of the corpus and carries `bits` aggregation buffers per
    * doc; this is a single projection, no shuffle at all, bit-equal
    * (spec-tested) because every operation is the same integer math. */
  case class SimHashWords(child: Expression, bits: Int, mod: Long) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes() =
      if (child.dataType.isInstanceOf[StringType])
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_words requires string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      simhashJava(input.asInstanceOf[UTF8String].toString, bits, mod)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExpressions.simhashJava($c.toString(), $bits, ${mod}L)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Static helper for generated code: split on single spaces (empty words
    * skipped, exactly like `filter(split(s, " "), w -> w != "")`), rolling-
    * hash each word, vote per bit, sign-combine. */
  def simhashJava(s: String, bits: Int, mod: Long): Long = {
    val votes = new Array[Int](bits)
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && s.charAt(i) == ' ') i += 1
      if (i < n) {
        var acc = 0L
        while (i < n && s.charAt(i) != ' ') {
          val cp = s.codePointAt(i)
          acc = (acc * 31 + cp) % mod
          i += Character.charCount(cp)
        }
        var b = 0
        while (b < bits) {
          if (((acc >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def simhash_words(c: Column, bits: Int, mod: Long = 1000000007L): Column =
    ColumnBridge.column(SimHashWords(ColumnBridge.expression(c), bits, mod))

  /** `l2sq(a, b)`: Σ ((double)a[i] − (double)b[i])², left-to-right, over two
    * `array<float>` columns — squared Euclidean distance as ONE strict fold,
    * the same shape the DuckDB twin folds (`(x−y)·(x−y)` per element), so
    * cell assignments that compare these doubles agree bit-for-bit.
    * Edge semantics match the HOF twin: unequal lengths or a null element
    * → null (see [[FloatVectorDot]]). */
  case class FloatVectorL2Sq(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes() = {
      def ok(dt: DataType) = dt match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_l2sq requires array<float> inputs, got ${left.dataType} / ${right.dataType}")
    }

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
        acc += d * d
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
           |    $acc += $d * $d;
           |  }
           |  if (!${ev.isNull}) ${ev.value} = $acc;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def vec_l2sq(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVectorL2Sq(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** ±1 hyperplane component for (plane, dim): parity of a splitmix-style
    * bit mix. THE definition — `Similarity.SignLsh` (Column API + DuckDB
    * oracle generation) delegates here, so the native bucket expression
    * below and the SQL literal arrays can never drift apart. */
  def lshSignJava(plane: Int, dim: Int): Double = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 0L) 1.0 else -1.0
  }

  /** All `tables` sign-LSH bucket ids of an `array<float>` vector in ONE
    * pass: bucket t's bit j is the sign of `dot(v, plane_{t*k+j})`, each
    * plane dot a strict left-to-right double fold — bit-identical to the
    * HOF formulation (`aggregate(zip_with(v, array(lit(sign)...)))` per
    * plane), which evaluates 32 interpreted 64-element folds per row and
    * dominated the ann_signlsh query. Sign components are recomputed per
    * row from the splitmix mix (a handful of integer ops) rather than
    * carried as 2 KB of literal-array state. */
  case class SignLshBuckets(child: Expression, tables: Int, planesPerTable: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_lsh_buckets requires array<float>, got $dt")
    }

    override protected def nullSafeEval(input: Any): Any =
      lshBucketsJava(input.asInstanceOf[ArrayData], tables, planesPerTable)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExpressions.lshBucketsJava($c, $tables, $planesPerTable)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Static helper for generated code. */
  def lshBucketsJava(v: ArrayData, tables: Int, planesPerTable: Int): ArrayData = {
    val dims = v.numElements()
    val buckets = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bkt = 0L
      var j = 0
      while (j < planesPerTable) {
        val p = t * planesPerTable + j
        var acc = 0.0
        var d = 0
        while (d < dims) {
          acc += v.getFloat(d).toDouble * lshSignJava(p, d)
          d += 1
        }
        if (acc > 0) bkt += (1L << j)
        j += 1
      }
      buckets(t) = bkt
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buckets)
  }

  def sign_lsh_buckets(v: Column, tables: Int, planesPerTable: Int): Column =
    ColumnBridge.column(SignLshBuckets(ColumnBridge.expression(v), tables, planesPerTable))
}
