package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Characters of a string sorted ascending — the anagram group key
  * (`/root/reference/src/index.js:66`: `[...word].sort().join('')`, a
  * UTF-16 code-unit sort; for the post-tokenizer `[a-z]` alphabet this is
  * plain alphabetical order).
  *
  * Native replacement for `array_join(array_sort(split(w, "")), "")`:
  * that chain allocates an array of one-char strings per word and runs
  * interpreted; this is one `char[]` sort inside whole-stage codegen,
  * and was the dominant cost of the flagship anagram pipeline.
  */
case class SortChars(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"sort_chars requires a string argument, got ${child.dataType.catalogString}"
      )

  override def nullSafeEval(input: Any): Any = {
    val cs = input.asInstanceOf[UTF8String].toString.toCharArray
    java.util.Arrays.sort(cs)
    UTF8String.fromString(new String(cs))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => {
        val cs = ctx.freshName("cs")
        s"""
          char[] $cs = $c.toString().toCharArray();
          java.util.Arrays.sort($cs);
          ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(new String($cs));
        """
      }
    )

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Reference-parity tokenizer in one codegen'd expression: equal to
  * `filter(filter(split(regexp_replace(regexp_replace(lower(t), "'", ""),
  * "[^a-z]+", " "), " "), w -> length(w) > 1), w -> !w.isin(stopWords))`,
  * null for a null row. That chain runs three Java-regex passes and two
  * interpreted lambdas per row, and its `lower()` initialises ICU's
  * case-mapping tables on first use; this is one byte loop per row whose
  * tokens are views into one fresh buffer. The stop list is a field, so it
  * takes part in expression equality.
  *
  * The input is a UTF8_BINARY string (as for [[SortChars]]). A full-ASCII
  * row is folded A–Z → a–z inside the loop, which is what `lower()` does
  * to ASCII there. Any other row is first lowercased by exactly Spark's
  * `Lower` call, since non-ASCII letters can lowercase to ASCII ones (the
  * Kelvin sign U+212A becomes `k`); the loop then sees only ASCII bytes of
  * the result as letters, as `[^a-z]+` does.
  */
case class WordTokens(child: Expression, stopWords: Seq[String]) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"word_tokens requires a string argument, got ${child.dataType.catalogString}"
      )

  // Read lazily, as `Lower` reads it.
  private lazy val useICU = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  @transient private lazy val stop: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stopWords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  def tokenize(text: UTF8String): ArrayData = {
    val s =
      if (text.isFullAscii) text
      else CollationSupport.Lower.exec(text, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val buf = new Array[Byte](n)
    val out = new java.util.ArrayList[AnyRef]()
    var o = 0
    var run = 0
    var i = 0
    while (i <= n) {
      val b = if (i < n) Platform.getByte(base, off + i) else 0.toByte
      if (b >= 'a' && b <= 'z') { buf(o) = b; o += 1; run += 1 }
      else if (b >= 'A' && b <= 'Z') { buf(o) = (b + 32).toByte; o += 1; run += 1 }
      else if (b != '\'') {
        if (run > 1) {
          val w = UTF8String.fromBytes(buf, o - run, run)
          if (!stop.contains(w)) out.add(w)
        }
        run = 0
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any = tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordTokens", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.tokenize($c);")
  }

  override def prettyName: String = "word_tokens"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of common elements between two SORTED, DISTINCT string arrays —
  * a single O(m+n) merge instead of `size(array_intersect(a, b))`, which
  * builds a hash set per invocation. On pairwise set-similarity joins
  * (millions of invocations) the merge is the difference between the
  * quadratic ground-truth Jaccard being usable and not.
  *
  * Precondition (caller-enforced, not checked): both arrays ascending and
  * duplicate-free — exactly what `sort_array(array_distinct(...))`
  * produces. Equal to `size(array_intersect(a, b))` under it.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count requires two array<string> arguments, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})"
      )
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val m = ctx.freshName("m")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        val cmp = ctx.freshName("cmp")
        s"""
          int $n = $a.numElements();
          int $m = $b.numElements();
          int $i = 0; int $j = 0; int $c = 0;
          while ($i < $n && $j < $m) {
            int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
            if ($cmp == 0) { $c++; $i++; $j++; }
            else if ($cmp < 0) { $i++; }
            else { $j++; }
          }
          ${ev.value} = $c;
        """
      }
    )

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[SortedIntersectCount]] over SORTED, DISTINCT long arrays — primitive
  * `getLong` access, no per-element object allocation. On millions of
  * pairwise set intersections the string merge spends most of its time
  * constructing UTF8String wrappers; hashing each set element to a 60-bit
  * long once per ROW and merging longs per PAIR moves that cost out of the
  * quadratic term.
  */
case class SortedIntersectCountLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count_long requires two array<bigint> arguments, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})"
      )
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val m = ctx.freshName("m")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        s"""
          int $n = $a.numElements();
          int $m = $b.numElements();
          int $i = 0; int $j = 0; int $c = 0;
          while ($i < $n && $j < $m) {
            long $xv = $a.getLong($i);
            long $yv = $b.getLong($j);
            if ($xv == $yv) { $c++; $i++; $j++; }
            else if ($xv < $yv) { $i++; }
            else { $j++; }
          }
          ${ev.value} = $c;
        """
      }
    )

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Static kernel behind [[WordShingles]] (called from generated code). */
object ShingleKernel {

  private val Space = UTF8String.fromString(" ")

  /** Distinct word-k-shingles of a token array, each the space-join of k
    * consecutive tokens, in first-occurrence order — element-for-element
    * equal to `array_distinct(transform(sequence(1, greatest(n-k+1, 1)),
    * i -> array_join(slice(tokens, i, k), ' ')))`, including the
    * degenerate n < k case (one shorter shingle; [""] for empty input).
    */
  def wordShingles(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val count = math.max(n - k + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < count) {
      val m = math.min(k, n - i)
      var j = 0
      while (j < m) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      val s =
        if (m == k) UTF8String.concatWs(Space, parts: _*)
        else UTF8String.concatWs(Space, java.util.Arrays.copyOf(parts, math.max(m, 0)): _*)
      seen.add(s)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(new Array[AnyRef](seen.size()))
    )
  }

  /** All word-k-shingles WITH multiplicity, in document order — the
    * multiset [[wordShingles]] dedupes. Repetition scoring needs the
    * duplicates (they ARE the signal), so this variant keeps them.
    */
  def wordShinglesAll(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val count = math.max(n - k + 1, 1)
    val out = new Array[AnyRef](count)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < count) {
      val m = math.min(k, n - i)
      var j = 0
      while (j < m) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      out(i) =
        if (m == k) UTF8String.concatWs(Space, parts: _*)
        else UTF8String.concatWs(Space, java.util.Arrays.copyOf(parts, math.max(m, 0)): _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `word_shingles(tokens, k)`: one pass, one hash-set — replaces the
  * `array_distinct(transform(sequence(...), slice/array_join))` chain,
  * which executes interpreted (HOFs fall out of codegen) and re-allocates
  * a slice array per shingle. Feeds every MinHash/Jaccard signature scan.
  */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"word_shingles requires an array<string> argument, got ${other.catalogString}"
        )
    }

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.wordShingles(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"${ev.value} = graft.functions.ShingleKernel.wordShingles($c, $k);"
    )

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass n-gram HASH identities: per start position the xxhash64
  * chain over per-token xxhash64 values (seed 42; each round hashes the
  * previous accumulator with the next token hash — wrap-free, uniform).
  * Token hashes are computed once per call and reused across all
  * positions, so the pass costs O(len + count·n) fixed hash rounds with
  * ZERO string allocation; when `withText` and n ≤ 4, the gram TEXT is
  * also built (the top-gram tie-break needs it) — longer orders never
  * pay it. Replaces the `transform(sequence, slice/array_join)` +
  * `xxhash64(string)` chain, which executes interpreted (HOFs fall out
  * of codegen) and re-allocates a slice + joined string per gram —
  * measured 40 s → ~17 s at sf1 on the 9-order repetition sweep.
  */
object GramHashKernel {

  private val Space = UTF8String.fromString(" ")
  private val Seed = 42L

  def gramHashStructs(arr: ArrayData, n: Int, withText: Boolean): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val len = arr.numElements()
    val count = len - n + 1
    if (count <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[AnyRef](0))
    val th = new Array[Long](len)
    var i = 0
    while (i < len) {
      val s = arr.getUTF8String(i)
      th(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
      i += 1
    }
    val text = withText && n <= 4
    val parts = if (text) new Array[UTF8String](n) else null
    val out = new Array[AnyRef](count)
    i = 0
    while (i < count) {
      var acc = Seed
      var j = 0
      while (j < n) { acc = XXH64.hashLong(th(i + j), acc); j += 1 }
      val g: UTF8String =
        if (text) {
          var j2 = 0
          while (j2 < n) { parts(j2) = arr.getUTF8String(i + j2); j2 += 1 }
          UTF8String.concatWs(Space, parts: _*)
        } else null
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](acc, g)
      )
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Characters of token POSITIONS covered by at least one occurrence of a
  * duplicated n-gram — the Gopher repetition coverage — in ONE pass over
  * the document: recompute each gram's [[GramHashKernel]] chain identity,
  * binary-search it in the SORTED duplicate-hash set, and merge covered
  * intervals inline (positions arrive in increasing order, so the merge
  * is a running [lo, hi] window; each covered token's CHAR length is
  * charged exactly once). Replaces the explode→join→collect_list(pos)→
  * interpreted-interval-fold chain: the per-position rows never exist,
  * so nothing position-sized is ever shuffled — the duplicate-hash SET
  * (tiny per (doc, n)) is the only thing that moves.
  */
object GramCoverageKernel {

  private val Seed = 42L

  def coverageChars(arr: ArrayData, n: Int, ghs: ArrayData): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val len = arr.numElements()
    val count = len - n + 1
    if (count <= 0 || ghs.numElements() == 0) return 0L
    val th = new Array[Long](len)
    val chars = new Array[Int](len)
    var i = 0
    while (i < len) {
      val s = arr.getUTF8String(i)
      th(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
      chars(i) = s.numChars()
      i += 1
    }
    val dup = ghs.toLongArray() // caller sorts ascending
    var total = 0L
    var curLo = -1
    var curHi = -2
    i = 0
    while (i < count) {
      var acc = Seed
      var j = 0
      while (j < n) { acc = XXH64.hashLong(th(i + j), acc); j += 1 }
      if (java.util.Arrays.binarySearch(dup, acc) >= 0) {
        val hi = i + n - 1
        if (curLo < 0) { curLo = i; curHi = hi }
        else if (i > curHi) {
          var p = curLo
          while (p <= curHi) { total += chars(p); p += 1 }
          curLo = i; curHi = hi
        } else if (hi > curHi) curHi = hi
      }
      i += 1
    }
    if (curLo >= 0) {
      var p = curLo
      while (p <= curHi) { total += chars(p); p += 1 }
    }
    total
  }
}

/** `gram_coverage_chars(tokens, n, sorted_dup_hashes)`: see
  * [[GramCoverageKernel]].
  */
case class GramCoverageChars(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"gram_coverage_chars requires (array<string>, int, array<bigint>), got " +
            s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})"
        )
    }

  override def nullSafeEval(tokens: Any, n: Any, ghs: Any): Any =
    GramCoverageKernel.coverageChars(
      tokens.asInstanceOf[ArrayData],
      n.asInstanceOf[Int],
      ghs.asInstanceOf[ArrayData]
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (t, n, g) => s"${ev.value} = graft.functions.GramCoverageKernel.coverageChars($t, $n, $g);"
    )

  override protected def withNewChildrenInternal(
      f: Expression,
      s: Expression,
      t: Expression
  ): Expression = copy(first = f, second = s, third = t)
}

/** `gram_hash_structs(tokens, n)`: see [[GramHashKernel]]. `n` is a
  * runtime int column (the repetition sweep explodes one row per order).
  */
case class GramHashStructs(left: Expression, right: Expression, withText: Boolean)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(
      Seq(
        StructField("gh", LongType, nullable = false),
        StructField("gram4", StringType, nullable = true)
      )
    ),
    containsNull = false
  )

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"gram_hash_structs requires (array<string>, int), got (${l.catalogString}, ${r.catalogString})"
        )
    }

  override def nullSafeEval(tokens: Any, n: Any): Any =
    GramHashKernel.gramHashStructs(
      tokens.asInstanceOf[ArrayData],
      n.asInstanceOf[Int],
      withText
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (t, n) => s"${ev.value} = graft.functions.GramHashKernel.gramHashStructs($t, $n, $withText);"
    )

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `word_shingles_all(tokens, k)`: [[WordShingles]] without the dedup —
  * every k-shingle with multiplicity, the input to repetition scoring
  * (duplicate-gram ratios), where collapsing duplicates would erase the
  * signal being measured.
  */
case class WordShinglesAll(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"word_shingles_all requires an array<string> argument, got ${other.catalogString}"
        )
    }

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.wordShinglesAll(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"${ev.value} = graft.functions.ShingleKernel.wordShinglesAll($c, $k);"
    )

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
