package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expressions for the two hash-dense hot paths — the
  * sanctioned escalation when built-in functions can't hit the needed
  * shape (custom `Expression` with `doGenCode` beats HOF chains beats
  * UDFs):
  *
  *  - [[MinHashSig]]: the numHashes-seed min-hash signature in ONE pass
  *    over the shingle array. The higher-order-function form
  *    (`transform(sequence(0,31), j -> array_min(transform(sh, s ->
  *    xxhash64(s, j))))`) materializes 32 intermediate arrays per row and
  *    re-walks the shingles 32×; this loop keeps one long of state per
  *    seed and walks the input once — and it is BIT-IDENTICAL to the HOF
  *    form (same xxhash64 composition: hashLong(j, hashLong(s, 42))),
  *    asserted in HashExpressionsSpec, so every gate result is unchanged.
  *
  *  - [[SimHash64]]: the 64-bit SimHash vote in one pass per ROW. The
  *    aggregation form (explode shingles → groupBy(id) with 64 bit-count
  *    sums) pays a corpus-wide SHUFFLE for what is a per-document
  *    computation; this expression removes that shuffle entirely.
  *
  * Registration: `spark.sql.extensions=graft.functions.GraftExtensions`
  * (set by every session builder in this repo) injects both as SQL
  * functions; [[functions.minhashSig]]/[[functions.simhash64]] are the
  * Column faces via `call_function`.
  */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes > 0, s"numHashes must be positive, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig requires array<bigint>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val e = XXH64.hashLong(arr.getLong(i), 42L)
      var j = 0
      while (j < numHashes) {
        // the HOF form's seed index comes from sequence() as an INT, which
        // XxHash64 hashes via hashInt — match it exactly for bit parity
        val h = XXH64.hashInt(j, e)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[XXH64].getName
    val uad = classOf[UnsafeArrayData].getName
    nullSafeCodeGen(ctx, ev, arr => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val e = ctx.freshName("e")
      val h = ctx.freshName("h")
      s"""
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  long $e = $xxh.hashLong($arr.getLong($i), 42L);
         |  for (int $j = 0; $j < $numHashes; $j++) {
         |    long $h = $xxh.hashInt($j, $e);
         |    if ($h < $sig[$j]) $sig[$j] = $h;
         |  }
         |}
         |${ev.value} = $uad.fromPrimitiveArray($sig);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** 64-bit SimHash of a hashed-shingle array: bit j of the result is set iff
  * more elements have bit j set than not — the per-bit ±1 vote, folded in
  * one pass per row with no shuffle.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64 requires array<bigint>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  long $h = $arr.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    if ((($h >>> $j) & 1L) == 1L) $votes[$j]++; else $votes[$j]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) { if ($votes[$j] > 0) $out |= (1L << $j); }
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Hashed word-n-gram shingle set of a text column in ONE pass per row:
  * `graft_word_shingle_hashes(text, n)` ≡
  * `array_distinct(transform(wordShingles(text, n), s -> xxhash64(s)))`
  * where wordShingles = the distinct space-joined n-grams of
  * `split(lower(trim(text)), "\\s+")` (whole-string shingle when the row
  * has < n tokens).
  *
  * Why native (r6 measurement, guide §1.4): the HOF chain
  * (split → sequence → transform(slice + array_join) → array_distinct →
  * transform(xxhash64)) allocates a token-array slice and a joined gram
  * STRING per shingle plus two intermediate arrays per row, and evaluates
  * four nested lambdas through the interpreter — measured at ~0.6 ms/doc,
  * 85% of BOTH q_minhash_pairs and q_simhash_pairs. This expression
  * tokenizes once, reuses one scratch byte buffer for every gram, hashes
  * gram bytes in place (no gram string materialized), and dedupes by hash
  * value — ~20× less per-row work, same values.
  *
  * Value parity (asserted in WordShingleHashesSpec):
  *  - trim/lower call the same UTF8String methods the built-in Trim/Lower
  *    expressions call, in the same order;
  *  - tokenization is the same `Pattern.compile("\\s+").split(s, -1)` that
  *    StringSplit performs;
  *  - each gram's hash is XXH64 with Spark's seed 42 over exactly the UTF-8
  *    bytes of `tok_i ⊔ tok_i+1 ⊔ ... ⊔ tok_i+n-1` (⊔ = single space) —
  *    the bytes xxhash64(array_join(slice(...), " ")) hashes;
  *  - dedupe keeps first-occurrence order. The HOF form dedupes gram
  *    STRINGS before hashing; deduping by hash VALUE is identical unless
  *    two distinct grams of one document collide in 64 bits (~n²/2^64,
  *    vanishing — and the downstream set algebra dedupes values anyway).
  *    Hash-distinct output is load-bearing: it licenses the exact identity
  *    |A∪B| = |A|+|B|-|A∩B| used by the Jaccard verify joins.
  */
case class WordShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word_shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_word_shingle_hashes requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    WordShingleHashes.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // the companion object's compute has a static forwarder on this class
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.WordShingleHashes.compute($in, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}

object WordShingleHashes {
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** One pass: trim → lower → \s+ split → distinct gram hashes.
    * Static so generated code can call it and whole-stage codegen keeps the
    * surrounding projection fused.
    */
  def compute(text: UTF8String, n: Int): UnsafeArrayData = {
    // same methods, same order as Lower(Trim(child)); StringSplit then
    // regex-splits via Pattern on the string form
    val s = text.trim().toLowerCase.toString
    val toks = Ws.split(s, -1)
    val tokBytes = new Array[Array[Byte]](toks.length)
    var i = 0
    while (i < toks.length) {
      tokBytes(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    val nGrams = if (toks.length < n) 1 else toks.length - n + 1
    val gramLen = if (toks.length < n) toks.length else n
    // scratch buffer sized to the longest gram (token bytes + separators)
    var maxLen = 0
    i = 0
    while (i <= toks.length - gramLen) {
      var len = gramLen - 1
      var j = 0
      while (j < gramLen) { len += tokBytes(i + j).length; j += 1 }
      if (len > maxLen) maxLen = len
      i += 1
    }
    val buf = new Array[Byte](math.max(maxLen, 0))
    val seen = new java.util.HashSet[java.lang.Long](nGrams * 2)
    val out = new Array[Long](nGrams)
    var m = 0
    i = 0
    while (i < nGrams) {
      var len = 0
      var j = 0
      while (j < gramLen) {
        if (j > 0) { buf(len) = ' '; len += 1 }
        val tb = tokBytes(i + j)
        System.arraycopy(tb, 0, buf, len, tb.length)
        len += tb.length
        j += 1
      }
      val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }
}

/** Fused cosine-similarity PARTS of two numeric arrays in ONE pass per row:
  * `graft_cosine_parts(a, b)` returns `struct<dot, na, nb>` where
  *   dot ≡ `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)`
  *   na  ≡ `aggregate(a, 0d, (acc,v) -> acc + v*v)`   (nb likewise for b)
  * and the caller composes `dot / (sqrt(na) * sqrt(nb))` with REAL Spark
  * sqrt/Divide expressions — so ANSI divide-by-zero behavior and null
  * propagation through the division stay exactly the engine's own.
  *
  * Why native (r6): the HOF composition walks the vectors four times,
  * materializes the zip_with product array, and dispatches a lambda per
  * element; the ANN gates and the brute-force bench score every
  * (query, item) pair with it. One fused loop removes all of that.
  *
  * Bit-parity contract (asserted in CosineSimSpec): accumulation is the
  * same left-to-right double fold; per-element products replicate Spark's
  * type promotion exactly — float×float multiplies IN FLOAT then widens,
  * any double operand widens both before a double multiply. Null semantics
  * per field, exactly as the aggregates define them: `dot` is null when
  * the lengths differ (zip_with pads with null) or any overlapping element
  * is null; `na`/`nb` are null when their own array has a null element.
  */
case class CosineParts(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  import org.apache.spark.sql.types.{DoubleType, FloatType, NumericType, StructField, StructType}

  // Integer and decimal arrays are widened to array<double> by the
  // analyzer's implicit casts, as the HOF form widened each product; float
  // and double arrays keep their own type, so their plan is unchanged.
  override def inputTypes: Seq[DataType] = children.map(_.dataType match {
    case dt @ ArrayType(FloatType | DoubleType, _) => dt
    case ArrayType(_: NumericType, _) => ArrayType(DoubleType)
    case dt => dt
  })

  override def dataType: DataType = StructType(Seq(
    StructField("dot", DoubleType, nullable = true),
    StructField("na", DoubleType, nullable = true),
    StructField("nb", DoubleType, nullable = true)))
  override def prettyName: String = "graft_cosine_parts"

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine_parts requires numeric array args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  private def isFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val lFloat = isFloat(left.dataType)
  @transient private lazy val rFloat = isFloat(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineParts.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lFloat, rFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.CosineParts.compute($a, $b, $lFloat, $rFloat);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineParts =
    copy(left = newLeft, right = newRight)
}

object CosineParts {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  def compute(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): GenericInternalRow = {
    val nA = a.numElements()
    val nB = b.numElements()
    val out = new GenericInternalRow(3)
    // dot: null on length mismatch (zip_with pads with null) or any null
    // element; overlapping region is min(nA, nB) but a mismatch nulls it
    // outright, so only the equal-length case needs the element loop
    var dotNull = nA != nB
    var dot = 0.0d
    var naNull = false
    var na = 0.0d
    var nbNull = false
    var nb = 0.0d
    var i = 0
    while (i < nA && !naNull) {
      if (a.isNullAt(i)) naNull = true
      else if (aFloat) { val f = a.getFloat(i); na += (f * f).toDouble }
      else { val d = a.getDouble(i); na += d * d }
      i += 1
    }
    i = 0
    while (i < nB && !nbNull) {
      if (b.isNullAt(i)) nbNull = true
      else if (bFloat) { val f = b.getFloat(i); nb += (f * f).toDouble }
      else { val d = b.getDouble(i); nb += d * d }
      i += 1
    }
    val promote = !(aFloat && bFloat) // any double side → double multiply
    i = 0
    while (i < nA && !dotNull) {
      if (a.isNullAt(i) || b.isNullAt(i)) dotNull = true
      else if (promote) {
        val xa = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val xb = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        dot += xa * xb
      } else dot += (a.getFloat(i) * b.getFloat(i)).toDouble // float multiply, widen after
      i += 1
    }
    if (dotNull) out.setNullAt(0) else out.setDouble(0, dot)
    if (naNull) out.setNullAt(1) else out.setDouble(1, na)
    if (nbNull) out.setNullAt(2) else out.setDouble(2, nb)
    out
  }
}

/** Count of non-overlapping regex matches: `graft_regexp_count(text, R)` ≡
  * `size(regexp_extract_all(text, R, 0))` without materializing a string
  * per match (r6: the BPE-ish token counter allocated every matched token
  * only to take the array's size). Same java.util.regex engine, same
  * `Matcher.find` non-overlapping semantics, so the count is identical by
  * construction (asserted in TextNativeSpec).
  */
case class RegexpCount(child: Expression, pattern: String) extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType

  @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_regexp_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_regexp_count requires string, got ${other.simpleString}")
  }

  /** Codegen entry (the ThreadLocal matcher is not serializable; the
    * expression object is the serialized reference).
    */
  @transient private lazy val matchers: ThreadLocal[java.util.regex.Matcher] =
    ThreadLocal.withInitial(() => compiled.matcher(""))
  def count(s: org.apache.spark.unsafe.types.UTF8String): Int = {
    val m = matchers.get()
    m.reset(s.toString)
    var c = 0
    while (m.find()) c += 1
    c
  }

  override def nullSafeEval(input: Any): Any =
    count(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("regexpCount", this, classOf[RegexpCount].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.count($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): RegexpCount =
    copy(child = newChild)
}

/** One-pass token statistics for quality scoring:
  * `graft_text_stats(text)` returns
  * `struct<n_toks, n_distinct, alpha_len, text_len>` where
  *   n_toks     ≡ `size(split(lower(trim(text)), "\\s+"))`
  *   n_distinct ≡ `size(array_distinct(split(lower(trim(text)), "\\s+")))`
  *                (STRING-distinct, exactly like array_distinct)
  *   alpha_len  ≡ `length(regexp_replace(lower(text), "[^a-z]", ""))`
  *                (= count of a-z codepoints in the lowered text)
  *   text_len   ≡ `length(text)` (codepoints of the ORIGINAL text)
  * so [[graft.ops.TextOps.qualityScore]] composes the same integers through
  * the same Spark arithmetic — values unchanged (asserted in
  * TextNativeSpec + the q_quality oracle). Replaces one regexp_replace
  * string rebuild + a split + an array_distinct per row with one pass.
  */
case class TextStats(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("n_toks", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("alpha_len", IntegerType, nullable = false),
    StructField("text_len", IntegerType, nullable = false)))
  override def prettyName: String = "graft_text_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_text_stats requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    TextStats.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.TextStats.compute($in);")

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def compute(text: UTF8String): GenericInternalRow = {
    // same methods/order as the expression forms: Lower(Trim(text)) for the
    // token stats, Lower(text) (untrimmed) for the alpha count
    val loweredFull = text.toLowerCase.toString
    val toks = Ws.split(text.trim().toLowerCase.toString, -1)
    val distinct = new java.util.HashSet[String](toks.length * 2)
    var i = 0
    while (i < toks.length) { distinct.add(toks(i)); i += 1 }
    var alpha = 0
    i = 0
    while (i < loweredFull.length) {
      val c = loweredFull.charAt(i)
      if (c >= 'a' && c <= 'z') alpha += 1
      i += 1
    }
    val out = new GenericInternalRow(4)
    out.setInt(0, toks.length)
    out.setInt(1, distinct.size)
    out.setInt(2, alpha)
    out.setInt(3, text.numChars())
    out
  }
}

/** Column faces (need the functions injected — every session builder in
  * this repo sets `spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object functions {
  def minhashSig(c: Column, numHashes: Int): Column =
    call_function("graft_minhash_sig", c, lit(numHashes))

  /** Bloom sketch over an xxhash64-long column (Spark's own
    * BloomFilterAggregate, surfaced as a SQL function).
    */
  def bloomAgg(hashed: Column, estItems: Long, numBits: Long): Column =
    call_function("graft_bloom_agg", hashed, lit(estItems), lit(numBits))

  def mightContain(bloom: Column, hashed: Column): Column =
    call_function("graft_might_contain", bloom, hashed)

  def simhash64(c: Column): Column =
    call_function("graft_simhash64", c)

  def wordShingleHashes(c: Column, n: Int): Column =
    call_function("graft_word_shingle_hashes", c, lit(n))

  def regexpCount(c: Column, pattern: String): Column =
    call_function("graft_regexp_count", c, lit(pattern))

  def textStats(c: Column): Column =
    call_function("graft_text_stats", c)

  /** One-pass cosine: fused (dot, |a|², |b|²) parts from the native
    * expression, composed with the engine's own sqrt/Divide so ANSI
    * division semantics are untouched. The struct is a single deterministic
    * subexpression — codegen's subexpression elimination evaluates it once.
    */
  def cosineSim(a: Column, b: Column): Column = {
    val p = call_function("graft_cosine_parts", a, b)
    p.getField("dot") / (org.apache.spark.sql.functions.sqrt(p.getField("na")) *
      org.apache.spark.sql.functions.sqrt(p.getField("nb")))
  }

  def regexpGroups(c: Column, pattern: String): Column =
    call_function("graft_regexp_groups", c, lit(pattern))

  /** Jaro-Winkler similarity (byte-level, DuckDB-parity — see
    * [[graft.functions.JaroWinkler]]).
    */
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("graft_jaro_winkler", a, b)
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` — the public
  * SparkSessionExtensions hook that injects both native functions at
  * session build.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_minhash_sig(arr, numHashes)")
        require(args(1).foldable, "graft_minhash_sig: numHashes must be a literal")
        MinHashSig(args.head, args(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash64(arr)")
        SimHash64(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("graft_regexp_count"),
      new ExpressionInfo(classOf[RegexpCount].getName, "graft_regexp_count"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_regexp_count(text, pattern)")
        require(args(1).foldable, "graft_regexp_count: pattern must be a literal")
        RegexpCount(args.head, args(1).eval().toString)
      }))
    ext.injectFunction((FunctionIdentifier("graft_text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "graft_text_stats"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_text_stats(text)")
        TextStats(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("graft_cosine_parts"),
      new ExpressionInfo(classOf[CosineParts].getName, "graft_cosine_parts"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_cosine_parts(a, b)")
        CosineParts(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("graft_word_shingle_hashes"),
      new ExpressionInfo(classOf[WordShingleHashes].getName, "graft_word_shingle_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_word_shingle_hashes(text, n)")
        require(args(1).foldable, "graft_word_shingle_hashes: n must be a literal")
        WordShingleHashes(args.head, args(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((FunctionIdentifier("graft_regexp_groups"),
      new ExpressionInfo(classOf[RegexpGroups].getName, "graft_regexp_groups"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_regexp_groups(text, pattern)")
        require(args(1).foldable, "graft_regexp_groups: pattern must be a literal")
        RegexpGroups(args.head, args(1).eval().toString)
      }))
    ext.injectFunction((FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_jaro_winkler(a, b)")
        JaroWinkler(args(0), args(1))
      }))
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its own
    // runtime row-filtering but does not register them as SQL functions;
    // exposing them gives the decontamination path a sketch prefilter with
    // zero new code — the same codegen'd bloom the engine trusts internally.
    ext.injectFunction((FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_bloom_agg(xxhash64_long, estItems, numBits)")
        require(args(1).foldable && args(2).foldable,
          "graft_bloom_agg: estItems and numBits must be literals")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2)).toAggregateExpression()
      }))
    ext.injectFunction((FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_might_contain(bloom, xxhash64_long)")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args(0), args(1))
      }))
  }
}
