package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bit-parity of the native one-pass cosine against the retired HOF
  * composition, across element types and the null/mismatch edge cases the
  * HOF chain defines semantics for.
  */
class CosineSimSpec extends SparkSpec {
  import spark.implicits._

  private def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0d), (acc, v) => acc + v)
    def nrm(x: org.apache.spark.sql.Column) =
      sqrt(aggregate(x, lit(0.0d), (acc, v) => acc + v * v))
    dot(a, b) / (nrm(a) * nrm(b))
  }

  private def assertParity(df: org.apache.spark.sql.DataFrame): Unit = {
    val rows = df.select(
      functions.cosineSim(col("a"), col("b")).as("nat"),
      hofCosine(col("a"), col("b")).as("hof")).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val natNull = r.isNullAt(0); val hofNull = r.isNullAt(1)
      assert(natNull == hofNull, s"null mismatch: $r")
      if (!natNull) {
        val n = r.getDouble(0); val h = r.getDouble(1)
        // bit-identical, including NaN (empty/zero vectors)
        assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h),
          s"value mismatch: nat=$n hof=$h")
      }
    }
  }

  test("double arrays: bit-identical, including irrational norms") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2, 0.3333333), Seq(-7.5, 0.0001, 2.718281828))
    ).toDF("a", "b")
    assertParity(df)
  }

  test("zero-norm vectors: BOTH forms throw ANSI divide-by-zero (the real Divide)") {
    val df = Seq((Seq(0.0, 0.0), Seq(0.0, 0.0))).toDF("a", "b")
    val e1 = intercept[Exception] {
      df.select(functions.cosineSim(col("a"), col("b"))).collect()
    }
    val e2 = intercept[Exception] {
      df.select(hofCosine(col("a"), col("b"))).collect()
    }
    assert(e1.getMessage.contains("DIVIDE_BY_ZERO") && e2.getMessage.contains("DIVIDE_BY_ZERO"))
  }

  test("float arrays: float multiply then widen, bit-identical") {
    val df = Seq(
      (Seq(1.1f, 2.2f, 3.3f), Seq(0.9f, -1.7f, 0.33f)),
      (Seq(1e-8f, 3e7f), Seq(2e-8f, -1e7f)),
      (Seq(0.1f, 0.7f, 0.77f), Seq(0.3f, 0.11f, 0.999f))
    ).toDF("a", "b")
    assertParity(df)
  }

  test("mixed float/double arrays promote exactly like zip_with") {
    val fa = Seq((Seq(1.1f, 2.2f, 3.3f), Seq(0.123456789, -2.5, 7.0))).toDF("a", "b")
    assertParity(fa)
    val af = Seq((Seq(0.123456789, -2.5, 7.0), Seq(1.1f, 2.2f, 3.3f))).toDF("a", "b")
    assertParity(af)
  }

  test("length mismatch and null elements null the result like the HOF form") {
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](null, 2.0))
    ).toDF("a", "b")
    assertParity(df)
  }

  test("integer and decimal arrays are widened to double; float/double plans are not") {
    def casts(df: org.apache.spark.sql.DataFrame) =
      df.select(functions.cosineSim(col("a"), col("b"))).queryExecution.analyzed
        .expressions.flatMap(_.collect {
          case c: org.apache.spark.sql.catalyst.expressions.Cast => c
        })
    val ints = Seq((Seq(1, 2, 3), Seq(4, -5, 6)), (Seq(7, 0), Seq(1, 1))).toDF("a", "b")
    assertParity(ints)
    assert(casts(ints).nonEmpty)
    val mixed = Seq((Seq(1L, 2L), Seq(0.5, 0.25))).toDF("a", "b")
    assertParity(mixed)
    val dec = Seq((Seq(BigDecimal("1.5"), BigDecimal("2")), Seq(BigDecimal("3"), BigDecimal("-0.5"))))
      .toDF("a", "b")
    val got = dec.select(functions.cosineSim(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(got - 3.5 / (2.5 * math.sqrt(9.25))) < 1e-12)
    assert(casts(Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")).isEmpty)
    assert(casts(Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")).isEmpty)
  }

  test("on the embeddings fixture: identical rounded-6dp values") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("a"))
    val l = embs.alias("l"); val r = embs.alias("r")
    val pairs = l.join(r, col("l.vec_id") < col("r.vec_id"))
      .select(col("l.a").as("a"), col("r.a").as("b")).limit(2000)
    assertParity(pairs)
  }
}
