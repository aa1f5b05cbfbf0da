package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"),  // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat", "en"),  // near dup of 1
    (4L, "completely different text about spark pipelines and shuffles", "en"),
    (5L, "otro texto totalmente distinto sobre datos", "es"),
    (6L, "the quick brown fox jumps over the lazy dog", "es")   // exact dup, other block
  ).toDF("doc_id", "text", "lang")

  test("exact dedup keeps min id per identical text") {
    val out = Dedup.exact(docs).select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("exact dup pairs") {
    val pairs = Dedup.exactDupPairs(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 6L), (2L, 6L)))
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 6L)))
    // near-dup 1~3: 3-gram shingle jaccard of 1-word-difference ~ 0.5-0.6
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("keep-best dedup survives the highest-scoring member, not the min id") {
    // component {1,2,3,6}: give doc 3 the best score — it must be the keeper
    val scored = docs.withColumn("score",
      when(col("doc_id") === 3L, 10.0).otherwise(col("doc_id").cast("double")))
    val kept = Dedup.minhashLshDedupKeepBest(scored, 0.5, "score")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 4L, 5L))
    // tie on score falls back to min id (deterministic reruns)
    val tied = docs.withColumn("score", lit(1.0))
    val keptTied = Dedup.minhashLshDedupKeepBest(tied, 0.5, "score")
      .select("doc_id").as[Long].collect().sorted
    assert(keptTied.toSeq == Seq(1L, 4L, 5L))
  }

  test("minhash dedup drops the whole duplicate component, keeps min id") {
    val kept = Dedup.minhashLshDedup(docs, 0.5).select("doc_id").as[Long].collect().sorted
    assert(kept.contains(1L) && kept.contains(4L) && kept.contains(5L))
    assert(!kept.contains(2L) && !kept.contains(6L))
  }

  test("simhash: identical docs have distance 0; near dups small distance") {
    val sigs = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) == sigs(6L))
    val hamming13 = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val hamming14 = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(hamming13 < hamming14)
  }

  test("simhash pair mining finds exact dups at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 6L)))
  }

  test("ngram jaccard exact pairs within block") {
    val pairs = Dedup.ngramJaccardPairs(docs, "lang", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))     // same block exact dup
    assert(!pairs.contains((1L, 6L)))    // exact dup but different block
  }

  test("ngram jaccard drops blocks over maxBlockSize (quadratic gate)") {
    // 'en' block has 4 docs, 'es' has 2: a gate of 3 must drop every en
    // pair (incl. the exact dup 1-2) while es survives untouched
    val all = Dedup.ngramJaccardPairs(docs, "lang", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gated = Dedup.ngramJaccardPairs(docs, "lang", 0.4, maxBlockSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.contains((1L, 2L)))
    assert(!gated.contains((1L, 2L)))
    assert(gated == all.filterNot { case (a, b) =>
      Set(1L, 2L, 3L, 4L).contains(a) || Set(1L, 2L, 3L, 4L).contains(b) })
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "lang", 0.4, maxBlockSize = 1)
    }
  }

  test("ngram jaccard size-ratio prefilter preserves every result pair") {
    // θ=0.1 admits size-skewed pairs; the prefilter must not lose any of
    // them vs a filter-free reference computed inline
    val base = docs.select(col("lang").as("blk"), col("doc_id").as("id"),
      Dedup.wordShingleHashes(col("text")).as("sh"))
    val l = base.alias("l"); val r = base.alias("r")
    val reference = l.join(r,
        col("l.blk") === col("r.blk") && col("l.id") < col("r.id"))
      .withColumn("jaccard",
        size(array_intersect(col("l.sh"), col("r.sh"))).cast("double") /
          size(array_union(col("l.sh"), col("r.sh"))))
      .filter(col("jaccard") >= 0.1)
      .select(col("l.id"), col("r.id"))
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    val prefiltered = Dedup.ngramJaccardPairs(docs, "lang", 0.1)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(prefiltered == reference)
  }

  test("dedupStats: per-group duplication rate") {
    import spark.implicits._
    val docs = Seq(
      ("a", "x"), ("a", "x"), ("a", "y"), ("a", "x"), // 4 docs, 2 unique
      ("b", "z")                                      // clean source
    ).toDF("source", "text")
    val out = Dedup.dedupStats(docs, "source")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("a") === (("a", 4L, 2L, 0.5)))
    assert(out("b") === (("b", 1L, 1L, 0.0)))
  }

  test("ngramContainmentPairs catches the near-superset Jaccard misses") {
    import spark.implicits._
    val core = "alpha beta gamma delta epsilon zeta"
    val wrapper = ("pad" * 1 + " w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 " +
      core + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12").trim
    val docs = Seq((1L, core), (2L, wrapper), (3L, "totally different words here now"))
      .toDF("doc_id", "text").withColumn("blk", lit("g"))
    val cont = Dedup.ngramContainmentPairs(docs, "blk", threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    // every 3-gram of the core appears in the wrapper → containment 1.0
    assert(cont.toSeq === Seq((1L, 2L, 1.0)))
    // while Jaccard on the same pair is far below 0.9 (wrapper is 7× longer)
    val jac = Dedup.ngramJaccardPairs(docs, "blk", threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty)
  }

  test("blockingQuality: pair completeness and reduction ratio by hand") {
    import spark.implicits._
    // 5 records → C(5,2) = 10 possible pairs; blocking emits 4, truth has
    // 3, blocking reaches 2 of them
    val cand = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val truth = Seq((1L, 2L), (4L, 5L), (2L, 5L)).toDF("a", "b")
    val out = Dedup.blockingQuality(cand, truth, nRecords = 5)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(out === ((4L, 3L, 2L,
      BigDecimal(2.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      0.6)))
  }

  test("blockingQuality: a pair with a null endpoint is dropped, not read as (x, x)") {
    import spark.implicits._
    val cand = Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("a", "b")
    val truth = Seq((Some(1L), Some(2L)), (Some(3L), None)).toDF("a", "b")
    val out = Dedup.blockingQuality(cand, truth, nRecords = 5)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(out === ((1L, 1L, 1L, 1.0, 0.9)))
  }

  test("semanticDedup: near-dups collapse within clusters, min id survives") {
    import spark.implicits._
    // two well-separated directions; ids 1/2/3 are near-identical copies of
    // one direction (a semantic-dup chain), ids 10/11 of the orthogonal one,
    // id 12 is anti-aligned to the second direction (same cluster under
    // cosine argmax against {±}? no — opposite sign → cos < 0, never a dup)
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.99, 0.01, 0.0, 0.0)),
      (3L, Seq(0.98, 0.02, 0.0, 0.0)),
      (10L, Seq(0.0, 0.0, 1.0, 0.0)),
      (11L, Seq(0.0, 0.0, 0.99, 0.01)),
      (12L, Seq(0.0, 0.0, -1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, k = 2, iters = 1, threshold = 0.9)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size === 6) // one row per input vector
    // the 1-2-3 chain collapses to min id 1; 10-11 to 10; 12 survives alone
    assert(out(1L)._3 === 1L && out(1L)._4)
    assert(out(2L)._3 === 1L && !out(2L)._4)
    assert(out(3L)._3 === 1L && !out(3L)._4)
    assert(out(10L)._3 === 10L && out(10L)._4)
    assert(out(11L)._3 === 10L && !out(11L)._4)
    assert(out(12L)._3 === 12L && out(12L)._4)
    // dropping the losers keeps exactly the three representatives
    val kept = out.values.filter(_._4).map(_._1).toSet
    assert(kept === Set(1L, 10L, 12L))
  }
}
