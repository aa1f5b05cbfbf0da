package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.kg.Corpus

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine top-k — a blocked cross join kept honest by
  * broadcasting the (small) query side; exact, O(n·q), the correctness
  * reference.
  *
  * Scale path: IVF (inverted file) — deterministic coarse centroids, assign
  * each vector to its nearest centroid once (narrow pass), search only the
  * nProbe closest cells per query. Turns the 100 TB scan into a partition-
  * pruned fraction. Sign-LSH bucketing serves the pair-mining case (near-dup)
  * where there is no query set at all.
  *
  * All vector math uses zip_with/aggregate higher-order functions — codegen,
  * no UDFs, no driver collect.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))

  /** Native one-pass cosine ([[graft.functions.functions.cosineSim]] over
    * [[graft.functions.CosineParts]]) — bit-identical to
    * `dot(a, b) / (norm(a) * norm(b))` (same fold order, same float/double
    * promotion; parity asserted in CosineSimSpec) without the 4 array walks
    * + zip_with materialization + per-element lambda dispatch of the HOF
    * composition. Integer and decimal arrays are widened to double first.
    * Every ANN/near-dup verify scores through this.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.functions.cosineSim(a, b)

  /** Exact brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine. Query side is broadcast (it is the small side by
    * construction); ranking is a window per query.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("_cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val scored = c.join(broadcast(q), col("item_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("_cv"), col("_qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "item_id", "rank", "cos")
  }

  /** Deterministic pseudo-random hyperplane component for (bit, dim):
    * zero-mean uniform in [-0.5, 0.5) derived from splitmix64 — same value
    * on every executor, no RNG state, no broadcast needed.
    */
  private def planeComponent(bit: Int, dim: Column): Column = {
    val h = xxhash64(lit(bit), dim)
    (pmod(h, lit(1000000L)).cast("double") / lit(1000000.0d)) - lit(0.5d)
  }

  /** Sign-LSH signature: `bits` hyperplane-sign bits packed into a long. */
  def signLsh(vec: Column, bits: Int): Column =
    (0 until bits).map { b =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, i) => v * planeComponent(b, i)),
        lit(0.0d), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a: Column, b: Column) => a.bitwiseOR(b))

  /** Near-neighbor pairs with cosine >= threshold, candidates from multi-
    * table sign-LSH (bands of `bandBits` hyperplane-sign bits; a pair is a
    * candidate if ANY band matches — standard L-table LSH). Exact-cosine
    * verified, so precision is exact and only recall is probabilistic:
    * P(miss) = (1 - (1 - θ/π)^bandBits)^numBands.
    *
    * Scale shape: the banded table carries ONLY (id, tbl, bkt) — 3 fixed-width
    * ints per band row — so the numBands× explode and the self-join shuffle
    * never move vector payloads. Vectors are joined back onto the (small,
    * deduplicated) candidate id-pair set for the exact verify. The verified
    * pair set is materialized eagerly so both working caches can be released
    * before returning.
    */
  def cosinePairsLsh(embs: DataFrame, threshold: Double, bits: Int = 32,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     bandBits: Int = 8): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(bandBits >= 1 && bits % bandBits == 0,
      s"bandBits must be >= 1 and divide bits evenly, got bits=$bits bandBits=$bandBits")
    val numBands = bits / bandBits
    val vecs = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bands = (0 until numBands).map(b =>
      shiftrightunsigned(col("sig"), b * bandBits)
        .bitwiseAND(lit((1L << bandBits) - 1)))
    val banded = vecs
      .withColumn("sig", signLsh(col("v"), bits))
      .select(col("id"), posexplode(array(bands: _*)).as(Seq("tbl", "bkt")))
      // persisted so the 32-hash signature computes once, not per join side
      .persist(StorageLevel.MEMORY_AND_DISK)
    val l = banded.alias("l"); val r = banded.alias("r")
    val cand = l.join(r,
        col("l.tbl") === col("r.tbl") && col("l.bkt") === col("r.bkt") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .dropDuplicates("a", "b")
    val out = cand
      .join(vecs.select(col("id").as("a"), col("v").as("va")), Seq("a"))
      .join(vecs.select(col("id").as("b"), col("v").as("vb")), Seq("b"))
      // ROUNDED-6dp cosine before the threshold (the portable boundary rule
      // every exact-cosine gate uses), so the verified pair set is an exact
      // function of the dumped band signatures + vectors and the
      // q_embed_neardup_lsh oracle recomputes it in SQL
      .withColumn("cos", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the (small) result, then free the wide caches
    banded.unpersist()
    vecs.unpersist()
    out
  }

  /** RAW sign-LSH candidate pairs — the blocking output BEFORE the exact
    * verify ([[cosinePairsLsh]] minus its cosine filter): a pair is a
    * candidate if ANY band of `bandBits` signature bits matches. This is
    * what a blocking-quality audit measures (how many pairs the verify
    * must touch vs how many true pairs the blocking reaches); the banded
    * table carries only (id, tbl, bkt).
    */
  def lshCandidatePairs(embs: DataFrame, bits: Int, bandBits: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(bandBits >= 1 && bits % bandBits == 0,
      s"bandBits must be >= 1 and divide bits evenly, got bits=$bits bandBits=$bandBits")
    val numBands = bits / bandBits
    val bandCols = (0 until numBands).map(b =>
      shiftrightunsigned(col("sig"), b * bandBits)
        .bitwiseAND(lit((1L << bandBits) - 1)))
    val banded = embs
      .select(col(idCol).as("id"), signLsh(col(vecCol), bits).as("sig"))
      .select(col("id"), posexplode(array(bandCols: _*)).as(Seq("tbl", "bkt")))
    val l = banded.alias("l"); val r = banded.alias("r")
    l.join(r,
        col("l.tbl") === col("r.tbl") && col("l.bkt") === col("r.bkt") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .dropDuplicates("a", "b")
  }

  /** Nearest-centroid cell for a vector column, from a driver-side centroid
    * set inlined as literals: a SINGLE codegen'd projection — no ×nCells
    * join explode, no per-id window, ZERO shuffle. The literal inlining is
    * the MLlib move (KMeans broadcasts its k·dim centers every iteration);
    * it is the right trade up to a few thousand cells × dims — beyond
    * that, switch to a broadcast join + `max_by` aggregation.
    *
    * Portability contract (shared with [[kmeansAssign]] and every gated
    * IVF path): the argmax compares the ROUNDED-6dp cosine, ties to the
    * lowest cell id — so the winning cell is an exact function of
    * engine-identical inputs and an independent SQL engine replays the
    * assignment bit-for-bit (raw-cos argmax could flip on centroids whose
    * cosines differ only in summation-order ulps).
    */
  def nearestCell(vec: Column, cents: Seq[(Long, Seq[Double])]): Column =
    -nearestCellRounded(vec, cents).getField("negCell")

  /** (rounded cos, cell) of the nearest centroid under ROUNDED-6dp cosine,
    * ties to the lowest cell id — the portable-argmax variant
    * [[kmeansAssign]] builds on: rounding before comparison makes the
    * winner identical across engines whose float sums differ in the last
    * ulp (raw-cos argmax could flip on near-equidistant centroids).
    */
  private def nearestCellRounded(vec: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    val scored = array(cents.map { case (cell, cv) =>
      struct(
        round(cosine(vec, array(cv.map(lit): _*)), 6).as("cos"),
        lit(-cell).as("negCell"))
    }: _*)
    array_max(scored)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Scalar twin of [[graft.ops.Sampling.bucket]]'s double-fold hash —
    * the ENGINE-PORTABLE pseudo-random source for [[randomProject]]'s
    * plane matrix: weight(j,d) is zero-mean uniform in [-0.5, 0.5),
    * reproducible by any engine from (j, d, salt) with exact integer
    * arithmetic (every product < 2^52).
    */
  private def planeWeight(j: Int, d: Int, salt: Long): Double = {
    val id = j.toLong * 4096L + d.toLong
    val b = (((id + salt) % 1000003L * 2654435761L + salt) % 1000000L +
      ((id + salt) % 999983L * 2246822518L) % 1000000L) % 1000000L
    (b + 0.5) / 1000000.0 - 0.5
  }

  /** Johnson–Lindenstrauss random projection with a PORTABLE plane
    * matrix: project `inDim`-dim embeddings onto `outDim` pseudo-random
    * hyperplanes whose components derive from the double-fold integer
    * hash (no RNG state, no broadcast, cross-engine reproducible — the
    * driver gate value-checks the projected coordinates themselves).
    * The cheap first stage of an embedding pipeline: project 1k-dim
    * vectors to 16–64 dims BEFORE LSH banding / k-means / pair mining,
    * and the downstream ops touch 16× less data with JL-bounded
    * distortion. Emits long form (id, j, y), y rounded to 6 dp.
    *
    * Shape: one zero-shuffle codegen'd projection — outDim literal dot
    * products over the vector column; the corpus never shuffles and the
    * scan prunes to (id, vector).
    */
  def randomProject(embs: DataFrame, inDim: Int, outDim: Int,
                    salt: Long = 23L, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(inDim > 0 && outDim > 0, "dims must be positive")
    require(inDim <= 4096, "inDim above the 4096 plane stride would alias weights")
    val v = col(vecCol).cast("array<double>")
    val comps = (0 until outDim).map { j =>
      val terms = (0 until inDim).map(d =>
        element_at(v, d + 1) * lit(planeWeight(j, d, salt)))
      struct(lit(j).as("j"), round(terms.reduce(_ + _), 6).as("y"))
    }
    embs.select(col(idCol), explode(array(comps: _*)).as("p"))
      .select(col(idCol), col("p.j").as("j"), col("p.y").as("y"))
  }

  /** Portable spherical k-means (Lloyd's under cosine) with a full
    * cross-engine determinism contract — the corpus-clustering op behind
    * SemDeDup-style curation, cluster-balanced sampling, and topic
    * bucketing: seeds are the k lowest-id vectors (TakeOrdered, no global
    * sort), each round assigns by ROUNDED-6dp cosine argmax (ties to the
    * lowest cell id) and recomputes centroids as ROUNDED-6dp per-dim
    * means; cells left empty by a round drop out. The roundings are the
    * contract that lets an independent SQL engine replay the exact
    * clustering (the driver gate does); at production scale they cost
    * nothing — the argmax and the means are identical jobs either way.
    *
    * Scale shape: per round ONE map-side-partial groupBy over ≤k cells
    * (the k·dim sums collect to the driver — the MLlib pattern), and every
    * assignment is a zero-shuffle codegen'd literal-argmax projection; the
    * corpus itself never shuffles. Returns (id, cell, cos) for the final
    * assignment against the round-`iters` centroids.
    */
  def kmeansAssign(embs: DataFrame, k: Int, iters: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    var cents: Seq[(Long, Seq[Double])] = embs.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(cents.nonEmpty, "kmeansAssign needs a non-empty corpus")
    val dim = cents.head._2.length
    val sumCols = (0 until dim).map(i =>
      sum(element_at(col(vecCol).cast("array<double>"), i + 1)).as(s"s$i"))
    for (_ <- 1 to iters) {
      cents = embs
        .withColumn("cell", -nearestCellRounded(col(vecCol), cents).getField("negCell"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect().toSeq
        .map { r =>
          val n = r.getLong(1).toDouble
          (r.getLong(0), (0 until dim).map(i => round6(r.getDouble(i + 2) / n)))
        }
        .sortBy(_._1)
    }
    val best = nearestCellRounded(col(vecCol), cents)
    embs.select(
      col(idCol),
      (-best.getField("negCell")).as("cell"),
      best.getField("cos").as("cos"))
  }

  /** Salt for the coarse-centroid seed pick (any fixed value works; 41 is
    * not used by the sampling/split gates, so seeding and sampling stay
    * decorrelated).
    */
  val SeedSalt = 41L

  /** Deterministic coarse-centroid pick: the nCells vectors whose ids hash
    * lowest under the repo's PORTABLE double-fold hash ([[Sampling.bucket]]
    * — exact 64-bit integer arithmetic any engine reproduces, unlike a
    * Spark-private xxhash64 seeding), id-tiebroken — a seeded sample,
    * collected to the driver (nCells·dim values, the same scale as any
    * broadcast side). Plans as TakeOrderedAndProject: parallel
    * per-partition top-nCells + a driver merge of nCells rows, NOT a
    * global sort, so a 10^9-vector corpus never funnels through one task.
    * Hash-order (not id-order) keeps the pick pseudo-random when ids
    * correlate with content (appends, per-source ranges). Integral ids
    * only (the portable hash is integer arithmetic).
    */
  def seedCentroidsDF(embs: DataFrame, nCells: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embs.orderBy(Sampling.bucket(col(idCol).cast("long"), SeedSalt), col(idCol))
      .limit(nCells)
      .select(col(idCol).cast("long").as("cell"), col(vecCol).cast("array<double>").as("cv"))

  def seedCentroids(embs: DataFrame, nCells: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Long, Seq[Double])] =
    seedCentroidsDF(embs, nCells, idCol, vecCol)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toSeq

  /** Lloyd's k-means refinement of the seed centroids: `iters` rounds of
    * (zero-shuffle nearest-cell assign) → (per-cell elementwise mean).
    * Cells keep their seed ids; a cell that goes empty keeps its previous
    * centroid. Fully engine-portable (the [[kmeansAssign]] contract):
    * assignment argmaxes the ROUNDED-6dp cosine (ties → lowest cell) and
    * the per-dim means are rounded to 6dp before re-entering the next
    * round, so an independent SQL engine unrolls the identical training
    * trajectory (the q_ann_ivf_trained oracle does).
    *
    * Scale shape per iteration: the corpus NEVER shuffles — the mean is a
    * groupBy(cell) over `dim` fixed-width sum columns (`element_at`, no
    * explode), so map-side partial aggregation reduces the shuffle to
    * (#map-partitions × k) rows of k·dim doubles; the k-row result is
    * collected and re-inlined, exactly like MLlib KMeans' per-iteration
    * center broadcast.
    */
  def kmeansCentroids(embs: DataFrame, nCells: Int, iters: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Long, Seq[Double])] = {
    var cents = seedCentroids(embs, nCells, idCol, vecCol)
    if (cents.isEmpty) return cents
    val dim = cents.head._2.length
    val sumCols = (0 until dim).map(i =>
      sum(element_at(col(vecCol).cast("array<double>"), i + 1)).as(s"s$i"))
    for (_ <- 1 to iters) {
      val means = embs
        .withColumn("cell", nearestCell(col(vecCol), cents))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect()
        .map { r =>
          val n = r.getLong(1).toDouble
          (r.getLong(0), (0 until dim).map(i => round6(r.getDouble(i + 2) / n)))
        }.toMap
      cents = cents.map { case (cell, old) => (cell, means.getOrElse(cell, old)) }
    }
    cents
  }

  /** Mean vector + TOP PRINCIPAL COMPONENT of the embedding distribution
    * by power iteration — the statistics behind embedding whitening and
    * "all-but-the-top" (ABTT, Mu & Viswanath 2018) common-direction
    * removal, which measurably sharpens cosine similarity on anisotropic
    * embedding spaces (the usual case for LM sentence embeddings).
    *
    * The covariance matrix is NEVER materialized: each power round applies
    * it as two aggregations over the corpus — coef_i = (x_i−μ)·w (a
    * zero-shuffle codegen projection with w inlined as literals), then
    * s = Σ_i coef_i·(x_i−μ) (one dim-wide sum aggregation, map-side
    * partial) — the MLlib computePrincipalComponents trade for dim ≤ a few
    * thousand, except distributed end-to-end. Start vector = 1/√dim
    * uniform (all-positive → deterministic sign).
    *
    * Portability contract: μ and each round's normalized w ROUND to 6 dp
    * before re-entering (the kmeansAssign rule), so the whole trajectory
    * replays in SQL and the driver gate value-checks the component itself.
    */
  def meanAndTopComponent(embs: DataFrame, iters: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): (Seq[Double], Seq[Double]) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val v = col(vecCol).cast("array<double>")
    val dimRows = embs.select(size(v)).limit(1).collect()
    require(dimRows.nonEmpty,
      "meanAndTopComponent requires a non-empty embeddings input (ADVICE " +
        "r5: head() on an empty input threw an opaque error)")
    val dim = dimRows(0).getInt(0)
    val muCols = (0 until dim).map(i => avg(element_at(v, i + 1)).as(s"m$i"))
    val mu = embs.agg(muCols.head, muCols.tail: _*).head().toSeq
      .map(x => round6(x.asInstanceOf[Double]))
    var w: Seq[Double] = Seq.fill(dim)(round6(1.0 / math.sqrt(dim.toDouble)))
    for (_ <- 1 to iters) {
      val coef = (0 until dim).map(d =>
        (element_at(v, d + 1) - lit(mu(d))) * lit(w(d))).reduce(_ + _)
      val sCols = (0 until dim).map(d =>
        sum(coef * (element_at(v, d + 1) - lit(mu(d)))).as(s"s$d"))
      val s = embs.agg(sCols.head, sCols.tail: _*).head().toSeq
        .map(_.asInstanceOf[Double])
      val n = math.sqrt(s.map(x => x * x).sum)
      require(n > 0, "degenerate embedding distribution: zero covariance action")
      w = s.map(x => round6(x / n))
    }
    (mu, w)
  }

  /** [[meanAndTopComponent]] as a (dim, w) table — the gate face. */
  def topComponentDF(embs: DataFrame, iters: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    meanAndTopComponent(embs, iters, idCol, vecCol)._2
      .zipWithIndex.map { case (x, d) => (d, x) }.toDF("dim", "w")
  }

  /** ABTT common-direction removal, summarized per vector: coef = the
    * centered vector's projection onto the top component, resid_norm =
    * |(x−μ) − coef·w| — the magnitude left after removing the common
    * direction. One zero-shuffle projection (μ, w ride as literals); emit
    * the full residual vector instead when feeding a downstream index.
    */
  def removeTopComponent(embs: DataFrame, iters: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val (mu, w) = meanAndTopComponent(embs, iters, idCol, vecCol)
    val v = col(vecCol).cast("array<double>")
    val dim = mu.length
    val coef = (0 until dim).map(d =>
      (element_at(v, d + 1) - lit(mu(d))) * lit(w(d))).reduce(_ + _)
    val withC = embs.select(col(idCol), v.as("_v"), coef.as("_c"))
    val residSq = (0 until dim).map { d =>
      val r = (element_at(col("_v"), d + 1) - lit(mu(d))) - col("_c") * lit(w(d))
      r * r
    }.reduce(_ + _)
    withC.select(col(idCol), round(col("_c"), 6).as("coef"),
      round(sqrt(residSq), 6).as("resid_norm"))
  }

  /** Quantized top-k: score the int8-quantized corpus (4× less scan and
    * shuffle volume than float32 — at 10^9 × 1k-dim the scan IS the cost),
    * keep k×overscan candidates per query by approximate cosine, then
    * rescore ONLY the candidates with exact float cosine and re-rank.
    *
    * Approximate cosine on int8: cos(a,b) ≈ (qa·qb) / (|qa||qb|) — the
    * per-vector scales cancel in the ratio, so the integer arrays alone
    * carry the geometry; QuantizeSpec bounds the drift < 1%, so a small
    * overscan margin recovers the exact top-k (recall asserted in
    * SimilaritySpec). The integer dot products stay in codegen'd
    * higher-order functions; float vectors are joined back for the
    * (k×overscan)-sized rescore only.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    overscan: Int = 4,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qc = Quantize.table(corpus, idCol, vecCol)
      .select(col(idCol).as("item_id"), col("q").as("_cq"))
    val qq = Quantize.table(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("q").as("_qq"))
    val idot = aggregate(zip_with(col("_cq"), col("_qq"),
      (x, y) => (x * y).cast("long")), lit(0L), (acc, v) => acc + v)
    def inorm(c: Column) = sqrt(aggregate(c,
      lit(0L), (acc, v) => acc + (v * v).cast("long")).cast("double"))
    val approx = qc.join(broadcast(qq), col("item_id") =!= col("query_id"))
      .withColumn("acos",
        idot.cast("double") / (inorm(col("_cq")) * inorm(col("_qq"))))
    val wA = Window.partitionBy(col("query_id")).orderBy(col("acos").desc, col("item_id"))
    val cand = approx.withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= k * overscan)
      .select("query_id", "item_id")
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("_cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val rescored = cand
      .join(c, Seq("item_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", cosine(col("_cv"), col("_qv")))
    val wE = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))
    rescored.withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select("query_id", "item_id", "rank", "cos")
  }

  /** IVF index: coarse centroids (seeded pick, optionally k-means-trained),
    * then one zero-shuffle assignment projection. Returns (centroid table,
    * vec table with cell column).
    */
  def ivfAssign(embs: DataFrame, nCells: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                trainIters: Int = 0,
                centsOpt: Option[Seq[(Long, Seq[Double])]] = None): (DataFrame, DataFrame) = {
    val cents = centsOpt.getOrElse {
      if (trainIters > 0) kmeansCentroids(embs, nCells, trainIters, idCol, vecCol)
      else seedCentroids(embs, nCells, idCol, vecCol)
    }
    val spark = embs.sparkSession
    import spark.implicits._
    val centroids = cents.map { case (c, v) => (c, v) }
      .toDF("cell", "cv")
    val assigned = embs.withColumn("cell", nearestCell(col(vecCol), cents))
    (centroids, assigned)
  }

  /** IVF top-k search: score queries against centroids (broadcast), keep the
    * nProbe best cells per query, then search only vectors in those cells.
    *
    * Every comparison along the path — cell assignment, probe ranking, the
    * final candidate ranking — is on the ROUNDED-6dp cosine with id
    * tiebreaks (the portable-argmax contract), so the whole search is an
    * exact function of the inputs and the q_ann_ivf / q_ann_ivf_trained
    * oracles replay it value-exactly in SQL.
    */
  def ivfTopK(embs: DataFrame, queries: DataFrame, k: Int, nCells: Int, nProbe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              trainIters: Int = 0,
              centsOpt: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    val (centroids, assigned) = ivfAssign(embs, nCells, idCol, vecCol, trainIters, centsOpt)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val probe = q.join(broadcast(centroids))
      .withColumn("ccos", round(cosine(col("_qv"), col("cv")), 6))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cell"))))
      .filter(col("crk") <= nProbe)
      .select("query_id", "_qv", "cell")
    val cand = assigned.select(col(idCol).as("item_id"), col(vecCol).as("_cv"), col("cell"))
      .join(probe, "cell")
      .filter(col("item_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("_cv"), col("_qv")), 6))
    cand.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "item_id", "rank", "cos")
  }

  /** Per-label embedding centroids in LONG form: one (label, dim, mean, n)
    * row per vector component — the class-prototype computation behind
    * nearest-centroid classification, per-class drift monitoring, and
    * IVF-style seeding from labels. The vectors are posexploded ONCE and
    * the shuffle carries (label, dim, partial sum, count) — map-side
    * combine means whole vectors never cross the wire, and the result is
    * |labels|·dim rows regardless of corpus size. Pivot to array form
    * with `array_agg(mean ORDER BY dim)` downstream if a dense prototype
    * is wanted.
    */
  def labelCentroids(embs: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame =
    embs.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .groupBy("label", "dim")
      .agg(avg(col("_v").cast("double")).as("mean"), count(lit(1)).as("n"))

  /** Per-dimension corpus standardization (z-scoring) of embeddings in
    * long (id, dim, z) form — the feature-scaling pass before distance-
    * based ops when dimensions carry wildly different variances. Stats
    * are one |dims|-row aggregation over the posexploded corpus
    * (map-side partials; vectors cross the wire once), joined back by
    * broadcast. z is ROUNDED to 6 dp (the cross-engine contract for
    * accumulation-order float noise); zero-variance dimensions null out
    * rather than divide by zero.
    */
  def standardize(embs: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val long = embs.select(col(idCol).as("id"),
      posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .withColumn("_v", col("_v").cast("double"))
    val stats = long.groupBy("dim")
      .agg(avg(col("_v")).as("_mu"), stddev_samp(col("_v")).as("_sd"))
    long.join(broadcast(stats), "dim")
      .select(col("id"), col("dim"),
        when(col("_sd") > 0, round((col("_v") - col("_mu")) / col("_sd"), 6))
          .as("z"))
  }

  /** Maximal Marginal Relevance selection: greedily pick `k` vectors
    * maximizing  λ·rel(x) − (1−λ)·max_{s∈selected} sim(x, s)  — the
    * diversity-aware subset selector (eval-set curation, dedup-aware
    * retrieval: relevance to the query minus redundancy against what is
    * already chosen). Greedy MMR is inherently sequential in k, so the
    * loop collects ONE winning row per round (the bounded-k MLlib
    * pattern); the marginal scores themselves are computed distributed,
    * each round one codegen'd projection over the remaining candidates —
    * the selected vectors ride in as literals, never a join.
    *
    * Portability contract: rel and every pairwise sim are cosines ROUNDED
    * to 6 dp before entering the score, so the score is an exact IEEE
    * function of engine-identical inputs and a SQL oracle replays the
    * whole greedy trajectory (ties broken by id). max over the empty
    * selected set is 0, so round 1 ranks by λ·rel ≡ rel.
    *
    * Returns (rank, id, mmr) with mmr rounded to 6 dp for display.
    */
  def mmrSelect(corpus: DataFrame, query: Seq[Double], k: Int, lambda: Double,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1,64], got $k")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1], got $lambda")
    val spark = corpus.sparkSession
    val qlit = array(query.map(lit): _*)
    val base = corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("e"))
      .withColumn("rel", round(cosine(col("e"), qlit), 6))
      .localCheckpoint()
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Any, Seq[Double], Double)]
    var remaining = base
    var i = 0
    while (i < k && !remaining.isEmpty) {
      val ms = picked.toSeq.map { case (_, e, _) =>
        round(cosine(col("e"), array(e.map(lit): _*)), 6)
      } match {
        case Seq()  => lit(0.0)
        case Seq(s) => s
        case sims   => greatest(sims: _*)
      }
      val top = remaining
        .withColumn("_mmr", lit(lambda) * col("rel") - lit(1.0 - lambda) * ms)
        .orderBy(col("_mmr").desc, col("id"))
        .limit(1).collect()(0)
      picked += ((top.get(0), top.getSeq[Double](1), top.getDouble(top.length - 1)))
      remaining = remaining.filter(col("id") =!= lit(top.get(0)))
      i += 1
    }
    val idType = base.schema("id").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("mmr",
        org.apache.spark.sql.types.DoubleType)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](picked.size)
    picked.zipWithIndex.foreach { case ((id, _, mmr), j) =>
      rows.add(org.apache.spark.sql.Row(j + 1, id, round6(mmr)))
    }
    spark.createDataFrame(rows, schema)
  }
}
