package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.kg.Lsh

/** Deduplication operators for training-data pipelines: exact, MinHash-LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every variant reduces to (a) a narrow projection computing
  * a signature, (b) ONE hash-shuffle on the signature/band key, (c) an
  * optional verify join. No cross joins anywhere; candidate generation is
  * always blocked. Keeper selection is deterministic (min id) so reruns are
  * stable.
  */
object Dedup {

  /** Exact dedup on a normalized text key: keep the lowest id per group.
    *
    * Two-phase so DOCUMENT BODIES NEVER SHUFFLE: (1) project (id, sha2) and
    * group — the shuffle moves 8-byte ids + 64-byte hashes with map-side
    * partial min; (2) left-semi join the keeper ids back against the full
    * table — ids only on the build side, broadcast when small. (A window
    * partitioned by sha2(text) gives the same rows but drags every document
    * body through the hash shuffle — at 100 TB that is the whole corpus
    * through the wire for a projection's worth of information.)
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keepers = docs
      .select(col(idCol).as("_kid"), sha2(col(textCol), 256).as("_h"))
      .groupBy("_h").agg(min(col("_kid")).as("_kid"))
      .select("_kid")
    docs.join(keepers, col(idCol) === col("_kid"), "left_semi")
  }

  /** Pairs of exact duplicates (a < b) — the audit view of `exact`. */
  def exactDupPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val h = docs.select(col(idCol).as("id"), sha2(col(textCol), 256).as("h"))
    val l = h.alias("l"); val r = h.alias("r")
    l.join(r, col("l.h") === col("r.h") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
  }

  /** Word 3-gram shingles of a text column (lowercased, space-split). */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
  }

  /** Shingle set hashed to longs. Set SIZES (and therefore every Jaccard
    * value) are preserved modulo xxhash64 collisions (~n²/2^64 per doc —
    * vanishing); intersections/unions/min-hashes on fixed-width longs beat
    * the same ops on shingle STRINGS by a wide margin and shrink every
    * downstream payload ~3×. This is what verify joins carry at scale.
    *
    * r6: native one-pass [[graft.functions.WordShingleHashes]] — the HOF
    * chain (`transform(wordShingles(text, n), s => xxhash64(s))`) allocated
    * a slice + joined gram string per shingle and was 85% of both banded
    * dedup benches; value parity asserted in WordShingleHashesSpec. Output
    * is hash-DISTINCT (first-occurrence order), which the HOF form already
    * was modulo 64-bit gram collisions.
    */
  def wordShingleHashes(text: Column, n: Int = 3): Column =
    graft.functions.functions.wordShingleHashes(text, n)

  /** MinHash-LSH near-dup candidate pairs over word shingles, verified with
    * exact Jaccard. Returns (a, b, jaccard) with a < b.
    *
    * Scale shape: the banded table carries ONLY (id, band_idx, band_key) —
    * the NumBands× explode and the self-join shuffle move 3 fixed-width
    * values per row, never the shingle arrays (which are bigger than the
    * documents themselves). Shingles are joined back from a persisted
    * (id, _sh) side onto the deduplicated candidate id-pairs for the exact
    * verify. Both working caches are released before returning; only the
    * (small) verified pair set stays pinned.
    */
  def minhashLshPairs(docs: DataFrame, threshold: Double,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // hashed shingles: min-hash seeding and the Jaccard verify both run on
    // longs; set sizes (→ jaccard values) preserved modulo xxhash collisions.
    // Par.widen: the signature pass is the CPU-dense stage — spread it over
    // the cluster even when the input collapses to one split (no-op at
    // production scan widths)
    val shingled = Par.widen(docs.select(col(idCol).as("id"), col(textCol).as("_t")))
      .select(col("id"), wordShingleHashes(col("_t")).as("_sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = shingled
      // native one-pass signature (bit-identical to the HOF form — see
      // graft.functions.MinHashSig; parity asserted in HashExpressionsSpec)
      .withColumn("_sig", graft.functions.functions.minhashSig(col("_sh"), Lsh.NumHashes))
      .select(col("id"),
        posexplode(expr(
          s"transform(sequence(0, ${Lsh.NumBands - 1}), b -> hash(slice(_sig, b * ${Lsh.RowsPerBand} + 1, ${Lsh.RowsPerBand})))"))
          .as(Seq("band_idx", "band_key")))
      // persisted so the signature computes once, not per self-join side
      // (r6 note, measured: dropping this in favor of ReuseExchange was
      // tried and regressed 1.35 s → 1.7-2.0 s — under AQE the two legs
      // compile to separate query stages and the exchange is NOT reused)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val l = banded.alias("l"); val r = banded.alias("r")
    val cand = l.join(r,
        col("l.band_idx") === col("r.band_idx") &&
        col("l.band_key") === col("r.band_key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .dropDuplicates("a", "b")
    val out = cand
      .join(shingled.select(col("id").as("a"), col("_sh").as("sha")), Seq("a"))
      .join(shingled.select(col("id").as("b"), col("_sh").as("shb")), Seq("b"))
      // |A∪B| = |A|+|B|-|A∩B| exactly (the shingle arrays are hash-distinct
      // by construction) — halves the per-pair array work vs building the
      // union; the division is over the same integer values, so the double
      // result is bit-identical
      .withColumn("_i", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("_i").cast("double") / (size(col("sha")) + size(col("shb")) - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the result, then free the wide caches
    banded.unpersist()
    shingled.unpersist()
    out
  }

  /** Drop near-duplicates: connected-components over the near-dup pair graph
    * (a duplicate of a duplicate is a duplicate), keep the min id per
    * component. Uses the same no-GraphX CC as the KG pipeline.
    */
  def minhashLshDedup(docs: DataFrame, threshold: Double,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pairs = minhashLshPairs(docs, threshold, idCol, textCol)
    val cc = graft.kg.ConnectedComponents.run(
      pairs.select(col("a").as("src"), col("b").as("dst")))
    val losers = cc.filter(col("id") =!= col("component")).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Near-dup dedup keeping the BEST document per component instead of the
    * min id — the usual training-data policy (drop the lower-quality copy
    * of a near-dup cluster). `scoreCol` ranks; ties break on min id so
    * reruns are stable. Docs outside any near-dup component always survive.
    *
    * Shape: the pair graph and components are tiny next to the corpus, so
    * the only corpus-scale operations are the (slim) LSH pass and one
    * left-semi join of keeper ids at the end — doc bodies never shuffle.
    */
  def minhashLshDedupKeepBest(docs: DataFrame, threshold: Double, scoreCol: String,
                              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pairs = minhashLshPairs(docs, threshold, idCol, textCol)
    val cc = graft.kg.ConnectedComponents.run(
      pairs.select(col("a").as("src"), col("b").as("dst")))
    val members = cc.select(col("id"), col("component"))
      .join(docs.select(col(idCol).as("id"), col(scoreCol).as("_score")), Seq("id"))
    val w = Window.partitionBy("component")
      .orderBy(col("_score").desc, col("id"))
    val losers = members
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") > 1)
      .select("id")
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Blocking-quality audit for dedup / entity-resolution pipelines — the
    * two numbers every blocking scheme is judged by (Christen's standard
    * metrics): PAIR COMPLETENESS = |candidates ∩ truth| / |truth| (what
    * fraction of true pairs the blocking reaches — blocking recall) and
    * REDUCTION RATIO = 1 − |candidates| / C(n,2) (what fraction of the
    * quadratic comparison space it prunes). Run it whenever bands/shingle
    * sizes/thresholds change: completeness tells you what dedup silently
    * loses, reduction tells you what the verify stage costs.
    *
    * Shape: both inputs are pair lists (blocking output and ground
    * truth), never the corpus; one distinct per side, one left-semi join,
    * three 1-row aggregates cross-joined (the HITS-fold pattern). One
    * output row.
    */
  def blockingQuality(candidates: DataFrame, truth: DataFrame, nRecords: Long,
                      aCol: String = "a", bCol: String = "b"): DataFrame = {
    require(nRecords >= 2, s"nRecords must be >= 2, got $nRecords")
    // canonicalize pair orientation (ADVICE r5): a truth pair stored (b,a)
    // must still hit the semi-join; least/greatest before distinct makes
    // both inputs orientation-insensitive (no-op for already-oriented pairs).
    // A pair with a null endpoint is no pair: least/greatest skip nulls and
    // would turn (null, x) into (x, x), so such rows are dropped first.
    def pairs(df: DataFrame) = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    val c = pairs(candidates)
    val t = pairs(truth)
    val totalPairs = nRecords * (nRecords - 1) / 2
    c.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(t.agg(count(lit(1)).as("n_truth")))
      .crossJoin(t.join(c, Seq("a", "b"), "left_semi")
        .agg(count(lit(1)).as("n_hit")))
      .select(col("n_candidates"), col("n_truth"), col("n_hit"),
        round(col("n_hit") / col("n_truth").cast("double"), 6)
          .as("pair_completeness"),
        round(lit(1.0) - col("n_candidates") / lit(totalPairs.toDouble), 6)
          .as("reduction_ratio"))
  }

  /** SemDeDup-style SEMANTIC deduplication over an embedding column (the
    * Abbas et al. 2023 recipe): spherical k-means clusters the corpus, the
    * near-dup graph (rounded-6dp cosine >= threshold) is built ONLY within
    * clusters, its connected components collapse, and each component keeps
    * its minimum id. Catches paraphrases and re-renders that exact/MinHash
    * dedup (text-identity-based) cannot see.
    *
    * Scale shape — the whole point of the cluster step: the quadratic
    * verify is confined within k-means cells (expected cell size n/k; set
    * k ∝ n so cells stay bounded), the pair/component tables are tiny next
    * to the corpus, and the clustering itself is the gated zero-shuffle
    * literal-argmax [[Similarity.kmeansAssign]]. Embedding payloads join
    * the self-join ONCE, pre-filtered to (id, cell, vector).
    *
    * Fully engine-portable ([[Similarity.kmeansAssign]]'s contract + the
    * rounded-cosine boundary rule), so the driver gate replays cluster →
    * pairs → components → keep-min in SQL. Returns one row per input
    * vector: (idCol, cell, keep_id, kept) — kept = (keep_id == id); join
    * survivors back with `filter(col("kept"))`.
    */
  def semanticDedup(embs: DataFrame, k: Int, iters: Int, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = Similarity.kmeansAssign(embs, k, iters, idCol, vecCol)
      .select(col(idCol).as("id"), col("cell"))
    val v = embs.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val av = assigned.join(v, "id")
    val l = av.alias("l"); val r = av.alias("r")
    val pairs = l.join(r, col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .withColumn("cos", round(Similarity.cosine(col("l.v"), col("r.v")), 6))
      .filter(col("cos") >= threshold)
      .select(col("l.id").as("a"), col("r.id").as("b"))
    val cc = graft.kg.ConnectedComponents.run(
      pairs.select(col("a").as("src"), col("b").as("dst")))
    assigned.join(cc.select(col("id"), col("component")), Seq("id"), "left_outer")
      .select(col("id").as(idCol), col("cell"),
        coalesce(col("component"), col("id")).as("keep_id"),
        (coalesce(col("component"), col("id")) === col("id")).as("kept"))
  }

  /** 64-bit SimHash over word shingles: per-bit weighted vote of shingle
    * hashes, folded in ONE pass per row by the native
    * [[graft.functions.SimHash64]] expression — a zero-shuffle codegen
    * projection. (History: an explode → groupBy(id) with 64 bit-count sums
    * paid a corpus-wide shuffle for this per-document computation; a
    * higher-order `aggregate` with a 64-slot array accumulator was 2×
    * slower than even that, allocating a fresh array per shingle. The
    * native expression keeps the votes in a primitive int[64] inside
    * whole-stage codegen.)
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // Par.widen: same CPU-dense-signature argument as minhashLshPairs
    Par.widen(docs.select(col(idCol).as("id"), col(textCol).as("_t")))
      .select(col("id"),
        graft.functions.functions.simhash64(wordShingleHashes(col("_t"))).as("simhash"))

  /** SimHash near-dup pairs with hamming distance <= maxHamming, blocked on
    * 16-bit bands (guaranteed complete for maxHamming <= 3).
    *
    * Contract (same as [[minhashLshPairs]]): the verified pair set is
    * MATERIALIZED EAGERLY at call time — the call runs a job — and returns
    * pinned at MEMORY_AND_DISK so the (small) result is reusable without
    * recomputing the self-join; callers done with it release the blocks
    * with `result.unpersist()` (the Graph.release() analogue).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(maxHamming <= 3, "4-band blocking is only complete for hamming <= 3")
    val sigs = simhash(docs, idCol, textCol)
    // pinned so the signature projection computes once, not once per
    // self-join side (r6 note, measured: relying on ReuseExchange instead
    // was tried and regressed — under AQE the legs are separate query
    // stages and the exchange is not reused; same finding as minhash)
    val banded = sigs.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("band_idx", "band_key")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val l = banded.alias("l"); val r = banded.alias("r")
    val out = l.join(r,
        col("l.band_idx") === col("r.band_idx") &&
        col("l.band_key") === col("r.band_key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        col("l.simhash").as("sa"), col("r.simhash").as("sb"))
      .dropDuplicates("a", "b")
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the (small) result, then free the working cache
    banded.unpersist()
    out
  }

  /** Exact n-gram Jaccard similarity for all pairs within a blocking key
    * (e.g. language) — the exact (non-LSH) small-block verification tool;
    * MinHash-LSH is the corpus-scale path.
    *
    * Exact all-pairs is O(block²) by nature, so two guards keep the tool
    * honest at scale:
    *  - `maxBlockSize` DROPS degenerate blocks (same contract as
    *    GraphAlgos.coMentionEdges' maxGroupSize): at 100× data one language
    *    block IS the corpus, and an ungated all-pairs there is the job
    *    that never finishes. A block bigger than the gate is by definition
    *    not a "small block" — route it through LSH instead.
    *  - a size-ratio PREFILTER in the join condition: Jaccard >= θ implies
    *    min(|A|,|B|) >= θ·max(|A|,|B|) (since |A∩B| <= min and |A∪B| >=
    *    max), so `θ·|r| <= |l| and θ·|l| <= |r|` is exactness-preserving
    *    prefix filtering — it cuts candidates before the array intersection
    *    (the expensive part) and changes NO result row.
    */
  def ngramJaccardPairs(docs: DataFrame, blockCol: String, threshold: Double,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxBlockSize: Int = 10000): DataFrame = {
    require(maxBlockSize > 1, s"maxBlockSize must be > 1, got $maxBlockSize")
    val base = docs.select(col(blockCol).as("blk"), col(idCol).as("id"),
      wordShingleHashes(col(textCol)).as("sh"))
    val gated = base
      .withColumn("_bsz", count(lit(1)).over(Window.partitionBy("blk")))
      .filter(col("_bsz") <= maxBlockSize)
      .drop("_bsz")
    val l = gated.alias("l"); val r = gated.alias("r")
    l.join(r, col("l.blk") === col("r.blk") && col("l.id") < col("r.id") &&
        size(col("l.sh")).cast("double") >= lit(threshold) * size(col("r.sh")) &&
        size(col("r.sh")).cast("double") >= lit(threshold) * size(col("l.sh")))
      .withColumn("jaccard",
        size(array_intersect(col("l.sh"), col("r.sh"))).cast("double") /
          size(array_union(col("l.sh"), col("r.sh"))))
      .filter(col("jaccard") >= threshold)
      .select(col("l.id").as("a"), col("r.id").as("b"), col("jaccard"))
  }

  /** Embedding cosine near-dup pairs: candidates blocked by sign-LSH
    * (random-hyperplane bits from deterministic seed vectors), verified by
    * exact cosine >= threshold.
    */
  def embeddingNearDupPairs(embs: DataFrame, threshold: Double, bits: Int = 16,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.cosinePairsLsh(embs, threshold, bits, idCol, vecCol)

  /** Per-group exact-duplication report — the audit row a dedup run emits
    * per source/domain/shard: document count, distinct-content count, and
    * the duplication rate 1 − unique/docs. Sources with a spiking
    * dup_rate are crawler echoes or template farms; the report is what
    * decides WHERE [[exactDedup]] pays for itself. One grouped
    * aggregation; at corpus scale count distinct content HASHES (the
    * [[exactDedup]] move) so the shuffle carries 8-byte keys, not bodies
    * — identical counts short of a 64-bit collision.
    */
  def dedupStats(docs: DataFrame, groupCol: String,
                 textCol: String = "text"): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col(textCol)).as("n_unique"))
      .withColumn("dup_rate",
        round(lit(1.0) - col("n_unique") / col("n_docs"), 6))

  /** n-gram CONTAINMENT pairs: |A∩B| / min(|A|,|B|) ≥ threshold — the
    * near-SUPERSET detector Jaccard structurally misses (a paragraph
    * quoted whole inside a 10× longer page has tiny Jaccard but
    * containment ≈ 1; boilerplate wrappers around copied cores are the
    * classic web-crawl case). Same per-block equi-join shape and
    * `maxBlockSize` gate as [[ngramJaccardPairs]]; the size-ratio
    * prefilter is NOT applicable (containment is deliberately
    * size-asymmetric), so the block gate is the only quadratic bound —
    * at corpus scale feed LSH band pairs in as blocks. The score is an
    * exact ratio of integer set sizes: value-exact cross-engine.
    */
  def ngramContainmentPairs(docs: DataFrame, blockCol: String, threshold: Double,
                            idCol: String = "doc_id", textCol: String = "text",
                            maxBlockSize: Int = 10000): DataFrame = {
    require(maxBlockSize > 1, s"maxBlockSize must be > 1, got $maxBlockSize")
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val base = docs.select(col(blockCol).as("blk"), col(idCol).as("id"),
      wordShingleHashes(col(textCol)).as("sh"))
    val gated = base
      .withColumn("_bsz", count(lit(1)).over(Window.partitionBy("blk")))
      .filter(col("_bsz") <= maxBlockSize)
      .drop("_bsz")
    val l = gated.alias("l"); val r = gated.alias("r")
    l.join(r, col("l.blk") === col("r.blk") && col("l.id") < col("r.id"))
      .withColumn("containment",
        size(array_intersect(col("l.sh"), col("r.sh"))).cast("double") /
          least(size(col("l.sh")), size(col("r.sh"))))
      .filter(col("containment") >= threshold)
      .select(col("l.id").as("a"), col("r.id").as("b"), col("containment"))
  }
}
