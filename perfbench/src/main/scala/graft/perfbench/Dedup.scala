package graft.perfbench

import java.nio.charset.StandardCharsets
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import graft.bulk.{NodeSetOps, RelSetOps}
import graft.kg.Lsh
import graft.ogm.Graph
import graft.ops.{Dedup, Similarity}
import graft.schema.{EqKey, NodeSpec, RelSpec}

/** `dedup_docs`: the three near-duplicate finders of `graft.ops.Dedup` over
  * a seeded corpus written as many parquet files (so the scan has as many
  * splits as cores and `Par.widen` adds no exchange), with planted
  * near-duplicate clusters. Every reported pair is re-verified exactly in the
  * driver from the generated documents, with code independent of the
  * program's: word 3-gram Jaccard for MinHash, a SimHash recomputed from
  * Spark's XXH64 for SimHash, double-precision cosine for sign-LSH.
  * The reported pairs are then merged into a near-duplicate graph and read
  * through the OGM.
  */
final class DedupWorkload(ctx: Ctx) extends Workload {
  import DedupWorkload._
  private val spark = ctx.spark
  import spark.implicits._

  private val dir = ctx.dir("docs")
  private lazy val words: Array[String] = Array.tabulate(Knobs.vocab)(w => Gen.word(ctx.seed, w))
  private var docs: DataFrame = _
  private var embs: DataFrame = _
  private var texts: Array[String] = _
  private var vecs: Array[Seq[Double]] = _
  private var planted: Set[(Long, Long)] = Set.empty
  private val extras = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val tracedRows = mutable.ArrayBuffer.empty[Long]
  private var simhashPlanted = 0

  def setup(): Unit = {
    val (seed, k, ws) = (ctx.seed, Knobs, words)
    spark.range(0L, Knobs.docs, 1L, Knobs.files)
      .map(j => Gen.doc(seed, j * k.stride % k.docs, k, ws))(Encoders.product[Gen.Doc])
      .write.mode("overwrite").parquet(dir)
  }

  def prepare(): Unit = {
    val all = (0L until Knobs.docs).map(d => Gen.doc(ctx.seed, d, Knobs, words))
    texts = all.map(_.text).toArray
    vecs = all.map(_.embedding).toArray
    planted = Gen.plantedPairs(Knobs)
    docs = spark.read.parquet(dir)
    embs = docs.select(col("doc_id").as("vec_id"), col("embedding"))
    val splits = docs.rdd.getNumPartitions
    ctx.checks.check(s"corpus scans as >= ${ctx.spark.sparkContext.defaultParallelism} splits",
      splits >= ctx.spark.sparkContext.defaultParallelism, s"got $splits")
  }

  // the finders' first run in a JVM is about 1.6 times slower; one warm-up
  // unit (a single finder pass) keeps the measured passes comparable
  override def warmupUnits: Int = 1

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A measured unit makes `Passes` finder passes and times the median one
    * (consecutive identical passes differ by up to a quarter on this host),
    * then reads the near-duplicate graph of its pairs. The warm-up unit
    * makes one pass and no reads.
    */
  def runUnit(index: Int, traced: Boolean): UnitResult = {
    val passes = (1 to (if (index < 0) 1 else Passes)).map(_ => finderPass())
    val (times, reported) = passes.sortBy(_._1.sum).apply(passes.size / 2)
    if (traced) {
      val tr = ctx.tracer
      val shingles = graft.functions.functions.wordShingleHashes(col("text"), 3)
      tr.span("functions.minhash_sig", isolation = true)(
        noop(docs.select(graft.functions.functions.minhashSig(shingles, Lsh.NumHashes))))
      tr.span("functions.simhash64", isolation = true)(
        noop(docs.select(graft.functions.functions.simhash64(shingles))))
      tr.span("functions.sign_lsh", isolation = true)(
        noop(embs.select(Similarity.signLsh(col("embedding"), SignBits))))
      // every candidate has Jaccard >= 0, so threshold 0 keeps them all
      val candidates = tr.span("ops.minhash.candidates", isolation = true) {
        val all = Dedup.minhashLshPairs(docs, 0.0)
        try all.count() finally all.unpersist(blocking = true)
      }
      val x = extras.getOrElseUpdate(index, mutable.Map.empty)
      x("ops.minhash.candidate_pairs") = candidates.toDouble
      x("ops.minhash.useful_ratio") = reported.head.length.toDouble / math.max(1L, candidates)
    }
    val reads = if (index < 0) Nil else Seq(graphReads(traced, index, reported))
    UnitResult(Knobs.docs.toDouble, times, reads)
  }

  /** One call of each finder, timed, with every pair it reports verified;
    * returns the call times and the pairs of MinHash, SimHash and sign-LSH.
    */
  private def finderPass(): (Seq[Double], Seq[Array[(Long, Long)]]) = {
    val tr = ctx.tracer
    val (mh, t1) = ctx.timeOp(tr.span("ops.minhash_pairs")(Dedup.minhashLshPairs(docs, MinhashThreshold)))
    val (sh, t2) = ctx.timeOp(tr.span("ops.simhash_pairs")(Dedup.simhashPairs(docs, MaxHamming)))
    val (em, t3) = ctx.timeOp(tr.span("ops.embed_lsh_pairs")(
      Dedup.embeddingNearDupPairs(embs, CosineThreshold, SignBits)))
    val mhPairs = mh.as[(Long, Long, Double)].collect()
    val shPairs = sh.as[(Long, Long, Int)].collect()
    val emPairs = em.as[(Long, Long, Double)].collect()
    // the next pass must compute its pairs, not read these back
    Seq(mh, sh, em).foreach(_.unpersist(blocking = true))
    verify(mhPairs, shPairs, emPairs)
    (Seq(t1, t2, t3), Seq(mhPairs.map(p => (p._1, p._2)), shPairs.map(p => (p._1, p._2)),
      emPairs.map(p => (p._1, p._2))))
  }

  /** Every reported pair, recomputed exactly; recall of each finder against
    * the planted pairs it must find.
    */
  private def verify(mh: Array[(Long, Long, Double)], sh: Array[(Long, Long, Int)],
                     em: Array[(Long, Long, Double)]): Unit = {
    val c = ctx.checks
    val shingleSets = mutable.HashMap.empty[Long, Set[String]]
    def grams(d: Long) = shingleSets.getOrElseUpdate(d, shingles(texts(d.toInt)))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(simhash(grams(a)) ^ simhash(grams(b)))
    val badMh = mh.filterNot { case (a, b, j) =>
      val (x, y) = (grams(a), grams(b))
      val exact = x.intersect(y).size.toDouble / x.union(y).size
      a < b && exact >= MinhashThreshold && math.abs(exact - j) <= 1e-9
    }
    val badSh = sh.filterNot { case (a, b, h) =>
      val exact = hamming(a, b)
      a < b && exact == h && exact <= MaxHamming
    }
    val badEm = em.filterNot { case (a, b, cos) =>
      val exact = BigDecimal(cosine(vecs(a.toInt), vecs(b.toInt)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      a < b && exact >= CosineThreshold && math.abs(exact - cos) <= 1e-6
    }
    c.check("minhash pairs verify exactly", badMh.isEmpty, badMh.take(5).mkString(","))
    c.check("simhash pairs verify exactly", badSh.isEmpty, badSh.take(5).mkString(","))
    c.check("sign-LSH pairs verify exactly", badEm.isEmpty, badEm.take(5).mkString(","))
    val reported = mh.length + sh.length + em.length
    val bad = badMh.length + badSh.length + badEm.length
    c.tp += reported - bad
    c.fp += bad
    // MinHash and sign-LSH must find the planted pairs (Jaccard ~0.9,
    // cosine ~0.999); SimHash those whose exact Hamming distance is within
    // its bound, all of which its 4-band blocking finds
    val simhashDue = planted.filter { case (a, b) => hamming(a, b) <= MaxHamming }
    simhashPlanted = simhashDue.size
    Seq(("minhash", mh.map(p => (p._1, p._2)), planted),
      ("simhash", sh.map(p => (p._1, p._2)), simhashDue),
      ("sign-LSH", em.map(p => (p._1, p._2)), planted)).foreach { case (finder, pairs, due) =>
      val missed = (due -- pairs).size
      c.fn += missed
      c.check(s"$finder planted near-duplicate recall >= 0.95", due.size - missed >= 0.95 * due.size,
        s"missed $missed of ${due.size}")
    }
  }

  /** The reported pairs as a near-duplicate graph: documents merged as a
    * NodeSet, pairs as a RelationshipSet whose support is the number of
    * finders that reported the pair, both written as parquet and read back
    * (as the pipeline commits its node and edge tables). Then the OGM read
    * mix on it, each read checked against the pairs.
    */
  private def graphReads(traced: Boolean, index: Int, reported: Seq[Array[(Long, Long)]]): Seq[(String, Double)] = {
    val found = reported.flatten.groupBy(identity)
      .map { case ((a, b), xs) => (a.toString, NearDup, b.toString) -> xs.size.toLong }
    val dir = ctx.dir(s"graph-$index")
    def committed(name: String, df: DataFrame): DataFrame = {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val nodes = committed("nodes", NodeSetOps.merge(None,
      docs.select(col("doc_id").cast("string").as("name"), col("doc_id")), DocSpec))
    val pairs = found.toSeq.map { case ((a, _, b), n) => (a, b, n) }.toDF("start_name", "end_name", "support")
    val edges = committed("edges", RelSetOps.merge(None, pairs, nodes, NearDupSpec))
    val degree = found.keys.toSeq.flatMap { case (a, _, b) => Seq(a, b) }
      .groupBy(identity).map { case (d, xs) => d -> xs.size.toLong }
    val truth = new Reads.GraphTruth(texts.indices.map(d => d.toString -> d.toLong).toMap, found, degree)
    val graph = Graph(nodes, edges)
    val (n, e) = (nodes.count(), edges.count())
    ctx.checks.check("near-duplicate graph sizes", n == Knobs.docs && e == found.size,
      s"$n nodes, $e edges; expected ${Knobs.docs}, ${found.size}")
    Reads.warmup(graph, DocSchema, Seq(truth.key(0.0)))
    // the finder passes leave the heap full of garbage; collecting it first
    // keeps the reads' pauses from depending on when the collector last ran
    System.gc()
    val reads = Reads.run(ctx, graph, DocSchema, truth, 0, GraphReads, 2000L + index,
      if (traced) tracedRows else mutable.ArrayBuffer.empty[Long])
    ctx.deleteTree(dir)
    reads
  }

  def layerMetrics(reports: Seq[SpanReport]): Map[String, Double] = {
    val units = reports.filter(_.span.name == "unit").map(_.span.unit)
    // a unit calls each finder once per pass: the median call
    def self(name: String): Double = Stats.median(reports.filter(_.span.name == name).map(_.selfS))
    def extra(name: String) = Stats.median(units.flatMap(u => extras.get(u).flatMap(_.get(name))))
    Seq("ops.minhash_pairs", "ops.simhash_pairs", "ops.embed_lsh_pairs", "functions.minhash_sig",
      "functions.simhash64", "functions.sign_lsh").map(n => s"$n.self_s" -> self(n)).toMap ++ Map(
      "ops.minhash.candidate_pairs" -> extra("ops.minhash.candidate_pairs"),
      "ops.minhash.useful_ratio" -> extra("ops.minhash.useful_ratio")) ++
      Reads.layerMetrics(reports, tracedRows.sum)
  }

  override def describe(units: Seq[UnitResult]): String =
    s"docs=${Knobs.docs} files=${Knobs.files} pass_s=${units.map(u => f"${u.writes.sum}%.3f").mkString(",")} " +
      s"simhash_due=$simhashPlanted/${planted.size}"
}

object DedupWorkload {
  val Knobs: Gen.DocKnobs = Gen.DocKnobs(docs = 20000, words = 100, vocab = 5000, clusters = 1000,
    clusterSize = 4, subs = 2, dim = 32, files = 16)
  val MinhashThreshold = 0.6
  val MaxHamming = 3
  val CosineThreshold = 0.95
  val SignBits = 16
  val Passes = 3
  val GraphReads = 64
  val NearDup = "NEAR_DUP"
  val DocSpec: NodeSpec = NodeSpec(labels = Seq("Doc"), mergeKeys = Seq("name"))
  val NearDupSpec: RelSpec = RelSpec(NearDup, Seq("Doc"), Seq("Doc"), Seq(EqKey("name")), Seq(EqKey("name")))
  val DocSchema: Reads.Schema = Reads.Schema("Doc", "doc_id", Seq(NearDup))

  /** Distinct word 3-grams of `split(lower(trim(text)), "\\s+")`. */
  def shingles(text: String): Set[String] = {
    val toks = java.util.regex.Pattern.compile("\\s+").split(text.trim.toLowerCase, -1)
    if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  /** 64-bit SimHash over XXH64 (seed 42) hashes of the shingles. */
  def simhash(grams: Set[String]): Long = {
    val votes = new Array[Int](64)
    grams.foreach { g =>
      val b = g.getBytes(StandardCharsets.UTF_8)
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length, 42L)
      var j = 0
      while (j < 64) { votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1); j += 1 }
    }
    (0 until 64).foldLeft(0L)((acc, j) => if (votes(j) > 0) acc | (1L << j) else acc)
  }

  def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }
}
