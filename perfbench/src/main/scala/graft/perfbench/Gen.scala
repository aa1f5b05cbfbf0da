package graft.perfbench

import scala.collection.mutable
import graft.kg.Corpus
import graft.schema.TranscriptTurn

/** Seeded input generators. Every generated row is a pure function of
  * (seed, row id), so a Spark job writes the same inputs that a driver loop
  * recomputes for the truth: the truth is known by construction and never
  * read back from the program's output.
  */
object Gen {
  def rnd(seed: Long, stream: Long, i: Long): Long =
    Corpus.mix(Corpus.mix(seed * 0x2545F4914F6CDD1DL + stream * 0x9E3779B97F4A7C15L) ^ i)
  def pick(r: Long, n: Int): Int = ((r >>> 1) % n).toInt
  def uniform(r: Long): Double = (r >>> 11).toDouble / (1L << 53).toDouble

  /** One generated statement: surfaces as written, and the identity of the
    * two entities it mentions (the truth key; see [[Truth]]).
    */
  final case class Fact(subjSurface: String, phrase: String, pred: String, objSurface: String,
                        subjKey: String, objKey: String)

  /** A Zipf-distributed vocabulary of synthetic entities, stated in the
    * program's corpus grammar (graft.kg.Corpus predicates and fillers).
    * Entity `e` has `variants` normalized surface forms: its base name,
    * written bare or with a corporate suffix, and the base name plus one
    * suffix letter. Two forms of one entity have char-3-gram Jaccard
    * (L - 2) / L >= 0.8 for a base of L >= 10 letters, so LSH blocking
    * (16 bands of 2) misses such a pair with probability below 1e-7; forms
    * of different entities are far below 0.5 (see `apply`).
    */
  final case class EntityVocab(names: Array[String], offsets: Array[Int], cdf: Array[Double],
                               variants: Int) extends Serializable {
    def entities: Int = names.length

    def entity(u: Double): Int = {
      var lo = 0
      var hi = cdf.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }

    def surface(e: Int, r: Long): String = {
      val k = pick(r, variants)
      val base = names(e)
      if (k == 0) pick(r >>> 20, 3) match {
        case 0 => base
        case 1 => s"$base Corp"
        case _ => s"$base Inc"
      }
      else base + ('a' + (offsets(e) + k) % 26).toChar
    }

    def fact(r: Long): Fact = {
      val (phrase, pred, _, _) = Corpus.predicates(pick(r, Corpus.predicates.length))
      val s = entity(uniform(Corpus.mix(r + 1)))
      val o = entity(uniform(Corpus.mix(r + 2)))
      Fact(surface(s, Corpus.mix(r + 3)), phrase, pred, surface(o, Corpus.mix(r + 4)), s"e$s", s"e$o")
    }
  }

  object EntityVocab {
    def apply(seed: Long, entities: Int, variants: Int, zipf: Double): EntityVocab = {
      require(variants >= 1 && variants <= 26, s"variants must be in 1..26, got $variants")
      // a candidate name is rejected when it shares 3 or more char 3-grams
      // with an accepted one: then no two forms of different entities reach
      // Jaccard 0.5, and the entities the generator meant are exactly the
      // clusters the canonicalization rule finds
      val byGram = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      val names = new Array[String](entities)
      var i = 0
      var attempt = 0L
      while (i < entities) {
        val r = rnd(seed, 20, attempt)
        val len = 10 + pick(r, 3)
        val s = (0 until len).map(j => ('a' + pick(rnd(seed, 21, attempt * 16 + j), 26)).toChar).mkString
        val grams = s.sliding(3).toSeq.distinct
        val shared = mutable.HashMap.empty[Int, Int]
        grams.foreach(g => byGram.get(g).foreach(_.foreach(e => shared(e) = shared.getOrElse(e, 0) + 1)))
        if (shared.valuesIterator.forall(_ < 3)) {
          grams.foreach(g => byGram.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += i)
          names(i) = s.capitalize
          i += 1
        }
        attempt += 1
      }
      val offsets = Array.tabulate(entities)(e => pick(rnd(seed, 22, e), 26))
      val w = Array.tabulate(entities)(e => math.pow(e + 1.0, -zipf))
      val total = w.sum
      var acc = 0.0
      val cdf = w.map { x => acc += x / total; acc }
      cdf(entities - 1) = 1.0
      EntityVocab(names, offsets, cdf, variants)
    }
  }

  /** Conversation layout of a turn stream: `hotShare` of the turns fall in
    * one hot conversation, the rest in conversations of Corpus.TurnsPerConv.
    */
  final case class Layout(turns: Long, hotShare: Double)

  def facts(seed: Long, id: Long, vocab: EntityVocab): Seq[Fact] = {
    val n = pick(rnd(seed, 1, id), 3)
    (0 until n).map(f => vocab.fact(rnd(seed, 2, id * 4 + f)))
  }

  def turn(seed: Long, id: Long, layout: Layout, vocab: EntityVocab): TranscriptTurn = {
    val hot = (layout.turns * layout.hotShare).toLong
    val (convIdx, convId, turnIdx) =
      if (id < hot) (-1L, "conv-hot", id.toInt)
      else {
        val rest = id - hot
        val c = rest / Corpus.TurnsPerConv
        (c, f"conv-$c%07d", (rest % Corpus.TurnsPerConv).toInt)
      }
    val role = turnIdx % 3 match {
      case 0 => "user"
      case 1 => "assistant"
      case _ => "tool"
    }
    val tool = if (role == "tool") Corpus.tools(pick(rnd(seed, 4, id), Corpus.tools.length)) else null
    val filler = Corpus.fillers(pick(rnd(seed, 3, id), Corpus.fillers.length))
    val text = (filler +: facts(seed, id, vocab).map(f => s"${f.subjSurface} ${f.phrase} ${f.objSurface}"))
      .mkString("", ". ", ".")
    val ts = Corpus.TsBase + (convIdx + 2) * 1000L + turnIdx
    TranscriptTurn(convId, turnIdx, role, text, tool, new java.sql.Timestamp(ts * 1000L))
  }

  /** The graph the generator's statements describe. Entities are identified
    * by their truth key (`byNorm = false`: the canonical entity; `true`: the
    * normalized surface, for the incremental path that does not
    * canonicalize). An entity's name is the least normalized surface it
    * was written with: the canonicalization rule applied to exact clusters.
    */
  final class Truth(byNorm: Boolean) {
    private val nameOf = mutable.HashMap.empty[String, String]
    private val mentionsOf = mutable.HashMap.empty[String, Long]
    private val support = mutable.HashMap.empty[(String, String, String), Long]

    private def key(k: String, surface: String): String =
      if (byNorm) Corpus.normalizeSurface(surface) else k

    def add(f: Fact): Unit = {
      val s = key(f.subjKey, f.subjSurface)
      val o = key(f.objKey, f.objSurface)
      Seq(s -> f.subjSurface, o -> f.objSurface).foreach { case (k, surface) =>
        val n = Corpus.normalizeSurface(surface)
        nameOf.updateWith(k) {
          case Some(m) => Some(if (n < m) n else m)
          case None => Some(n)
        }
        mentionsOf(k) = mentionsOf.getOrElse(k, 0L) + 1
      }
      support((s, f.pred, o)) = support.getOrElse((s, f.pred, o), 0L) + 1
    }

    def addTurns(seed: Long, from: Long, until: Long, vocab: EntityVocab): Unit = {
      var id = from
      while (id < until) { facts(seed, id, vocab).foreach(add); id += 1 }
    }

    /** name -> mention count */
    def mentions: Map[String, Long] = mentionsOf.iterator.map { case (k, n) => nameOf(k) -> n }.toMap

    /** (subj name, pred, obj name) -> support */
    def edges: Map[(String, String, String), Long] =
      support.iterator.map { case ((s, p, o), n) => (nameOf(s), p, nameOf(o)) -> n }.toMap

    def triples: Set[(String, String, String)] = edges.keySet
  }

  /** Knobs of the near-duplicate document corpus. `clusters` groups of
    * `clusterSize` documents are planted: one base text and copies with
    * `subs` words replaced, whose embeddings are the base vector plus small
    * noise. The other documents and vectors are independent.
    */
  final case class DocKnobs(docs: Int, words: Int, vocab: Int, clusters: Int, clusterSize: Int,
                            subs: Int, dim: Int, files: Int) {
    require(clusters * clusterSize <= docs, "planted documents exceed the corpus")
    def planted: Int = clusters * clusterSize
    /** Row j of the written corpus holds document `stride * j mod docs`, so
      * a cluster's copies land in different files.
      */
    val stride: Long = Iterator.from(docs / 2 + 1).find(s => BigInt(s).gcd(BigInt(docs)) == 1).get.toLong
  }

  final case class Doc(doc_id: Long, text: String, embedding: Seq[Double])

  def word(seed: Long, w: Int): String = {
    val r = rnd(seed, 10, w)
    (0 until 3 + pick(r, 6)).map(j => ('a' + pick(rnd(seed, 11, w.toLong * 8 + j), 26)).toChar).mkString
  }

  def doc(seed: Long, d: Long, k: DocKnobs, words: Array[String]): Doc = {
    val text =
      if (d < k.planted) {
        val c = d / k.clusterSize
        val m = d % k.clusterSize
        val ws = Array.tabulate(k.words)(i => words(pick(rnd(seed, 12, c * k.words + i), k.vocab)))
        if (m > 0) (0 until k.subs).foreach { t =>
          val at = pick(rnd(seed, 13, d * k.subs + t), k.words)
          ws(at) = words(pick(rnd(seed, 14, d * k.subs + t), k.vocab))
        }
        ws.mkString(" ")
      } else
        Array.tabulate(k.words)(i => words(pick(rnd(seed, 15, d * k.words + i), k.vocab))).mkString(" ")
    val emb =
      if (d < k.planted) {
        val c = d / k.clusterSize
        Array.tabulate(k.dim)(i =>
          uniform(rnd(seed, 16, c * k.dim + i)) * 2 - 1 + (uniform(rnd(seed, 17, d * k.dim + i)) * 2 - 1) * 0.02)
      } else Array.tabulate(k.dim)(i => uniform(rnd(seed, 18, d * k.dim + i)) * 2 - 1)
    Doc(d, text, emb.toSeq)
  }

  def plantedPairs(k: DocKnobs): Set[(Long, Long)] =
    (0 until k.clusters).iterator.flatMap { c =>
      val ids = (0 until k.clusterSize).map(m => c.toLong * k.clusterSize + m)
      for (a <- ids.iterator; b <- ids.iterator if a < b) yield (a, b)
    }.toSet
}
