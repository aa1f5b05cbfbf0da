package graft.perfbench

import scala.collection.mutable
import graft.kg.Corpus
import graft.ogm.Graph
import graft.schema.{FieldFilter, FilterOp}

/** The OGM read mix over a built graph, each read checked against the
  * truth: `matchNodes` point lookups, 1-hop `traverse`, 2-hop
  * `traverseChain` and a `rawQuery` with a `:name` argument. The kinds take
  * turns, one read of each in every four, so each kind's median is a
  * figure of its own. The mix is not drawn from measured traffic: equal
  * shares are chosen so that a change to any one kind moves a gated
  * figure. Keys are drawn Zipf (exponent 1) over the truth's nodes ranked
  * by weight, so hot keys are read most; the uniform draws behind them are
  * a golden-ratio sequence from a seeded offset, so every run reads a like
  * spread of hot and cold keys.
  */
object Reads {
  val Kinds: Seq[String] = Seq("match", "traverse", "raw_query", "traverse_chain")

  /** What the reads address: the node label, the node property a point
    * read returns beside `name`, and the relationship types.
    */
  final case class Schema(label: String, valueCol: String, relTypes: Seq[String])
  val KgSchema: Schema = Schema("Entity", "mention_count", Corpus.predicates.map(_._2))

  /** `values`: name -> the node's `valueCol`; `edges`: (start, type, end)
    * -> support; keys are ranked by `weight` (default: the value).
    */
  final class GraphTruth(val values: Map[String, Long], edges: Map[(String, String, String), Long],
                         weight: Map[String, Long] = Map.empty) {
    val out: Map[String, Map[String, Set[String]]] =
      edges.keys.groupBy(_._1).map { case (s, es) =>
        s -> es.groupBy(_._2).map { case (p, x) => p -> x.map(_._3).toSet }
      }
    private val ranked: Array[String] =
      values.keys.toSeq.sortBy(n => (-weight.getOrElse(n, values(n)), n)).toArray
    private val cdf: Array[Double] = {
      val w = ranked.indices.map(i => 1.0 / (i + 1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }.toArray
    }

    def key(u: Double): String = {
      val i = cdf.indexWhere(_ >= u)
      ranked(if (i < 0) ranked.length - 1 else i)
    }

    def preds(s: String): Seq[String] = out.getOrElse(s, Map.empty).keys.toSeq.sorted
    def targets(s: String, p: String): Set[String] = out.getOrElse(s, Map.empty).getOrElse(p, Set.empty)
  }

  private def eqName(key: String) = Seq(FieldFilter("name", FilterOp.Eq, key))
  private val Name = Seq("name")
  private def rawSql(s: Schema) = s"SELECT name, ${s.valueCol} FROM nodes WHERE name = :name"

  /** Reads `from until from + n` of the rotation on `g`; returns (kind,
    * seconds) per read and adds the rows returned to `rowsOut`.
    */
  def run(ctx: Ctx, g: Graph, schema: Schema, truth: GraphTruth, from: Int, n: Int, stream: Long,
          rowsOut: mutable.ArrayBuffer[Long]): Seq[(String, Double)] =
    (from until from + n).map { i =>
      val r = Gen.rnd(ctx.seed, stream, i)
      val u = Gen.uniform(Gen.rnd(ctx.seed, stream, -1)) + i * 0.6180339887498949
      val key = truth.key(u - math.floor(u))
      val kind = Kinds(i % Kinds.size)
      val label = Seq(schema.label)
      def anyType(x: Long) = schema.relTypes(Gen.pick(x, schema.relTypes.length))
      def choose(ps: Seq[String], x: Long) = if (ps.isEmpty) anyType(x) else ps(Gen.pick(x, ps.size))
      def time[A](f: => A): (A, Double) = ctx.timeOp(ctx.tracer.span(s"ogm.$kind")(f))
      val (got, expected, t) = kind match {
        case "match" | "raw_query" =>
          val (rows, t) = time {
            val df =
              if (kind == "match") g.matchNodes(label, eqName(key): _*)
              else g.rawQuery(rawSql(schema), requiredCols = Name, args = Map("name" -> key))
            df.select("name", schema.valueCol).collect()
          }
          val got: Set[Any] = rows.map(x => (x.getString(0), x.getAs[Number](1).longValue)).toSet
          (got, truth.values.get(key).map(c => (key, c): Any).toSet, t)
        case "traverse" =>
          val p = choose(truth.preds(key), Corpus.mix(r + 1))
          val (rows, t) = time(g.traverse(label, Name, p, label, Name,
            srcFilters = eqName(key)).select("name").collect())
          (rows.map(_.getString(0): Any).toSet, truth.targets(key, p).map(x => x: Any), t)
        case _ =>
          val p1 = choose(truth.preds(key), Corpus.mix(r + 1))
          val mid = truth.targets(key, p1).toSeq.sorted
          val p2 = choose(mid.flatMap(truth.preds).distinct.sorted, Corpus.mix(r + 2))
          val (rows, t) = time(g.traverseChain(label, Name,
            Seq((p1, false, Nil), (p2, false, Nil)), anchorFilters = eqName(key))
            .select("name").collect())
          (rows.map(_.getString(0): Any).toSet,
            mid.flatMap(m => truth.targets(m, p2)).toSet[Any], t)
      }
      rowsOut += got.size
      ctx.checks.score(got, expected)
      ctx.checks.check(s"$kind read of '$key'", got == expected,
        s"got ${got.take(5)} (${got.size}) expected ${expected.take(5)} (${expected.size})")
      (kind, t)
    }

  /** Untimed, unchecked reads of every kind on `keys`: warms the read path. */
  def warmup(g: Graph, schema: Schema, keys: Seq[String]): Unit = keys.foreach { key =>
    val p = schema.relTypes.head
    val label = Seq(schema.label)
    g.matchNodes(label, eqName(key): _*).collect()
    g.rawQuery(rawSql(schema), requiredCols = Name, args = Map("name" -> key)).collect()
    g.traverse(label, Name, p, label, Name, srcFilters = eqName(key)).collect()
    g.traverseChain(label, Name, Seq((p, false, Nil), (p, false, Nil)), anchorFilters = eqName(key)).collect()
  }

  /** The gated read figure of each kind, in ms: the median of the kind's
    * reads on each graph state, averaged over the states read. Reads of
    * one state are alike; states differ (a merged state grows), and the
    * average over them moves with every read instead of jumping between
    * neighbouring states as a median across them would.
    */
  def kindMedians(states: Seq[Seq[(String, Double)]]): Seq[(String, Double)] =
    Kinds.map { k =>
      val perState = states.map(_.filter(_._1 == k).map(_._2 * 1e3)).filter(_.nonEmpty).map(Stats.median)
      k -> (if (perState.isEmpty) 0.0 else perState.sum / perState.size)
    }

  /** Per-layer metrics of the traced reads. */
  def layerMetrics(reports: Seq[SpanReport], rowsReturned: Long): Map[String, Double] = {
    val reads = reports.filter(r => r.span.name.startsWith("ogm."))
    if (reads.isEmpty) Map.empty
    else Kinds.map { k =>
      s"ogm.$k.p50_ms" -> Stats.median(reads.filter(_.span.name == s"ogm.$k").map(_.span.durS * 1e3))
    }.toMap ++ Map(
      "ogm.read.jobs" -> reads.map(_.incl.jobs.toDouble).sum / reads.size,
      "ogm.read.driver_gap_ms" -> Stats.median(reads.map(_.gapS * 1e3)),
      "ogm.read.rows_scanned_per_row" -> reads.map(_.scanned).sum.toDouble / math.max(1L, rowsReturned))
  }
}
