package graft.ogm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.bulk.{NodeSetOps, RelSetOps}
import graft.schema.{FieldFilter, NodeSpec, RelSpec}

/** The read/query layer — the Spark form of the reference's OGM Query path
  * (graphio/ogm/model.py:300-553). A Query is a lazily composed DataFrame
  * plan; `.all()` in the reference maps to simply using the DataFrame (or
  * `.limit(1)` for `first()`, B5). Filters are conjunctive-only, like the
  * reference (model.py:427-433).
  */
object Graph {
  /** Serializes rawQuery ANALYSIS across all Graph instances in the JVM —
    * the `nodes`/`edges` view names are a per-call contract, not session
    * state (see [[Graph.rawQuery]]).
    */
  private[ogm] val rawQueryLock = new Object
}

final case class Graph(nodes: DataFrame, edges: DataFrame) {

  /** Release the cached node/edge tables a loader pinned (no-op when
    * nothing is cached). A loaded graph is a materialized artifact — the
    * in-memory analogue of the reference's committed Neo4j state — so
    * GraphLoader persists both tables; callers done with the graph free
    * the blocks here instead of leaking them across pipeline invocations.
    */
  def release(): Unit = {
    nodes.unpersist()
    edges.unpersist()
  }

  private def labelCond(labels: Seq[String]): Column =
    if (labels.isEmpty) lit(true)
    else labels.map(l => array_contains(col(NodeSetOps.LabelsCol), l)).reduce(_ && _)

  /** B5/B6 — node scan with conjunctive predicates. */
  def matchNodes(labels: Seq[String], filters: FieldFilter*): DataFrame =
    nodes.filter(filters.map(_.toColumn).foldLeft(labelCond(labels))(_ && _))

  /** `first()` — LIMIT 1 (model.py:437-438). */
  def firstNode(labels: Seq[String], filters: FieldFilter*): DataFrame =
    matchNodes(labels, filters: _*).limit(1)

  /** B7/B8 — 1-hop traversal:
    * MATCH (source)-[r:TYPE]->(target) with per-leg filters, RETURN DISTINCT
    * target. `reverse=true` flips the physical legs (the querying class is
    * the relation's target — model.py:314-340); edge rows are stored
    * canonically, only the join swaps.
    *
    * Physical shape: 3-way join src ⋈ edges ⋈ dst with every per-leg filter
    * pushed below its join — Catalyst sees them as scan filters.
    */
  def traverse(
      srcLabels: Seq[String], srcKeys: Seq[String],
      relType: String,
      dstLabels: Seq[String], dstKeys: Seq[String],
      srcFilters: Seq[FieldFilter] = Nil,
      relFilters: Seq[FieldFilter] = Nil,
      dstFilters: Seq[FieldFilter] = Nil,
      reverse: Boolean = false): DataFrame = {

    def side(labels: Seq[String], keys: Seq[String], fs: Seq[FieldFilter], alias: String) =
      RelSetOps.withNodeId(
        nodes.filter(fs.map(_.toColumn).foldLeft(labelCond(labels))(_ && _)), keys)
        .alias(alias)

    // Edge rows are stored canonically src→dst; `reverse` only changes which
    // side is RETURNED (the querying class is the relation's target —
    // model.py:314-340). Filters always bind to their physical leg.
    val src = side(srcLabels, srcKeys, srcFilters, "s")
    val dst = side(dstLabels, dstKeys, dstFilters, "d")
    val e = edges
      .filter(relFilters.map(_.toColumn).foldLeft(col(RelSetOps.RelType) === relType)(_ && _))
      .alias("e")

    val joined = src
      .join(e, col(s"s._node_id") === col(s"e.${RelSetOps.SrcId}"))
      .join(dst, col(s"e.${RelSetOps.DstId}") === col(s"d._node_id"))

    val targetAlias = if (reverse) "s" else "d"
    val targetCols = nodes.columns.map(c => col(s"$targetAlias.$c"))
    joined.select(targetCols.toIndexedSeq: _*).distinct()
  }

  /** Multi-hop traversal — an EXTENSION: the reference raises
    * NotImplementedError beyond one hop (model.py:392,412,304); here each
    * hop is one more edge join, so chains compose naturally. `hops` is a
    * sequence of (relType, reverse, relFilters); node filters apply to the
    * anchor (first) and target (last) legs. Returns DISTINCT terminal nodes.
    *
    * Physical shape: a linear chain of hash joins on node ids; Catalyst
    * broadcasts small legs and AQE re-plans skewed ones — no iteration, no
    * driver loop.
    */
  def traverseChain(
      anchorLabels: Seq[String], keys: Seq[String],
      hops: Seq[(String, Boolean, Seq[FieldFilter])],
      anchorFilters: Seq[FieldFilter] = Nil,
      targetFilters: Seq[FieldFilter] = Nil): DataFrame = {
    require(hops.nonEmpty, "at least one hop")
    val allNodes = RelSetOps.withNodeId(nodes, keys)
    def nodeSide(filters: Seq[FieldFilter], labels: Seq[String]) =
      allNodes.filter(filters.map(_.toColumn).foldLeft(labelCond(labels))(_ && _))

    var frontier = nodeSide(anchorFilters, anchorLabels)
      .select(col("_node_id").as("_frontier_id"))
    for (((relType, reverse, relFilters), i) <- hops.zipWithIndex) {
      val e = edges
        .filter(relFilters.map(_.toColumn).foldLeft(col(RelSetOps.RelType) === relType)(_ && _))
        .select(col(RelSetOps.SrcId).as("_e_src"), col(RelSetOps.DstId).as("_e_dst"))
      val (fromCol, toCol) = if (reverse) ("_e_dst", "_e_src") else ("_e_src", "_e_dst")
      frontier = frontier
        .join(e, col("_frontier_id") === col(fromCol))
        .select(col(toCol).as("_frontier_id"))
        .distinct()
    }
    val target = nodeSide(targetFilters, Nil)
    target.join(frontier, target("_node_id") === frontier("_frontier_id"))
      .select(nodes.columns.map(col).toIndexedSeq: _*)
      .distinct()
  }

  /** B9 — raw SQL escape hatch: the caller registers views and runs
    * arbitrary SQL; result must be node-shaped (we enforce the merge-key
    * columns exist, the analogue of "must bind n").
    *
    * `args` are bound as NAMED PARAMETERS (`:name` placeholders) through
    * Spark's parameterized-query API — values stay literals, never spliced
    * into the SQL text, mirroring `CypherQuery(query, params)`
    * (model.py:16-22) and its injection-safety contract
    * (test_error_handling.py:233-264).
    */
  def rawQuery(sql: String, requiredCols: Seq[String],
               args: Map[String, Any] = Map.empty): DataFrame = {
    val spark = nodes.sparkSession
    // The views are registered under the contract names `nodes`/`edges` for
    // the duration of ONE analysis only, under a JVM-wide lock, then
    // dropped: two live Graphs in one session would otherwise silently
    // shadow each other's session-global views. spark.sql analyzes eagerly,
    // so the returned DataFrame's plan is bound to THIS graph's tables
    // before the lock releases — only analysis serializes, never execution.
    // The drop is by name in the session catalog: `spark.catalog.dropTempView`
    // also uncaches the view's plan, which evicts this graph's own
    // persisted node/edge tables.
    Graph.rawQueryLock.synchronized {
      nodes.createOrReplaceTempView("nodes")
      edges.createOrReplaceTempView("edges")
      try {
        val out = if (args.isEmpty) spark.sql(sql) else spark.sql(sql, args)
        val missing = requiredCols.filterNot(out.columns.contains)
        require(missing.isEmpty,
          s"raw query must return node-shaped rows; missing: ${missing.mkString(",")}")
        out
      } finally {
        val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.catalog
        catalog.dropTempView("nodes")
        catalog.dropTempView("edges")
      }
    }
  }

  /** Typed read path — the `Dataset[T]` form of the reference's rehydration
    * of query rows into validated model instances (model.py:450-451,531-532).
    * The encoder maps the node table's columns onto T's fields (extra node
    * columns are projected away; a missing field fails fast here, like a
    * missing model attribute).
    *
    * `constraints` are validation-on-read (Pydantic's field validators,
    * model.py:641-664): every returned row must satisfy them, and a
    * violating row RAISES at materialization — distributed, inside the scan,
    * not a driver-side post-check. Filters merely select; constraints assert.
    */
  def matchNodesAs[T](labels: Seq[String],
                      filters: Seq[FieldFilter] = Nil,
                      constraints: Seq[FieldFilter] = Nil)
                     (implicit enc: org.apache.spark.sql.Encoder[T]): org.apache.spark.sql.Dataset[T] = {
    val df = matchNodes(labels, filters: _*)
    val fields = enc.schema.fieldNames.toSeq
    val missing = fields.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"node table lacks model fields: ${missing.mkString(",")} (model rehydration)")
    val badConstraints = constraints.map(_.field).filterNot(fields.contains)
    require(badConstraints.isEmpty,
      s"constraints on non-model fields: ${badConstraints.mkString(",")}")
    val projected = df.select(fields.map(col): _*)
    val checked = constraints.foldLeft(projected) { (acc, c) =>
      // when(violation, raise_error) folds the check into the projection so
      // Catalyst cannot prune it; the NullType error branch coerces to the
      // field's own type
      acc.withColumn(c.field,
        when(!c.toColumn || col(c.field).isNull,
          raise_error(concat(
            lit(s"validation failed: ${c.field} ${c.op} ${c.value}, got "),
            coalesce(col(c.field).cast("string"), lit("null")))))
          .otherwise(col(c.field)))
    }
    checked.as[T]
  }

  /** Graph-analytics faces over this graph's edge table (delegating to
    * [[graft.kg.GraphAlgos]]): k-hop reachability from the nodes matching
    * `filters`, with minimum hop counts joined back to the node rows.
    */
  def reachable(labels: Seq[String], mergeKeys: Seq[String], maxHops: Int,
                relType: Option[String], reverse: Boolean,
                filters: FieldFilter*): DataFrame = {
    val sources = RelSetOps.withNodeId(matchNodes(labels, filters: _*), mergeKeys)
      .select(col("_node_id").as("node"))
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val hops = graft.kg.GraphAlgos.bfsReachable(e, sources, maxHops,
      srcCol = RelSetOps.SrcId, dstCol = RelSetOps.DstId, reverse = reverse)
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(hops, col("_node_id") === hops("node"))
      .drop("_node_id", "node")
  }

  def reachable(labels: Seq[String], mergeKeys: Seq[String], maxHops: Int,
                filters: FieldFilter*): DataFrame =
    reachable(labels, mergeKeys, maxHops, None, reverse = false, filters: _*)

  /** Per-node triangle participation over the (undirected view of the)
    * edge table, keyed back to node rows.
    */
  def triangleCounts(mergeKeys: Seq[String], relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val tri = graft.kg.GraphAlgos.triangleCounts(e, RelSetOps.SrcId, RelSetOps.DstId)
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(tri, col("_node_id") === tri("node"))
      .drop("_node_id", "node")
  }

  /** Per-node degree statistics over this graph's edges (optionally one
    * rel type), keyed back to node rows — [[graft.kg.GraphAlgos.degrees]].
    */
  def degrees(mergeKeys: Seq[String], relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val d = graft.kg.GraphAlgos.degrees(e, RelSetOps.SrcId, RelSetOps.DstId)
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(d, col("_node_id") === d("node"))
      .drop("_node_id", "node")
  }

  /** Fixed-iteration PageRank over this graph's edges, ranks joined back
    * to node rows — [[graft.kg.GraphAlgos.pageRank]]. Nodes without any
    * (typed) edge carry no rank row, matching the operator's node universe.
    */
  def pageRank(mergeKeys: Seq[String], iters: Int, damping: Double = 0.85,
               relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val pr = graft.kg.GraphAlgos.pageRank(e, iters, damping,
      RelSetOps.SrcId, RelSetOps.DstId)
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(pr, col("_node_id") === pr("n"))
      .drop("_node_id", "n")
      .withColumnRenamed("r", "pagerank")
  }

  /** k-core membership of (the undirected view of) this graph's edges,
    * joined back to node rows — [[graft.kg.GraphAlgos.kCore]].
    */
  def kCore(mergeKeys: Seq[String], k: Int, relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val core = graft.kg.GraphAlgos.kCore(
      e.select(col(RelSetOps.SrcId).as("a"), col(RelSetOps.DstId).as("b")), k)
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(core, col("_node_id") === core("node"))
      .drop("_node_id", "node")
  }

  /** Bounded-round weighted shortest paths from the nodes matching
    * `filters` over this graph's edges — unit weight per edge unless
    * `weightProp` names an edge property — distances joined back to node
    * rows; [[graft.kg.GraphAlgos.sssp]]. Nodes unreachable within `iters`
    * edges are absent.
    */
  def shortestPaths(labels: Seq[String], mergeKeys: Seq[String], iters: Int,
                    filters: FieldFilter*): DataFrame =
    shortestPaths(labels, mergeKeys, iters, None, None, filters: _*)

  def shortestPaths(labels: Seq[String], mergeKeys: Seq[String], iters: Int,
                    weightProp: Option[String],
                    relType: Option[String],
                    filters: FieldFilter*): DataFrame = {
    val sources = RelSetOps.withNodeId(matchNodes(labels, filters: _*), mergeKeys)
      .select(col("_node_id").as("node"))
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val weighted = weightProp.fold(e.withColumn("_w", lit(1L)))(w =>
      e.withColumn("_w", col(w).cast("long")))
    val d = graft.kg.GraphAlgos.sssp(weighted, sources, iters,
      RelSetOps.SrcId, RelSetOps.DstId, "_w")
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(d, col("_node_id") === d("node"))
      .drop("_node_id", "node")
  }

  /** Local clustering coefficients over this graph's edges (optionally
    * one rel type), joined back to node rows —
    * [[graft.kg.GraphAlgos.clusteringCoefficient]].
    */
  def clusteringCoefficients(mergeKeys: Seq[String],
                             relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val cc = graft.kg.GraphAlgos.clusteringCoefficient(
      e.select(col(RelSetOps.SrcId).as("a"), col(RelSetOps.DstId).as("b")))
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(cc, col("_node_id") === cc("node"))
      .drop("_node_id", "node")
  }

  /** Bounded harmonic centrality with the nodes matching `filters` as the
    * landmark sample, joined back to node rows —
    * [[graft.kg.GraphAlgos.harmonicCentrality]] over this graph's edges
    * (optionally one rel type).
    */
  def harmonicCentrality(labels: Seq[String], mergeKeys: Seq[String],
                         maxHops: Int, relType: Option[String],
                         filters: FieldFilter*): DataFrame = {
    val landmarks = RelSetOps.withNodeId(matchNodes(labels, filters: _*), mergeKeys)
      .select(col("_node_id").as("node"))
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val h = graft.kg.GraphAlgos.harmonicCentrality(e, landmarks, maxHops,
      RelSetOps.SrcId, RelSetOps.DstId)
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(h, col("_node_id") === h("node"))
      .drop("_node_id", "node")
  }

  /** Adamic–Adar link predictions over this graph's edges viewed as a
    * (src node → dst target) membership: undirected SOURCE pairs sharing
    * at least one target, scored by rare-shared-target overlap —
    * [[graft.kg.GraphAlgos.adamicAdar]]. Both endpoints' merge-key
    * columns come back prefixed `a_`/`b_` (pair sides ordered by
    * internal node id, each unordered pair once).
    */
  def linkPredictions(mergeKeys: Seq[String], relType: Option[String] = None,
                      maxNeighborhood: Int = 10000): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val scores = graft.kg.GraphAlgos.adamicAdar(e, nodeCol = RelSetOps.SrcId,
      neighborCol = RelSetOps.DstId, maxNeighborhood = maxNeighborhood)
    val keyed = RelSetOps.withNodeId(nodes, mergeKeys)
    val aSide = keyed.select(col("_node_id").as("_aid") +:
      mergeKeys.map(k => col(k).as(s"a_$k")): _*)
    val bSide = keyed.select(col("_node_id").as("_bid") +:
      mergeKeys.map(k => col(k).as(s"b_$k")): _*)
    scores.join(aSide, col("a") === col("_aid"))
      .join(bSide, col("b") === col("_bid"))
      .select(mergeKeys.map(k => col(s"a_$k")) ++
        mergeKeys.map(k => col(s"b_$k")) ++
        Seq(col("common"), col("aa_score")): _*)
  }

  /** Community detection (deterministic synchronous label propagation)
    * over the undirected view of this graph's edges, memberships joined
    * back to node rows — [[graft.kg.GraphAlgos.labelPropagation]].
    */
  def communities(mergeKeys: Seq[String], iters: Int, relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val lp = graft.kg.GraphAlgos.labelPropagation(
      e.select(col(RelSetOps.SrcId).as("a"), col(RelSetOps.DstId).as("b")), iters)
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(lp, col("_node_id") === lp("node"))
      .drop("_node_id", "node")
  }

  /** HITS hubs/authorities over this graph's edges (optionally one rel
    * type), both scores joined back to node rows —
    * [[graft.kg.GraphAlgos.hits]].
    */
  def hits(mergeKeys: Seq[String], iters: Int, relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val ha = graft.kg.GraphAlgos.hits(e, iters, RelSetOps.SrcId, RelSetOps.DstId)
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(ha, col("_node_id") === ha("n"))
      .drop("_node_id", "n")
  }

  /** Deterministic random walks over this graph's directed edges
    * (optionally one rel type) — [[graft.kg.GraphAlgos.randomWalks]];
    * `_node_id` endpoints are integral, which the portable step hash
    * requires. Returns (start, step, node) in node-id space (join back
    * through `RelSetOps.withNodeId` for row-level payloads).
    */
  def randomWalks(walkLen: Int, seed: Long,
                  relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    graft.kg.GraphAlgos.randomWalks(e, walkLen, seed,
      srcCol = RelSetOps.SrcId, dstCol = RelSetOps.DstId)
  }

  /** node2vec-biased walks over this graph's directed edges —
    * [[graft.kg.GraphAlgos.biasedWalks]] (return/common/far integer
    * weights relative to the previous node).
    */
  def biasedWalks(walkLen: Int, seed: Long, wReturn: Int = 1,
                  wCommon: Int = 4, wFar: Int = 2,
                  relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    graft.kg.GraphAlgos.biasedWalks(e, walkLen, seed, wReturn, wCommon, wFar,
      srcCol = RelSetOps.SrcId, dstCol = RelSetOps.DstId)
  }

  /** Condensation DAG levels of this graph's directed edges —
    * [[graft.kg.GraphAlgos.condensationLevels]]: (scc_id, level,
    * n_members) with scc_id in `_node_id` space.
    */
  def condensationLevels(relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    graft.kg.GraphAlgos.condensationLevels(e,
      srcCol = RelSetOps.SrcId, dstCol = RelSetOps.DstId)
  }

  /** Strongly connected components of this graph's DIRECTED edges
    * (optionally one rel type), membership joined back to node rows —
    * [[graft.kg.GraphAlgos.scc]]. `scc_id` is the minimum `_node_id` of
    * the component; nodes without any (typed) edge carry no row, matching
    * the operator's node universe.
    */
  def scc(mergeKeys: Seq[String], relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val comp = graft.kg.GraphAlgos.scc(e,
      srcCol = RelSetOps.SrcId, dstCol = RelSetOps.DstId)
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(comp, col("_node_id") === comp("node"))
      .drop("_node_id", "node")
  }

  /** Personalized PageRank seeded at the nodes matching `filters` (random
    * walk with restart to the seed set), ranks joined back to node rows —
    * [[graft.kg.GraphAlgos.pageRankPersonalized]].
    */
  def pageRankPersonalized(labels: Seq[String], mergeKeys: Seq[String], iters: Int,
                           filters: FieldFilter*): DataFrame =
    pageRankPersonalized(labels, mergeKeys, iters, 0.85, None, filters: _*)

  def pageRankPersonalized(labels: Seq[String], mergeKeys: Seq[String], iters: Int,
                           damping: Double, relType: Option[String],
                           filters: FieldFilter*): DataFrame = {
    val sources = RelSetOps.withNodeId(matchNodes(labels, filters: _*), mergeKeys)
      .select(col("_node_id").as("node"))
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val pr = graft.kg.GraphAlgos.pageRankPersonalized(e, sources, iters, damping,
      RelSetOps.SrcId, RelSetOps.DstId)
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(pr, col("_node_id") === pr("n"))
      .drop("_node_id", "n")
      .withColumnRenamed("r", "pagerank")
  }

  /** Weighted PageRank with an edge PROPERTY as the weight (e.g. a merged
    * `support` count — heavily-evidenced relations carry more rank), ranks
    * joined back to node rows — [[graft.kg.GraphAlgos.pageRankWeighted]].
    */
  def pageRankWeighted(mergeKeys: Seq[String], iters: Int, weightProp: String,
                       damping: Double = 0.85, relType: Option[String] = None): DataFrame = {
    val e = relType.fold(edges)(t => edges.filter(col(RelSetOps.RelType) === t))
    val pr = graft.kg.GraphAlgos.pageRankWeighted(e, iters, damping,
      RelSetOps.SrcId, RelSetOps.DstId, weightProp)
    RelSetOps.withNodeId(nodes, mergeKeys)
      .join(pr, col("_node_id") === pr("n"))
      .drop("_node_id", "n")
      .withColumnRenamed("r", "pagerank")
  }

  /** B10 — point delete with DETACH semantics: remove matching nodes AND
    * every edge touching them.
    *
    * All three subtractions are LEFT-ANTI joins on the node-identity hash
    * (the same (primary label, mergeKeys) id the edges were resolved with),
    * NOT `exceptAll`: doomed-set membership is fully determined by the id,
    * and an anti-join shuffles the 8-byte key column only, where exceptAll
    * hash-shuffles EVERY column of the whole node table to subtract a
    * filtered subset of itself. This is also exactly the
    * `DELETE FROM nodes WHERE _node_id IN (...)` lowering the Iceberg path
    * wants (SURVEY §2 B10).
    *
    * ASSUMES id-unique node tables (the MERGE-maintained invariant: one row
    * per (labels, mergeKeys) identity). On a table holding duplicate-identity
    * rows (possible only via the blind-append CREATE path), a non-key
    * property filter matching ONE of the duplicates dooms every row sharing
    * that id — id-level deletion is the semantic here, by design: edges are
    * resolved per id, so leaving a same-id sibling row behind would strand
    * edges pointing at a "deleted" identity.
    */
  def detachDeleteNodes(labels: Seq[String], mergeKeys: Seq[String], filters: FieldFilter*): Graph = {
    val doomed = matchNodes(labels, filters: _*)
    val ids = RelSetOps.withNodeId(doomed, mergeKeys).select(col("_node_id"))
    val keep = RelSetOps.withNodeId(nodes, mergeKeys)
      .join(ids, Seq("_node_id"), "left_anti")
      .select(nodes.columns.map(col).toIndexedSeq: _*)
    val keptEdges = edges
      .join(ids, edges(RelSetOps.SrcId) === ids("_node_id"), "left_anti")
      .join(ids, edges(RelSetOps.DstId) === ids("_node_id"), "left_anti")
    Graph(keep, keptEdges)
  }

  /** B11 — targeted edge delete: all edges of a type from anchored sources,
    * optionally restricted to specific targets.
    *
    * The subtraction is a LEFT-ANTI join on the edge identity columns
    * (src_id, dst_id, rel_type) — not `exceptAll` over every edge column.
    * Doom membership is decided entirely by those three columns (the
    * filters anchor node IDS, never edge properties), so parallel edges
    * sharing an identity are doomed together either way and the anti-join
    * is row-for-row equivalent while shuffling keys only. It is also the
    * direct `DELETE FROM edges WHERE (src,dst,type) IN (...)` lowering for
    * the Iceberg path.
    */
  def deleteEdges(relType: String, srcFilter: Seq[FieldFilter],
                  dstFilter: Seq[FieldFilter] = Nil, keys: Seq[String]): Graph = {
    val srcIds = RelSetOps.withNodeId(
      nodes.filter(srcFilter.map(_.toColumn).reduceOption(_ && _).getOrElse(lit(true))), keys)
      .select(col("_node_id"))
    val dstIds = RelSetOps.withNodeId(
      nodes.filter(dstFilter.map(_.toColumn).reduceOption(_ && _).getOrElse(lit(true))), keys)
      .select(col("_node_id"))
    val doomedKeys = edges
      .filter(col(RelSetOps.RelType) === relType)
      .join(srcIds, edges(RelSetOps.SrcId) === srcIds("_node_id"), "left_semi")
      .join(dstIds, edges(RelSetOps.DstId) === dstIds("_node_id"), "left_semi")
      .select(RelSetOps.SrcId, RelSetOps.DstId, RelSetOps.RelType)
    Graph(nodes, edges.join(doomedKeys,
      Seq(RelSetOps.SrcId, RelSetOps.DstId, RelSetOps.RelType), "left_anti"))
  }
}
