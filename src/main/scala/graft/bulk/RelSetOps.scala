package graft.bulk

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.{ArrayKey, EqKey, KeyMatch, RelSpec}
import MergeRules.OrdCol

/** RelationshipSet semantics (reference: graphio/bulk/relationshipset.py) as
  * DataFrame transforms.
  *
  * A staged edge batch is a DataFrame with flattened endpoint match columns
  * `start_<k>` / `end_<k>` plus relationship property columns — exactly the
  * UNWIND parameter shape the reference flattens to
  * (rels_params_from_objects, relationshipset.py:279-311).
  *
  * A resolved edge table has `src_id, dst_id, rel_type` plus property
  * columns. Edge identity is (src_id, dst_id, rel_type) ONLY — properties
  * are excluded, mirroring "The MERGE on relationships does not take
  * relationship properties into account!" (relationshipset.py:385).
  *
  * Scale: endpoint resolution is two equi-joins against the node table.
  * Catalyst broadcast-joins a small node side automatically; a big×big
  * resolve shuffles both sides on the match key once. ArrayProperty
  * containment joins are planned as explode-then-equi-join so they stay
  * shuffle-joinable instead of falling into BroadcastNestedLoopJoin.
  */
object RelSetOps {
  val SrcId = "src_id"
  val DstId = "dst_id"
  val RelType = "rel_type"

  /** Stable node identity for a node-table row: hash of (primary label,
    * merge-key values). Mirrors Neo4j's internal node id at the semantic
    * level: two rows with the same primary label + keys are the same node.
    *
    * Identity uses labels[0] ONLY — the spec's primary label, which is
    * immutable: NodeSetOps stamps it first at create/merge and label
    * accumulation (`SET n:Extra` → array_union, which preserves first-seen
    * order) can only APPEND. Hashing the full label array would silently
    * re-identify a node (orphaning its resolved edges) whenever a later
    * merge added a label — the reference's node identity (Neo4j internal id)
    * is stable under added labels (nodeset.py:322-326).
    */
  def withNodeId(nodes: DataFrame, mergeKeys: Seq[String], idCol: String = "_node_id"): DataFrame =
    nodes.withColumn(idCol,
      xxhash64(element_at(col(NodeSetOps.LabelsCol), 1),
        struct(mergeKeys.map(col): _*)))

  /** A4 — staged-edge uniqueness (rs.unique=True): drop exact duplicates of
    * (endpoint keys, props). Deviation (documented in SURVEY §2 A4): the
    * reference keys on frozenset(values) — order/key-name-insensitive and
    * collision-prone; we key on the canonical column tuple.
    */
  def uniqueEdges(rows: DataFrame, spec: RelSpec): DataFrame = {
    val df = MergeRules.withIngestOrder(rows)
    val keyCols = df.columns.filterNot(_ == OrdCol).toSeq
    // r6: every column except the ordinal IS the group key, so the kept
    // (first) row differs from its duplicates only in OrdCol — one hash
    // aggregation taking min(ord) replaces the row_number window (partial
    // agg, no sort; guide §2.3). Value-identical by construction.
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(OrdCol)).as(OrdCol))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Label-set filter on the uber node table. EMPTY label list ⇒ match-all —
    * the cross-label blowup is observed reference behavior (100 rels → 900
    * when 3 labels match both ends, test_relationshipset.py:142-154).
    */
  private def labelFilter(labels: Seq[String]): Column =
    if (labels.isEmpty) lit(true)
    else labels.map(l => array_contains(col(NodeSetOps.LabelsCol), l)).reduce(_ && _)

  /** One endpoint resolution: inner-join staged edges to the node table on
    * the endpoint match keys; dangling refs drop silently (inner-join
    * semantics, docs/details/bulk.md:409-421).
    *
    * ArrayKey (containment) is rewritten explode→equi-join to keep the join
    * hash-partitionable at scale; broadcast still kicks in when the node
    * side is small.
    */
  private def resolveEndpoint(
      edges: DataFrame,
      nodes: DataFrame,
      labels: Seq[String],
      keys: Seq[KeyMatch],
      prefix: String,
      outId: String): DataFrame = {
    val filtered = withNodeId(nodes.filter(labelFilter(labels)),
      keys.map(_.name), "_rid_" + prefix)
    // Explode array-match columns so every join predicate is an equality.
    val (exploded, joinPairs) = keys.foldLeft((filtered, Seq.empty[(String, String)])) {
      case ((n, acc), EqKey(k)) => (n, acc :+ (k -> s"${prefix}_$k"))
      case ((n, acc), ArrayKey(k)) =>
        // distinct first: containment is a per-node predicate — a value
        // occurring twice in the array must not yield two edges
        val ex = n.withColumn(s"_x_$k", explode(array_distinct(col(k))))
        (ex, acc :+ (s"_x_$k" -> s"${prefix}_$k"))
    }
    val nSide = exploded
      .withColumnRenamed("_rid_" + prefix, outId)
      .select((joinPairs.map(_._1).distinct :+ outId).map(col): _*)
      .alias("n" + prefix)
    val eSide = edges.alias("e" + prefix)
    val cond = joinPairs.map { case (nk, ek) =>
      col(s"n$prefix.$nk") === col(s"e$prefix.$ek")
    }.reduce(_ && _)
    eSide.join(nSide, cond, "inner")
      .select((edges.columns.map(c => col(s"e$prefix.$c")) :+ col(s"n$prefix.$outId")).toSeq: _*)
  }

  /** B3 — bulk edge create: resolve both endpoints (MATCH a, b), emit
    * resolved edge rows. Blind append — duplicates allowed. If `relTypeCol`
    * is set, the edge type is taken per-row from that column (one physical
    * edge table for many logical RelationshipSets — the scale-friendly
    * layout); otherwise it is stamped from the spec.
    */
  def resolve(edges: DataFrame, nodes: DataFrame, spec: RelSpec,
              relTypeCol: Option[String] = None): DataFrame = {
    val e0 = MergeRules.ingest(edges, spec.defaultProps) // A3: default rel props
    val e1 = resolveEndpoint(e0, nodes, spec.startNodeLabels, spec.startNodeProperties, "start", SrcId)
    val e2 = resolveEndpoint(e1, nodes, spec.endNodeLabels, spec.endNodeProperties, "end", DstId)
    val startCols = spec.startNodeProperties.map(k => s"start_${k.name}")
    val endCols = spec.endNodeProperties.map(k => s"end_${k.name}")
    val relType = relTypeCol.map(col).getOrElse(lit(spec.relType))
    val propCols = e0.columns.filterNot(c =>
      startCols.contains(c) || endCols.contains(c) || c == OrdCol ||
      relTypeCol.contains(c)).toSeq
    e2.select((Seq(col(SrcId), col(DstId), relType.as(RelType)) ++
      propCols.map(col) :+ col(OrdCol)): _*)
  }

  def create(target: Option[DataFrame], edges: DataFrame, nodes: DataFrame, spec: RelSpec): DataFrame = {
    val staged = if (spec.unique) uniqueEdges(edges, spec) else edges
    val resolved = resolve(staged, nodes, spec).drop(OrdCol)
    target match {
      case Some(t) => t.unionByName(resolved, allowMissingColumns = true)
      case None    => resolved
    }
  }

  /** B4 — bulk edge merge: endpoint resolution as B3, then keyed upsert on
    * (src_id, dst_id, rel_type) by the [[MergeRules]] column rules (edges
    * have no preserve). Re-merging the same batch keeps counts
    * stable (idempotence, test_relationshipset.py:244-256).
    *
    * `appendProps` is the per-call override of the container config —
    * relationshipset.py:218-226 (the only merge kwarg the reference takes).
    */
  def merge(target: Option[DataFrame], edges: DataFrame, nodes: DataFrame, spec0: RelSpec,
            relTypeCol: Option[String] = None,
            appendProps: Option[Seq[String]] = None): DataFrame = {
    val spec = spec0.copy(appendProps = appendProps.getOrElse(spec0.appendProps))
    val staged = if (spec.unique) uniqueEdges(edges, spec) else edges
    mergeResolved(target, resolve(staged, nodes, spec, relTypeCol), spec)
  }

  /** Merge a batch that is already endpoint-resolved (has src_id / dst_id /
    * rel_type). This is the `MERGE INTO edges ON (src_id, dst_id, rel_type)`
    * core without the resolution joins.
    */
  def mergeResolved(target: Option[DataFrame], resolved: DataFrame, spec: RelSpec): DataFrame =
    MergeRules.merge(target, resolved, Seq(SrcId, DstId, RelType),
      MergeRules.Rules(Nil, spec.appendProps, spec.sumProps, spec.minProps, spec.maxProps))
}
