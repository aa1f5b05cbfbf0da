package graft.bulk

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ogm.Graph
import graft.schema.{NodeSpec, RelSpec}

/** B12 — the cascade create/merge orchestration as a reusable API
  * (reference: NodeModel.create()/merge(), model.py:717-797): ALL node sets
  * materialize before ANY relationship set resolves, the same dependency
  * rule as docs/details/bulk.md:305-319 — endpoint resolution can only see
  * nodes that exist.
  *
  * The node sets union into ONE uber node table (labels column
  * distinguishes them; schemas align by name) and the relationship sets
  * into ONE edge table with per-row rel_type — the scale-friendly layout:
  * one MERGE target per kind instead of a table per label/type.
  *
  * Deviation (documented): the reference's instance-level re-create
  * produces idiosyncratic duplicate counts (a relset rebuilt per pair,
  * test_model.py:334-388); here create is uniformly blind-append (×2 on
  * re-create) and merge is uniformly idempotent — the same rules as the
  * underlying B1-B4 operators.
  */
object GraphLoader {

  final case class NodeBatch(spec: NodeSpec, rows: DataFrame)
  /** `staged` carries the flattened `start_&lt;k&gt;` / `end_&lt;k&gt;` match columns (A7). */
  final case class EdgeBatch(spec: RelSpec, staged: DataFrame)

  /** Runs `step` over the batches in order, each into the previous result.
    *
    * NodeSetOps.merge is label-scoped (a batch can only match target rows
    * whose PRIMARY label equals the spec's — the Cypher
    * `MERGE (n:Label {keys})` pattern) and edge identity is (src, dst, REL
    * TYPE), so on an INITIAL merge load batches of different groups (primary
    * label, rel type) can never match each other: chain merges only WITHIN a
    * group and union across groups — one pass with zero cross-group joins.
    * For nodes, the chained form re-shuffles the whole table once per node
    * set (a sliced-rewrite form was tried and re-evaluates the input 2^k
    * times via filter diamonds). For edges it is worse than a redundant
    * shuffle: each cross-type merge's full-outer join condition contains
    * `'TYPE_A' <=> 'TYPE_B'`, which Catalyst constant-folds to FALSE,
    * stripping every equi-key and planning a
    * BroadcastNestedLoopJoin(FullOuter, condition=false) — a union executed
    * as an O(n·m) pair scan. Harmless at fixture scale, fatal at 10^9 edges.
    * Creates and incremental loads (`into` existing state) keep the plain
    * cascade: prior state can hold any group, so the join keys survive, and
    * its cost is the honest cost of merging into unknown prior state.
    */
  private def cascade[B](target: Option[DataFrame], batches: Seq[B], create: Boolean,
                         group: B => String)(step: (Option[DataFrame], B) => DataFrame): Option[DataFrame] =
    if (create || target.isDefined) batches.foldLeft(target)((acc, b) => Some(step(acc, b)))
    else {
      val byGroup = batches.groupBy(group)
      batches.map(group).distinct
        .map(g => byGroup(g).foldLeft(Option.empty[DataFrame])((acc, b) => Some(step(acc, b))).get)
        .reduceOption(_.unionByName(_, allowMissingColumns = true))
    }

  private def loadNodes(target: Option[DataFrame], batches: Seq[NodeBatch],
                        create: Boolean): Option[DataFrame] =
    cascade(target, batches, create, (b: NodeBatch) => b.spec.allLabels.head) { (acc, b) =>
      if (create) NodeSetOps.create(acc, b.rows, b.spec) else NodeSetOps.merge(acc, b.rows, b.spec)
    }

  private def loadEdges(target: Option[DataFrame], nodes: DataFrame,
                        batches: Seq[EdgeBatch], create: Boolean): Option[DataFrame] =
    cascade(target, batches, create, (b: EdgeBatch) => b.spec.relType) { (acc, b) =>
      if (create) RelSetOps.create(acc, b.staged, nodes, b.spec)
      else RelSetOps.merge(acc, b.staged, nodes, b.spec)
    }

  /** Cascade CREATE: blind-append node sets, then resolve + append edges. */
  def create(nodes: Seq[NodeBatch], edges: Seq[EdgeBatch],
             into: Option[Graph] = None): Graph = {
    val nodeTable = pin(loadNodes(into.map(_.nodes), nodes, create = true).get)
    val edgeTable = loadEdges(into.map(_.edges), nodeTable, edges, create = true)
    Graph(nodeTable, pinLazy(edgeTable.getOrElse(emptyEdges(nodeTable))))
  }

  /** Cascade MERGE: keyed-upsert node sets, then resolve + upsert edges on
    * (src, dst, type). Idempotent end-to-end.
    */
  def merge(nodes: Seq[NodeBatch], edges: Seq[EdgeBatch],
            into: Option[Graph] = None): Graph = {
    val nodeTable = pin(loadNodes(into.map(_.nodes), nodes, create = false).get)
    val edgeTable = loadEdges(into.map(_.edges), nodeTable, edges, create = false)
    Graph(nodeTable, pinLazy(edgeTable.getOrElse(emptyEdges(nodeTable))))
  }

  /** The loaded graph is a materialized artifact (on a cluster: an Iceberg
    * table write; here: a pinned DataFrame, EAGERLY computed). Without the
    * pin, every query over the returned Graph re-evaluates the whole load
    * cascade once per plan reference — a 3-node-set + 2-edge-set load
    * referenced from a 3-way traversal join re-ran ~4×, turning a 4 s
    * traversal into 35 s. The pin must also be EAGER: a lazy persist
    * referenced twice in the first job races its own cache population and
    * still computes the cascade more than once. Release with
    * Graph.release() when done.
    */
  private def pin(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** The EDGE table's pin stays lazy (r6, measured): the node table must be
    * eager — the edge-resolution joins reference it twice inside one plan,
    * and a lazy node pin races its own cache population (see [[pin]]) —
    * but the edge table is referenced at most once per downstream query
    * plan, so its first consumer materializes the cache with no race and
    * the load saves one full count() job + one cache read-back per graph.
    * A consumer that references edges twice in its very first job merely
    * computes some edge partitions twice while the cache fills — wasted
    * work, never wrong results (the resolve cascade is deterministic).
    */
  private def pinLazy(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def emptyEdges(nodes: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField(RelSetOps.SrcId, LongType),
        StructField(RelSetOps.DstId, LongType),
        StructField(RelSetOps.RelType, StringType))))
  }
}
