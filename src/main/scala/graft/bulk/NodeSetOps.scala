package graft.bulk

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.schema.NodeSpec

/** NodeSet semantics (reference: graphio/bulk/nodeset.py) re-expressed as
  * pure DataFrame transforms.
  *
  * A node table is a DataFrame with:
  *   - the merge-key columns,
  *   - property columns (append_props columns hold ArrayType),
  *   - a `labels: array<string>` column (labels accumulate across merges,
  *     mirroring `SET n:Extra`, nodeset.py:322-326).
  *
  * Design for scale: no driver-side buffering — "add_node" is just rows in a
  * DataFrame. Dedup/merge are expressed so Catalyst plans them as
  * partial-aggregate + single shuffle on the merge keys. At production scale
  * the merge lowers to `MERGE INTO <iceberg table> ON <mergeKeys>`; the
  * [[MergeRules]] column rules are exactly the UPDATE/INSERT clause rules.
  */
object NodeSetOps {

  /** Ingest-order column, see [[MergeRules.OrdCol]]. */
  val OrdCol = MergeRules.OrdCol
  /** Flag column: rows added with force=True bypass dedup AND do not update
    * the dedup index (nodeset.py:74-106; test_nodeset_deduplication.py:156-182).
    */
  val ForceCol = "_graft_force"
  val LabelsCol = "labels"

  private def hasCol(df: DataFrame, c: String) = df.columns.contains(c)

  /** A1 — row ingest: overlay default_props and stamp ingest order. */
  def ingest(rows: DataFrame, spec: NodeSpec): DataFrame =
    MergeRules.ingest(rows, spec.defaultProps)

  /** A2 — first-wins distinct by merge-key tuple. Force rows are always kept
    * and never participate in (or update) the dedup index.
    *
    * One window over one hash-shuffle on the merge keys; no driver state.
    * Non-force rows first-win within their key; each force row is its own
    * singleton partition (key + its own ordinal) so it is always kept and
    * never shadows later non-force rows.
    *
    * r6 note (measured, kept deliberately): a min_by(struct(whole row), ord)
    * aggregation was tried in place of the window — unlike the merge
    * reduce's per-column aggregates it carries EVERY column inside the
    * struct, so the map side copies whole rows into the agg hash map while
    * the exchange still moves the same bytes; the bench regressed
    * 0.96 s → 1.31 s and the form has no shuffle-byte advantage at scale
    * either. The window stays.
    */
  def dedupFirstWins(rows: DataFrame, mergeKeys: Seq[String]): DataFrame = {
    val df = MergeRules.withIngestOrder(rows)
    val force: Column = if (hasCol(df, ForceCol)) coalesce(col(ForceCol), lit(false)) else lit(false)
    df.withColumn("_graft_rn", row_number().over(
        Window.partitionBy((mergeKeys.map(col) :+ when(force, col(OrdCol)).otherwise(lit(-1L))): _*)
          .orderBy(col(OrdCol))))
      .filter(col("_graft_rn") === 1)
      .drop("_graft_rn")
  }

  /** B1 — bulk create: blind append, duplicates allowed (create twice doubles
    * the count — test_nodeset.py:135-141). Labels are stamped as a column.
    */
  def create(target: Option[DataFrame], rows: DataFrame, spec: NodeSpec): DataFrame = {
    val prepared0 = ingest(rows, spec)
    val prepared1 = if (spec.deduplicate) dedupFirstWins(prepared0, spec.mergeKeys) else prepared0
    val stamped = prepared1
      .withColumn(LabelsCol, lit(spec.allLabels.toArray))
      .drop(OrdCol, ForceCol)
    target match {
      case Some(t) => t.unionByName(stamped, allowMissingColumns = true)
      case None    => stamped
    }
  }

  /** B2 — bulk merge (keyed upsert) by the [[MergeRules]] column rules
    * (nodeset.py:269-330; goldens test_query_utils.py:60-92); labels
    * accumulate (SET n:Extra → array_union).
    *
    * Per-call overrides mirror the reference's merge(...) kwargs
    * (nodeset.py:186-196): `preserve` / `appendProps` replace the container
    * config for THIS call only, and `mergeProperties` merges on a different
    * key subset than the spec's merge_keys.
    */
  def merge(target: Option[DataFrame], rows: DataFrame, spec0: NodeSpec,
            preserve: Option[Seq[String]] = None,
            appendProps: Option[Seq[String]] = None,
            mergeProperties: Option[Seq[String]] = None): DataFrame = {
    val spec = spec0.copy(
      preserve = preserve.getOrElse(spec0.preserve),
      appendProps = appendProps.getOrElse(spec0.appendProps),
      mergeKeys = mergeProperties.getOrElse(spec0.mergeKeys))
    val rules = MergeRules.Rules(spec.preserve, spec.appendProps, spec.sumProps,
      spec.minProps, spec.maxProps)
    val newLabels = lit(spec.allLabels.toArray)
    val tLabels = col(s"t.$LabelsCol")
    MergeRules.merge(
      target.map(t => if (hasCol(t, LabelsCol)) t
                      else t.withColumn(LabelsCol, lit(Array.empty[String]))),
      ingest(rows, spec).drop(ForceCol), spec.mergeKeys, rules,
      // label-scoped like Cypher MERGE (n:Label {keys}): only rows whose
      // PRIMARY label matches the spec's can match — two node sets with
      // different primary labels never collide on a shared key value
      // (nodeset.py:269: the MERGE pattern carries the label)
      scope = Some(element_at(tLabels, 1) <=> lit(spec.allLabels.head)),
      stamp = Some(MergeRules.Stamp(LabelsCol, newLabels, uEx =>
        when(uEx, array_union(coalesce(tLabels, array()), newLabels)).otherwise(tLabels))))
  }

  /** A6 — union of property keys across the table (schema is explicit here,
    * so this is just the non-internal column set).
    */
  def allPropertyKeys(df: DataFrame, spec: NodeSpec): Seq[String] =
    df.columns.filterNot(c =>
      c == OrdCol || c == ForceCol || c == LabelsCol || spec.mergeKeys.contains(c)).toSeq

  /** A10 analogue — the reference creates Neo4j indexes per label × merge key
    * (utils.py:35-63). Our equivalent for columnar tables: cluster the data by
    * the merge keys so scans prune and merges co-partition.
    */
  def clusterByMergeKeys(df: DataFrame, spec: NodeSpec, numPartitions: Int): DataFrame =
    df.repartition(numPartitions, spec.mergeKeys.map(col): _*)
      .sortWithinPartitions(spec.mergeKeys.map(col): _*)
}
