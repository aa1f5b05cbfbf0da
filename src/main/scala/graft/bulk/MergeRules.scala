package graft.bulk

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** The keyed-upsert kernel shared by node MERGE (B2, nodeset.py:269-330)
  * and relationship MERGE (B4, relationshipset.py:373-450): the reference
  * gives both the same UPDATE/INSERT column rules (SURVEY §2 B4).
  *
  * A merge is ingest → batch reduce → insert shape → upsert. Each property
  * column follows exactly one rule; when a column is named by several, the
  * first row of this table wins (preserve > append > sum > min > max >
  * update):
  *
  * | rule     | within one batch (reduce)     | on match (upsert)             |
  * |----------|-------------------------------|-------------------------------|
  * | preserve | first non-null value          | target value kept, even null  |
  * | append   | every non-null value, ordered | target array ++ batch array   |
  * | sum      | sum                           | target + batch (null = 0)     |
  * | min      | min                           | least (skips nulls)           |
  * | max      | max                           | greatest (skips nulls)        |
  * | update   | last non-null value           | batch value, else target      |
  *
  *   - preserve: apoc.map.removeKeys on match (test_nodeset.py:260-275);
  *     preserve beats append (test_nodeset.py:318-336, nodeset.py:294-298),
  *     within one batch as across batches.
  *   - append: accumulates in ingest order (test_nodeset.py:277-293,
  *     test_relationshipset.py:306-342); on insert the value is wrapped
  *     into a one-element array.
  *   - update: `SET n += properties` — graphio's UNWIND processes a batch in
  *     row order, so for duplicate keys the first row creates and later rows
  *     match: scalars end at the last non-null value.
  *   - sum, min, max: extensions with no reference analogue (NodeSpec
  *     sumProps / minProps / maxProps): arithmetic-update MERGE for counts
  *     that converge under incremental loads, and first_seen / last_seen
  *     temporal validity. Float and double sums add in ingest order, so the
  *     result does not depend on partitioning or row arrival.
  *
  * Deviation (documented): a null batch value is treated as "key absent"
  * (dict rows can omit keys; fixed-schema DataFrames can't).
  *
  * Scale: the reduce is ONE hash aggregation on the keys — partial
  * (map-side) aggregation shrinks the exchange and there is no per-partition
  * sort (guide §2.3 "aggregate before you shuffle"; a window + row_number
  * form shuffled every input row and sorted each partition). The per-column
  * aggregates are value-identical to the windowed forms given the
  * ingest-order contract (OrdCol is a total order within a key):
  *   last non-null  -> max_by(c, ord over rows with c non-null)
  *   first non-null -> min_by(c, ord over rows with c non-null)
  *   ordered values -> collect_list(struct(ord, c)) sorted by ord
  * (max_by/min_by skip rows whose ordering expression is null — the
  * ignoreNulls equivalence; asserted in NodeSetOpsSpec/PropertySpec and the
  * B2 gates). The upsert is the local-materialization form of
  * `MERGE INTO <table> USING <batch> ON <keys>`: both sides shuffle on the
  * keys once, so repeated merges into the same table reuse the hash
  * partitioning, and AQE handles skewed keys.
  */
object MergeRules {

  /** Explicit ingest-order column. Spark has no implicit row order, so
    * first-wins dedup (nodeset.py:65-72,100-104) needs an explicit ordinal.
    */
  val OrdCol = "_graft_ord"

  sealed trait Rule
  case object Preserve extends Rule
  case object Append extends Rule
  case object Sum extends Rule
  case object Min extends Rule
  case object Max extends Rule
  case object Update extends Rule

  /** The columns each rule names; `apply` resolves a column's one rule. */
  final case class Rules(preserve: Seq[String], append: Seq[String],
                         sum: Seq[String], min: Seq[String], max: Seq[String]) {
    def apply(c: String): Rule =
      if (preserve.contains(c)) Preserve
      else if (append.contains(c)) Append
      else if (sum.contains(c)) Sum
      else if (min.contains(c)) Min
      else if (max.contains(c)) Max
      else Update
  }

  /** A column the caller owns instead of a rule (node labels): set to
    * `insert` on every batch row, combined on the join by
    * `merged(batchRowExists)`, and placed after the properties.
    */
  final case class Stamp(name: String, insert: Column, merged: Column => Column)

  /** Stamp a deterministic ingest order if absent. monotonically_increasing_id
    * is ordered within and across input partitions for a deterministic source
    * (partition id in the high bits), which is exactly the buffer-order
    * semantics of the reference's Python list.
    */
  def withIngestOrder(rows: DataFrame): DataFrame =
    if (rows.columns.contains(OrdCol)) rows
    else rows.withColumn(OrdCol, monotonically_increasing_id())

  /** A1/A3 — row ingest: overlay default props (row value wins over the
    * default; nodeset.py:96-97, relationshipset.py:121-126) and stamp
    * ingest order.
    */
  def ingest(rows: DataFrame, defaultProps: Map[String, Any]): DataFrame =
    defaultProps.foldLeft(withIngestOrder(rows)) { case (df, (k, v)) =>
      if (df.columns.contains(k)) df.withColumn(k, coalesce(col(k), lit(v)))
      else df.withColumn(k, lit(v))
    }

  /** Intra-batch reduce: one row per key tuple, each property by its rule's
    * batch aggregate. Output columns keep the input order, minus OrdCol.
    */
  private def reduce(rows: DataFrame, keys: Seq[String], rules: Rules): DataFrame = {
    val df = withIngestOrder(rows)
    val ord = col(OrdCol)
    // every non-null value in ingest order; the comparator touches only the
    // ord field, so element types never need orderability
    def ordered(cc: Column): Column = transform(
      array_sort(
        collect_list(when(cc.isNotNull, struct(ord.as("o"), cc.as("v")))),
        (l, r) => when(l("o") < r("o"), -1).when(l("o") > r("o"), 1).otherwise(0)),
      x => x("v"))
    val aggs = df.columns.filterNot(c => keys.contains(c) || c == OrdCol).toSeq.map { c =>
      val cc = col(c)
      val dt = df.schema(c).dataType
      val v = rules(c) match {
        case Preserve => min_by(cc, when(cc.isNotNull, ord))
        case Append => dt match {
          case _: ArrayType => flatten(ordered(cc)) // inputs already arrays (re-merge)
          case _            => ordered(cc)
        }
        case Sum => dt match {
          // same steps as Spark's Sum (null until the first value), in ord order
          case FloatType | DoubleType =>
            aggregate(ordered(cc), lit(null).cast(DoubleType),
              (acc, x) => coalesce(acc, lit(0.0)) + x.cast(DoubleType))
          case _ => sum(cc)
        }
        case Min    => min(cc)
        case Max    => max(cc)
        case Update => max_by(cc, when(cc.isNotNull, ord))
      }
      v.as(c)
    }
    if (aggs.isEmpty) df.drop(OrdCol).distinct() // keys-only batch
    else df.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(df.columns.filterNot(_ == OrdCol).map(col).toIndexedSeq: _*)
  }

  /** Insert shape: append columns hold arrays, so a scalar batch value is
    * wrapped into a one-element array.
    */
  private def insertShape(batch: DataFrame, rules: Rules): DataFrame =
    rules.append.foldLeft(batch) { (acc, c) =>
      if (!acc.columns.contains(c)) acc
      else acc.schema(c).dataType match {
        case _: ArrayType => acc
        case _            => acc.withColumn(c, array(col(c)))
      }
    }

  /** Keyed upsert of `rows` into `target` (None: a fresh table). Keys match
    * with `<=>`, so null keys match each other. `scope` is an extra match
    * condition; it and `stamp.merged` see the target as `t.` and the batch
    * as `u.`. Output columns: keys, sorted properties, then the stamp.
    */
  def merge(target: Option[DataFrame], rows: DataFrame, keys: Seq[String], rules: Rules,
            scope: Option[Column] = None, stamp: Option[Stamp] = None): DataFrame = {
    val shaped = insertShape(reduce(rows, keys, rules), rules)
    val batch = stamp.fold(shaped)(s => shaped.withColumn(s.name, s.insert))
    val last = stamp.map(_.name).toSeq
    def props(cols: Set[String]) = (cols -- keys -- last).toSeq.sorted
    target match {
      case None =>
        batch.select((keys ++ props(batch.columns.toSet) ++ last).map(col): _*)
      case Some(t0) =>
        // align schemas: every property column present on both sides
        val tCols = t0.columns.toSet
        val uCols = batch.columns.toSet
        val t = (uCols -- tCols).foldLeft(t0)((acc, c) =>
          acc.withColumn(c, lit(null).cast(batch.schema(c).dataType)))
        val u = (tCols -- uCols).foldLeft(batch)((acc, c) =>
          acc.withColumn(c, lit(null).cast(t0.schema(c).dataType)))
        val tt = t.withColumn("_t_exists", lit(true)).alias("t")
        val uu = u.withColumn("_u_exists", lit(true)).alias("u")
        val onKeys = keys.map(k => col(s"t.$k") <=> col(s"u.$k")).reduce(_ && _)
        val joined = tt.join(uu, scope.fold(onKeys)(onKeys && _), "full_outer")
        val tEx = coalesce(col("t._t_exists"), lit(false))
        val uEx = coalesce(col("u._u_exists"), lit(false))
        val keyCols = keys.map(k => coalesce(col(s"u.$k"), col(s"t.$k")).as(k))
        val outProps = props(tCols ++ uCols).map { c =>
          val tc = col(s"t.$c"); val uc = col(s"u.$c")
          def onBoth(e: Column) = when(tEx && uEx, e).when(tEx, tc).otherwise(uc)
          val merged = rules(c) match {
            case Preserve => when(tEx, tc).otherwise(uc)
            case Append   => onBoth(concat(coalesce(tc, array()), coalesce(uc, array())))
            case Sum      => onBoth(coalesce(tc, lit(0)) + coalesce(uc, lit(0)))
            case Min      => onBoth(least(tc, uc))
            case Max      => onBoth(greatest(tc, uc))
            case Update   => when(uEx, coalesce(uc, tc)).otherwise(tc)
          }
          merged.as(c)
        }
        joined.select(keyCols ++ outProps ++ stamp.map(s => s.merged(uEx).as(s.name)): _*)
    }
  }
}
