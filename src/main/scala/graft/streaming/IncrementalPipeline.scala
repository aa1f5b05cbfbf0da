package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.bulk.{NodeSetOps, RelSetOps}
import graft.kg.{Corpus, Extract}
import graft.schema.{EqKey, NodeSpec, RelSpec}

/** Incremental KG construction over a transcript STREAM.
  *
  * The reference is strictly batch; its idempotent-merge contract
  * (re-merge keeps counts stable, test_relationshipset.py:244-256) is what
  * makes incremental loading well-defined: each micro-batch of turns is
  * extracted and MERGEd into the node/edge tables, so replays and overlaps
  * converge to the same graph. This is the Structured Streaming face of the
  * same NodeSetOps/RelSetOps semantics:
  *
  *   readStream(transcripts) → per-batch triple extraction (stateless,
  *   narrow) → foreachBatch { merge into node/edge tables }.
  *
  * foreachBatch (not a stateful sink) because the merge is keyed table
  * maintenance — exactly Iceberg MERGE INTO per micro-batch in production —
  * and keeps the stream restartable from the checkpoint without custom
  * state.
  *
  * Canonicalization note: per-batch extraction uses surface normalization
  * only; full LSH+CC canonicalization is a periodic BATCH job over the
  * accumulated tables (the standard lambda split — streams keep the graph
  * fresh, the batch pass re-canonicalizes).
  */
object IncrementalPipeline {

  // sumProps: counts ACCUMULATE on match across micro-batches — plain
  // scalar props would be 'update wins', so a multi-batch stream would end
  // with only the LAST batch's counts instead of converging to the batch
  // pipeline's totals.
  val entitySpec: NodeSpec = NodeSpec(Seq("Entity"), Seq("name"),
    sumProps = Seq("mention_count"))
  val relSpec: RelSpec = RelSpec("REL", Seq("Entity"), Seq("Entity"),
    Seq(EqKey("name")), Seq(EqKey("name")), sumProps = Seq("support"))

  /** Per-batch triple extraction with surface-normalized entity names. */
  def extractBatch(turns: DataFrame): DataFrame = {
    val raw = Extract.triplesRaw(turns)
    raw.select(
      Extract.normSurface(col("subj_surface")).as("subj"),
      col("pred"),
      Extract.normSurface(col("obj_surface")).as("obj"),
      col("conv_id"), col("turn_idx"), col("score"))
  }

  /** In-memory accumulated state for local runs; production swaps these for
    * Iceberg tables and `MERGE INTO`. Each merged table is an EAGER
    * `localCheckpoint`, so the next merge and every read plan over a scan
    * of its blocks, not over all earlier merges and delta scans: batch k
    * costs O(state + delta). The nodes must be materialized before the edge
    * merge, which references them twice (GraphLoader.pin). Retired blocks
    * are freed by the ContextCleaner. Trade-off: the blocks have no lineage
    * and die with their executor; [[DurableGraphState]] is the durable face.
    */
  final class GraphState(spark: SparkSession) {
    @volatile var nodes: Option[DataFrame] = None
    @volatile var edges: Option[DataFrame] = None

    def mergeBatch(triples: DataFrame): Unit = synchronized {
      val entityRows = triples.select(col("subj").as("name"))
        .unionAll(triples.select(col("obj").as("name")))
        .groupBy("name").agg(count(lit(1)).as("mention_count"))
      val newNodes = NodeSetOps.merge(nodes, entityRows, entitySpec).localCheckpoint()
      val relRows = triples
        .groupBy("subj", "pred", "obj").agg(count(lit(1)).as("support"))
        .select(col("subj").as("start_name"), col("obj").as("end_name"),
          col("pred"), col("support"))
      val newEdges = RelSetOps.merge(edges, relRows, newNodes, relSpec,
          relTypeCol = Some("pred")).localCheckpoint()
      nodes = Some(newNodes)
      edges = Some(newEdges)
    }
  }

  /** Snapshot-committed accumulated state — the DURABLE face of
    * [[GraphState]] and the exact call-site shape the production Iceberg
    * path lowers to (`MERGE INTO` per foreachBatch): each micro-batch
    * MERGEs into node/edge tables managed by [[graft.io.StageRunner]]
    * snapshots, so the graph survives the JVM and a killed stream restarted
    * from its checkpoint resumes from the last committed snapshot.
    *
    * Exactly-once across crashes: the streaming checkpoint makes batch ids
    * stable under replay, and `mergeStage` tags each commit with its batch
    * id — a replayed batch whose merge already committed is SKIPPED
    * per-stage, so sum-accumulated props never double-count even when the
    * crash lands between the node commit and the edge commit (nodes skip,
    * edges merge — each stage resumes at its own high-water mark).
    */
  final class DurableGraphState(runner: graft.io.StageRunner) {
    val NodesStage = "nodeset_Entity_name"
    val EdgesStage = "relationshipset_REL_Entity_Entity"

    def mergeBatch(triples: DataFrame, batchId: Long): Unit = synchronized {
      val entityRows = triples.select(col("subj").as("name"))
        .unionAll(triples.select(col("obj").as("name")))
        .groupBy("name").agg(count(lit(1)).as("mention_count"))
      val newNodes = runner.mergeStage(NodesStage, s"batch-$batchId")(prev =>
        NodeSetOps.merge(prev, entityRows, entitySpec))
      val relRows = triples
        .groupBy("subj", "pred", "obj").agg(count(lit(1)).as("support"))
        .select(col("subj").as("start_name"), col("obj").as("end_name"),
          col("pred"), col("support"))
      runner.mergeStage(EdgesStage, s"batch-$batchId")(prev =>
        RelSetOps.merge(prev, relRows, newNodes, relSpec, relTypeCol = Some("pred")))
      ()
    }

    def nodes: Option[DataFrame] = runner.readLatest(NodesStage)
    def edges: Option[DataFrame] = runner.readLatest(EdgesStage)
  }

  /** Durable stream over PRE-EXTRACTED triples (subj, pred, obj) — the
    * face for pipelines whose extraction already happened upstream (or in a
    * different system): each micro-batch MERGEs through the same
    * batch-id-idempotent snapshot commits as [[startDurable]].
    */
  def startDurableTriples(spark: SparkSession, inputDir: String, checkpointDir: String,
                          state: DurableGraphState,
                          maxFilesPerTrigger: Option[Int] = Some(1)): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("subj", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("pred", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("obj", org.apache.spark.sql.types.StringType)))
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(inputDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        state.mergeBatch(batch, batchId)
      }
      .start()
  }

  /** The durable stream: same source/trigger contract as [[start]], but
    * micro-batches merge through snapshot commits keyed by the streaming
    * batch id (stable across checkpoint restarts).
    */
  def startDurable(spark: SparkSession, inputDir: String, checkpointDir: String,
                   state: DurableGraphState,
                   maxFilesPerTrigger: Option[Int] = Some(1)): StreamingQuery = {
    val schema = org.apache.spark.sql.Encoders.product[graft.schema.TranscriptTurn].schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(inputDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        state.mergeBatch(extractBatch(batch), batchId)
      }
      .start()
  }

  /** Start the incremental stream over a parquet directory of transcript
    * files. Returns the query + live state.
    *
    * `maxFilesPerTrigger` bounds micro-batch size (and, in tests, forces the
    * multi-micro-batch path so cross-batch accumulation is actually
    * exercised). Exactly-once for the sum-accumulated counts comes from the
    * streaming checkpoint: a replayed batch is re-delivered with the same
    * batchId and foreachBatch re-runs it only if it never committed.
    */
  def start(spark: SparkSession, inputDir: String, checkpointDir: String,
            state: GraphState, maxFilesPerTrigger: Option[Int] = Some(1)): StreamingQuery = {
    val schema = org.apache.spark.sql.Encoders.product[graft.schema.TranscriptTurn].schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(inputDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        state.mergeBatch(extractBatch(batch))
      }
      .start()
  }

  /** Periodic batch re-canonicalization — the batch half of the lambda
    * split this file's header promises: the stream merges SURFACE-NORMALIZED
    * entities (cheap, per micro-batch); this pass re-clusters the
    * accumulated entity names with the SAME size-adaptive LSH+CC
    * canonicalizer the batch pipeline uses, collapses nodes onto canonical
    * names (mention counts SUM), recovers edge endpoint names from the
    * stable node ids, remaps them, and re-aggregates edge support per
    * (canonical src, canonical dst, type).
    *
    * Result: the incremental graph CONVERGES to what the batch pipeline
    * builds from the same turns — node (name, mention_count) and edge
    * (src_id, dst_id, rel_type, support) sets match exactly
    * (IncrementalPipelineSpec). Self-edges produced by collapsing a
    * triple's two endpoints onto one canonical entity are kept, matching
    * the batch pipeline's behavior.
    *
    * Scale shape: the canonical map is distinct-entity-sized (tiny next to
    * the edge table) and broadcasts; the only corpus-scale shuffles are the
    * two re-aggregations on the new keys — the same cost as the original
    * build, paid once per compaction cycle, not per micro-batch.
    */
  def recanonicalize(nodes: DataFrame, edges: DataFrame,
                     jaccardThreshold: Double = graft.kg.Pipeline.JaccardThreshold): (DataFrame, DataFrame) = {
    val clustered = graft.kg.Canonicalize.canonicalMap(
        nodes.select(col("name").as("norm")).distinct(), jaccardThreshold)
      .withColumnRenamed("norm", "cname")
    val cmap = broadcast(
      nodes.select("name").distinct()
        .join(clustered, col("name") === col("cname"), "left_outer")
        .select(col("name"), coalesce(col("canonical"), col("name")).as("canonical")))
    val nodeRows = nodes.join(cmap, "name")
      .groupBy(col("canonical").as("name"))
      .agg(sum("mention_count").as("mention_count"))
    val newNodes = NodeSetOps.merge(None, nodeRows, entitySpec)

    val idName = RelSetOps.withNodeId(nodes, entitySpec.mergeKeys)
      .select(col("_node_id"), col("name"))
    val relRows = edges
      .join(idName.select(col("_node_id").as(RelSetOps.SrcId), col("name").as("_sn")),
        RelSetOps.SrcId)
      .join(idName.select(col("_node_id").as(RelSetOps.DstId), col("name").as("_dn")),
        RelSetOps.DstId)
      .join(cmap.select(col("name").as("_sn"), col("canonical").as("start_name")), "_sn")
      .join(cmap.select(col("name").as("_dn"), col("canonical").as("end_name")), "_dn")
      .groupBy("start_name", "end_name", RelSetOps.RelType)
      .agg(sum("support").as("support"))
      .withColumnRenamed(RelSetOps.RelType, "pred")
    val newEdges = RelSetOps.merge(None, relRows, newNodes, relSpec,
      relTypeCol = Some("pred"))
    (newNodes, newEdges)
  }

  /** Windowed turn-rate monitoring — the watermark/window face of the
    * stream (5-minute tumbling counts per role, 10-minute watermark).
    */
  def turnRates(turns: DataFrame): DataFrame =
    turns
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("role"))
      .agg(count(lit(1)).as("n_turns"))
}
