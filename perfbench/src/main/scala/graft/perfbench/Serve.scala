package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.ogm.Graph
import graft.schema.TranscriptTurn
import graft.streaming.IncrementalPipeline

/** `serve_mixed`: writes beside reads, one client in a closed loop. One
  * unit is an episode from an empty graph: `batches` delta batches of turns,
  * each merged through `IncrementalPipeline.GraphState.mergeBatch` (the path
  * `IncrementalPipeline.start` drives per micro-batch) and followed by
  * `readsPerBatch` OGM reads on the merged state, checked against the truth
  * of the deltas merged so far. Every episode merges the same batches, so
  * the per-batch merge series is comparable between runs and shows how the
  * merge cost grows with the state.
  */
final class ServeWorkload(ctx: Ctx) extends Workload {
  import ServeWorkload._
  private val spark = ctx.spark

  private val deltasDir = ctx.dir("deltas")
  private lazy val vocab = Gen.EntityVocab(ctx.seed, Knobs.entities, Knobs.variants, Knobs.zipf)
  private val layout = Gen.Layout(Knobs.batchTurns * Knobs.batches, Knobs.hotShare)
  private var truths: IndexedSeq[Reads.GraphTruth] = IndexedSeq.empty
  private var finalTruth: (Long, Long, Long, Long) = (0, 0, 0, 0)
  private var lastState: Option[IncrementalPipeline.GraphState] = None
  private val tracedRows = mutable.ArrayBuffer.empty[Long]

  private def batch(k: Int): DataFrame = spark.read.parquet(s"$deltasDir/batch=$k")

  def setup(): Unit = {
    val (seed, lay, voc, b) = (ctx.seed, layout, vocab, Knobs.batchTurns)
    spark.range(0L, layout.turns, 1L, Knobs.batches)
      .map(id => (id / b).toInt -> Gen.turn(seed, id, lay, voc))(
        Encoders.tuple(Encoders.scalaInt, Encoders.product[TranscriptTurn]))
      .select(col("_1").as("batch"), col("_2.*"))
      .write.mode("overwrite").partitionBy("batch").parquet(deltasDir)
  }

  def prepare(): Unit = {
    val t = new Gen.Truth(byNorm = true)
    truths = (0 until Knobs.batches).map { k =>
      t.addTurns(ctx.seed, k * Knobs.batchTurns, (k + 1) * Knobs.batchTurns, vocab)
      new Reads.GraphTruth(t.mentions, t.edges)
    }
    val m = t.mentions
    val e = t.edges
    finalTruth = (m.size.toLong, e.size.toLong, m.values.sum, e.values.sum)
    // warm-up: a short episode on a slice of the first batch
    val warm = new IncrementalPipeline.GraphState(spark)
    val slice = batch(0).limit(Knobs.batchTurns / 4)
    (0 until 2).foreach(_ => warm.mergeBatch(IncrementalPipeline.extractBatch(slice)))
    val g = Graph(warm.nodes.get, warm.edges.get)
    Reads.warmup(g, Reads.KgSchema, g.nodes.select("name").head(1).map(_.getString(0)).toSeq)
    release(warm)
  }

  // prepare() already warms the merge and read paths; one more episode
  // would take a traced run (plain and traced episode) near its time limit
  override def tracedWarmupUnits: Int = 0

  private def release(s: IncrementalPipeline.GraphState): Unit = {
    s.nodes.foreach(_.unpersist())
    s.edges.foreach(_.unpersist())
  }

  def runUnit(index: Int, traced: Boolean): UnitResult = {
    val tr = ctx.tracer
    lastState.foreach(release)
    val state = new IncrementalPipeline.GraphState(spark)
    val merges = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    for (k <- 0 until Knobs.batches) {
      val delta = batch(k)
      if (traced) tr.span("streaming.extract_batch", isolation = true)(
        IncrementalPipeline.extractBatch(delta).write.format("noop").mode("overwrite").save())
      val (_, t) = ctx.timeOp(tr.span("streaming.merge_batch")(
        state.mergeBatch(IncrementalPipeline.extractBatch(delta))))
      merges += t
      reads += Reads.run(ctx, Graph(state.nodes.get, state.edges.get), Reads.KgSchema, truths(k),
        k * Knobs.readsPerBatch, Knobs.readsPerBatch, 1000L + index,
        if (traced) tracedRows else mutable.ArrayBuffer.empty[Long])
    }
    lastState = Some(state)
    UnitResult((Knobs.batchTurns * Knobs.batches).toDouble, merges.toSeq, reads.toSeq)
  }

  private def totals(nodes: DataFrame, edges: DataFrame): (Long, Long, Long, Long) = {
    val n = nodes.agg(count(lit(1)), sum("mention_count")).head()
    val e = edges.agg(count(lit(1)), sum("support")).head()
    (n.getLong(0), e.getLong(0), n.getLong(1), e.getLong(1))
  }

  /** The incremental state after the last episode must equal one batch
    * merge of all deltas, and the generator's truth.
    */
  override def finish(): Unit = lastState.foreach { state =>
    val oneShot = new IncrementalPipeline.GraphState(spark)
    oneShot.mergeBatch(IncrementalPipeline.extractBatch(spark.read.parquet(deltasDir).drop("batch")))
    val inc = totals(state.nodes.get, state.edges.get)
    val all = totals(oneShot.nodes.get, oneShot.edges.get)
    ctx.checks.check("incremental graph equals one merge of all deltas", inc == all, s"$inc vs $all")
    ctx.checks.check("incremental graph equals the truth", inc == finalTruth, s"$inc vs $finalTruth")
    release(oneShot)
  }

  def layerMetrics(reports: Seq[SpanReport]): Map[String, Double] = {
    val units = reports.filter(_.span.name == "unit").map(_.span.unit)
    def series(u: Int, name: String) =
      reports.filter(r => r.span.unit == u && r.span.name == name).sortBy(_.span.id)
    def med(f: Int => Double) = Stats.median(units.map(f))
    Map(
      "streaming.merge_batch_s.first" -> med(u => series(u, "streaming.merge_batch").head.span.durS),
      "streaming.merge_batch_s.last" -> med(u => series(u, "streaming.merge_batch").last.span.durS),
      "streaming.merge.driver_gap_s" -> med(u => series(u, "streaming.merge_batch").map(_.gapS).sum),
      "streaming.merge.plan_s" -> med(u => series(u, "streaming.merge_batch").map(_.planS).sum),
      "streaming.merge.tasks" -> med(u => series(u, "streaming.merge_batch").map(_.incl.tasks).sum.toDouble),
      "streaming.extract_batch_s" -> Stats.median(
        units.flatMap(u => series(u, "streaming.extract_batch").map(_.span.durS)))
    ) ++ Reads.layerMetrics(reports, tracedRows.sum)
  }

  override def describe(units: Seq[UnitResult]): String = {
    val perBatch = (0 until Knobs.batches).map(k => Stats.median(units.map(_.writes(k))))
    s"batches=${Knobs.batches}x${Knobs.batchTurns} merge_series_s=" +
      perBatch.map(t => f"$t%.3f").mkString("[", ",", "]") + s" reads=${units.map(_.reads.flatten.size).sum}"
  }
}

object ServeWorkload {
  /** Input properties of the workload. */
  object Knobs {
    val entities = 5000
    val variants = 3
    val zipf = 1.0
    val hotShare = 0.3
    val batchTurns = 1000
    val batches = 5
    val readsPerBatch = 8
  }
}
