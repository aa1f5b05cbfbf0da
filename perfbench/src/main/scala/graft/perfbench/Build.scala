package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.io.{SnapshotLog, TableIO}
import graft.kg.{Corpus, Extract, Lsh, Pipeline}
import graft.ogm.Graph
import graft.schema.TranscriptTurn

/** `build_entities`: the staged, snapshot-committed `kg.Pipeline.run` over
  * a seeded transcripts table, then the OGM read mix on the graph it
  * committed. Mentions come from a Zipf vocabulary of synthetic entities,
  * each written in several surface forms, so that canonicalization goes
  * through LSH blocking and distributed connected components, and the
  * NodeSet/RelationshipSet merges see hub-heavy keys.
  */
final class BuildWorkload(ctx: Ctx) extends Workload {
  import BuildWorkload._
  private val spark = ctx.spark
  import spark.implicits._

  private val layout = Gen.Layout(Knobs.turns, Knobs.hotShare)
  private lazy val vocab = Gen.EntityVocab(ctx.seed, Knobs.entities, Knobs.variants, Knobs.zipf)
  private val inputDir = ctx.dir("input")
  private var turns: DataFrame = _
  private var truth: Reads.GraphTruth = _
  private var tripleTruth: Set[(String, String, String)] = Set.empty
  private var inputBytes = 1L
  // per traced unit: figures that are not span durations
  private val extras = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val tracedRows = mutable.ArrayBuffer.empty[Long]

  def setup(): Unit = {
    val (seed, lay, voc) = (ctx.seed, layout, vocab)
    spark.range(0L, Knobs.turns, 1L, Knobs.files)
      .map(id => Gen.turn(seed, id, lay, voc))(Encoders.product[TranscriptTurn])
      .write.mode("overwrite").parquet(inputDir)
  }

  def prepare(): Unit = {
    val t = new Gen.Truth(byNorm = false)
    t.addTurns(ctx.seed, 0L, Knobs.turns, vocab)
    tripleTruth = t.triples
    truth = new Reads.GraphTruth(t.mentions, t.edges)
    turns = spark.read.parquet(inputDir)
    inputBytes = ctx.bytesUnder(inputDir)
  }

  def runUnit(index: Int, traced: Boolean): UnitResult = {
    val wd = ctx.dir(s"run-$index")
    val tr = ctx.tracer
    val (res, t) = ctx.timeOp(tr.span("kg.pipeline")(Pipeline.run(turns, wd)))
    if (traced) tr.lastSpan.foreach(deriveStages(_, wd))
    val got = res.triples.select("subj", "pred", "obj").distinct()
      .as[(String, String, String)].collect().toSet
    ctx.checks.score(got, tripleTruth)
    val pr = graft.kg.SequentialOracle.prScore(got, tripleTruth)
    ctx.checks.check(s"pipeline triples P/R >= 0.95 (unit $index)",
      pr.precision >= 0.95 && pr.recall >= 0.95, pr.toString)
    if (got != tripleTruth) System.err.println(s"perfbench: triples off the truth: $pr; " +
      s"extra ${(got -- tripleTruth).take(5)} missing ${(tripleTruth -- got).take(5)}")
    val rows = if (traced) tracedRows else mutable.ArrayBuffer.empty[Long]
    val graph = Graph(res.nodes, res.edges)
    // the read path runs cold after each fresh pipeline; one untimed read
    // of each kind first, so the read medians measure reads, not JIT warm-up
    Reads.warmup(graph, Reads.KgSchema, Seq(truth.key(0.0)))
    val reads = Reads.run(ctx, graph, Reads.KgSchema, truth, 0, Knobs.reads, 1000L + index, rows)
    if (traced) isolate(index, wd, res)
    ctx.deleteTree(wd)
    UnitResult(Knobs.turns.toDouble, Seq(t), Seq(reads))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Splits the `Pipeline.run` span into the stages the program committed:
    * a stage runs from the previous commit (or the call) to its own commit
    * and owns the jobs of its `graft-stage:<name>` description. Within
    * `canonical_map`, LSH blocking and connected components run from the
    * first to the last job whose call stack Spark recorded in `graft.kg.Lsh`
    * and `graft.kg.ConnectedComponents` frames (jobs the adaptive executor
    * submits carry no program frames; one client thread runs the stage, so
    * every job started in that window is part of it). Which paths
    * canonicalization and CC took is read off the same call stacks.
    */
  private def deriveStages(pipeline: Span, wd: String): Unit = {
    val tr = ctx.tracer
    val x = extras.getOrElseUpdate(pipeline.unit, mutable.Map.empty)
    var from = pipeline.startMs
    new SnapshotLog(wd).snapshots().foreach { snap =>
      val stage = tr.derive(pipeline, layerOf(snap.stage), from, snap.ts)(_.stage.contains(snap.stage))
      from = snap.ts
      if (snap.stage == "canonical_map") {
        val jobs = tr.jobs.filter(stage.owns)
        Seq("kg.lsh" -> "graft.kg.Lsh$.", "kg.cc" -> "graft.kg.ConnectedComponents$.").foreach {
          case (phase, frame) =>
            val framed = jobs.filter(_.frames.contains(frame))
            if (framed.nonEmpty) {
              val (a, b) = (framed.map(_.startMs).min, framed.map(_.endMs).max)
              tr.derive(stage, phase, a, b)(j => j.startMs >= a && j.startMs <= b)
            }
        }
        def took(method: String) = if (jobs.exists(_.frames.contains(method))) 1.0 else 0.0
        x("kg.canonicalize.distributed") = took("graft.kg.Canonicalize$.distributedMap")
        x("kg.cc.distributed") = took("graft.kg.ConnectedComponents$.runOnStringsDistributed")
      }
    }
  }

  /** Work the plain unit does not do, after the timed work: noop-sink runs
    * of the stage computations that feed a snapshot write (the compute
    * without the write), the bare regex projection, and LSH candidate and
    * verified pair counts over the committed norms.
    */
  private def isolate(index: Int, wd: String, res: Pipeline.Result): Unit = {
    val tr = ctx.tracer
    val x = extras.getOrElseUpdate(index, mutable.Map.empty)
    val log = new SnapshotLog(wd)
    def committed(stage: String) = TableIO.read(spark, log.latest(stage).get.path)
    tr.span("functions.regexp_groups", isolation = true)(noop(turns.select(
      explode(graft.functions.functions.regexpGroups(col("text"), Corpus.TripleRegex)))))
    tr.span("io.scan.turns", isolation = true)(noop(turns))
    tr.span("kg.extract", isolation = true)(noop(Extract.triplesRaw(res.turns)))
    tr.span("kg.join_canonical", isolation = true)(
      noop(Pipeline.joinCanonical(res.triplesRaw, broadcast(committed("canonical_map")))))
    val norms = committed("surfaces").select("norm").distinct()
    def pairs(threshold: Double): Long = {
      val p = Lsh.candidatePairs(norms, threshold)
      try p.count() finally p.unpersist()
    }
    // every candidate has Jaccard >= 0, so threshold 0 keeps them all
    val candidates = tr.span("kg.lsh.candidates", isolation = true)(pairs(0.0))
    val verified = tr.span("kg.lsh.verified", isolation = true)(pairs(Pipeline.JaccardThreshold))
    x("kg.lsh.candidate_pairs") = candidates.toDouble
    x("kg.lsh.useful_ratio") = verified.toDouble / math.max(1L, candidates)
    x("io.write_amplification") = ctx.bytesUnder(wd).toDouble / inputBytes
    x("io.snapshots_committed") = log.snapshots().size.toDouble
  }

  def layerMetrics(reports: Seq[SpanReport]): Map[String, Double] = {
    val units = reports.filter(_.span.name == "unit").map(_.span.unit)
    def perUnit(name: String)(f: SpanReport => Double): Double =
      Stats.median(units.map(u => reports.filter(r => r.span.unit == u && r.span.name == name).map(f).sum))
    def self(name: String) = perUnit(name)(_.selfS)
    def extra(name: String) = Stats.median(units.flatMap(u => extras.get(u).flatMap(_.get(name))))
    val snapshotWrite = Stats.median(units.map { u =>
      def d(n: String) = reports.filter(r => r.span.unit == u && r.span.name == n).map(_.span.durS).sum
      (d("io.stage.turns") - d("io.scan.turns")) + (d("io.stage.triples_raw") - d("kg.extract")) +
        (d("io.stage.triples") - d("kg.join_canonical"))
    })
    Map(
      "kg.extract.self_s" -> self("kg.extract"),
      "functions.regexp_groups.self_s" -> self("functions.regexp_groups"),
      "kg.surfaces.self_s" -> self("kg.surfaces"),
      "kg.surfaces.shuffle_bytes" -> perUnit("kg.surfaces")(_.incl.shuffleWrite.toDouble),
      "kg.canonicalize.self_s" -> self("kg.canonicalize"),
      "kg.canonicalize.distributed" -> extra("kg.canonicalize.distributed"),
      "kg.lsh.self_s" -> self("kg.lsh"),
      "kg.lsh.candidate_pairs" -> extra("kg.lsh.candidate_pairs"),
      "kg.lsh.useful_ratio" -> extra("kg.lsh.useful_ratio"),
      "kg.cc.self_s" -> self("kg.cc"),
      "kg.cc.distributed" -> extra("kg.cc.distributed"),
      "kg.cc.jobs" -> perUnit("kg.cc")(_.incl.jobs.toDouble),
      "kg.join_canonical.self_s" -> self("kg.join_canonical"),
      "bulk.nodeset_merge.self_s" -> self("bulk.nodeset_merge"),
      "bulk.nodeset_merge.shuffle_bytes" -> perUnit("bulk.nodeset_merge")(_.incl.shuffleWrite.toDouble),
      "bulk.nodeset_merge.spill_bytes" -> perUnit("bulk.nodeset_merge")(_.incl.spill.toDouble),
      "bulk.relset_merge.self_s" -> self("bulk.relset_merge"),
      "bulk.relset_merge.shuffle_bytes" -> perUnit("bulk.relset_merge")(_.incl.shuffleWrite.toDouble),
      "bulk.relset_merge.spill_bytes" -> perUnit("bulk.relset_merge")(_.incl.spill.toDouble),
      "io.snapshot_write_s" -> snapshotWrite,
      "io.bytes_written" -> perUnit("kg.pipeline")(_.incl.bytesWritten.toDouble),
      "io.write_amplification" -> extra("io.write_amplification"),
      "io.snapshots_committed" -> extra("io.snapshots_committed")
    ) ++ Reads.layerMetrics(reports, tracedRows.sum)
  }

  override def describe(units: Seq[UnitResult]): String =
    s"turns=${Knobs.turns} pipeline_s=${units.map(u => f"${u.writes.sum}%.3f").mkString(",")} " +
      s"reads=${units.map(_.reads.flatten.size).sum}"
}

object BuildWorkload {
  /** Input properties of the workload. `files` is the number of parquet
    * files the turns are written as, `reads` the OGM reads per unit.
    */
  object Knobs {
    val turns = 80000L
    val hotShare = 0.3
    val entities = 20000
    val variants = 16
    val zipf = 1.0
    val files = 8
    val reads = 40
  }

  /** The span name of a committed pipeline stage. */
  def layerOf(stage: String): String = stage match {
    case "surfaces" => "kg.surfaces"
    case "canonical_map" => "kg.canonicalize"
    case "conv_stats" => "kg.conv_stats"
    case s if s.startsWith("nodeset_") => "bulk.nodeset_merge"
    case s if s.startsWith("relationshipset_") => "bulk.relset_merge"
    case s => s"io.stage.$s"
  }
}
