package graft.streaming

import graft.SparkSpec
import graft.kg.{Corpus, TranscriptGen}
import org.apache.spark.sql.functions._

class IncrementalPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("incremental stream converges to the batch graph (idempotent merges)") {
    val n = 600L
    val inDir = tmpDir("graft-stream-in")
    val ckDir = tmpDir("graft-stream-ck")

    // batch truth: all turns at once
    val all = TranscriptGen.turns(spark, n, 4).toDF()
    val batchTriples = IncrementalPipeline.extractBatch(all)
    val batchState = new IncrementalPipeline.GraphState(spark)
    batchState.mergeBatch(batchTriples)

    // stream: same turns arriving as 3 files (overlapping replay of file 2
    // is covered by merge idempotence at the (src,dst,type) level)
    val parts = Seq((0L, 200L), (200L, 400L), (400L, 600L))
    parts.foreach { case (lo, hi) =>
      val slice = spark.range(lo, hi).map(id => Corpus.turnAt(id, n)).toDF()
      slice.coalesce(1).write.mode("append").parquet(inDir)
    }

    // maxFilesPerTrigger=1 forces THREE micro-batches — the cross-batch
    // accumulation path, not a single batch that hides 'update wins' bugs
    val state = new IncrementalPipeline.GraphState(spark)
    val q = IncrementalPipeline.start(spark, inDir, ckDir, state,
      maxFilesPerTrigger = Some(1))
    q.awaitTermination(120000)

    val gotNodes = state.nodes.get.select("name").as[String].collect().toSet
    val wantNodes = batchState.nodes.get.select("name").as[String].collect().toSet
    assert(gotNodes == wantNodes)

    val gotEdges = state.edges.get.select("src_id", "dst_id", "rel_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val wantEdges = batchState.edges.get.select("src_id", "dst_id", "rel_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(gotEdges == wantEdges)

    // support aggregates correctly ACROSS batches: total support equals
    // total triple mentions (sumProps accumulation, not 'last batch wins')
    val totalSupport = state.edges.get.agg(sum("support")).head().getLong(0)
    assert(totalSupport == batchTriples.count())

    // same for node mention counts: every subj+obj mention counted once
    val totalMentions = state.nodes.get.agg(sum("mention_count")).head().getLong(0)
    assert(totalMentions == 2 * batchTriples.count())

    // per-edge support matches the batch truth exactly, not just in total
    val gotSupport = state.edges.get.select("src_id", "dst_id", "rel_type", "support")
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getLong(3))).toMap
    val wantSupport = batchState.edges.get.select("src_id", "dst_id", "rel_type", "support")
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getLong(3))).toMap
    assert(gotSupport == wantSupport)
  }

  test("durable merge stages: kill between batches, resume converges without double-counting") {
    val n = 600L
    val inDir = tmpDir("graft-durable-in")
    val ckDir = tmpDir("graft-durable-ck")
    val wd = tmpDir("graft-durable-wd")

    // batch truth
    val all = TranscriptGen.turns(spark, n, 4).toDF()
    val batchTriples = IncrementalPipeline.extractBatch(all)
    val batchState = new IncrementalPipeline.GraphState(spark)
    batchState.mergeBatch(batchTriples)

    // phase 1: only the first two of three files exist; run to completion
    // (AvailableNow drains what is there), then KILL the runner (close) —
    // simulating a crash after two committed micro-batches
    Seq((0L, 200L), (200L, 400L)).foreach { case (lo, hi) =>
      spark.range(lo, hi).map(id => graft.kg.Corpus.turnAt(id, n)).toDF()
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    val r1 = new graft.io.StageRunner(spark, wd)
    try {
      val st1 = new IncrementalPipeline.DurableGraphState(r1)
      IncrementalPipeline.startDurable(spark, inDir, ckDir, st1, Some(1))
        .awaitTermination(120000)
      assert(st1.nodes.isDefined && st1.edges.isDefined)
    } finally r1.close()

    // the merge commits are tagged per batch: two batches → two versions
    val logAfterKill = new graft.io.SnapshotLog(wd)
    val nodeNotes = logAfterKill.snapshots()
      .filter(_.stage == "nodeset_Entity_name").map(_.note)
    assert(nodeNotes == Seq("batch-0", "batch-1"), nodeNotes.toString)

    // phase 2: the third file lands; a NEW runner + the SAME checkpoint
    // resume the stream. The checkpoint replays nothing already committed
    // (AvailableNow high-water mark), and even if it did, the batch-note
    // dedupe in mergeStage would skip it — assert by re-merging batch 1
    // explicitly and seeing no new version.
    val r2 = new graft.io.StageRunner(spark, wd)
    try {
      val st2 = new IncrementalPipeline.DurableGraphState(r2)
      val before = r2.log.snapshots().size
      st2.mergeBatch(IncrementalPipeline.extractBatch(
        spark.range(200L, 400L).map(id => graft.kg.Corpus.turnAt(id, n)).toDF()), 1L)
      assert(r2.log.snapshots().size == before, "replayed batch must not re-commit")

      spark.range(400L, 600L).map(id => graft.kg.Corpus.turnAt(id, n)).toDF()
        .coalesce(1).write.mode("append").parquet(inDir)
      IncrementalPipeline.startDurable(spark, inDir, ckDir, st2, Some(1))
        .awaitTermination(120000)

      // converged to the batch graph: per-edge support exact (the
      // double-count-sensitive quantity)
      val gotSupport = st2.edges.get.select("src_id", "dst_id", "rel_type", "support")
        .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getLong(3))).toMap
      val wantSupport = batchState.edges.get.select("src_id", "dst_id", "rel_type", "support")
        .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getLong(3))).toMap
      assert(gotSupport == wantSupport)
      val totalMentions = st2.nodes.get.agg(sum("mention_count")).head().getLong(0)
      assert(totalMentions == 2 * batchTriples.count())
    } finally r2.close()
  }

  test("periodic re-canonicalization converges the incremental graph to the batch pipeline") {
    val n = 900L
    val inDir = tmpDir("graft-recanon-in")
    val ckDir = tmpDir("graft-recanon-ck")
    val workDir = tmpDir("graft-recanon-batch")

    // stream the turns in 3 micro-batches (surface-normalized entities only)
    Seq((0L, 300L), (300L, 600L), (600L, 900L)).foreach { case (lo, hi) =>
      spark.range(lo, hi).map(id => Corpus.turnAt(id, n)).toDF()
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    val state = new IncrementalPipeline.GraphState(spark)
    IncrementalPipeline.start(spark, inDir, ckDir, state, maxFilesPerTrigger = Some(1))
      .awaitTermination(120000)

    // the compaction pass
    val (cNodes, cEdges) = IncrementalPipeline.recanonicalize(
      state.nodes.get, state.edges.get)

    // batch truth: the full canonicalizing pipeline over the same turns
    val all = graft.kg.TranscriptGen.turns(spark, n, 4).toDF()
    val batch = graft.kg.Pipeline.run(all, workDir)

    val gotNodes = cNodes.select("name", "mention_count")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val wantNodes = batch.nodes.select("name", "mention_count")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotNodes == wantNodes,
      s"node diff: extra=${gotNodes.toSet -- wantNodes.toSet} missing=${wantNodes.toSet -- gotNodes.toSet}")

    val gotEdges = cEdges.select("src_id", "dst_id", "rel_type", "support")
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getLong(3))).toMap
    val wantEdges = batch.edges.select("src_id", "dst_id", "rel_type", "support")
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getLong(3))).toMap
    assert(gotEdges == wantEdges,
      s"edge diff: extra=${gotEdges.toSet -- wantEdges.toSet} missing=${wantEdges.toSet -- gotEdges.toSet}")
  }

  test("mergeBatch cuts the lineage: state plans stop growing with batches") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val n = 400L
    val dir = tmpDir("graft-lineage")
    (0 until 4).foreach { b =>
      spark.range(b * 100L, (b + 1) * 100L).map(id => Corpus.turnAt(id, n)).toDF()
        .write.parquet(s"$dir/delta-$b")
    }
    def leaves(df: DataFrame) = df.queryExecution.analyzed.collectLeaves()
    def deltaScans(df: DataFrame) = leaves(df).collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }
      .flatten.filter(_.contains(dir))

    val state = new IncrementalPipeline.GraphState(spark)
    def mergeDelta(b: Int): Unit =
      state.mergeBatch(IncrementalPipeline.extractBatch(spark.read.parquet(s"$dir/delta-$b")))
    mergeDelta(0); mergeDelta(1)
    val after2 = (leaves(state.nodes.get).size, leaves(state.edges.get).size)
    mergeDelta(2); mergeDelta(3)
    val after4 = (leaves(state.nodes.get).size, leaves(state.edges.get).size)
    assert(after2 == after4, s"leaves after 2 batches $after2, after 4 $after4")
    assert(deltaScans(state.nodes.get).isEmpty && deltaScans(state.edges.get).isEmpty)
    // the cut keeps the merged values: every subj+obj mention counted once
    val triples = IncrementalPipeline.extractBatch(spark.read.parquet(s"$dir/delta-*")).count()
    assert(state.nodes.get.agg(sum("mention_count")).head().getLong(0) == 2 * triples)
    assert(state.edges.get.agg(sum("support")).head().getLong(0) == triples)
  }

  test("windowed turn-rate aggregation (watermark + tumbling window)") {
    val turns = TranscriptGen.turns(spark, 300L, 4).toDF()
    val rates = IncrementalPipeline.turnRates(turns) // batch-mode window agg
    val total = rates.agg(sum("n_turns")).head().getLong(0)
    assert(total == 300L)
    assert(rates.columns.contains("window"))
  }
}
