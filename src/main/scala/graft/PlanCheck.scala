package graft

import org.apache.spark.sql.SparkSession

/** Plan hygiene audit: prints the formatted physical plan for key queries
  * and greps for the properties that matter at 100 TB — parquet filter
  * pushdown (PushedFilters), column pruning (ReadSchema width), broadcast
  * vs shuffle join selection, and WholeStageCodegen coverage.
  *
  * `sbt "runMain graft.PlanCheck [sfDir]"`
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Bench.session("8")

    val interesting = Seq(
      "q_filter_ops",      // pushdown of all predicate types
      "q_traverse_1hop",   // 3-way join selection
      "q_nodeset_merge",   // full-outer merge shape
      "q_nodeset_merge_append", // append rule: ordered collect_list reduce
      "q_relset_merge_idem", // B4 upsert: same merge kernel as nodes
      "q_dedup_exact",     // window over hash
      "q_kg_triples",      // agg pushdown/pruning
      "q_ann_topk",        // broadcast NL join + window
      "q_ann_ivf",         // centroid pick MUST be TakeOrderedAndProject
      "q_sample_stratified", // zero-shuffle codegen filter, pruned scan
      "q_decontam",        // broadcast gram probe + anti-join of ids
      "q_pack",            // sharded window — partitionBy present, no global sort
      "q_quota_topk",      // per-group window over ONE group-key shuffle
      "q_comention",       // within-group self-join: ONE group-key shuffle pair
      "q_temporal_validity", // merge with min/max rules: one full-outer hash shuffle
      "q_detach_delete",   // r3: deletes must be LeftAnti joins on id columns
      "q_edge_delete",     // r3: LeftAnti on (src,dst,type) — keys only
      "q_ngram_jaccard",   // r3: broadcast self-join WITH the size-ratio prefilter
      "q_pagerank_weighted", // r3: per-iteration join+agg, no single-task funnels
      "q_ann_ivfpq_mat",   // r4: materialized IVF-PQ — scan must show
                           // PartitionFilters: cell IN (probed...) pruning
      "q_interval_join",   // r4: banded range join — (key, band) equi-join,
                           // NO BroadcastNestedLoopJoin
      "q_bm25",            // r4: postings probe — term filter pushed to scan,
                           // df/stats joins broadcast, top-k = TakeOrdered
      "q_adamic_adar",     // r4: within-neighbor self-join, no cross blowup
      "q_shuffle",         // r4: two-pass global index — offsets broadcast,
                           // the only unpartitioned window is the tiny one
      "q_kmeans",          // r4: assignment = zero-shuffle literal argmax;
                           // means = one ≤k-cell aggregation
      "q_lm_score",        // r4: bigram model joins — counts tables on the
                           // (w1,w2)/(w1) keys, V broadcast, no cross blowup
      "q_contamination",   // r4: broadcast gram membership + doc-keyed agg
      "q_zorder_mat",      // r5: materialized Z-order layout — the z
                           // corner-code range MUST land in PushedFilters
                           // (row-group min/max pruning on BOTH dimensions
                           // of the box at once)
      "q_semantic_dedup",  // r5: the cosine verify must be a within-cell
                           // equi-join (cell key), never a cross blowup;
                           // k-means assign = zero-shuffle literal argmax
      "q_snapshot_diff",   // r5: one full-outer hash join on the key,
                           // both version scans pruned to key + shared cols
      "q_length_batches",  // r5: sharded rank — partitionBy(_shard) window,
                           // the only unpartitioned window is the nShards-row
                           // offset table
      "q_pca"              // r5: power rounds = zero-shuffle coef projection
                           // + one dim-wide partial aggregation, no window,
                           // no join
    )
    for (name <- interesting) {
      println(s"\n================ $name ================")
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(plan)
      val pushed = "PushedFilters: \\[[^\\]]*[A-Za-z][^\\]]*\\]".r.findAllIn(plan).toList
      val schemas = "ReadSchema: [^\n]*".r.findAllIn(plan).toList
      val joins = plan.linesIterator.filter(l =>
        l.contains("Join") && l.contains("(")).map(_.trim.takeWhile(_ != '(')).toList
      // a SinglePartition exchange funnels the stage through ONE task — only
      // acceptable when its input is already bounded (e.g. TakeOrdered's
      // driver merge); flag every occurrence for eyeballing
      val singleExchanges = "Exchange SinglePartition".r.findAllIn(plan).size
      // partition-level pruning (materialized layouts): a non-empty
      // PartitionFilters means unprobed partitions are never even listed
      val partFilters = "PartitionFilters: \\[[^\\]]*[A-Za-z][^\\]]*\\]".r.findAllIn(plan).toList
      println(s"[plancheck] $name pushedFilters=${pushed.size} " +
        s"joins=${joins.mkString(",")} readSchemas=${schemas.size} " +
        s"singlePartitionExchanges=$singleExchanges " +
        s"partitionFilters=${partFilters.size}")
      partFilters.foreach(s => println(s"[plancheck]   $s"))
      schemas.foreach(s => println(s"[plancheck]   $s"))
    }
    spark.stop()
  }
}
