package graft.bulk

import graft.SparkSpec
import graft.schema.{ArrayKey, EqKey, NodeSpec, RelSpec}
import org.apache.spark.sql.functions._

/** Contracts from test/bulk/test_relationshipset.py. */
class RelSetOpsSpec extends SparkSpec {
  import spark.implicits._

  // node world mirroring create_nodes_test (test_relationshipset.py:62-77):
  // 3 labels × 100 nodes each, each with an array_key containing [i, i+1000].
  def nodeWorld = {
    val mk = (label: String) => (0 until 100).map(i =>
      (i.toLong, Seq(i.toLong, i + 1000L), Seq(label)))
      .toDF("uuid", "array_key", "labels")
    mk("Test").unionAll(mk("Foo")).unionAll(mk("Bar"))
  }

  val spec = RelSpec("TEST", Seq("Test"), Seq("Foo"), Seq(EqKey("uuid")), Seq(EqKey("uuid")))

  def edges100 = (0 until 100).map(i => (i.toLong, i.toLong, s"p$i")).toDF("start_uuid", "end_uuid", "note")

  test("create resolves endpoints via inner joins (test_relationshipset.py:140+)") {
    val out = RelSetOps.create(None, edges100, nodeWorld, spec)
    assert(out.count() == 100)
    assert(out.columns.toSet == Set("src_id", "dst_id", "rel_type", "note"))
  }

  test("label-less spec cross-matches all labels: 100 rels → 900 (test_relationshipset.py:142-154)") {
    val crossSpec = spec.copy(startNodeLabels = Nil, endNodeLabels = Nil)
    val out = RelSetOps.create(None, edges100, nodeWorld, crossSpec)
    assert(out.count() == 900)
  }

  test("dangling endpoints silently dropped (docs/details/bulk.md:409-421)") {
    val dangling = Seq((9999L, 0L, "x")).toDF("start_uuid", "end_uuid", "note")
    assert(RelSetOps.create(None, dangling, nodeWorld, spec).count() == 0)
  }

  test("ArrayProperty containment match (test_relationshipset.py:192-216)") {
    val aSpec = spec.copy(startNodeProperties = Seq(ArrayKey("array_key")))
    val e = Seq((1005L, 5L, "via-array")).toDF("start_array_key", "end_uuid", "note")
    val out = RelSetOps.create(None, e, nodeWorld, aSpec).collect()
    assert(out.length == 1) // matches the Test node with array_key containing 1005
  }

  test("unique=true: 10 identical adds → 1 staged edge (test_relationshipset.py:96-101)") {
    val dup = spark.createDataFrame((0 until 10).map(_ => (1L, 1L, "k"))).toDF("start_uuid", "end_uuid", "note")
    val out = RelSetOps.create(None, dup, nodeWorld, spec.copy(unique = true))
    assert(out.count() == 1)
  }

  test("merge idempotence: re-merge keeps count stable (test_relationshipset.py:244-256)") {
    val t1 = RelSetOps.merge(None, edges100, nodeWorld, spec)
    val t2 = RelSetOps.merge(Some(t1), edges100, nodeWorld, spec)
    assert(t1.count() == 100)
    assert(t2.count() == 100)
  }

  test("edge identity excludes properties; scalar props update on re-merge (relationshipset.py:385)") {
    val e1 = Seq((1L, 1L, "first")).toDF("start_uuid", "end_uuid", "note")
    val e2 = Seq((1L, 1L, "second")).toDF("start_uuid", "end_uuid", "note")
    val t = RelSetOps.merge(Some(RelSetOps.merge(None, e1, nodeWorld, spec)), e2, nodeWorld, spec)
    val rows = t.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("note") == "second")
  }

  test("append_props on edges accumulates, count stable (test_relationshipset.py:306-342)") {
    val aSpec = spec.copy(appendProps = Seq("source"))
    val e1 = edges100.withColumn("source", lit("source_a")).withColumn("note", lit("n1"))
    val e2 = edges100.withColumn("source", lit("source_b")).withColumn("note", lit("n2"))
    val t = RelSetOps.merge(Some(RelSetOps.merge(None, e1, nodeWorld, aSpec)), e2, nodeWorld, aSpec)
    assert(t.count() == 100)
    val r = t.filter(col("note").isNotNull).collect()(0)
    assert(r.getAs[scala.collection.Seq[String]]("source") == Seq("source_a", "source_b"))
    assert(r.getAs[String]("note") == "n2")
  }

  test("per-call append_props override on merge (relationshipset.py:218-226)") {
    val e1 = edges100.withColumn("source", lit("source_a"))
    val e2 = edges100.withColumn("source", lit("source_b"))
    val t = RelSetOps.merge(
      Some(RelSetOps.merge(None, e1, nodeWorld, spec, appendProps = Some(Seq("source")))),
      e2, nodeWorld, spec, appendProps = Some(Seq("source")))
    assert(t.count() == 100)
    val r = t.collect()(0)
    assert(r.getAs[scala.collection.Seq[String]]("source") == Seq("source_a", "source_b"))
  }

  test("sumProps accumulates edge support across merges (extension)") {
    val sSpec = spec.copy(sumProps = Seq("support"))
    val e1 = Seq((1L, 1L, 3L)).toDF("start_uuid", "end_uuid", "support")
    val e2 = Seq((1L, 1L, 4L)).toDF("start_uuid", "end_uuid", "support")
    val t = RelSetOps.merge(Some(RelSetOps.merge(None, e1, nodeWorld, sSpec)), e2, nodeWorld, sSpec)
    val rows = t.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("support") == 7L)
  }

  test("double sumProps on edges add in ingest order, not arrival order") {
    // already resolved, so no endpoint join reorders the one partition
    val resolved = Seq((1e16, 2L), (-1e16, 3L), (1.0, 1L))
      .map { case (w, ord) => (1L, 1L, "TEST", w, ord) }
      .toDF(RelSetOps.SrcId, RelSetOps.DstId, RelSetOps.RelType, "w", NodeSetOps.OrdCol)
      .coalesce(1)
    val rows = RelSetOps.mergeResolved(None, resolved, spec.copy(sumProps = Seq("w"))).collect()
    assert(rows.map(_.getAs[Double]("w")).toSeq == Seq(0.0))
  }

  test("node identity survives label accumulation: edges not orphaned (stability)") {
    // create Person nodes, resolve edges, then merge an extra label onto the
    // nodes — previously the id hashed the FULL labels array, so the added
    // label silently re-identified every node and orphaned its edges
    val pSpec = NodeSpec(Seq("Person"), Seq("uuid"))
    val people = Seq(Tuple1(1L), Tuple1(2L)).toDF("uuid")
    val nodes1 = NodeSetOps.merge(None, people, pSpec)
    val eSpec = RelSpec("KNOWS", Seq("Person"), Seq("Person"),
      Seq(EqKey("uuid")), Seq(EqKey("uuid")))
    val edges = RelSetOps.merge(None,
      Seq((1L, 2L)).toDF("start_uuid", "end_uuid"), nodes1, eSpec)
    // accumulate a label AFTER edges were resolved
    val nodes2 = NodeSetOps.merge(Some(nodes1), people,
      pSpec.copy(additionalLabels = Seq("Vip")))
    assert(nodes2.collect().forall(
      _.getAs[scala.collection.Seq[String]]("labels").toSet == Set("Person", "Vip")))
    // edges must still join back to the relabeled nodes
    val ids = RelSetOps.withNodeId(nodes2, Seq("uuid"))
    val resolved = edges
      .join(ids.select(col("_node_id").as("src_id"), col("uuid").as("src_uuid")), "src_id")
      .join(ids.select(col("_node_id").as("dst_id"), col("uuid").as("dst_uuid")), "dst_id")
      .collect()
    assert(resolved.length == 1)
    assert(resolved(0).getAs[Long]("src_uuid") == 1L)
    assert(resolved(0).getAs[Long]("dst_uuid") == 2L)
  }

  test("multi merge keys on both endpoints (test_relationshipset.py:50-59)") {
    val nodes = (0 until 50).map(i => (i.toLong, i * 2L, Seq("Multi")))
      .toDF("uuid", "num", "labels")
    val mSpec = RelSpec("M", Seq("Multi"), Seq("Multi"),
      Seq(EqKey("uuid"), EqKey("num")), Seq(EqKey("uuid"), EqKey("num")))
    val e = Seq((1L, 2L, 2L, 4L)).toDF("start_uuid", "start_num", "end_uuid", "end_num")
    assert(RelSetOps.create(None, e, nodes, mSpec).count() == 1)
    // mismatched compound key → dangling → dropped
    val bad = Seq((1L, 3L, 2L, 4L)).toDF("start_uuid", "start_num", "end_uuid", "end_num")
    assert(RelSetOps.create(None, bad, nodes, mSpec).count() == 0)
  }
}
