package graft.bulk

import graft.SparkSpec
import graft.schema.NodeSpec
import org.apache.spark.sql.functions._

/** Behavioral contracts ported from the reference's test suite:
  * test/bulk/test_nodeset.py and test_nodeset_deduplication.py.
  */
class NodeSetOpsSpec extends SparkSpec {
  import spark.implicits._

  val simpleSpec = NodeSpec(labels = Seq("Test"), mergeKeys = Seq("uuid"))

  test("create twice doubles the count (blind append, test_nodeset.py:135-141)") {
    val rows = (0 until 100).map(i => (i.toLong, "value")).toDF("uuid", "key")
    val once = NodeSetOps.create(None, rows, simpleSpec)
    val twice = NodeSetOps.create(Some(once), rows, simpleSpec)
    assert(once.count() == 100)
    assert(twice.count() == 200)
  }

  test("dedup first-wins (test_nodeset_deduplication.py:40-45)") {
    val rows = Seq(
      ("alice", "ny", 1L), ("alice", "sf", 2L), ("bob", "la", 3L), ("alice", "dc", 4L)
    ).toDF("name", "city", NodeSetOps.OrdCol)
    val out = NodeSetOps.dedupFirstWins(rows, Seq("name")).collect()
    assert(out.length == 2)
    val alice = out.find(_.getString(0) == "alice").get
    assert(alice.getString(1) == "ny") // first occurrence wins
  }

  test("compound merge keys dedup (test_nodeset_deduplication.py:84-127)") {
    val rows = Seq(
      ("alice", "ny", 1, 1L), ("alice", "sf", 2, 2L), ("alice", "ny", 3, 3L)
    ).toDF("name", "city", "v", NodeSetOps.OrdCol)
    val out = NodeSetOps.dedupFirstWins(rows, Seq("name", "city")).collect()
    assert(out.length == 2)
    assert(out.find(r => r.getString(1) == "ny").get.getInt(2) == 1)
  }

  test("force bypasses dedup and does not update the index (test_nodeset_deduplication.py:156-182)") {
    val rows = Seq(
      ("alice", "first", 1L, false),
      ("alice", "forced", 2L, true),  // kept even though duplicate
      ("alice", "third", 3L, false),  // still deduped against row 1, not the forced row
      ("bob", "forced-new", 4L, true) // forced new key: kept
    ).toDF("name", "v", NodeSetOps.OrdCol, NodeSetOps.ForceCol)
    val out = NodeSetOps.dedupFirstWins(rows, Seq("name")).collect()
    assert(out.length == 3)
    assert(out.map(_.getString(1)).toSet == Set("first", "forced", "forced-new"))
  }

  test("default props: row value wins over default (test_nodeset.py:107-123)") {
    val spec = simpleSpec.copy(defaultProps = Map("key" -> "default_value", "extra" -> 7))
    val rows = Seq((1L, "explicit"), (2L, null)).toDF("uuid", "key")
    val out = NodeSetOps.create(None, rows, spec)
      .orderBy("uuid").collect()
    assert(out(0).getAs[String]("key") == "explicit")
    assert(out(1).getAs[String]("key") == "default_value")
    assert(out.forall(_.getAs[Int]("extra") == 7))
  }

  test("merge is an idempotent keyed upsert (test_nodeset.py:338-348)") {
    val rows = (0 until 100).map(i => (i.toLong, "value")).toDF("uuid", "key")
    val t1 = NodeSetOps.merge(None, rows, simpleSpec)
    val t2 = NodeSetOps.merge(Some(t1), rows, simpleSpec)
    assert(t1.count() == 100)
    assert(t2.count() == 100)
  }

  test("merge updates scalars on match, inserts new keys (test_query_utils.py:60-92)") {
    val batch1 = Seq((1L, "a", 10), (2L, "b", 20)).toDF("uuid", "key", "n")
    val batch2 = Seq((2L, "b2", 21), (3L, "c", 30)).toDF("uuid", "key", "n")
    val t = NodeSetOps.merge(Some(NodeSetOps.merge(None, batch1, simpleSpec)), batch2, simpleSpec)
    val byId = t.collect().map(r => r.getAs[Long]("uuid") -> r).toMap
    assert(byId(1L).getAs[String]("key") == "a")
    assert(byId(2L).getAs[String]("key") == "b2") // update wins on match
    assert(byId(2L).getAs[Int]("n") == 21)
    assert(byId(3L).getAs[String]("key") == "c")
  }

  test("preserve keeps the first-merged value (test_nodeset.py:260-275)") {
    val spec = simpleSpec.copy(preserve = Seq("key"))
    val b1 = Seq((1L, "original")).toDF("uuid", "key")
    val b2 = Seq((1L, "changed")).toDF("uuid", "key")
    val t = NodeSetOps.merge(Some(NodeSetOps.merge(None, b1, spec)), b2, spec)
    assert(t.collect()(0).getAs[String]("key") == "original")
  }

  test("append_props accumulates across merges (test_nodeset.py:277-293)") {
    val spec = simpleSpec.copy(appendProps = Seq("key"))
    val b1 = Seq((1L, "value")).toDF("uuid", "key")
    val b2 = Seq((1L, "other_value")).toDF("uuid", "key")
    val t = NodeSetOps.merge(Some(NodeSetOps.merge(None, b1, spec)), b2, spec)
    val got = t.collect()(0).getAs[scala.collection.Seq[String]]("key")
    assert(got == Seq("value", "other_value"))
  }

  test("preserve beats append (test_nodeset.py:318-336)") {
    val spec = simpleSpec.copy(preserve = Seq("key"), appendProps = Seq("key"))
    val b1 = Seq((1L, "value")).toDF("uuid", "key")
    val b2 = Seq((1L, "other_value")).toDF("uuid", "key")
    val t = NodeSetOps.merge(Some(NodeSetOps.merge(None, b1, spec)), b2, spec)
    val got = t.collect()(0).getAs[scala.collection.Seq[String]]("key")
    assert(got == Seq("value"))
  }

  test("preserve beats append within one batch (nodeset.py:294-298)") {
    val spec = simpleSpec.copy(preserve = Seq("key"), appendProps = Seq("key"))
    val rows = Seq((1L, "value", 1L), (1L, "other_value", 2L)).toDF("uuid", "key", NodeSetOps.OrdCol)
    val got = NodeSetOps.merge(None, rows, spec).collect()(0).getAs[scala.collection.Seq[String]]("key")
    assert(got == Seq("value"))
  }

  test("labels accumulate across merges of different specs (test_nodeset.py:358-373)") {
    val specA = NodeSpec(labels = Seq("Test"), mergeKeys = Seq("uuid"), additionalLabels = Seq("Foo"))
    val specB = NodeSpec(labels = Seq("Test"), mergeKeys = Seq("uuid"), additionalLabels = Seq("Bar"))
    val rows = Seq(Tuple1(1L)).toDF("uuid")
    val t = NodeSetOps.merge(Some(NodeSetOps.merge(None, rows, specA)), rows, specB)
    val labels = t.collect()(0).getAs[scala.collection.Seq[String]]("labels").toSet
    assert(labels == Set("Test", "Foo", "Bar"))
  }

  test("per-call preserve override replaces the spec config (nodeset.py:186-196)") {
    // spec has NO preserve; the second merge call passes it as a kwarg
    val b1 = Seq((1L, "original")).toDF("uuid", "key")
    val b2 = Seq((1L, "changed")).toDF("uuid", "key")
    val t = NodeSetOps.merge(Some(NodeSetOps.merge(None, b1, simpleSpec)), b2, simpleSpec,
      preserve = Some(Seq("key")))
    assert(t.collect()(0).getAs[String]("key") == "original")
    // and WITHOUT the kwarg the same merge updates (call-scoped, not sticky)
    val t2 = NodeSetOps.merge(Some(NodeSetOps.merge(None, b1, simpleSpec)), b2, simpleSpec)
    assert(t2.collect()(0).getAs[String]("key") == "changed")
  }

  test("per-call append_props override (nodeset.py:190-192)") {
    val b1 = Seq((1L, "value")).toDF("uuid", "key")
    val b2 = Seq((1L, "other_value")).toDF("uuid", "key")
    // first merge stamps arrays only when the call says key is appendable
    val t1 = NodeSetOps.merge(None, b1, simpleSpec, appendProps = Some(Seq("key")))
    val t = NodeSetOps.merge(Some(t1), b2, simpleSpec, appendProps = Some(Seq("key")))
    val got = t.collect()(0).getAs[scala.collection.Seq[String]]("key")
    assert(got == Seq("value", "other_value"))
  }

  test("per-call merge_properties: merge on a different key subset (nodeset.py:195-196)") {
    val b1 = Seq((1L, "a", 10), (2L, "b", 20)).toDF("uuid", "key", "n")
    val t1 = NodeSetOps.merge(None, b1, simpleSpec)
    // merge ON key (not uuid): matches the key='a' row and updates it
    val b2 = Seq((99L, "a", 11)).toDF("uuid", "key", "n")
    val t = NodeSetOps.merge(Some(t1), b2, simpleSpec, mergeProperties = Some(Seq("key")))
    assert(t.count() == 2)
    val byKey = t.collect().map(r => r.getAs[String]("key") -> r).toMap
    assert(byKey("a").getAs[Int]("n") == 11)
    assert(byKey("a").getAs[Long]("uuid") == 99L) // ON MATCH SET n += props
    assert(byKey("b").getAs[Int]("n") == 20)
  }

  test("sumProps accumulates numerics by addition on match (extension)") {
    val spec = simpleSpec.copy(sumProps = Seq("cnt"))
    val b1 = Seq((1L, 10L), (2L, 5L)).toDF("uuid", "cnt")
    val b2 = Seq((1L, 7L), (3L, 1L)).toDF("uuid", "cnt")
    val t = NodeSetOps.merge(Some(NodeSetOps.merge(None, b1, spec)), b2, spec)
    val byId = t.collect().map(r => r.getAs[Long]("uuid") -> r.getAs[Long]("cnt")).toMap
    assert(byId == Map(1L -> 17L, 2L -> 5L, 3L -> 1L))
  }

  test("sumProps sums duplicate keys within one batch too") {
    val spec = simpleSpec.copy(sumProps = Seq("cnt"))
    val rows = Seq((1L, 10L, 1L), (1L, 3L, 2L)).toDF("uuid", "cnt", NodeSetOps.OrdCol)
    val t = NodeSetOps.merge(None, rows, spec)
    assert(t.collect()(0).getAs[Long]("cnt") == 13L)
  }

  test("double sumProps add in ingest order, not arrival order; all-null sums to null") {
    val spec = simpleSpec.copy(sumProps = Seq("w"))
    // one partition, arrival order 1e16, -1e16, 1.0 (sum 1.0); ingest order
    // 1.0, 1e16, -1e16 loses the 1.0 to rounding (sum 0.0)
    val rows = Seq((1L, Option(1e16), 2L), (1L, Option(-1e16), 3L), (1L, Option(1.0), 1L),
        (2L, Option.empty[Double], 4L))
      .toDF("uuid", "w", NodeSetOps.OrdCol).coalesce(1)
    val byId = NodeSetOps.merge(None, rows, spec).collect()
      .map(r => r.getAs[Long]("uuid") -> Option(r.getAs[java.lang.Double]("w"))).toMap
    assert(byId == Map(1L -> Some(0.0), 2L -> None))
  }

  test("intra-batch duplicate keys: last scalar wins, appends accumulate in order") {
    val spec = simpleSpec.copy(appendProps = Seq("src"))
    val rows = Seq((1L, "v1", "s1", 1L), (1L, "v2", "s2", 2L))
      .toDF("uuid", "key", "src", NodeSetOps.OrdCol)
    val t = NodeSetOps.merge(None, rows, spec).collect()(0)
    assert(t.getAs[String]("key") == "v2")
    assert(t.getAs[scala.collection.Seq[String]]("src") == Seq("s1", "s2"))
  }
}
