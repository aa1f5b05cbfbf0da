package graft.ogm

import graft.SparkSpec
import graft.bulk.RelSetOps
import graft.schema._
import org.apache.spark.sql.functions._

// top-level: Spark encoders cannot instantiate inner classes
final case class PersonRow(name: String, age: Int, city: String)
final case class WrongRow(name: String, salary: Double)

/** OGM read-path contracts (reference: test/ogm/test_model.py). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  // Person(name, age, city) + KNOWS edges, mirroring the reference fixtures
  def people = Seq(
    ("alice", 30, "ny"), ("bob", 40, "sf"), ("carol", 25, "ny"), ("dave", 35, "la")
  ).toDF("name", "age", "city")
    .withColumn("labels", array(lit("Person")))

  def graph: Graph = {
    val spec = RelSpec("KNOWS", Seq("Person"), Seq("Person"),
      Seq(EqKey("name")), Seq(EqKey("name")))
    val staged = Seq(
      ("alice", "bob", 90), ("alice", "carol", 50), ("bob", "dave", 70)
    ).toDF("start_name", "end_name", "score")
    Graph(people, RelSetOps.merge(None, staged, people, spec))
  }

  test("filter-op matrix on node scan (test_model.py:781-1257)") {
    val g = graph
    assert(g.matchNodes(Seq("Person"), FieldFilter("age", FilterOp.Gt, 30)).count() == 2)
    assert(g.matchNodes(Seq("Person"), FieldFilter("age", FilterOp.Ge, 30)).count() == 3)
    assert(g.matchNodes(Seq("Person"), FieldFilter("age", FilterOp.Ne, 30)).count() == 3)
    assert(g.matchNodes(Seq("Person"), FieldFilter("name", FilterOp.StartsWith, "a")).count() == 1)
    assert(g.matchNodes(Seq("Person"), FieldFilter("name", FilterOp.EndsWith, "e")).count() == 2)
    assert(g.matchNodes(Seq("Person"), FieldFilter("name", FilterOp.Contains, "aro")).count() == 1)
    assert(g.matchNodes(Seq("Person"),
      FieldFilter("city", FilterOp.Eq, "ny"), FieldFilter("age", FilterOp.Lt, 28)).count() == 1)
  }

  test("firstNode returns at most one row (LIMIT 1, model.py:437-438)") {
    assert(graph.firstNode(Seq("Person")).count() == 1)
  }

  test("reachable: k-hop BFS from a filtered anchor, hops joined to node rows") {
    val g = graph // alice -KNOWS-> bob, carol; bob -KNOWS-> dave
    val out = g.reachable(Seq("Person"), Seq("name"), maxHops = 2,
        FieldFilter("name", FilterOp.Eq, "alice"))
      .select("name", "hops").as[(String, Int)].collect().toMap
    assert(out === Map("alice" -> 0, "bob" -> 1, "carol" -> 1, "dave" -> 2))
    val oneHop = g.reachable(Seq("Person"), Seq("name"), maxHops = 1,
        FieldFilter("name", FilterOp.Eq, "alice"))
      .select("name", "hops").as[(String, Int)].collect().toMap
    assert(oneHop === Map("alice" -> 0, "bob" -> 1, "carol" -> 1))
    val rev = g.reachable(Seq("Person"), Seq("name"), maxHops = 2, None, reverse = true,
        FieldFilter("name", FilterOp.Eq, "dave"))
      .select("name", "hops").as[(String, Int)].collect().toMap
    assert(rev === Map("dave" -> 0, "bob" -> 1, "alice" -> 2))
  }

  test("triangleCounts over the edge table: closing edge completes one triangle") {
    // alice-bob, alice-carol, bob-dave: no triangle; add carol->bob to close one
    val spec = RelSpec("KNOWS", Seq("Person"), Seq("Person"),
      Seq(EqKey("name")), Seq(EqKey("name")))
    val staged = Seq(
      ("alice", "bob", 90), ("alice", "carol", 50), ("bob", "dave", 70),
      ("carol", "bob", 10)
    ).toDF("start_name", "end_name", "score")
    val g = Graph(people, RelSetOps.merge(None, staged, people, spec))
    assert(graph.triangleCounts(Seq("name")).count() === 0)
    val tri = g.triangleCounts(Seq("name"))
      .select("name", "n_triangles").as[(String, Long)].collect().toMap
    assert(tri === Map("alice" -> 1L, "bob" -> 1L, "carol" -> 1L))
  }

  test("analytics faces: degrees, pageRank, kCore join back to node rows") {
    val g = graph // alice→bob, alice→carol, bob→dave
    val deg = g.degrees(Seq("name"))
      .select("name", "out_deg", "in_deg").as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(deg("alice") == ((2L, 0L)) && deg("bob") == ((1L, 1L)) && deg("dave") == ((0L, 1L)))
    val pr = g.pageRank(Seq("name"), iters = 3)
      .select("name", "pagerank").as[(String, Double)].collect().toMap
    assert(pr.size == 4 && pr("dave") > pr("alice")) // sink accumulates rank
    // 1-core of the undirected view = every connected node; 2-core empty (tree)
    assert(g.kCore(Seq("name"), 1).count() == 4)
    assert(g.kCore(Seq("name"), 2).count() == 0)
  }

  test("analytics face: shortestPaths joins hop-bounded distances to node rows") {
    val g = graph // alice→bob, alice→carol, bob→dave
    val d = g.shortestPaths(Seq("Person"), Seq("name"), iters = 2,
        filters = FieldFilter("name", FilterOp.Eq, "alice"))
      .select("name", "dist").as[(String, Long)].collect().toMap
    assert(d === Map("alice" -> 0L, "bob" -> 1L, "carol" -> 1L, "dave" -> 2L))
    // 1 round cannot reach dave (2 edges away)
    val d1 = g.shortestPaths(Seq("Person"), Seq("name"), iters = 1,
        filters = FieldFilter("name", FilterOp.Eq, "alice"))
      .select("name", "dist").as[(String, Long)].collect().toMap
    assert(!d1.contains("dave") && d1("bob") == 1L)
  }

  test("analytics faces: clusteringCoefficients + harmonicCentrality join to node rows") {
    val spec = RelSpec("KNOWS", Seq("Person"), Seq("Person"),
      Seq(EqKey("name")), Seq(EqKey("name")))
    val staged = Seq( // triangle alice-bob-carol + pendant dave on carol
      ("alice", "bob", 1), ("bob", "carol", 1), ("alice", "carol", 1),
      ("carol", "dave", 1)
    ).toDF("start_name", "end_name", "score")
    val g = Graph(people, RelSetOps.merge(None, staged, people, spec))
    val cc = g.clusteringCoefficients(Seq("name"))
      .select("name", "clustering").as[(String, Double)].collect().toMap
    assert(cc("alice") === 1.0 && cc("bob") === 1.0)
    assert(cc("carol") === 1.0 / 3.0 && cc("dave") === 0.0) // 2*1/(3*2); deg 1
    // directed edges: landmark alice reaches bob/carol at 1, dave at 2
    val h = g.harmonicCentrality(Seq("Person"), Seq("name"), maxHops = 2, None,
        FieldFilter("name", FilterOp.Eq, "alice"))
      .select("name", "harmonic").as[(String, Double)].collect().toMap
    assert(h === Map("bob" -> 1.0, "carol" -> 1.0, "dave" -> 0.5))
  }

  test("analytics face: linkPredictions scores source pairs sharing rare targets") {
    val spec = RelSpec("KNOWS", Seq("Person"), Seq("Person"),
      Seq(EqKey("name")), Seq(EqKey("name")))
    val staged = Seq( // carol is targeted by alice AND bob; dave by alice only
      ("alice", "carol", 1), ("bob", "carol", 1), ("alice", "dave", 1)
    ).toDF("start_name", "end_name", "score")
    val g = Graph(people, RelSetOps.merge(None, staged, people, spec))
    val out = g.linkPredictions(Seq("name"))
      .as[(String, String, Long, Double)].collect().toList
    assert(out.size === 1)
    val (a, b, common, s) = out.head
    assert(Set(a, b) === Set("alice", "bob") && common === 1L)
    assert(math.abs(s - 1.0 / math.log(2.0)) < 1e-12) // deg(carol) = 2
  }

  test("analytics faces: hits, personalized + weighted pageRank join back to node rows") {
    val g = graph // alice→bob(90), alice→carol(50), bob→dave(70)
    val ha = g.hits(Seq("name"), iters = 2)
      .select("name", "hub", "auth").as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(ha.size == 4)
    assert(ha("alice")._1 > ha("dave")._1) // alice is the hub, dave points nowhere
    assert(ha("bob")._2 > ha("alice")._2)  // bob is pointed at; alice is not
    // personalized: restart at dave → rank concentrates on dave, alice gets 0
    val ppr = g.pageRankPersonalized(Seq("Person"), Seq("name"), iters = 3,
        filters = FieldFilter("name", FilterOp.Eq, "dave"))
      .select("name", "pagerank").as[(String, Double)].collect().toMap
    assert(ppr.size == 4 && ppr("dave") > ppr("bob") && ppr("alice") == 0.0)
    // weighted: boost alice→carol (score 50 vs 90) — with weight=score,
    // bob gets 90/140 of alice's outflow vs 1/2 uniform, so bob's rank rises
    val uni = g.pageRank(Seq("name"), iters = 3)
      .select("name", "pagerank").as[(String, Double)].collect().toMap
    val wtd = g.pageRankWeighted(Seq("name"), iters = 3, weightProp = "score")
      .select("name", "pagerank").as[(String, Double)].collect().toMap
    assert(wtd.size == 4 && wtd("bob") > uni("bob") && wtd("carol") < uni("carol"))
  }

  test("1-hop traversal with source anchor + rel filter (test_model.py:583-665)") {
    val g = graph
    val out = g.traverse(
      Seq("Person"), Seq("name"), "KNOWS", Seq("Person"), Seq("name"),
      srcFilters = Seq(FieldFilter("name", FilterOp.Eq, "alice")),
      relFilters = Seq(FieldFilter("score", FilterOp.Gt, 60)))
    assert(out.select("name").as[String].collect().toSeq == Seq("bob"))
  }

  test("reverse traversal returns sources anchored on target (test_model.py:1670-1829)") {
    val g = graph
    val out = g.traverse(
      Seq("Person"), Seq("name"), "KNOWS", Seq("Person"), Seq("name"),
      dstFilters = Seq(FieldFilter("name", FilterOp.Eq, "dave")),
      reverse = true)
    assert(out.select("name").as[String].collect().toSeq == Seq("bob"))
  }

  test("traversal RETURN DISTINCT collapses multi-path targets (model.py:518)") {
    val spec = RelSpec("KNOWS", Seq("Person"), Seq("Person"),
      Seq(EqKey("name")), Seq(EqKey("name")))
    // two parallel edges alice→bob of different type would be distinct ids;
    // same type merges — so build two sources pointing at bob instead
    val staged = Seq(("alice", "bob", 1), ("carol", "bob", 2)).toDF("start_name", "end_name", "w")
    val g = Graph(people, RelSetOps.merge(None, staged, people, spec))
    val out = g.traverse(Seq("Person"), Seq("name"), "KNOWS", Seq("Person"), Seq("name"))
    assert(out.count() == 1) // bob once, despite two in-edges
  }

  test("multi-hop traversal chains joins (extension; reference raises at >2 steps)") {
    val g = graph // alice→bob(90), alice→carol(50), bob→dave(70)
    val twoHop = g.traverseChain(
      Seq("Person"), Seq("name"),
      hops = Seq(("KNOWS", false, Nil), ("KNOWS", false, Nil)),
      anchorFilters = Seq(FieldFilter("name", FilterOp.Eq, "alice")))
    assert(twoHop.select("name").as[String].collect().toSeq == Seq("dave"))
    // reverse second hop: alice → {bob,carol} → (who also points at them?) —
    // bob is reached by alice only; carol by alice only ⇒ {alice}
    val backHop = g.traverseChain(
      Seq("Person"), Seq("name"),
      hops = Seq(("KNOWS", false, Nil), ("KNOWS", true, Nil)),
      anchorFilters = Seq(FieldFilter("name", FilterOp.Eq, "alice")))
    assert(backHop.select("name").as[String].collect().toSeq == Seq("alice"))
    // rel filter on the first hop prunes the chain
    val filtered = g.traverseChain(
      Seq("Person"), Seq("name"),
      hops = Seq(("KNOWS", false, Seq(FieldFilter("score", FilterOp.Lt, 60))), ("KNOWS", false, Nil)),
      anchorFilters = Seq(FieldFilter("name", FilterOp.Eq, "alice")))
    assert(filtered.count() == 0) // only alice→carol(50) survives; carol has no out-edges
  }

  test("detach delete removes nodes and their edges (test_model.py:233-249)") {
    val g = graph
    val g2 = g.detachDeleteNodes(Seq("Person"), Seq("name"),
      FieldFilter("name", FilterOp.Eq, "bob"))
    assert(g2.nodes.count() == 3)
    // alice→bob and bob→dave must both be gone
    assert(g2.edges.count() == 1)
  }

  test("targeted edge delete (test_model.py:461-581)") {
    val g = graph
    val g2 = g.deleteEdges("KNOWS",
      Seq(FieldFilter("name", FilterOp.Eq, "alice")),
      Seq(FieldFilter("name", FilterOp.Eq, "carol")), Seq("name"))
    assert(g2.edges.count() == 2)
    assert(g2.nodes.count() == 4) // nodes untouched
  }

  test("raw SQL escape hatch enforces node-shaped result (model.py:543-546)") {
    val g = graph
    val out = g.rawQuery("SELECT name, age FROM nodes WHERE age > 30 ORDER BY name", Seq("name"))
    assert(out.select("name").as[String].collect().toSeq == Seq("bob", "dave"))
    intercept[IllegalArgumentException] {
      g.rawQuery("SELECT age FROM nodes", Seq("name"))
    }
  }

  test("parameterized raw query binds named args (model.py:16-22)") {
    val g = graph
    val out = g.rawQuery(
      "SELECT name, age FROM nodes WHERE city = :city AND age >= :minAge ORDER BY name",
      Seq("name"), Map("city" -> "ny", "minAge" -> 30))
    assert(out.select("name").as[String].collect().toSeq == Seq("alice"))
  }

  test("parameterized raw query is injection-safe (test_error_handling.py:233-264)") {
    val g = graph
    // the value stays a literal — it must match nothing, not break out of
    // the predicate and return every row
    val hostile = "' OR '1'='1"
    val out = g.rawQuery("SELECT name FROM nodes WHERE city = :city",
      Seq("name"), Map("city" -> hostile))
    assert(out.count() == 0)
  }

  test("two live Graphs raw-query concurrently without view shadowing") {
    val g1 = graph // 4 people
    val g2 = Graph(people.filter(col("city") === "ny"), spark.emptyDataFrame)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // each future analyzes against ITS graph's tables; interleaved calls on
    // the shared session must never read the other graph's view
    val runs = (1 to 8).map { i =>
      Future {
        if (i % 2 == 0) g1.rawQuery("SELECT name FROM nodes", Seq("name")).count()
        else g2.rawQuery("SELECT name FROM nodes", Seq("name")).count()
      }
    }
    val counts = Await.result(Future.sequence(runs), 60.seconds)
    assert(counts.zipWithIndex.forall { case (n, idx) =>
      n == (if ((idx + 1) % 2 == 0) 4L else 2L) }, counts.toString)
    // views do not leak past the call
    assert(!spark.catalog.tableExists("nodes"))
  }

  test("rawQuery leaves the caller's persisted node/edge tables cached") {
    import org.apache.spark.storage.StorageLevel
    val g0 = graph
    val g = Graph(g0.nodes.persist(StorageLevel.MEMORY_AND_DISK),
      g0.edges.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      g.nodes.count(); g.edges.count()
      assert(g.rawQuery("SELECT name FROM nodes", Seq("name")).count() == 4)
      // dropping the contract views must not uncache the tables behind them
      assert(g.nodes.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(g.edges.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(!spark.catalog.tableExists("nodes") && !spark.catalog.tableExists("edges"))
    } finally g.release()
  }

  test("typed read path rehydrates Dataset[T] (model.py:450-451,531-532)") {
    val g = graph
    val ds = g.matchNodesAs[PersonRow](Seq("Person"),
      filters = Seq(FieldFilter("city", FilterOp.Eq, "ny")))
    val got = ds.collect().sortBy(_.name)
    assert(got.toSeq == Seq(PersonRow("alice", 30, "ny"), PersonRow("carol", 25, "ny")))
  }

  test("typed read: constraint violation raises at materialization (model.py:641-664)") {
    val g = graph
    // all rows satisfy age >= 18 → fine
    val ok = g.matchNodesAs[PersonRow](Seq("Person"),
      constraints = Seq(FieldFilter("age", FilterOp.Ge, 18)))
    assert(ok.count() == 4)
    // carol (25) violates age >= 28 → the read itself fails
    val bad = g.matchNodesAs[PersonRow](Seq("Person"),
      constraints = Seq(FieldFilter("age", FilterOp.Ge, 28)))
    val ex = intercept[Exception] { bad.collect() }
    assert(ex.getMessage != null)
    // missing model field fails fast at plan time
    intercept[IllegalArgumentException] {
      g.matchNodesAs[WrongRow](Seq("Person"))
    }
  }

  test("analytics faces: scc, condensation levels, and random walks in id space") {
    val g = graph // alice→bob, alice→carol, bob→dave: a DAG → all singletons
    val comp = g.scc(Seq("name"))
    assert(comp.count() === 4)
    // a DAG has only singleton SCCs: every node gets its own component
    assert(comp.select("scc_id").distinct().count() === 4)
    val lv = g.condensationLevels()
      .select("level", "n_members").as[(Int, Long)].collect()
    assert(lv.length === 4 && lv.forall(_._2 === 1L))
    assert(lv.map(_._1).sorted.toSeq === Seq(0, 1, 1, 2)) // alice→bob→dave chain
    val walks = g.randomWalks(walkLen = 3, seed = 1)
    // every walk starts at step 0 from each of the 4 nodes
    assert(walks.filter(col("step") === 0).count() === 4)
  }
}
