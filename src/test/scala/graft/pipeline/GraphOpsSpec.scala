package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Graph-analytics operators over the constructed KG edge table. */
class GraphOpsSpec extends SparkTestBase {

  private def edges(rows: Seq[(String, String)]) = {
    import spark.implicits._
    rows.toDF("src_iri", "dst_iri").withColumn("is_literal", lit(false))
  }

  test("degrees: per-node in/out entity-edge counts, multiplicity kept") {
    val e = edges(Seq(("a", "b"), ("a", "b"), ("a", "c"), ("b", "c")))
    val got = Graph.degrees(e).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("a" -> ((3L, 0L)), "b" -> ((1L, 2L)), "c" -> ((0L, 2L))))
  }

  test("components: min-IRI labels; direction ignored; singleton self-loop") {
    // two components: {a,b,c,d} (mixed directions) and {x,y}; z self-loop
    val e = edges(Seq(("b", "a"), ("b", "c"), ("d", "c"), ("x", "y"), ("z", "z")))
    val got = Graph.components(Graph.entityEdges(e)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "z"), got)
  }

  test("components: driver tier == distributed tier (size-tier identity)") {
    val e = edges(Seq(("b", "a"), ("b", "c"), ("d", "c"), ("x", "y")))
    val driver = Graph.components(Graph.entityEdges(e)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // force the distributed min-label tier through the same wrapper by
    // dropping the pair limit to zero
    def fp(c: org.apache.spark.sql.Column) = graft.ops.Dedup.md5Long(c)
    val ed = Graph.entityEdges(e)
    val cc = graft.ops.Dedup.connectedComponents(
      ed.select(fp(col("src_iri")).as("id1"), fp(col("dst_iri")).as("id2")),
      driverPairLimit = 0L)
    val nodes = ed.select(col("src_iri").as("iri"))
      .unionByName(ed.select(col("dst_iri").as("iri"))).distinct()
    val labeled = nodes.withColumn("id", fp(col("iri")))
      .join(cc, Seq("id")).select(col("iri"), col("cluster"))
    val dist = labeled.join(
        labeled.groupBy(col("cluster")).agg(min(col("iri")).as("component")),
        Seq("cluster"))
      .select(col("iri"), col("component")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(driver == dist)
  }

  test("two-hop neighborhoods: min hop per (seed, node)") {
    import spark.implicits._
    val e = edges(Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")))
    val seeds = Seq("a").toDF("iri")
    val got = Graph.twoHopNeighbors(Graph.entityEdges(e), seeds).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    // c is reachable at hop 1 (a->c) AND hop 2 (a->b->c): min = 1
    assert(got == Map(("a", "b") -> 1, ("a", "c") -> 1, ("a", "d") -> 2))
  }

  test("bgp: constants filter, shared variables join, literals match in object position") {
    import spark.implicits._
    val e = Seq(
      ("alice", "worksfor", "acme", null.asInstanceOf[String], false),
      ("alice", "birthplac", "lyon", null.asInstanceOf[String], false),
      ("bob", "worksfor", "acme", null.asInstanceOf[String], false),
      ("alice", "birthdat", null.asInstanceOf[String], "1990-01-02", true))
      .toDF("src_iri", "pred", "dst_iri", "obj_literal", "is_literal")
    // conjunction on ?p: only alice has both patterns
    val got = Graph.bgp(e, Seq(("?p", "worksfor", "?org"), ("?p", "birthplac", "?city")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("alice", "acme", "lyon")))
    // literal object position is queryable
    val lit = Graph.bgp(e, Seq(("alice", "birthdat", "?d")))
      .collect().map(_.getString(0)).toSet
    assert(lit == Set("1990-01-02"))
    // constant object filters
    val who = Graph.bgp(e, Seq(("?p", "worksfor", "acme")))
      .collect().map(_.getString(0)).toSet
    assert(who == Set("alice", "bob"))
    intercept[IllegalArgumentException] {
      Graph.bgp(e, Seq(("?x", "worksfor", "?x")))
    }
  }

  test("bgp output is duplicate-free without a trailing distinct; zero-var patterns collapse") {
    import spark.implicits._
    // duplicate edge rows (same s,p,o stated twice) + a hub person with
    // several orgs AND several cities — the fan-in shape whose join
    // would amplify any per-pattern duplicate
    val e = Seq(
      ("ann", "worksfor", "acme"), ("ann", "worksfor", "acme"),
      ("ann", "worksfor", "zen"), ("ann", "birthplac", "lyon"),
      ("ann", "birthplac", "oslo"), ("ann", "birthplac", "oslo"),
      ("bob", "worksfor", "acme"), ("bob", "birthplac", "lyon"))
      .map { case (s, p, o) => (s, p, o, null.asInstanceOf[String], false) }
      .toDF("src_iri", "pred", "dst_iri", "obj_literal", "is_literal")
    val pats = Seq(("?p", "worksfor", "?org"), ("?p", "birthplac", "?city"))
    val rows = Graph.bgp(e, pats).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // exactly the distinct conjunctions, each ONCE (no trailing distinct
    // needed: per-pattern distinct survives the equi-join)
    assert(rows.length == rows.distinct.length, s"duplicates in ${rows.toSeq}")
    assert(rows.toSet == Set(
      ("ann", "acme", "lyon"), ("ann", "acme", "oslo"),
      ("ann", "zen", "lyon"), ("ann", "zen", "oslo"),
      ("bob", "acme", "lyon")))
    // zero-variable (ASK-style) pattern: many matching base rows must
    // still collapse to a single empty-tuple row (the one shape that
    // keeps the trailing distinct)
    assert(Graph.bgp(e, Seq(("ann", "worksfor", "acme"))).count() == 1L)
  }

  test("pageRank: sink-heavy node ranks highest; deterministic re-run") {
    // star into "hub": everyone links to hub, hub links to one spoke
    val e = edges(Seq(("s1", "hub"), ("s2", "hub"), ("s3", "hub"), ("hub", "s1")))
    val pr = Graph.pageRank(Graph.entityEdges(e)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr("hub") > pr("s1") && pr("s1") > pr("s2"))
    assert(pr("s2") == pr("s3")) // symmetric spokes tie exactly
    assert(pr.values.forall(v => v > 0 && v < 1))
    val again = Graph.pageRank(Graph.entityEdges(e)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(again == pr)
  }

  test("triangleCounts: each triangle counted once per corner; stars are triangle-free") {
    // K4 on {a,b,c,d} minus edge (c,d): triangles abc and abd only.
    // Direction and duplicate edges must not matter (undirected distinct).
    val e = edges(Seq(("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"),
      ("d", "a"), ("b", "d"),
      // plus a triangle-free star around z
      ("z", "s1"), ("z", "s2"), ("z", "s3")))
    val got = Graph.triangleCounts(Graph.entityEdges(e)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L), got.toString)
  }

  test("triangleCounts: driver tier == distributed degree-ordered tier") {
    // hub-skewed topology: hub h touches every spoke (Zipfian shape),
    // spokes close some triangles among themselves, plus a separate K4
    val spokes = (1 to 12).map(i => s"s$i")
    val hubEdges = spokes.map(s => ("h", s))
    val spokeRing = spokes.zip(spokes.tail ++ Seq(spokes.head)) // closes 12 h-triangles
    val k4 = Seq(("k1", "k2"), ("k1", "k3"), ("k1", "k4"),
      ("k2", "k3"), ("k2", "k4"), ("k3", "k4"))
    val e = edges(hubEdges ++ spokeRing ++ k4)
    val driver = Graph.triangleCounts(Graph.entityEdges(e)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // driverEdgeLimit = 0 forces the distributed (degree, iri)-ordered plan
    val dist = Graph.triangleCounts(Graph.entityEdges(e), driverEdgeLimit = 0L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(driver == dist, s"driver=$driver dist=$dist")
    // spot-check exact counts: hub sits in all 12 ring triangles;
    // each K4 vertex is in C(3,2)=3 triangles
    assert(driver("h") == 12L && driver("k1") == 3L && driver("s1") == 2L)
  }

  test("pageRank: driver tier == distributed tier (size-tier identity)") {
    // mixed topology: hub, chain, cycle, dangling sink
    val e = edges(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a"), ("d", "b"), ("c", "e"), ("e", "f")))
    val driver = Graph.pageRank(Graph.entityEdges(e)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // driverEdgeLimit = 0 forces the distributed chained-shuffle plan
    val dist = Graph.pageRank(Graph.entityEdges(e), driverEdgeLimit = 0L).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(driver == dist, s"driver=$driver dist=$dist")
  }
}
