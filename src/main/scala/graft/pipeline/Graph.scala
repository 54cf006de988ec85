package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Graph analytics over the built edge table: degrees, components,
  * k-hop neighbourhoods, PageRank, triangles and basic graph patterns.
  * The node/edge tables themselves are built by
  * `Pipeline.graphFromTriples`. */
object Graph {

  /** Degree centrality over the edge table: per-node in/out ENTITY-edge
    * counts (literal edges excluded; multiplicity kept — one count per
    * edge row). Two hash aggregations + a node-keyed outer join — every
    * shape vocabulary-or-edge-sized. */
  def degrees(edges: DataFrame): DataFrame = {
    val e = edges.filter(!col("is_literal"))
    val out = e.groupBy(col("src_iri").as("iri")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst_iri").as("iri")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("iri"), "full_outer")
      .select(col("iri"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** The DISTINCT directed entity-edge view (src_iri, dst_iri) that
    * `components`, `twoHopNeighbors`, `pageRank` and `triangleCounts`
    * take as input. Callers running several graph queries materialize
    * it once (parquet/checkpoint): re-deduplicating an O(corpus) edge
    * table per query is a repeated shuffle that dominates at scale. */
  def entityEdges(edges: DataFrame): DataFrame =
    edges.filter(!col("is_literal"))
      .select(col("src_iri"), col("dst_iri")).distinct()

  /** Weakly-connected components of the entity graph `e` (`entityEdges`
    * output): (iri, component) for every vertex, component = the
    * lexicographic MIN IRI of its component — a meaning-carrying
    * canonical label.
    *
    * IRIs ride the verified md5→60-bit fingerprint through
    * Dedup.connectedComponents, inheriting its size tier: exact driver
    * union-find under the pair limit (the iterative-small-data job-
    * overhead lesson), convergence-checked min-label propagation above
    * it. The fingerprint never reaches the result — labels are
    * re-expressed as min(iri) per component, so the independent oracle
    * re-derives the same partition directly on the strings. A 60-bit
    * collision (P ≈ n²/2^61; production would mint dense ids by rank)
    * would merge two vertices and surface as an oracle hash mismatch,
    * never silently. Vertex- and edge-sized shuffles throughout; the
    * labeled view is recomputed once per branch (cheap narrow join). */
  def components(e: DataFrame): DataFrame = {
    val cc = Dedup.connectedComponents(
      e.select(Dedup.md5Long(col("src_iri")).as("id1"),
        Dedup.md5Long(col("dst_iri")).as("id2")))
    val nodes = e.select(col("src_iri").as("iri"))
      .unionByName(e.select(col("dst_iri").as("iri"))).distinct()
    val labeled = nodes.withColumn("id", Dedup.md5Long(col("iri")))
      .join(cc, Seq("id")).select(col("iri"), col("cluster"))
    labeled.join(
        labeled.groupBy(col("cluster")).agg(min(col("iri")).as("component")),
        Seq("cluster"))
      .select(col("iri"), col("component"))
  }

  /** Two-hop directed neighborhoods of the seed IRIs over the entity
    * graph `e` (`entityEdges` output): (seed, iri, hop) with
    * hop = min(1, 2). Two
    * equi-joins — the standard k-hop expansion; seeds are few, so the
    * frontier side stays tiny and broadcastable by AQE. */
  def twoHopNeighbors(e: DataFrame, seeds: DataFrame): DataFrame = {
    val h1 = seeds.select(col("iri").as("seed"))
      .join(e, col("seed") === col("src_iri"))
      .select(col("seed"), col("dst_iri").as("iri")).distinct()
      .withColumn("hop", lit(1))
    val h2 = h1.select(col("seed"), col("iri").as("src_iri"))
      .join(e, Seq("src_iri"))
      .select(col("seed"), col("dst_iri").as("iri")).distinct()
      .withColumn("hop", lit(2))
    h1.unionByName(h2).groupBy(col("seed"), col("iri"))
      .agg(min(col("hop")).as("hop"))
  }

  /** Fixed-iteration PageRank over the entity graph `edges`
    * (`entityEdges` output; damping d, no dangling redistribution — mass from sink nodes
    * decays, the common simplified variant; both the engine and the
    * DuckDB oracle implement exactly this formula):
    *   pr_0 = 1/N;  pr_{i+1}(v) = (1-d)/N + d·Σ_{u→v} pr_i(u)/outdeg(u)
    *
    * FIXED iterations mean NO action per iteration: the whole recursion
    * is one lazy plan (iters chained shuffle stages in a single job) —
    * the per-iteration-job-overhead trap (see connectedComponents) never
    * fires. The edge+degree table and node list are persisted since the
    * plan references them once per iteration. Returns (iri, pagerank)
    * rounded to 6.
    *
    * SIZE-TIERED like connectedComponents (VERDICT r03 "What's wrong"
    * #2): the distributed chain is the right 100-TB plan, but on a
    * vocabulary-sized graph its 5 chained shuffle stages pay ~2-3 s of
    * fixed Spark overhead each — so under `driverEdgeLimit` distinct
    * edges the exact same recursion runs on the driver in milliseconds
    * (deliberate, documented collect; result-identity tested in
    * GraphSpec). Double-sum order differs between tiers only at the
    * ~1e-19 absolute level — round(6) absorbs it. The 1M default keeps
    * the collected String-pair array well under ~200 MB of driver heap
    * even for long IRIs (this VM's ≤16g heap rule). The distributed
    * tier's result checkpoint lives as long as the result (see
    * `Bridge.releaseLocalCheckpoint`). */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
      driverEdgeLimit: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src_iri"), col("dst_iri"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count()
    if (nEdges <= driverEdgeLimit) {
      // driver tier: same formula, exact, one collect of the (near-dup-
      // sized, NOT corpus-sized) distinct entity-edge list
      val pairs = e.as[(String, String)].collect()
      e.unpersist()
      val idx = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      def id(s: String): Int = idx.getOrElseUpdate(s, idx.size)
      val es = pairs.map { case (s, d) => (id(s), id(d)) }
      val n = idx.size
      val outDeg = new Array[Int](n)
      es.foreach { case (s, _) => outDeg(s) += 1 }
      var pr = Array.fill(n)(1.0 / n)
      for (_ <- 0 until iters) {
        val contrib = new Array[Double](n)
        es.foreach { case (s, d) => contrib(d) += pr(s) / outDeg(s) }
        pr = Array.tabulate(n)(v => (1.0 - damping) / n + damping * contrib(v))
      }
      val names = idx.keys.toArray
      return spark.createDataset(
        names.indices.map(i => (names(i),
          BigDecimal(pr(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        .toDF("iri", "pagerank")
    }
    val nodes = e.select(col("src_iri").as("iri"))
      .unionByName(e.select(col("dst_iri").as("iri"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outDeg = e.groupBy(col("src_iri")).agg(count(lit(1)).as("out_deg"))
    val eDeg = e.join(outDeg, Seq("src_iri"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    var pr = nodes.withColumn("pr", lit(1.0) / lit(n.toDouble))
    for (_ <- 0 until iters) {
      val contribs = eDeg.join(pr.withColumnRenamed("iri", "src_iri"), Seq("src_iri"))
        .groupBy(col("dst_iri").as("iri"))
        .agg(sum(col("pr") / col("out_deg")).as("contrib"))
      pr = nodes.join(contribs, Seq("iri"), "left")
        .select(col("iri"),
          ((lit(1.0) - lit(damping)) / lit(n.toDouble) +
            lit(damping) * coalesce(col("contrib"), lit(0.0))).as("pr"))
    }
    // materialize (eager localCheckpoint) so every cached input can be
    // released — otherwise each call leaks three persisted tables for
    // the JVM lifetime (review finding r03)
    val out = pr.select(col("iri"), round(col("pr"), 6).as("pagerank"))
      .localCheckpoint(true)
    eDeg.unpersist(); nodes.unpersist(); e.unpersist()
    out
  }

  /** Per-node triangle counts over the UNDIRECTED entity graph
    * `edges` (`entityEdges` output) — the clustering signal KG-quality audits use (dense
    * triangle neighborhoods ≈ coherent entity clusters; triangle-free
    * stars ≈ hub spam). Returns (iri, n_triangles), nodes in ≥1
    * triangle.
    *
    * SIZE-TIERED like pageRank/connectedComponents: under
    * `driverEdgeLimit` distinct undirected edges the count runs as an
    * exact forward-adjacency intersection on the driver (the
    * vocabulary-sized graphs this corpus produces cost ~7 s of fixed
    * multi-stage Spark overhead in the distributed plan vs
    * milliseconds here; deliberate, documented collect, tier identity
    * tested in GraphOpsSpec). Above the limit, the classic two-join
    * count — with edges oriented by (degree, iri) RANK rather than
    * lexicographic order, so the e1.b === e2.a join key is always the
    * HIGHER-degree endpoint's lower-ranked partner: a Zipfian hub of
    * degree d contributes its d edges pointing TOWARD it (hub is the
    * ranked-larger endpoint), never d² join fan-out on the hub key.
    * Both tiers enumerate each triangle exactly once; the distributed
    * tier's result checkpoint lives as long as the result (see
    * `Bridge.releaseLocalCheckpoint`). */
  def triangleCounts(edges: DataFrame, driverEdgeLimit: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und0 = edges
      .select(least(col("src_iri"), col("dst_iri")).as("a"),
        greatest(col("src_iri"), col("dst_iri")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val und = und0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = und.count()
    if (nEdges <= driverEdgeLimit) {
      // driver tier: rank nodes by (degree, iri); forward adjacency
      // A(v) = higher-ranked neighbors; |A(u) ∩ A(v)| per edge (u,v)
      // enumerates each triangle once at its lowest-ranked corner.
      val pairs = und.as[(String, String)].collect()
      und.unpersist()
      val idx = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      def id(s: String): Int = idx.getOrElseUpdate(s, idx.size)
      val es = pairs.map { case (a, b) => (id(a), id(b)) }
      val n = idx.size
      val names = idx.keys.toArray
      val deg = new Array[Int](n)
      es.foreach { case (u, v) => deg(u) += 1; deg(v) += 1 }
      // rank = position in (degree, iri) order
      val rank = new Array[Int](n)
      val order = (0 until n).sortBy(v => (deg(v), names(v)))
      order.zipWithIndex.foreach { case (v, r) => rank(v) = r }
      val fwd = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
      es.foreach { case (u, v) =>
        if (rank(u) < rank(v)) fwd(u) += v else fwd(v) += u
      }
      val fwdSet = fwd.map(buf => buf.toSet)
      val tri = new Array[Long](n)
      es.foreach { case (u, v) =>
        val (lo, hi) = if (rank(u) < rank(v)) (u, v) else (v, u)
        // iterate the smaller forward list, probe the other's set
        val (it, set) =
          if (fwd(lo).size <= fwd(hi).size) (fwd(lo), fwdSet(hi))
          else (fwd(hi), fwdSet(lo))
        it.foreach { w =>
          if (set.contains(w)) { tri(lo) += 1; tri(hi) += 1; tri(w) += 1 }
        }
      }
      return spark.createDataset(
        (0 until n).filter(tri(_) > 0L).map(v => (names(v), tri(v))))
        .toDF("iri", "n_triangles")
    }
    // distributed tier: orient each edge lo→hi by (degree, iri) rank
    val degT = und.select(explode(array(col("a"), col("b"))).as("iri"))
      .groupBy(col("iri")).agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(degT.select(col("iri").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(degT.select(col("iri").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(
        when(struct(col("deg_a"), col("a")) < struct(col("deg_b"), col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(struct(col("deg_a"), col("a")) < struct(col("deg_b"), col("b")),
          col("b")).otherwise(col("a")).as("v"))
      // eager: the self-join below references this table three times —
      // without a materialization each branch would re-pay the two
      // degree joins (the multi-branch recompute trap, CLAUDE.md)
      .localCheckpoint(true)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.v") === col("e2.u"))
      .join(oriented.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    val out = tri.select(explode(array(col("x"), col("y"), col("z"))).as("iri"))
      .groupBy(col("iri"))
      .agg(count(lit(1)).as("n_triangles"))
      .localCheckpoint(true)
    // out is materialized — the edge-sized oriented checkpoint can be
    // RELEASED (Dataset.unpersist would not touch a checkpoint RDD)
    org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(oriented)
    und.unpersist()
    out
  }

  /** SPARQL-style basic graph pattern (BGP) over the edge table — the
    * query surface a user of an RDF engine runs daily (the reference
    * delegates SPARQL to its Oxigraph store; here a BGP compiles to
    * DataFrame joins and Catalyst plans them). Each pattern is
    * (s, p, o); a term starting with "?" is a variable, anything else a
    * constant. Object position matches entity IRIs and literals alike
    * (coalesce(dst_iri, obj_literal)). Patterns join on their shared
    * variables (conjunction), disjoint patterns cross-join. Variable
    * names must be distinct within a pattern. Output: one column per
    * variable, distinct rows.
    *
    * Scale shape: each pattern is a constant-filtered scan of the
    * distinct (s,p,o) view; conjunctions are equi-joins on variable
    * columns — Catalyst picks broadcast vs shuffle per side, AQE
    * handles skewed join vars. */
  def bgp(edges: DataFrame, patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "empty BGP")
    // constants filter BEFORE the distinct: each pattern filters the
    // raw (s,p,o) view and deduplicates only ITS candidate rows —
    // distinct commutes with the constant filters, so the row sets are
    // identical, but the (usually highly selective) predicate-position
    // constant now pushes down to the edge scan (PushedFilters on pred)
    // and the per-pattern distinct shuffles pattern-sized data instead
    // of one whole-graph distinct evaluated once per pattern (guide
    // §2.3/§6).
    val spo = edges.select(col("src_iri").as("s"), col("pred").as("p"),
      coalesce(col("dst_iri"), col("obj_literal")).as("o"))
    def isVar(t: String) = t.startsWith("?")
    var anyZeroVar = false
    val frames = patterns.map { case (s, p, o) =>
      val terms = Seq(s -> "s", p -> "p", o -> "o")
      val vars = terms.collect { case (t, c) if isVar(t) => (t.drop(1), c) }
      require(vars.map(_._1).distinct.size == vars.size,
        s"repeated variable within one pattern: ($s, $p, $o)")
      if (vars.isEmpty) anyZeroVar = true
      val filtered = terms.foldLeft(spo) { case (df, (t, c)) =>
        if (isVar(t)) df else df.filter(col(c) === t)
      }
      filtered.distinct().select(vars.map { case (v, c) => col(c).as(v) }: _*)
    }
    val joined = frames.reduce { (a, b) =>
      val common = a.columns.intersect(b.columns).toSeq
      if (common.nonEmpty) a.join(b, common) else a.crossJoin(b)
    }
    // The reduce of per-pattern-distinct frames is ALREADY distinct:
    // each frame is unique on its var columns (distinct (s,p,o) rows
    // with the constants fixed project to distinct var tuples), and an
    // equi-join (or cross join) of row-unique inputs on shared columns
    // yields row-unique output — so the old trailing .distinct() was a
    // full re-shuffle of the final (largest) table for nothing (guide
    // §2.4 "a distinct on data that is already unique"). The one shape
    // that breaks the argument is a ZERO-variable pattern (an
    // all-constant ASK-style frame projects to zero columns, where
    // "distinct" must still collapse to ≤1 row) — keep the distinct
    // exactly there.
    if (anyZeroVar) joined.distinct() else joined
  }
}
