package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel._

/** The KG-construction pipeline: typed Dataset transforms, all narrow
  * (no shuffle) until linking/dedup — Catalyst pipelines them into a
  * single stage over the pages scan. Stage boundaries mirror SURVEY.md
  * §1's data model; NLP steps are the sanctioned mapPartitions/flatMap
  * carve-outs (SURVEY.md §2.10), everything relational stays in columns.
  */
object Kg {

  /** HTML→text (P14). The byte-identity invariant
    * `extract(html) == text` is asserted by tests, not recomputed here —
    * we *use* the extracted text downstream, as the north rule demands. */
  def extractText(pages: Dataset[Page]): Dataset[Doc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.filter(_.lang == "en").map(p => Doc(p.url, HtmlText.extract(p.html), p.lang))
  }

  /** Chunking (T1): short docs bypass the chunker entirely
    * (P2 gate, extractor.rs:571-583). flatMap = the UDTF shape. */
  def chunk(docs: Dataset[Doc]): Dataset[ChunkRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap(d => chunksOf(d.text).map(c =>
      ChunkRow(d.url, c.id, c.text, c.startOffset, c.endOffset)))
  }

  /** The P2 gate: a document under the chunk threshold is one chunk
    * (id 0, the whole text), any other goes through the chunker. */
  private def chunksOf(text: String): Vector[Chunk] =
    if (Chunker.estimateTokens(text) < Chunker.chunkThresholdTokens)
      Vector(Chunk(0, text, 0L, text.length.toLong))
    else Chunker.default.chunk(text)

  /** Coref (Stage 0): per-chunk, sequential string semantics stay inside
    * the row function (SURVEY.md §2.5 W3/W4). */
  def resolve(chunks: Dataset[ChunkRow]): Dataset[ResolvedRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.map { c =>
      val r = Coref.resolve(c.text)
      ResolvedRow(c.url, c.chunk_id, r.resolvedText, r.mentionMap.toMap)
    }
  }

  /** Stage-0 engine selector, mirroring the reference's
    * CoreferenceStrategy config (coreference.rs:104-147): "none" passes
    * text through; "coref" (default) is the coref.rs engine
    * (kernel.Coref); "coreference" is the second rule-based engine
    * (kernel.Coreference, coreference.rs). Sidecar/LLM strategies are
    * network services — out of scope offline, like the reference's own
    * unimplemented Llm arm. */
  def resolveWith(chunks: Dataset[ChunkRow], strategy: String): Dataset[ResolvedRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    strategy match {
      case "coref" => resolve(chunks)
      case "none" =>
        chunks.map(c => ResolvedRow(c.url, c.chunk_id, c.text, Map.empty))
      case "coreference" =>
        chunks.map { c =>
          val (t, m) = Coreference.asCorefResult(c.text)
          ResolvedRow(c.url, c.chunk_id, t, m)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown coref strategy: $other")
    }
  }

  /** Mention detection (T3 analogue) over resolved text. */
  def mentions(resolved: Dataset[ResolvedRow]): Dataset[MentionRow] = {
    val spark = resolved.sparkSession
    import spark.implicits._
    resolved.flatMap { r =>
      Relations.mentions(r.resolved_text).map(m =>
        MentionRow(r.url, r.chunk_id, m.surface, m.entityType, m.start, m.end, m.confidence))
    }
  }

  /** Relation extraction (Stage 2 analogue) + normalization (P4-P6) +
    * the heuristic filter (P12): subj slugified, pred
    * dictionary-canonicalized + stemmed, obj verbatim — the triple
    * conventions of tests/fixtures/test_cases.json. Per-row failures are
    * tolerated (O4): a throwing row yields no triples, never fails the
    * job. The row's triples are finished inside the `try`, so a throw
    * from the lazy normalization cannot escape while Spark drains them. */
  def triples(resolved: Dataset[ResolvedRow]): Dataset[TripleRow] = {
    val spark = resolved.sparkSession
    import spark.implicits._
    resolved.flatMap { r =>
      try chunkTriples(r.url, r.chunk_id, r.resolved_text).toVector
      catch { case _: Exception => Vector.empty }
    }
  }

  /** One resolved chunk's normalized triples, heuristic filter (P12)
    * applied. */
  private def chunkTriples(url: String, chunkId: Int,
      resolvedText: String): Iterator[TripleRow] =
    Relations.extract(resolvedText).iterator.map { rel =>
      TripleRow(url, Slug.slug(rel.subj), PredDict.canonical(rel.pred),
        rel.obj, if (rel.objIsEntity) Slug.slug(rel.obj) else "",
        rel.subj, rel.objIsEntity, rel.subjType, rel.objType,
        chunkId, rel.sentIdx, rel.confidence, "rule-based",
        rel.sentStart, rel.sentEnd, rel.sourceText)
    }.filterNot(t => Relations.likelyIncorrect(t.pred))

  /** A6 dedup: one row per (url, subj, pred, obj); deterministic
    * min_by tie-break on (chunk_id, sent_idx) — "first mention wins"
    * (knowledge_buffer.rs:40-51 semantics), never a nondeterministic
    * first(). */
  def dedup(t: Dataset[TripleRow]): Dataset[TripleRow] = {
    val spark = t.sparkSession
    import spark.implicits._
    // Columnar min_by (partial + final hash agg, codegen) — NOT typed
    // reduceGroups, which would serialize whole case-class objects
    // through the shuffle; NOT dropDuplicates, whose surviving row is
    // nondeterministic.
    val rest = struct(col("obj_slug"), col("subj_surface"), col("obj_is_entity"),
      col("subj_type"), col("obj_type"), col("chunk_id"), col("sent_idx"),
      col("confidence"), col("method"),
      col("span_start"), col("span_end"), col("source_text"))
    t.toDF
      .groupBy(col("url"), col("subj"), col("pred"), col("obj"))
      .agg(min_by(rest, struct(col("chunk_id"), col("sent_idx"))).as("r"))
      .select(col("url"), col("subj"), col("pred"), col("obj"),
        col("r.obj_slug"), col("r.subj_surface"), col("r.obj_is_entity"),
        col("r.subj_type"), col("r.obj_type"), col("r.chunk_id"),
        col("r.sent_idx"), col("r.confidence"), col("r.method"),
        col("r.span_start"), col("r.span_end"), col("r.source_text"))
      .as[TripleRow]
  }

  /** One fused flatMap Page→TripleRow for the flagship path: the same
    * (url, subj, pred, obj) rows, each kept at the same first
    * (chunk_id, sent_idx), as extractText∘chunk∘resolve∘triples∘dedup
    * (PipelineSpec pins this on the synthesized corpus plus long pages
    * that restate their facts across chunks), but a single
    * object-level pass — no intermediate Dataset encoding between
    * stages, and NO dedup shuffle: all chunks of a page live in this
    * one row, and the reference's A6 dedup is per-document
    * (merge_chunks, extractor.rs:495-550), so first-wins
    * (chunk, sentence emission order) dedup inside the row IS the global
    * (url, subj, pred, obj) dedup. The whole pages→triples stage is
    * therefore shuffle-free (verified by PlanSpec). Only the page
    * columns the pass reads are selected, so a parquet page scan never
    * decodes `text` or `warc_ts`. */
  def extractTriplesFused(pages: Dataset[Page]): Dataset[TripleRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select("url", "html", "lang").as[(String, Array[Byte], String)]
      .flatMap { case (url, html, lang) => extractPage(url, html, lang) }
  }

  /** The per-page fused kernel pass (shared by the checkpointed batch
    * build, `extractTriplesFused` and streaming), over the only page
    * fields it reads. The whole page is finished inside the `try`: a
    * throw from any kernel (HTML→text, chunker, coref, relations,
    * normalization) drops the page, never the task (O4 row tolerance). */
  def extractPage(url: String, html: Array[Byte], lang: String): Vector[TripleRow] = {
    if (lang != "en") Vector.empty
    else try {
      val seen = scala.collection.mutable.HashSet.empty[(String, String, String)]
      chunksOf(HtmlText.extract(html)).flatMap { c =>
        chunkTriples(url, c.id, Coref.resolve(c.text).resolvedText)
          .filter(t => seen.add((t.subj, t.pred, t.obj))) // first-wins A6
      }
    } catch { case _: Exception => Vector.empty } // O4 row tolerance
  }

  /** Per-document entity consolidation (A1-A4): first-wins entity table
    * via min_by over (chunk_id, start) — replaces the reference's
    * sequential KnowledgeBuffer (O3 re-architecture, SURVEY.md §7.3#2). */
  def entityTable(mentions: Dataset[MentionRow]): DataFrame = {
    mentions
      .groupBy(col("url"), lower(col("surface")).as("name_lc"))
      .agg(
        min_by(struct(col("surface"), col("entity_type"), col("chunk_id"), col("start")),
          struct(col("chunk_id"), col("start"))).as("first"),
        count(lit(1)).as("n_mentions"))
      .select(
        col("url"), col("name_lc"),
        col("first.surface").as("canonical_name"),
        col("first.entity_type").as("entity_type"),
        col("first.chunk_id").as("first_chunk_id"),
        col("first.start").as("first_mention_offset"),
        col("n_mentions"))
  }

  /** A4 latest-entity-of-type: the reference's get_last_entity_of_type
    * (knowledge_buffer.rs:124-130) — per (url, entity_type), the entity
    * whose first mention is LATEST in the document. The reference's
    * max_by_key leaves equal-offset ties to HashMap iteration order
    * (nondeterministic); we pin ties by name_lc (SURVEY.md §7.0
    * determinism rule). Input: the entityTable frame. */
  def lastEntityOfType(entities: DataFrame): DataFrame = {
    entities
      .groupBy(col("url"), col("entity_type"))
      .agg(
        max_by(col("canonical_name"),
          struct(col("first_chunk_id"), col("first_mention_offset"), col("name_lc")))
          .as("last_entity"),
        count(lit(1)).as("n_of_type"))
  }

  /** A3 property accumulation: per-entity property map with LAST-write
    * wins (knowledge_buffer.rs:66-73 — properties.insert overwrites, so
    * the latest write per property key survives). Write order is the
    * extraction emission order (chunk_id, sent_idx); equal-position
    * ties pinned by obj. Returned exploded as (url, subj, pred,
    * last_obj) rows — map_from_entries of these per (url, subj) is the
    * reference's `properties` map (see propsMap).
    *
    * DOCUMENTED DEVIATION (ADVICE r02): this runs over the DEDUPED
    * triple table, and Kg.dedup pins each (url, subj, pred, obj) to its
    * FIRST occurrence — so a value stated early and re-stated last ranks
    * by its first statement. The reference buffer sees every restatement
    * and would rank it last. The two diverge only when the SAME property
    * VALUE recurs at different positions AND a different value sits
    * between them — the last-DISTINCT-value winner is identical. */
  def entityProps(triples: DataFrame): DataFrame = {
    triples
      .groupBy(col("url"), col("subj"), col("pred"))
      .agg(max_by(col("obj"),
        struct(col("chunk_id"), col("sent_idx"), col("obj"))).as("last_obj"))
  }

  /** A3 map form: props MAP<STRING,STRING> per (url, subj), entries
    * sorted by key for deterministic serialization. */
  def propsMap(triples: DataFrame): DataFrame = {
    entityProps(triples)
      .groupBy(col("url"), col("subj"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("pred"), col("last_obj"))))).as("props"))
  }

  /** A2 alias accumulation: lowercased coref aliases per canonical
    * entity, from the resolved mention maps (knowledge_buffer.rs:54-63 —
    * collect_set of lowercased aliases, sorted for determinism). */
  def aliasTable(resolved: Dataset[ResolvedRow]): DataFrame = {
    resolved.toDF
      .select(col("url"), explode(col("mention_map")).as(Seq("alias", "canonical")))
      .groupBy(col("url"), lower(col("canonical")).as("canonical_lc"))
      .agg(sort_array(collect_set(lower(col("alias")))).as("aliases"))
  }

  /** A5 context summary: the reference's per-entity prompt line
    * "- Name (Type) [also called: a, b]" (knowledge_buffer.rs:77-106),
    * with ordering pinned by sort (the reference's HashMap order is
    * nondeterministic — SURVEY.md §7.0). */
  def contextSummary(entities: DataFrame, aliases: DataFrame): DataFrame = {
    entities
      .join(aliases,
        entities("url") === aliases("url") &&
          entities("name_lc") === aliases("canonical_lc"), "left")
      .select(entities("url"), col("name_lc"), col("canonical_name"),
        col("entity_type"), col("first_chunk_id"), col("first_mention_offset"),
        col("aliases"))
      .withColumn("summary_line",
        concat(lit("- "), col("canonical_name"), lit(" ("), col("entity_type"), lit(")"),
          when(col("aliases").isNotNull && size(col("aliases")) > 0,
            concat(lit(" [also called: "), concat_ws(", ", col("aliases")), lit("]")))
            .otherwise(lit(""))))
      .groupBy(col("url"))
      .agg(concat(lit("ENTITIES ALREADY DISCOVERED IN THIS DOCUMENT:\n"),
        concat_ws("\n", sort_array(collect_list(col("summary_line")))))
        .as("context_summary"),
        count(lit(1)).as("n_entities"))
  }
}
