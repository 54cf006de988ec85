package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.pipeline.{Checkpointed, Kg, Page, Pipeline, TripleRow}

/** Structured Streaming extension (SURVEY.md §2.9: the reference is
  * batch-only; this is the natural streaming surface for continuous
  * crawl ingestion — readStream → the SAME fused extraction transform →
  * foreachBatch append, with Trigger.AvailableNow for catch-up runs).
  *
  * The extraction transform is shared verbatim with the batch path
  * (Kg.extractTriplesFused), so streaming and batch produce identical
  * triples for identical pages. Like batch, each page's triples are
  * deduped in-row by `Kg.extractPage`; the sinks' `Kg.dedup` also
  * covers a url that repeats inside one micro-batch. A url recrawled in
  * a later micro-batch is deduped only by `runDeduped`.
  */
object StreamIngest {

  /** File-source ingestion: watch `pagesDir` for parquet page files,
    * extract, write bucketed triples under `outDir/triples`.
    * Trigger.AvailableNow processes the backlog then stops.
    *
    * Exactly-once sink on an at-least-once contract: foreachBatch can
    * REPLAY a batch after a failure, so a blind append would duplicate
    * that batch's triples and break the streaming==batch equivalence
    * (triples must stay unique on (url,subj,pred,obj) for the graph
    * build). The output is therefore partitioned by (batch, pk) and
    * written with dynamic partition overwrite: a replayed batchId
    * replaces exactly its own partitions, byte-identical (the kernel is
    * deterministic), never appending twice. */
  def run(spark: SparkSession, pagesDir: String, outDir: String,
      checkpointDir: String, nBuckets: Int = 16): StreamingQuery =
    catchUp(Kg.extractTriplesFused(pageStream(spark, pagesDir)), checkpointDir)(
      writeBatch(_, _, outDir, nBuckets))

  /** The parquet page files under `pagesDir` as a stream of pages. */
  private def pageStream(spark: SparkSession, pagesDir: String,
      maxFilesPerTrigger: Option[Int] = None): Dataset[Page] = {
    val reader = spark.readStream.schema(Encoders.product[Page].schema)
    maxFilesPerTrigger.fold(reader)(reader.option("maxFilesPerTrigger", _))
      .parquet(pagesDir).as(Encoders.product[Page])
  }

  /** Start `stream` as an AvailableNow catch-up run whose micro-batches go to `sink`. */
  private def catchUp[T](stream: Dataset[T], checkpointDir: String)(
      sink: (Dataset[T], Long) => Unit): StreamingQuery =
    stream.writeStream.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).foreachBatch(sink).start()

  /** The idempotent per-batch sink (see `run`). Public so the replay
    * contract is directly testable: writing the same (batch, batchId)
    * twice yields the same rows as writing it once. */
  def writeBatch(batch: Dataset[TripleRow], batchId: Long, outDir: String,
      nBuckets: Int): Unit = {
    Checkpointed.writeBuckets(Kg.dedup(batch)
      .withColumn("batch", lit(batchId))
      .withColumn("pk", Checkpointed.bucketOf(col("url"), nBuckets)),
      s"$outDir/triples", Seq("batch", "pk"))
  }

  /** Windowed throughput monitor: triples per 1-hour warc_ts window with
    * a 2-hour watermark — the standard watermark + window aggregation
    * shape, usable on the stream or (as here) testable on any Dataset. */
  def windowedCounts(triplesWithTs: DataFrame): DataFrame =
    triplesWithTs
      .withWatermark("warc_ts", "2 hours")
      .groupBy(window(col("warc_ts"), "1 hour"), col("pred"))
      .agg(count(lit(1)).as("n_triples"))

  /** Extraction transform that KEEPS the page's warc_ts on every triple
    * (the event-time column streaming-stateful operators key on). */
  def transformWithTs(pages: Dataset[Page]): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select("url", "html", "lang", "warc_ts")
      .as[(String, Array[Byte], String, java.sql.Timestamp)]
      .flatMap { case (url, html, lang, ts) => Kg.extractPage(url, html, lang).map(t => (t, ts)) }
      .select(col("_1.*"), col("_2").as("warc_ts"))
  }

  /** Streaming-native cross-batch dedup: dropDuplicatesWithinWatermark
    * on the triple key — a recrawl of the same page inside the
    * watermark horizon emits nothing new, and state is BOUNDED by the
    * watermark (the unbounded-state trap of a plain dropDuplicates on a
    * stream). Use a delay ≥ the recrawl window. */
  def dedupedTriples(pagesStream: Dataset[Page], delay: String): DataFrame =
    transformWithTs(pagesStream)
      .withWatermark("warc_ts", delay)
      .dropDuplicatesWithinWatermark("url", "subj", "pred", "obj")

  /** File-source ingestion with streaming dedup: like `run`, but
    * duplicates arriving in LATER micro-batches (recrawls) are dropped
    * by keyed state instead of surviving until the graph build. */
  def runDeduped(spark: SparkSession, pagesDir: String, outDir: String,
      checkpointDir: String, delay: String = "20000 hours",
      maxFilesPerTrigger: Int = 1, nBuckets: Int = 16): StreamingQuery = {
    import spark.implicits._
    val triples = dedupedTriples(pageStream(spark, pagesDir, Some(maxFilesPerTrigger)), delay)
    catchUp(triples, checkpointDir)((batch, batchId) =>
      writeBatch(batch.drop("warc_ts").as[TripleRow], batchId, outDir, nBuckets))
  }

  /** Streaming LINKING: the flagship enrichment run continuously — each
    * micro-batch's triples go through the batch graph build
    * (`Pipeline.graphFromTriples`) against the static KB and materialize
    * straight to the edge table (stream-static enrichment inside
    * foreachBatch, where the top-1 link window is legal). Soundness is
    * the same invariant the incremental batch build rests on: a
    * surface's IRI is a PURE function of (surface, KB), so per-batch
    * edge builds union to exactly the all-at-once batch edges
    * (StreamIngestSpec asserts streamed == batch). The sink reuses the
    * (batch, pk) dynamic-overwrite idempotence contract of `run`.
    *
    * The NODE table streams too: each micro-batch writes its
    * vocabulary-sized node rows as a DELTA under `outDir/nodes/batch=N`
    * (same dynamic-overwrite replay contract as the edges — a replayed
    * batch replaces exactly its own delta, never appends), and
    * `streamedNodes` folds the deltas with the associative
    * `Pipeline.reduceNodes` merge `Checkpointed.runAll` uses for
    * incremental batch. A delta log beats per-batch read-modify-write
    * of one nodes table inside the sink: no torn-table crash window
    * between reading the previous table and overwriting it, and replay
    * idempotence comes from the partition contract instead of relying
    * on the merge's idempotence. Deltas are vocabulary-sized, so the
    * read-time reduce is bounded; `compactNodes` caps the delta count
    * for long-lived streams. */
  def runLinked(spark: SparkSession, pagesDir: String, outDir: String,
      checkpointDir: String, kb: Dataset[graft.pipeline.KbEntry],
      nBuckets: Int = 16,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    Checkpointed.recoverNodes(outDir)
    // bound files per micro-batch so AvailableNow genuinely exercises
    // the MULTI-batch path (kg_stream_parity's setup) instead of
    // swallowing the whole backlog in one batch
    val pages = pageStream(spark, pagesDir, maxFilesPerTrigger)
    catchUp(Kg.extractTriplesFused(pages), checkpointDir) {
      (batch, batchId) =>
        // Eagerly materialize the batch's deduped triples ONCE: the
        // graph build scans them twice (rollup, edges), and in a
        // micro-batch there is no parquet checkpoint upstream, so each
        // scan would re-run the batch's extraction + dedup shuffle.
        // Batch-sized, released in the finally below (the
        // checkpoint-RDD leak the StreamIngestSpec guard watches for).
        val trip = Kg.dedup(batch).localCheckpoint(true)
        // the batch build itself: it counts the batch's vocabulary and
        // picks the tier from it, since a micro-batch is not bounded
        // (without maxFilesPerTrigger the first one is the whole backlog)
        try {
          val (nodes, edges, release) = Pipeline.graphFromTriples(trip, kb)
          try {
            Checkpointed.writeBuckets(edges.withColumn("batch", lit(batchId))
              .withColumn("pk", Checkpointed.bucketOf(col("url"), nBuckets)),
              s"$outDir/edges", Seq("batch", "pk"))
            // node delta: this batch's vocabulary-sized node rows, one
            // file. A crash between the two writes replays the whole
            // batch — both sinks are partition-idempotent, so the
            // rewrite is byte-identical.
            Checkpointed.writeBuckets(nodes.withColumn("batch", lit(batchId)),
              s"$outDir/nodes", Seq("batch"))
          } finally release()
        } finally org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(trip)
    }
  }

  /** The streamed NODE table: every micro-batch delta folded by the
    * associative `Pipeline.reduceNodes` merge. Equal to the all-at-once
    * batch node table over the same pages (kg_stream_parity_nodes pins
    * this under the driver's DuckDB oracle) because a surface's node
    * row is a pure function of (surface, KB) and the reduce is
    * associative over any batching of the surface set. */
  def streamedNodes(spark: SparkSession, outDir: String): DataFrame =
    Pipeline.reduceNodes(spark.read.parquet(s"$outDir/nodes").drop("batch"))

  /** Bound the node-delta count for a long-lived stream: replace all
    * deltas with ONE compacted delta under batch=-1 (streaming batchIds
    * are non-negative, so it can never collide with a live batch),
    * committed by `Checkpointed.swapNodes`. Run between AvailableNow
    * catch-up runs, never concurrently with an active stream. */
  def compactNodes(spark: SparkSession, outDir: String): Unit = {
    Checkpointed.recoverNodes(outDir)
    Checkpointed.swapNodes(outDir,
      streamedNodes(spark, outDir).withColumn("batch", lit(-1L)).write.partitionBy("batch"))
  }

  /** Streaming CONTENT dedup: pages deduplicated across micro-batches
    * by the md5 fingerprint of their normalized text, NOT the url — a
    * recrawl republished under a DIFFERENT url is still dropped (the
    * url-keyed dedup above cannot catch that). First-arriving batch
    * wins; keyed state is bounded by the watermark. Returns
    * (url, warc_ts, fp) of the surviving pages. */
  def dedupedPagesByContent(pagesStream: Dataset[Page], delay: String): DataFrame =
    pagesStream.toDF
      .select(col("url"), col("warc_ts"),
        graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      .withWatermark("warc_ts", delay)
      .dropDuplicatesWithinWatermark("fp")

  final case class DomainStats(domain: String, n_triples: Long, n_batches: Long)

  /** Custom keyed streaming state (flatMapGroupsWithState): cumulative
    * per-url-domain triple counts (`Checkpointed.domainOf`, the
    * bucketing domain), one updated row emitted per domain per
    * micro-batch — the monitoring analogue of the reference's per-run
    * metrics, maintained incrementally instead of recomputed. */
  def domainStats(triples: Dataset[TripleRow]): Dataset[DomainStats] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = triples.sparkSession
    import spark.implicits._
    triples.select(Checkpointed.domainOf(col("url"))).as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState[(Long, Long), DomainStats](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (domain, it, state: GroupState[(Long, Long)]) =>
          val (nt, nb) = state.getOption.getOrElse((0L, 0L))
          val updated = (nt + it.size, nb + 1)
          state.update(updated)
          Iterator.single(DomainStats(domain, updated._1, updated._2))
      }
  }
}
