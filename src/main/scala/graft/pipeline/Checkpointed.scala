package graft.pipeline

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.util.AccumulatorV2
import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import scala.jdk.CollectionConverters._

/** Resumable, checkpointed batch execution (SURVEY.md §2.9, §7.1 M7;
  * north rule: "per-partition checkpointed lineage + metrics enabling
  * resume at 10^12-document scale").
  *
  * Layout under `baseDir`:
  *   triples/pk=[k]/part-....parquet  hash-partitioned by url-domain bucket
  *   nodes/, edges/                   parquet graph tables
  *   _done/pk=[k].json                per-partition completion manifest +
  *                                    lineage (pages, triples, run id)
  *   _metrics/run=[r].json            per-run rollup
  *
  * Protocol: a run processes only buckets without a manifest, writes
  * their triples with dynamic partition-overwrite (idempotent — a
  * half-written bucket from a killed run is fully replaced on retry,
  * never appended), then commits one manifest per bucket. Every bucketed
  * table is written by `writeBuckets`: rows are laid out by bucket with
  * one exchange first, so a bucket is one file (or AQE's split of a
  * skewed one), not one file per (write task, bucket). The manifest
  * counts are added up in the write's result tasks, after that exchange,
  * where Spark applies a task's accumulator updates once per partition
  * however often the task or its parent stage is retried. Manifests are
  * written AFTER the data, so a crash between data and manifest merely
  * re-does that bucket; the deterministic kernel makes the rewrite
  * byte-identical. The graph stage then swaps the node table in by
  * rename (`swapNodes`), rewrites the pending buckets' edge partitions
  * and commits their graph markers last. Marker files are replaced by
  * rename, never truncated in place. This is the Iceberg-commit pattern
  * expressed on plain partitioned parquet (no Iceberg jars in this
  * sandbox — `format("iceberg")` + REPLACE PARTITIONS is the one-line
  * swap, SURVEY.md §7.0). Every table this object writes is zstd:
  * snappy leaves the PLAIN-encoded `source_text` column of triples and
  * edges nearly raw, and each committed byte is stored once and read
  * back by the graph stage's scans.
  */
object Checkpointed {

  /** The parquet codec of every table `writeBuckets` and `swapNodes`
    * write, set per write so the caller's session is left alone. */
  private val codec = "zstd"

  /** Delete `dir` and everything under it; a no-op when it is absent. */
  private[graft] def deleteDir(dir: Path): Unit =
    if (Files.exists(dir)) {
      val entries = Files.walk(dir)
      try entries.iterator().asScala.toList.reverse.foreach(Files.delete) finally entries.close()
    }

  /** Replace the node table under `baseDir` with the one `table` writes.
    * Spark writes it once, into `_nodes_next` (its commit writes
    * `_SUCCESS` last); `nodes` is renamed to `_nodes_prev`, `_nodes_next`
    * to `nodes`, and `_nodes_prev` is deleted. A kill at any step leaves
    * the old table or the new one, never a partial one, and
    * `recoverNodes` at the next start puts the old one back where the
    * swap did not finish. Both renames are atomic on a local (or HDFS)
    * filesystem, as the marker renames are; an object store would need a
    * pointer commit instead. */
  private[graft] def swapNodes(baseDir: String, table: DataFrameWriter[Row]): Unit = {
    val (nodes, next, prev) = nodeDirs(baseDir)
    table.option("compression", codec).parquet(next.toString)
    if (Files.exists(nodes)) Files.move(nodes, prev, ATOMIC_MOVE)
    Files.move(next, nodes, ATOMIC_MOVE)
    deleteDir(prev)
  }

  /** Undo an unfinished `swapNodes`: put `_nodes_prev` back when `nodes`
    * is missing, then drop any leftover staging dir. Rolling back is
    * always sound: graph markers are written after the swap, so the
    * interrupted run's buckets are still pending and are merged again
    * (the node reduce is idempotent), and a stream's `_nodes_prev` holds
    * every delta. */
  private[graft] def recoverNodes(baseDir: String): Unit = {
    val (nodes, next, prev) = nodeDirs(baseDir)
    if (!Files.exists(nodes) && Files.exists(prev)) Files.move(prev, nodes, ATOMIC_MOVE)
    deleteDir(next)
    deleteDir(prev)
  }

  private def nodeDirs(baseDir: String): (Path, Path, Path) =
    (Paths.get(baseDir, "nodes"), Paths.get(baseDir, "_nodes_next"), Paths.get(baseDir, "_nodes_prev"))

  /** Write a small file by rename: the bytes go to a `.tmp` sibling
    * whose name `markerBuckets` ignores, which then replaces `file`, so a
    * kill leaves the old content or the new, never a truncated file. */
  private def writeAtomically(file: Path, content: String): Unit = {
    Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling(s".${file.getFileName}.tmp")
    Files.write(tmp, content.getBytes("UTF-8"))
    Files.move(tmp, file, ATOMIC_MOVE, REPLACE_EXISTING)
  }

  /** url-domain of a url column (north rule: partition by url-domain). */
  def domainOf(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(url, "^https?://([^/]+)", 1)

  /** Stable bucket 0..nBuckets-1 from the domain (not Spark's `hash`,
    * whose seed is engine-private: crc32 is portable and stable). */
  def bucketOf(url: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    pmod(crc32(domainOf(url)), lit(nBuckets.toLong)).cast(IntegerType)

  final case class BucketManifest(pk: Int, nPages: Long, nTriples: Long, runId: Long)

  private def markerBuckets(baseDir: String, sub: String): Set[Int] = {
    val dir = Paths.get(baseDir, sub)
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("pk=") && n.endsWith(".json") =>
          n.stripPrefix("pk=").stripSuffix(".json").toInt
        }.toSet
      finally s.close()
    }
  }

  def doneBuckets(baseDir: String): Set[Int] = markerBuckets(baseDir, "_done")

  /** Buckets whose GRAPH stage (nodes merge + edges partition) has
    * committed — markers written only after the edges write, so a crash
    * between the triple manifest and the graph writes leaves the bucket
    * visibly pending and the next run rebuilds it (the incremental
    * analogue of the old full-rebuild self-heal). */
  def graphDoneBuckets(baseDir: String): Set[Int] = markerBuckets(baseDir, "_done_graph")

  private val runIdRe = """"run_id"\s*:\s*(-?\d+)""".r

  /** pk → run_id parsed from the pk=N.json markers of `sub`. */
  private def markerRunIds(baseDir: String, sub: String): Map[Int, Long] =
    markerBuckets(baseDir, sub).flatMap { pk =>
      val f = Paths.get(baseDir, sub, s"pk=$pk.json")
      val txt = new String(Files.readAllBytes(f), "UTF-8")
      runIdRe.findFirstMatchIn(txt).map(m => pk -> m.group(1).toLong)
    }.toMap

  /** The graph marker records the run_id of the bucket's TRIPLE manifest
    * it was built from — a graph commit is valid only while those two
    * ids match, so a bucket whose triples were re-extracted (new _done
    * run_id) is pending again even though an old graph marker exists. */
  private def commitGraphMarker(baseDir: String, pk: Int, tripleRunId: Long): Unit =
    writeAtomically(Paths.get(baseDir, "_done_graph", s"pk=$pk.json"),
      s"""{"pk":$pk,"run_id":$tripleRunId}""")

  private def commitManifest(baseDir: String, m: BucketManifest): Unit =
    writeAtomically(Paths.get(baseDir, "_done", s"pk=${m.pk}.json"),
      s"""{"pk":${m.pk},"n_pages":${m.nPages},"n_triples":${m.nTriples},"run_id":${m.runId}}""")

  /** Per-bucket sums, added up in the tasks that write the buckets. */
  private final class SumByBucket extends AccumulatorV2[(Int, Long), Map[Int, Long]] {
    private var sums = Map.empty[Int, Long]
    def isZero: Boolean = sums.isEmpty
    def copy(): SumByBucket = { val c = new SumByBucket; c.sums = sums; c }
    def reset(): Unit = sums = Map.empty
    def add(v: (Int, Long)): Unit = sums = sums.updated(v._1, sums.getOrElse(v._1, 0L) + v._2)
    def merge(other: AccumulatorV2[(Int, Long), Map[Int, Long]]): Unit = other.value.foreach(add)
    def value: Map[Int, Long] = sums
  }

  /** The one bucketed write. `rows` are laid out by `partitionCols`
    * with one exchange, so all rows of a bucket meet in one write task;
    * `finish`, a narrow pass, then runs inside the write's result tasks,
    * and the result replaces the partitions it holds under `path`
    * (dynamic partition overwrite: a killed run's partial bucket
    * directories are replaced wholesale on retry). The mode is a
    * per-write option, never set on the caller's session (a session
    * left at dynamic makes every later overwrite + partitionBy there
    * keep the partitions it does not rewrite). */
  private[graft] def writeBuckets(rows: DataFrame, path: String, partitionCols: Seq[String],
      finish: DataFrame => DataFrame = identity): Unit =
    finish(rows.repartition(partitionCols.map(col): _*))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .option("compression", codec).partitionBy(partitionCols: _*).parquet(path)

  /** Run (or resume) the triple-extraction stage over `pages` into
    * `baseDir/triples`, bucketed by url-domain. Returns the manifests
    * committed by THIS run (empty when everything was already done). */
  def runTriples(pages: Dataset[Page], baseDir: String, nBuckets: Int = 64,
      runId: Long = 0L): Seq[BucketManifest] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val done = doneBuckets(baseDir)
    // only the columns the per-page pass reads: the scan never decodes
    // the page's text or warc_ts
    val todo = pages
      .select(col("url"), col("html"), col("lang"), bucketOf(col("url"), nBuckets).as("pk"))
      .filter(!col("pk").isin(done.toSeq: _*)).as[(String, Array[Byte], String, Int)]
    // one row per page routed to a pending bucket (non-English ones too,
    // with no triples): the exchange moves triples, never page html
    val routed = todo.map { case (url, html, lang, pk) => (pk, Kg.extractPage(url, html, lang)) }
      .toDF("pk", "triples")

    // lineage counted by the write's result tasks, after the exchange:
    // every routed page and the triples it yields. Spark applies a
    // result task's accumulator updates once per partition, so the
    // counts stay exact when a write task or the exchange's map stage is
    // retried; a count taken on the map side of the exchange would not
    // be. Keep the counting inside `finish`.
    val pageCounts, tripleCounts = new SumByBucket
    Seq(pageCounts, tripleCounts).foreach(spark.sparkContext.register(_))
    writeBuckets(routed, s"$baseDir/triples", Seq("pk"), laidOut =>
      laidOut.as[(Int, Vector[TripleRow])].mapPartitions(_.flatMap { case (pk, ts) =>
        pageCounts.add((pk, 1L))
        tripleCounts.add((pk, ts.size.toLong))
        ts
      }).withColumn("pk", bucketOf(col("url"), nBuckets)))

    val manifests = pageCounts.value.toSeq.sorted.map { case (pk, nPages) =>
      BucketManifest(pk, nPages, tripleCounts.value(pk), runId)
    }
    manifests.foreach(m => commitManifest(baseDir, m))
    if (manifests.nonEmpty) writeRunMetrics(baseDir, runId, manifests)
    manifests
  }

  private def writeRunMetrics(baseDir: String, runId: Long, ms: Seq[BucketManifest]): Unit = {
    val json = ms.map(m =>
      s"""{"pk":${m.pk},"n_pages":${m.nPages},"n_triples":${m.nTriples}}""")
      .mkString("[", ",", "]")
    writeAtomically(Paths.get(baseDir, "_metrics", s"run=$runId.json"),
      s"""{"run_id":$runId,"buckets":${ms.length},"detail":$json}""")
  }

  /** Full resumable pipeline: triples (resumable by bucket) → graph
    * tables — INCREMENTALLY. An incremental run touches only the fresh
    * buckets plus vocabulary-sized tables:
    *
    *  - a surface's IRI is a PURE function of (surface, KB) — exact/
    *    fuzzy linking and the md5 mint have no corpus-wide inputs — so
    *    edges for fresh buckets can be built from the fresh triples
    *    alone and written with dynamic partition overwrite (old-bucket
    *    edge files are never rewritten, asserted by CheckpointedSpec);
    *  - APPEND-ONLY ingest (never-before-seen buckets): the node table
    *    merges the previous nodes with the fresh buckets' nodes and
    *    re-reduces by IRI — min_by is associative, so for row ADDITION
    *    the merge equals a full rebuild (result-identity tested);
    *  - RE-EXTRACTION (a bucket whose triples were invalidated and
    *    redone, detected as a pending bucket that already carries a
    *    graph marker): the union-merge can only ever ADD node rows, so
    *    entities that existed solely in the bucket's previous
    *    extraction would persist forever (ADVICE r03). These runs
    *    rebuild the node table from ALL triples instead — an O(corpus)
    *    scan, paid only on the rare invalidation path, never by
    *    append-only ingest.
    *
    * At 10^12 documents this is the difference between an incremental
    * run costing O(fresh) and one costing O(corpus). */
  def runAll(pages: Dataset[Page], kb: Dataset[KbEntry], baseDir: String,
      nBuckets: Int = 64, runId: Long = 0L): Unit = {
    val spark = pages.sparkSession
    import spark.implicits._
    recoverNodes(baseDir)
    val fresh = runTriples(pages, baseDir, nBuckets, runId)
    val nodesPath = Paths.get(baseDir, "nodes")
    val hadGraph = Files.exists(nodesPath)
    // graph work set: every triple-committed bucket whose graph marker
    // is missing OR carries a different run_id than its triple manifest
    // — covers this run's fresh buckets, crash windows between the
    // triple commit and the graph writes (ADVICE r02), AND buckets an
    // operator invalidated and re-extracted in an earlier run that then
    // crashed before the graph commit (a bare marker-presence check
    // would trust the stale marker forever — review finding r03)
    val tripleRuns = markerRunIds(baseDir, "_done")
    val graphRuns = markerRunIds(baseDir, "_done_graph")
    val pending = (fresh.map(_.pk).toSet ++
      tripleRuns.collect { case (pk, r) if !graphRuns.get(pk).contains(r) => pk })
      .toSeq.sorted
    if (pending.isEmpty && hadGraph) return
    // a pending bucket with ANY previous graph marker was re-extracted
    // (its old rows are already inside nodes/) — append-only merge is
    // unsound for it, so the node table must be rebuilt from all triples
    val reextracted = hadGraph && pending.exists(pk => graphRuns.contains(pk))
    // partition-pruned read: only pending buckets (everything, when the
    // graph tables don't exist yet or a re-extraction forces a rebuild)
    val tripAll = spark.read.schema(Encoders.product[TripleRow].schema.add("pk", IntegerType))
      .parquet(s"$baseDir/triples")
    val tripIn =
      if (hadGraph && !reextracted) tripAll.filter(col("pk").isin(pending: _*))
      else tripAll
    val (nodesFresh, edgesAll, release) =
      Pipeline.graphFromTriples(tripIn.drop("pk").as[TripleRow], kb)
    // on the shuffle tier the build's two vocabulary caches live until
    // the edges write, the last action over them
    try {
      // on the rebuild path only the pending buckets' edge partitions are
      // (re)written — old-bucket edge files stay untouched either way
      val edgesFresh =
        if (reextracted)
          edgesAll.withColumn("__pk", bucketOf(col("url"), nBuckets))
            .filter(col("__pk").isin(pending: _*)).drop("__pk")
        else edgesAll

      // nodes: vocabulary-sized associative merge on the append-only path;
      // full rebuild (nodesFresh already spans ALL triples) on re-extraction
      val nodesMerged =
        if (!hadGraph || reextracted) nodesFresh
        else Pipeline.reduceNodes(
          spark.read.schema(Encoders.product[Node].schema).parquet(s"$baseDir/nodes")
            .unionByName(nodesFresh))
      swapNodes(baseDir, nodesMerged.write)

      // edges: dynamic overwrite replaces ONLY the fresh pk partitions.
      // Pre-delete the pending buckets' partitions first: dynamic
      // overwrite cannot clear a rebuilt bucket that now yields ZERO edge
      // rows, which would otherwise freeze stale edges in place behind a
      // fresh graph marker (review finding r03).
      if (hadGraph) pending.foreach(pk => deleteDir(Paths.get(baseDir, "edges", s"pk=$pk")))
      writeBuckets(edgesFresh.withColumn("pk", bucketOf(col("url"), nBuckets)),
        s"$baseDir/edges", Seq("pk"))
    } finally release()

    // graph markers LAST, each stamped with its bucket's TRIPLE-manifest
    // run_id: a crash anywhere above leaves the bucket pending and the
    // next run redoes it (nodes re-merge is idempotent — min_by
    // re-reduction of duplicate rows — and the edges rebuild is
    // per-partition wholesale)
    val committed = if (hadGraph) pending else tripleRuns.keys.toSeq.sorted
    committed.foreach(pk =>
      commitGraphMarker(baseDir, pk, tripleRuns.getOrElse(pk, runId)))
  }
}
