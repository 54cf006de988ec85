package kgbench

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{Checkpointed, KbEntry, Page, Pipeline, TripleRow}

/** The traced build: the layers `Checkpointed.runAll` composes, called
  * one public function at a time, each under its own job group and
  * clock. Covers the cold build and the append-only resume (the two
  * paths the workloads take); it is not a second implementation of
  * runAll's re-extraction path. Intermediate tables are materialized
  * between layers, which is part of the tracing overhead. */
object Traced {

  final case class Result(wallS: Double, layers: Seq[(String, Double)],
      pending: Seq[Int], vocab: Long, links: Long, exactHits: Long,
      fuzzyCandidates: Long, rowsReadOld: Long)

  /** Layer names in build order; "commit" writes the graph markers. */
  val layerNames: Seq[String] = Seq("triples", "rollup", "link", "mint", "nodes", "edges", "commit")

  def group(layer: String): String = s"trace:$layer"

  def build(spark: SparkSession, pages: Dataset[Page], kb: Dataset[KbEntry],
      dir: String, nBuckets: Int, runId: Long): Result = {
    import spark.implicits._
    val sc = spark.sparkContext
    val layers = ArrayBuffer.empty[(String, Double)]
    def layer[T](name: String)(f: => T): T = {
      sc.setJobGroup(group(name), name)
      val t0 = System.nanoTime()
      try f finally {
        layers += name -> (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
      }
    }
    val hadGraph = Files.exists(Paths.get(dir, "nodes"))
    val rowsReadOld = if (hadGraph) spark.read.parquet(s"$dir/nodes").count() else 0L

    val t0 = System.nanoTime()
    val fresh = layer("triples") { Checkpointed.runTriples(pages, dir, nBuckets, runId) }
    val pending = fresh.map(_.pk).sorted
    val (trip, surfaceInfo, vocab) = layer("rollup") {
      val all = spark.read.parquet(s"$dir/triples")
      val trip = (if (hadGraph) all.filter(col("pk").isin(pending: _*)) else all)
        .drop("pk").as[TripleRow]
      val si = Pipeline.surfaceRollup(trip.toDF).persist(StorageLevel.MEMORY_AND_DISK)
      (trip, si, si.count())
    }
    val (links, nLinks) = layer("link") {
      val l = Pipeline.linkSurfaces(surfaceInfo.select(col("surface")), kb)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (l, l.count())
    }
    val useBroadcast = vocab <= Pipeline.defaultBroadcastVocabLimit
    val surfaceIri = layer("mint") {
      val s = Pipeline.mintIris(surfaceInfo, links, useBroadcast).persist(StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }
    layer("nodes") {
      val fresh = Pipeline.reduceNodes(surfaceIri.select(col("iri"), col("entity_type"),
        col("surface").as("name"), col("slug")))
      val merged =
        if (hadGraph) Pipeline.reduceNodes(spark.read.parquet(s"$dir/nodes").unionByName(fresh))
        else fresh
      val tmp = s"$dir/_nodes_next"
      merged.write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).write.mode("overwrite").parquet(s"$dir/nodes")
      Output.deleteTree(tmp)
    }
    layer("edges") {
      if (hadGraph) pending.foreach(pk => Output.deleteTree(s"$dir/edges/pk=$pk"))
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      Pipeline.edgesFromVocab(trip.toDF, surfaceIri, useBroadcast)
        .withColumn("pk", Checkpointed.bucketOf(col("url"), nBuckets))
        .write.mode("overwrite").partitionBy("pk").parquet(s"$dir/edges")
    }
    layer("commit") {
      val committed = Output.manifests(dir).filter(m => !hadGraph || pending.contains(m.pk))
      val markers = Paths.get(dir, "_done_graph")
      Files.createDirectories(markers)
      committed.foreach(m => Files.write(markers.resolve(s"pk=${m.pk}.json"),
        s"""{"pk":${m.pk},"run_id":${m.runId}}""".getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING))
    }
    val wall = (System.nanoTime() - t0) / 1e9

    // link counters, outside the traced window
    val (exactHits, fuzzyCandidates) = linkCounters(surfaceInfo, kb.toDF)
    surfaceIri.unpersist(); links.unpersist(); surfaceInfo.unpersist()
    Result(wall, layers.toSeq, pending, vocab, nLinks, exactHits, fuzzyCandidates, rowsReadOld)
  }

  /** Exact hits and fuzzy candidate pairs of `linkSurfaces`' two tiers:
    * surfaces equal to a label, and (surface, label) pairs the token
    * block join emits for the rest — the pairs `contains` and
    * Jaro-Winkler then score. */
  def linkCounters(surfaceInfo: DataFrame, kb: DataFrame): (Long, Long) = {
    val s = surfaceInfo.select(lower(col("surface")).as("surface_lc"))
    val labels = kb.select(col("label_lc"))
    val hits = labels.join(broadcast(s), col("label_lc") === col("surface_lc"))
      .select(col("surface_lc")).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val exact = hits.count()
    val misses = s.join(broadcast(hits), Seq("surface_lc"), "left_anti")
      .withColumn("block", split(col("surface_lc"), " ").getItem(0))
    val blocks = labels.select(explode(array_distinct(split(col("label_lc"), " "))).as("block"))
    val cands = blocks.join(broadcast(misses), "block").count()
    hits.unpersist()
    (exact, cands)
  }
}
