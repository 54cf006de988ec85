package graft.streaming

import graft.SparkTestBase
import graft.pipeline.{Corpus, Kg}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamIngestSpec extends SparkTestBase {

  test("streaming ingestion produces the same triples as the batch path") {
    import spark.implicits._
    val work = tempDir("graft_stream")
    val pages = Corpus.pages(spark, 150, 4)
    // stage pages as two file drops (two micro-batches under AvailableNow)
    pages.filter(col("url").isNotNull).limit(75)
      .write.mode("overwrite").parquet(s"$work/pages")
    val q = StreamIngest.run(spark, s"$work/pages", s"$work/out", s"$work/ckpt")
    q.awaitTermination()
    // second drop: append more page files, run catch-up again
    pages.write.mode("append").parquet(s"$work/pages")
    val q2 = StreamIngest.run(spark, s"$work/pages", s"$work/out", s"$work/ckpt")
    q2.awaitTermination()

    val streamed = spark.read.parquet(s"$work/out/triples")
      .select("url", "subj", "pred", "obj").distinct()
    val batch = Kg.extractTriplesFused(pages).toDF.select("url", "subj", "pred", "obj")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0)
  }

  test("streaming linking: per-batch linked edges union to exactly the batch edges") {
    import spark.implicits._
    val work = tempDir("graft_slink")
    val pages = Corpus.pages(spark, 120, 4)
    val kb = Corpus.kb(spark, nDistractors = 300)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(overwriteMode, "static")
    // two file drops -> two catch-up runs (two independent link batches)
    pages.limit(60).write.mode("overwrite").parquet(s"$work/pages")
    StreamIngest.runLinked(spark, s"$work/pages", s"$work/out", s"$work/ckpt", kb)
      .awaitTermination()
    pages.write.mode("append").parquet(s"$work/pages")
    StreamIngest.runLinked(spark, s"$work/pages", s"$work/out", s"$work/ckpt", kb)
      .awaitTermination()
    assert(spark.conf.get(overwriteMode) == "static", "runLinked changed the caller's session")
    // release contract FIRST (before this test's own all-at-once
    // comparison build adds its caches): the per-batch graph builds
    // must not leave NEW persisted tables behind — a long stream would
    // accumulate them for the JVM lifetime otherwise
    val leaked = (spark.sparkContext.getPersistentRDDs -- cachedBefore).values
      .filter(_.getStorageLevel.useMemory)
    assert(leaked.isEmpty, s"leaked caches: ${leaked.map(_.name).mkString(", ")}")
    val streamed = spark.read.parquet(s"$work/out/edges").drop("batch", "pk")
    val (batchNodes, batchEdges, releaseRef) = graft.pipeline.Pipeline
      .graphFromTriples(Kg.extractTriplesFused(pages), kb)
    // IRI minting/linking is a pure function of (surface, KB), so the
    // per-batch builds must reproduce the all-at-once edges exactly
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col): _*)
        .distinct().collect().map(_.toSeq).sortBy(_.toString).toSeq
    try {
      assert(canon(streamed) == canon(batchEdges))
      assert(streamed.count() > 0)
      // node-side parity: the associative fold of per-batch node deltas
      // equals the all-at-once batch node table
      val streamedNodes = StreamIngest.streamedNodes(spark, s"$work/out")
      assert(canon(streamedNodes) == canon(batchNodes))
      assert(streamedNodes.count() > 0)
      // compaction preserves the table exactly and bounds the delta count
      StreamIngest.compactNodes(spark, s"$work/out")
      assert(canon(StreamIngest.streamedNodes(spark, s"$work/out")) == canon(batchNodes))
      assert(spark.read.parquet(s"$work/out/nodes")
        .select("batch").distinct().count() == 1)
    } finally releaseRef()
  }

  test("node compaction killed at any step loses no delta") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.Paths
    val work = tempDir("graft_scompact")
    val pages = Corpus.pages(spark, 60, 2)
    pages.write.mode("overwrite").parquet(s"$work/pages")
    val kb = Corpus.kb(spark, nDistractors = 300)
    StreamIngest.runLinked(spark, s"$work/pages", s"$work/out", s"$work/ckpt", kb,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    val out = Paths.get(work, "out")
    def canon() = StreamIngest.streamedNodes(spark, out.toString)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    def stagingLeft(): Boolean = {
      val s = Files.list(out)
      try s.iterator().asScala.exists(_.getFileName.toString.startsWith("_nodes_"))
      finally s.close()
    }
    val before = canon()
    assert(before.nonEmpty)
    assert(spark.read.parquet(s"$out/nodes").select("batch").distinct().count() > 1)
    // a failed commit of the staging table, or of nodes/ in place
    for (target <- Seq("_nodes_next", "nodes")) {
      graft.FailCommit.during(spark, target)(StreamIngest.compactNodes(spark, out.toString))
      assert(canon() == before, s"commit of $target failed")
    }
    // a kill between the swap's two renames leaves only `_nodes_prev`;
    // the next stream run, and the next compaction, put it back
    def killedMidSwap(): Unit = Files.move(out.resolve("nodes"), out.resolve("_nodes_prev"))
    killedMidSwap()
    StreamIngest.runLinked(spark, s"$work/pages", s"$work/out", s"$work/ckpt", kb)
      .awaitTermination()
    assert(canon() == before)
    assert(!stagingLeft())
    killedMidSwap()
    StreamIngest.compactNodes(spark, out.toString)
    assert(canon() == before)
    assert(!stagingLeft())
    assert(spark.read.parquet(s"$out/nodes").select("batch").distinct().count() == 1)
  }

  test("replayed foreachBatch batch is idempotent (at-least-once sink)") {
    import spark.implicits._
    val work = tempDir("graft_replay")
    val pages = Corpus.pages(spark, 60, 2)
    val batch = Kg.extractTriplesFused(pages)
    StreamIngest.writeBatch(batch, 7L, s"$work/out", nBuckets = 4)
    val once = spark.read.parquet(s"$work/out/triples").count()
    // simulate the at-least-once replay: same batchId written again
    StreamIngest.writeBatch(batch, 7L, s"$work/out", nBuckets = 4)
    val twice = spark.read.parquet(s"$work/out/triples").count()
    assert(once == twice && once > 0)
  }

  test("streaming dedup: a recrawl in a later micro-batch emits nothing new") {
    import spark.implicits._
    val work = tempDir("graft_sdedup")
    val pages = Corpus.pages(spark, 80, 2)
    // the same pages dropped twice as two files -> with maxFilesPerTrigger=1
    // the second micro-batch is a pure recrawl
    pages.write.mode("overwrite").parquet(s"$work/pages")
    pages.coalesce(1).write.mode("append").parquet(s"$work/pages")
    val q = StreamIngest.runDeduped(spark, s"$work/pages", s"$work/out", s"$work/ckpt")
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$work/out/triples")
      .select("url", "subj", "pred", "obj")
    val expected = Kg.extractTriplesFused(pages).toDF.select("url", "subj", "pred", "obj")
    // no duplicates survived; content == the batch path exactly
    assert(streamed.count() == streamed.distinct().count())
    assert(streamed.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(streamed).count() == 0)
  }

  test("streaming content dedup: same text under a NEW url is dropped") {
    import spark.implicits._
    import graft.pipeline.Page
    val work = tempDir("graft_cdedup")
    val pages = Corpus.pages(spark, 60, 2)
    pages.write.mode("overwrite").parquet(s"$work/pages")
    // recrawl batch: IDENTICAL text republished under new urls — the
    // url-keyed dedup would keep these; content dedup must drop them
    pages.map(p => p.copy(url = p.url + "?recrawl"))
      .coalesce(1).write.mode("append").parquet(s"$work/pages")
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Page]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$work/pages").as[Page]
    val q = StreamIngest.dedupedPagesByContent(stream, "20000 hours").writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode("append").parquet(s"$work/out")
        ()
      }
      .start()
    q.awaitTermination()
    val out = spark.read.parquet(s"$work/out")
    val expectedDistinct = pages.toDF
      .select(graft.ops.TextAnalysis.fingerprint(col("text"))).distinct().count()
    assert(out.count() == expectedDistinct)
    assert(out.filter(col("url").endsWith("?recrawl")).count() == 0,
      "a recrawled-under-new-url page survived content dedup")
  }

  test("flatMapGroupsWithState domain stats accumulate across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val work = tempDir("graft_state")
    val pages = Corpus.pages(spark, 60, 2)
    pages.write.mode("overwrite").parquet(s"$work/pages")
    pages.coalesce(1).write.mode("append").parquet(s"$work/pages")
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[graft.pipeline.Page]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$work/pages").as[graft.pipeline.Page]
    val q = StreamIngest.domainStats(Kg.extractTriplesFused(stream))
      .writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$work/stats")
      .start()
    q.awaitTermination()
    val stats = spark.read.parquet(s"$work/stats")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(stats.nonEmpty)
    // domains seen in both drops emit a row per batch with a RUNNING total
    val multi = stats.groupBy(_._1).filter(_._2.length >= 2)
    assert(multi.nonEmpty, "expected at least one domain across 2 batches")
    multi.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.last._2 >= sorted.head._2) // cumulative, never decreasing
      assert(sorted.map(_._3).distinct.length == sorted.length) // batch counter advances
    }
    // final totals equal the batch-path per-domain counts doubled (two drops)
    val finalTotals = stats.groupBy(_._1).map { case (d, rows) => d -> rows.map(_._2).max }
    val expected = Kg.extractTriplesFused(pages).toDF
      .withColumn("domain", regexp_extract(col("url"), "^https?://([^/]+)", 1))
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) * 2).toMap
    finalTotals.foreach { case (d, n) => assert(n == expected(d), s"domain $d") }
  }

  test("windowed counts group triples into hourly warc_ts windows") {
    import spark.implicits._
    val df = Seq(
      (java.sql.Timestamp.valueOf("2025-01-01 10:05:00"), "worksfor"),
      (java.sql.Timestamp.valueOf("2025-01-01 10:55:00"), "worksfor"),
      (java.sql.Timestamp.valueOf("2025-01-01 11:05:00"), "worksfor"))
      .toDF("warc_ts", "pred")
    val r = StreamIngest.windowedCounts(df)
      .select(col("window.start").cast("string"), col("n_triples"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("2025-01-01 10:00:00") == 2L)
    assert(r("2025-01-01 11:00:00") == 1L)
  }
}
