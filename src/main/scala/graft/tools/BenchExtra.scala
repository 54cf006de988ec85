package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Extra isolation benchmarks (guide §1.4): noop-sink timings of
  * individual pipeline phases, SEPARATE from the frozen graft.Bench
  * harness. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.BenchExtra [stream|queries]"
  * Prints one labeled line per phase.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val mode = args.headOption.getOrElse("stream")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](label: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      val r = f
      println(f"[bench-extra] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      spark.sparkContext.setJobDescription(null)
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    mode match {
      case "stream" =>
        // phase isolation of the kg_stream_parity run
        val base = java.nio.file.Files
          .createTempDirectory("graft_bx_stream").toString
        import spark.implicits._
        val n = graft.SparkEntry.pagesFor(sfDir)
        timed("stream: slice gen+write") {
          spark.range(0, n, 5, 32).map(id => graft.pipeline.Corpus.genPage(id)._1)
            .toDF.write.mode("overwrite").parquet(s"$base/pages")
        }
        timed("stream: slice gen+write again (JIT-warm)") {
          spark.range(0, n, 5, 32).map(id => graft.pipeline.Corpus.genPage(id)._1)
            .toDF.write.mode("overwrite").parquet(s"$base/pages2")
        }
        // job-level listener: what does the stream actually run?
        val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
            starts.put(js.jobId, (js.time, desc)); ()
          }
          override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            Option(starts.get(je.jobId)).foreach { case (t0, d) =>
              jobs.add((je.jobId, t0, je.time, d)) }
            ()
          }
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val dur = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
              .getOrElse(-1L)
            if (dur > 150)
              println(f"[bench-extra]   stage ${si.stageId}%4d run ${dur / 1e3}%6.2f s tasks ${si.numTasks}%3d  ${si.name.take(90)}")
            ()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        timed("stream: runLinked (2 micro-batches)") {
          val q = graft.streaming.StreamIngest.runLinked(spark, s"$base/pages",
            s"$base/out", s"$base/ck", graft.pipeline.Corpus.kb(spark),
            maxFilesPerTrigger = Some(16))
          q.awaitTermination()
        }
        spark.sparkContext.removeSparkListener(listener)
        locally {
          import scala.jdk.CollectionConverters._
          val js = jobs.asScala.toSeq.sortBy(_._2)
          val t00 = js.headOption.map(_._2).getOrElse(0L)
          var prevEnd = t00
          js.foreach { case (id, t0, t1, d) =>
            println(f"[bench-extra]   job $id%3d +${(t0 - t00) / 1e3}%7.2f gap ${(t0 - prevEnd) / 1e3}%6.2f run ${(t1 - t0) / 1e3}%6.2f s  ${d.take(80)}")
            prevEnd = t1
          }
        }
        timed("stream: edges read+count") {
          spark.read.parquet(s"$base/out/edges").drop("batch", "pk").count()
        }
        timed("stream: nodes fold+count") {
          graft.streaming.StreamIngest.streamedNodes(spark, s"$base/out").count()
        }
        // extraction-only cost of the same slice, no streaming machinery
        timed("stream: batch extraction of slice (noop)") {
          val pages = spark.read.parquet(s"$base/pages")
            .as[graft.pipeline.Page]
          noop(graft.pipeline.Kg.extractTriplesFused(pages).toDF)
        }
      case "warmup" =>
        import spark.implicits._
        val n = graft.SparkEntry.pagesFor(sfDir)
        val resolved = timed("warmup: resolved build (extract+chunk+coref)") {
          val d = java.nio.file.Files.createTempDirectory("graft_bx_res").toString
          graft.pipeline.Kg.resolve(graft.pipeline.Kg.chunk(
            graft.pipeline.Kg.extractText(
              graft.pipeline.Corpus.pages(spark, n)))).toDF
            .write.mode("overwrite").parquet(d)
          spark.read.parquet(d)
        }
        timed("warmup: triples from resolved (noop)") {
          noop(graft.pipeline.Kg.dedup(graft.pipeline.Kg.triples(
            resolved.as[graft.pipeline.ResolvedRow])).toDF)
        }
        timed("warmup: fused pages->triples (noop)") {
          noop(graft.pipeline.Kg.extractTriplesFused(
            graft.pipeline.Corpus.pages(spark, n)).toDF)
        }
      case "queries" =>
        // noop-sink isolation of hot declared queries; shared builds
        // first (untimed) so first-touch costs don't pollute
        graft.SparkEntry.warmupSharedCheckpoints(spark, sfDir)
        val names = if (args.length > 1) args(1).split(",").toSeq
          else Seq("q_span_dedup", "q_phrase_mine", "q_knn_ivf",
            "q_knn_lsh", "q_knn_lsh_multiprobe", "q_knn_pq",
            "q_multimodal_avi", "q_multimodal_png", "q_multimodal_resize",
            "q_multimodal_wav", "q_multimodal_segments", "q_sample_mix",
            "kg_bgp", "q_sim_join_jw", "kg_retry_feedback", "kg_links",
            "q_dedup_index_probe", "kg_components", "q_lm_score",
            "kg_jsonld_docs", "q_tfidf")
        for (name <- names) {
          val fn = graft.SparkEntry.queries(name)
          timed(s"query: $name (noop)") { noop(fn(spark, sfDir)) }
        }
      case "warmupall" =>
        timed("warmupSharedCheckpoints (full)") {
          graft.SparkEntry.warmupSharedCheckpoints(spark, sfDir)
        }
      case "wav" =>
        // single-threaded driver micro-bench of the WAV encode/decode
        // kernels (no Spark): where do the audio queries' seconds go?
        val n = 4000
        def encodeAll(): IndexedSeq[Array[Byte]] =
          (0 until n).map { i =>
            val id = i.toLong
            graft.ops.Multimodal.encodeWavPcm16((8000 + (id % 3) * 4000).toInt,
              graft.ops.Multimodal.wavSamples(id, (800 + (id % 5) * 400).toInt))
          }
        var datas: IndexedSeq[Array[Byte]] = null
        timed(s"wav: encode $n clips (driver, 1 thread)") { datas = encodeAll() }
        timed(s"wav: encode again (JIT-warm)") { datas = encodeAll() }
        timed(s"wav: decode $n clips (driver, 1 thread)") {
          var s = 0L
          datas.foreach { bytes =>
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val pcm = in.readAllBytes()
            s += pcm.length
          }
          s
        }
      case other =>
        System.err.println(s"unknown mode $other (stream|warmup|queries|wav)")
        sys.exit(2)
    }
    spark.stop()
  }
}
