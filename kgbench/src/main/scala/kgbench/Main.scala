package kgbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Checkpointed, KbEntry, Page}

/** One benchmark process, a fresh JVM as a spark-submit of graft.Main
  * would be, building with `Checkpointed.runAll(pages, kb, dir, 64, runId)`.
  *
  *   kgbench.Main --workload W --seed S --work DIR --mode untraced|traced
  *
  * Both modes write the workload's inputs, run its set-up and time one
  * `runAll` with tracing off (the JVM's first build). `traced` then runs
  * the traced stepwise build between two more untraced builds, and the
  * kernel loop; the tracing overhead is the traced wall minus the mean
  * of the two untraced builds around it (the JIT still warms between
  * builds, so one base on either side would bias it). Either mode prints
  * one line `KGBENCH {json}` on stdout naming each build's directory;
  * run.py checks the outputs and turns the line into the report. */
object Main {

  val nBuckets: Int = Inputs.nBuckets
  val timedRunId = 2L

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def phase(msg: String): Unit =
    System.err.println(f"[kgbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f s  $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workload.named(need("workload"))
    val mode = need("mode")
    require(mode == "untraced" || mode == "traced", s"unknown --mode $mode")
    val run = Run(w, need("seed").toLong, need("work"), Runtime.getRuntime.availableProcessors)
    val spark = session(run.cores, run.work)
    phase("session started")
    try {
      val t0 = System.nanoTime()
      Inputs.write(spark, w, run.seed, run.in)
      val genS = (System.nanoTime() - t0) / 1e9
      phase(f"inputs written in $genS%.2f s")
      val report = if (mode == "untraced") untraced(spark, run) else traced(spark, run)
      println("KGBENCH " + Json.value(report + ("gen_s" -> genS)))
    } finally spark.stop()
  }

  /** graft.Main's session settings, one local process over `cores`. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-kg-construct")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "128")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One process's workload, seed, working directory and cores. */
  final case class Run(w: Workload, seed: Long, work: String, cores: Int) {
    val in = s"$work/in"
  }

  /** A timed untraced build. */
  final case class Built(name: String, dir: String, startedMs: Long, seconds: Double,
      stats: GroupStats) {
    def json: Map[String, Any] = Map("name" -> name, "dir" -> dir, "run_id" -> timedRunId,
      "started_ms" -> startedMs, "seconds" -> seconds, "peak_exec_mem" -> stats.peakExecMem)
  }

  private def open(spark: SparkSession, run: Run): (Dataset[Page], Dataset[KbEntry]) = {
    import spark.implicits._
    (spark.read.parquet(s"${run.in}/pages").as[Page], spark.read.parquet(s"${run.in}/kb").as[KbEntry])
  }

  /** The workload's set-up before a build into `out`: an empty
    * directory, or for a resume a fresh copy of the prior state (buckets
    * [0, priorBuckets), built once per process). */
  private def prepare(spark: SparkSession, run: Run, out: String): Unit = {
    Output.deleteTree(out)
    if (run.w.priorBuckets > 0) {
      val prior = s"${run.work}/prior"
      if (!Files.exists(Paths.get(prior, "nodes"))) {
        val (pages, kb) = open(spark, run)
        Checkpointed.runAll(pages.filter(Checkpointed.bucketOf(col("url"), nBuckets) < run.w.priorBuckets),
          kb, prior, nBuckets, 1L)
      }
      Output.copyTree(prior, out)
    }
  }

  /** Time one untraced `runAll` into `work/name`. */
  private def timedBuild(spark: SparkSession, stats: TaskStats, run: Run, name: String): Built = {
    val sc = spark.sparkContext
    val out = s"${run.work}/$name"
    prepare(spark, run, out)
    val (pages, kb) = open(spark, run)
    phase(s"$name: set-up done")
    sc.setJobGroup(name, s"untraced runAll ($name)")
    val startedMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    Checkpointed.runAll(pages, kb, out, nBuckets, timedRunId)
    val seconds = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    phase(f"$name: build done in $seconds%.2f s")
    Built(name, out, startedMs, seconds, stats.get(sc, name))
  }

  private def withListener(spark: SparkSession): TaskStats = {
    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)
    stats
  }

  /** The end-to-end run: one timed build; a resume also gets a cold
    * build of the same input, which its output must hash-equal. */
  def untraced(spark: SparkSession, run: Run): Map[String, Any] = {
    val b = timedBuild(spark, withListener(spark), run, "timed")
    val reference =
      if (run.w.priorBuckets == 0) None
      else {
        val cold = s"${run.work}/cold"
        Output.deleteTree(cold)
        val (pages, kb) = open(spark, run)
        Checkpointed.runAll(pages, kb, cold, nBuckets, timedRunId)
        Some(cold)
      }
    Map("builds" -> Seq(b.json), "reference" -> reference, "metrics" -> Map.empty)
  }

  /** The per-layer run: the cold timed build, then the traced stepwise
    * build between two untraced base builds, then the kernel loop. */
  def traced(spark: SparkSession, run: Run): Map[String, Any] = {
    val sc = spark.sparkContext
    val stats = withListener(spark)
    val cold = timedBuild(spark, stats, run, "timed")
    val base = timedBuild(spark, stats, run, "base")
    val out = s"${run.work}/traced"
    prepare(spark, run, out)
    val (pages, kb) = open(spark, run)
    val r = Traced.build(spark, pages, kb, out, nBuckets, timedRunId)
    phase(f"traced: build done in ${r.wallS}%.2f s")
    val after = timedBuild(spark, stats, run, "base-after")
    val baseS = (base.seconds + after.seconds) / 2
    val k = Kernels.run(pages.filter(Checkpointed.bucketOf(col("url"), nBuckets).isin(r.pending: _*)))
    phase("traced: kernel loop done")

    def g(layer: String) = stats.get(sc, Traced.group(layer))
    val wall = r.layers.toMap
    val (triplesBytes, triplesFiles) = Output.partitions(out, "triples", r.pending)
    val (_, edgeFiles) = Output.partitions(out, "edges", r.pending)
    val kernelBusyS = (k.htmlNs + k.chunkNs + k.corefNs + k.relNs) / 1e9
    val share = Traced.layerNames.filter(_ != "commit").map(l => s"$l.share" -> wall(l) / r.wallS)
    val metrics: Map[String, Any] = Map(
      "html_text.busy_s" -> k.htmlNs / 1e9,
      "html_text.bytes_in" -> k.htmlBytes,
      "chunker.busy_s" -> k.chunkNs / 1e9,
      "chunker.chunks_out" -> k.chunks,
      "coref.busy_s" -> k.corefNs / 1e9,
      "coref.chunks_in" -> k.corefChunks,
      "relations.busy_s" -> k.relNs / 1e9,
      "relations.relations_out" -> k.relations,
      "relations.kept_ratio" -> (if (k.relations == 0) 0.0 else k.kept.toDouble / k.relations),
      "kernels.share" -> kernelBusyS / (run.cores * r.wallS),
      "triples.wall_s" -> wall("triples"),
      "triples.task_cpu_s" -> g("triples").cpuNs / 1e9,
      "triples.records_out" -> g("triples").recordsOut,
      "triples.files_written" -> triplesFiles,
      "triples.bytes_written" -> triplesBytes,
      "triples.task_skew" -> g("triples").taskSkew,
      "rollup.wall_s" -> wall("rollup"),
      "rollup.task_cpu_s" -> g("rollup").cpuNs / 1e9,
      "rollup.records_in" -> g("rollup").recordsIn,
      "rollup.vocab_out" -> r.vocab,
      "rollup.shuffle_write_bytes" -> g("rollup").shuffleWriteBytes,
      "link.wall_s" -> wall("link"),
      "link.task_cpu_s" -> g("link").cpuNs / 1e9,
      "link.exact_hits" -> r.exactHits,
      "link.fuzzy_candidates" -> r.fuzzyCandidates,
      "link.fuzzy_hits" -> (r.links - r.exactHits),
      "link.unlinked" -> (r.vocab - r.links),
      "link.useful_ratio" -> r.links.toDouble / (r.exactHits + r.fuzzyCandidates).max(1L),
      "mint.wall_s" -> wall("mint"),
      "mint.minted" -> (r.vocab - r.links),
      "nodes.wall_s" -> wall("nodes"),
      "nodes.rows_read_old" -> r.rowsReadOld,
      "nodes.rows_out" -> spark.read.parquet(s"$out/nodes").count(),
      "nodes.bytes_written" -> Output.bytes(Paths.get(out, "nodes")),
      "edges.wall_s" -> wall("edges"),
      "edges.task_cpu_s" -> g("edges").cpuNs / 1e9,
      "edges.rows_out" -> g("edges").recordsOut,
      "edges.files_written" -> edgeFiles,
      "edges.shuffle_write_bytes" -> g("edges").shuffleWriteBytes,
      "commit.wall_s" -> wall("commit"),
      "spark.jobs" -> base.stats.jobs,
      "spark.stages" -> base.stats.stages,
      "spark.tasks" -> base.stats.tasks,
      "spark.busy_share" -> base.stats.runMs / (base.seconds * 1000.0 * run.cores),
      "spark.spill_bytes" -> base.stats.spillBytes,
      "trace.wall_s" -> r.wallS,
      "trace.coverage" -> r.layers.map(_._2).sum / r.wallS,
      "trace.base_build_s" -> baseS,
      "trace.overhead_s" -> (r.wallS - baseS),
      "trace.overhead_share" -> (r.wallS - baseS) / baseS) ++ share

    System.err.println(f"[kgbench] ${run.w.name}: cold build ${cold.seconds}%.2f s, traced " +
      f"${r.wallS}%.2f s between untraced ${base.seconds}%.2f and ${after.seconds}%.2f s " +
      f"(overhead ${r.wallS - baseS}%+.2f s on their mean)")
    r.layers.foreach { case (l, s) =>
      System.err.println(f"[kgbench]   $l%-8s ${s}%7.2f s  ${100 * s / r.wallS}%5.1f%%") }
    System.err.println(f"[kgbench]   kernels busy ${kernelBusyS}%.2f s over ${run.cores} cores " +
      f"(html ${k.htmlNs / 1e9}%.2f, chunk ${k.chunkNs / 1e9}%.2f, coref ${k.corefNs / 1e9}%.2f, " +
      f"relations ${k.relNs / 1e9}%.2f)")
    val tracedBuild = Map("name" -> "traced", "dir" -> out, "seconds" -> r.wallS)
    Map("builds" -> Seq(cold.json, base.json, tracedBuild, after.json), "reference" -> None,
      "metrics" -> metrics)
  }
}
