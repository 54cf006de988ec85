package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.{Checkpointed, Corpus}

/** North-rule scaling benchmark: the SAME job (the production build,
  * `Checkpointed.runAll`, into a fresh dir) on the SAME input (identical
  * page corpus, identical 128-way partitioning) at two parallelism
  * levels — the sandbox analogue of N vs 4N executors. Run:
  *
  *   sbt "runMain graft.ScalingBench 1 40000"
  *   sbt "runMain graft.ScalingBench 4 40000"
  *
  * and compare docs/s. Efficiency = (docs_s(4N) / docs_s(N)) / 4.
  * Prints one JSON line, with the part files of each output table, then
  * deletes the builds it wrote under the out dir. A warm-up run (1/8
  * the size) precedes the measured run so JIT/codegen compilation is
  * excluded from the steady-state number, mirroring a long-running
  * cluster job.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 32
    val n = if (args.length > 1) args(1).toLong else 40000L
    val outDir = if (args.length > 2) args(2) else "/tmp/graft_scaling_out"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", "128") // fixed across runs
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val kb = Corpus.kb(spark)

    /** The parquet part files under `dir`, at any depth. */
    def partFiles(dir: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(p => p.getFileName.toString.startsWith("part-")).count() finally s.close()
    }

    def runN(tag: String, nRun: Long): (Double, Seq[Long], Seq[Long]) = {
      // a fresh, empty dir per run: in a used one runAll would resume
      // and skip every bucket
      val dir = java.nio.file.Paths.get(outDir, tag)
      Checkpointed.deleteDir(dir)
      val t0 = System.nanoTime()
      Checkpointed.runAll(Corpus.pages(spark, nRun, partitions = 128), kb, dir.toString)
      val dt = (System.nanoTime() - t0) / 1e9
      // rows and part files of the written tables, outside the timed build
      val tables = Seq("triples", "nodes", "edges")
      val rows = tables.map(t => spark.read.parquet(s"$dir/$t").count())
      val files = tables.map(t => partFiles(dir.resolve(t)))
      System.err.println(f"[scaling] $tag cores=$cores pages=$nRun sec=$dt%.2f")
      (dt, rows, files)
    }

    // JIT/codegen warmup on the same plan shapes at 1/8 the data.
    runN("warmup", math.max(n / 8, 5000L))
    val (dt, Seq(nt, nn, ne), Seq(ft, fn, fe)) = runN("measured", n)
    val docsPerSec = n / dt
    val triplesPerSec = nt / dt
    println(f"""{"bench":"scaling","cores":$cores,"pages":$n,"sec":$dt%.3f,"docs_per_sec":$docsPerSec%.1f,"triples_per_sec":$triplesPerSec%.1f,"triples":$nt,"nodes":$nn,"edges":$ne,"triples_files":$ft,"nodes_files":$fn,"edges_files":$fe}""")
    Seq("warmup", "measured").foreach(tag =>
      Checkpointed.deleteDir(java.nio.file.Paths.get(outDir, tag)))
    spark.stop()
  }
}
