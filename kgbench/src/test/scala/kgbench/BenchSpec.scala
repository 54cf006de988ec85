package kgbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Checkpointed, Page}

/** Tests of the benchmark's JVM side: seeded inputs, checks.py on a real
  * build and its damaged copies, and the per-layer metric names. Run with
  * `sbt test` in this directory; test_run.py covers checks.py and run.py
  * on small hand-made build directories. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("kgbench-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val work: String = Paths.get("target", "spec-work").toAbsolutePath.toString
  val small = Workload("build-web", 300L, 0L, 0)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
    Output.deleteTree(work)
  }

  override def afterAll(): Unit = {
    Output.deleteTree(work)
    super.afterAll()
  }

  /** Bytes of a table's part files, concatenated in part order. */
  private def tableBytes(dir: String): Seq[Byte] = {
    val s = Files.list(Paths.get(dir))
    val parts = try s.iterator().asScala.toList finally s.close()
    parts.map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .sortBy(_.take("part-00000".length))
      .flatMap(n => Files.readAllBytes(Paths.get(dir, n)).toSeq)
  }

  private def inputs(name: String, seed: Long, w: Workload = small): String = {
    val dir = s"$work/$name"
    if (!Files.exists(Paths.get(dir, "stats.json"))) Inputs.write(spark, w, seed, dir)
    dir
  }

  test("the same seed gives byte-identical inputs") {
    val a = inputs("seed7a", 7L)
    val b = inputs("seed7b", 7L)
    for (t <- Seq("pages", "kb")) {
      val bytes = tableBytes(s"$a/$t")
      assert(bytes.nonEmpty, t)
      assert(bytes == tableBytes(s"$b/$t"), s"$t differs between two writes of seed 7")
    }
    for (f <- Seq("gold.jsonl", "stats.json"))
      assert(Files.readAllBytes(Paths.get(a, f)).toSeq == Files.readAllBytes(Paths.get(b, f)).toSeq, f)
  }

  test("different seeds give disjoint page ids") {
    val urls7 = spark.read.parquet(s"${inputs("seed7a", 7L)}/pages").select("url")
    val urls8 = spark.read.parquet(s"${inputs("seed8", 8L)}/pages").select("url")
    assert(urls7.count() == small.pages && urls8.count() == small.pages)
    assert(urls7.intersect(urls8).count() == 0)
    for (s <- 0L until 50L)
      assert(Inputs.pageOffset(s) + (1L << 32) <= Inputs.pageOffset(s + 1))
  }

  test("the seeded fuzzy KB has no label equal to a page surface") {
    val kb = Inputs.fuzzyKb(spark, 5L, 5000L)
    assert(kb.count() == 5000L)
    assert(kb.filter(col("label_lc") === "alan bean").count() == 0)
    assert(kb.filter(col("label_lc") === "alan bean (entity)").count() == 1)
    assert(kb.select("label_lc").distinct().count() == 5000L)
  }

  test("bucket stats written outside Spark agree with Checkpointed.bucketOf") {
    val in = inputs("seed7a", 7L)
    import spark.implicits._
    val pages = spark.read.parquet(s"$in/pages").as[Page]
    val sparkBuckets = pages
      .select(col("url"), Checkpointed.bucketOf(col("url"), Inputs.nBuckets).as("pk"))
      .as[(String, Int)].collect()
    assert(sparkBuckets.forall { case (url, pk) => Inputs.bucket(url) == pk })
    val stats = new String(Files.readAllBytes(Paths.get(in, "stats.json")), "UTF-8")
    val perBucket = sparkBuckets.groupBy(_._2).map { case (pk, xs) => pk -> xs.length }
    perBucket.foreach { case (pk, n) => assert(stats.contains(s""""pk":$pk,"pages":$n,"""), pk) }
  }

  /** Failed check names of checks.py on a build directory. */
  private def failedChecks(dir: String, gold: String): Seq[String] = {
    val code = "import sys, checks; r = checks.check_build(sys.argv[1], sys.argv[2]); " +
      "print(','.join(n for n, ok, _ in r.checks if not ok))"
    scala.sys.process.Process(Seq("python3", "-c", code, dir, gold), new java.io.File("."))
      .!!.trim.split(",").filter(_.nonEmpty).toSeq
  }

  test("checks.py passes a real build and fails its damaged copies") {
    import spark.implicits._
    val in = inputs("check", 3L)
    val out = s"$work/check-build"
    Checkpointed.runAll(spark.read.parquet(s"$in/pages").as[Page],
      spark.read.parquet(s"$in/kb").as[graft.pipeline.KbEntry], out, Inputs.nBuckets, Main.timedRunId)
    val gold = s"$in/gold.jsonl"
    assert(failedChecks(out, gold).isEmpty)

    val droppedEdges = s"$work/check-dropped-edges"
    Output.copyTree(out, droppedEdges)
    Output.deleteTree(s"$droppedEdges/edges")
    spark.read.parquet(s"$out/edges").filter(pmod(crc32(col("url")), lit(4)) =!= 0)
      .write.partitionBy("pk").parquet(s"$droppedEdges/edges")
    assert(failedChecks(droppedEdges, gold) == Seq("edges_eq_triples"))

    val dupNode = s"$work/check-dup-node"
    Output.copyTree(out, dupNode)
    Output.deleteTree(s"$dupNode/nodes")
    val nodes = spark.read.parquet(s"$out/nodes")
    nodes.union(nodes.orderBy("iri").limit(1)).write.parquet(s"$dupNode/nodes")
    assert(failedChecks(dupNode, gold) == Seq("nodes_unique"))
  }

  test("every per-layer metric the JVM prints is declared in BENCHMARK.json") {
    val bench = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def names(key: String) = bench.get(key).elements().asScala.map(_.get("name").asText).toSet
    val run = Main.Run(small, 4L, s"$work/metrics", 2)
    Inputs.write(spark, small, run.seed, run.in)
    val untraced = Main.untraced(spark, run)
    assert(untraced("metrics") == Map.empty) // run.py computes the end-to-end metrics
    val printed = Main.traced(spark, run)("metrics").asInstanceOf[Map[String, Any]].keySet
    assert(printed == names("per_layer"))
  }
}
