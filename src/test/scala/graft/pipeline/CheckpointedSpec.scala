package graft.pipeline

import graft.{FailCommit, SparkTestBase}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class CheckpointedSpec extends SparkTestBase {

  private def freshDir(): String = tempDir("graft_ckpt")

  private def copyDir(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.toList.foreach(p => Files.copy(p, to.resolve(from.relativize(p))))
    finally s.close()
  }

  private def names(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }

  // the kill fixture: a build of buckets 0-3, resumed with every page
  private lazy val killPages = Corpus.pages(spark, 250, 4)
  private lazy val killKb = Corpus.kb(spark, 300)
  private lazy val priorBuild: Path = {
    val d = freshDir()
    Checkpointed.runAll(killPages.filter(Checkpointed.bucketOf(col("url"), 8) < 4), killKb, d,
      nBuckets = 8, runId = 1)
    Paths.get(d)
  }
  private lazy val oneShot: Path = {
    val d = freshDir()
    Checkpointed.runAll(killPages, killKb, d, nBuckets = 8, runId = 1)
    Paths.get(d)
  }

  /** A copy of `priorBuild` in a fresh dir. */
  private def resumable(): Path = {
    val d = Paths.get(freshDir(), "build")
    copyDir(priorBuild, d)
    d
  }

  /** Resume `dir` to the end, then check it equals the one-shot build
    * (row multisets, columns sorted) and that no node staging dir is
    * left. */
  private def assertResumesToOneShot(dir: Path): Unit = {
    Checkpointed.runAll(killPages, killKb, dir.toString, nBuckets = 8, runId = 2)
    def rows(d: Path, name: String) = {
      val df = spark.read.parquet(s"$d/$name").drop("pk")
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    Seq("triples", "nodes", "edges").foreach(t =>
      assert(rows(dir, t) == rows(oneShot, t), s"$t differs from the one-shot build"))
    assert(!names(dir).exists(_.startsWith("_nodes_")), names(dir))
    assert(Checkpointed.graphDoneBuckets(dir.toString) == Checkpointed.doneBuckets(dir.toString))
  }

  /** A copy of `priorBuild` resumed to the end, and the buckets the
    * resume added. */
  private def resumedBuild(): (Path, Seq[Int]) = {
    val dir = resumable()
    Checkpointed.runAll(killPages, killKb, dir.toString, nBuckets = 8, runId = 2)
    val added = Checkpointed.doneBuckets(dir.toString) -- Checkpointed.doneBuckets(priorBuild.toString)
    assert(added.size >= 2, added)
    (dir, added.toSeq.sorted)
  }

  test("a resume killed at any Spark write resumes to the one-shot build") {
    for (target <- Seq("triples", "_nodes_next", "nodes", "edges")) {
      val dir = resumable()
      val run = FailCommit.during(spark, target) {
        Checkpointed.runAll(killPages, killKb, dir.toString, nBuckets = 8, runId = 2)
      }
      assertResumesToOneShot(dir)
      // nodes/ is only ever renamed into place, never written by Spark
      assert(run.isFailure == (target != "nodes"), s"$target: $run")
    }
  }

  test("a resume killed between the node swap's steps resumes to the one-shot build") {
    // each case is the directory state a kill leaves after the triples
    // and their manifests are committed
    def killedAt(nodesState: Path => Unit): Path = {
      val dir = resumable()
      Checkpointed.runTriples(killPages, dir.toString, nBuckets = 8, runId = 2)
      nodesState(dir)
      dir
    }
    // after `nodes` -> `_nodes_prev`, before `_nodes_next` -> `nodes`
    assertResumesToOneShot(killedAt { d =>
      Files.move(d.resolve("nodes"), d.resolve("_nodes_prev"))
      copyDir(oneShot.resolve("nodes"), d.resolve("_nodes_next"))
    })
    // after both renames, before `_nodes_prev` is deleted
    assertResumesToOneShot(killedAt { d =>
      Files.move(d.resolve("nodes"), d.resolve("_nodes_prev"))
      copyDir(oneShot.resolve("nodes"), d.resolve("nodes"))
    })
    // during the staging write: no `_SUCCESS` yet
    assertResumesToOneShot(killedAt { d =>
      copyDir(oneShot.resolve("nodes"), d.resolve("_nodes_next"))
      Files.delete(d.resolve("_nodes_next").resolve("_SUCCESS"))
    })
  }

  test("a resume killed between its bucket manifests resumes to the one-shot build") {
    // the manifests are committed in pk order after the triples write:
    // the kill leaves every resumed bucket's triples but only the first
    // manifest, and no run metrics
    val dir = resumable()
    val resumed = Checkpointed.runTriples(killPages, dir.toString, nBuckets = 8, runId = 2).map(_.pk)
    assert(resumed.size >= 2, resumed)
    resumed.tail.foreach(pk => Files.delete(dir.resolve("_done").resolve(s"pk=$pk.json")))
    Files.delete(dir.resolve("_metrics").resolve("run=2.json"))
    assertResumesToOneShot(dir)
  }

  test("a resume killed while deleting the pending edge partitions resumes to the one-shot build") {
    // a rerun of a resume that wrote its edges but no graph markers
    // deletes the pending buckets' edge partitions before rewriting
    // them; the kill lands after the first deletes
    val (dir, resumed) = resumedBuild()
    resumed.foreach(pk => Files.delete(dir.resolve("_done_graph").resolve(s"pk=$pk.json")))
    val edgeDirs = resumed.map(pk => dir.resolve("edges").resolve(s"pk=$pk")).filter(Files.exists(_))
    assert(edgeDirs.size >= 2, edgeDirs)
    edgeDirs.take(2).foreach(Checkpointed.deleteDir)
    assertResumesToOneShot(dir)
  }

  test("a resume killed between its graph markers resumes to the one-shot build") {
    // graph markers are committed last, in pk order: the kill leaves
    // the first resumed bucket's marker only
    val (dir, resumed) = resumedBuild()
    resumed.tail.foreach(pk => Files.delete(dir.resolve("_done_graph").resolve(s"pk=$pk.json")))
    assertResumesToOneShot(dir)
  }

  /** The number of Spark jobs `body` starts. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftbridge.CoreBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftbridge.CoreBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  // the triples and edges writes each add one map-stage job under AQE:
  // the exchange that lays their rows out by bucket; the broadcast-tier
  // graph build fills and counts no cache
  test("a cold runAll runs 14 Spark jobs") {
    val pages = Corpus.pages(spark, 200, 4)
    val kb = Corpus.kb(spark, 300)
    val n = jobsDuring(Checkpointed.runAll(pages, kb, freshDir(), nBuckets = 8, runId = 1))
    assert(n == 14)
  }

  test("an append-only resume runs 15 Spark jobs") {
    val dir = resumable()
    val n = jobsDuring(Checkpointed.runAll(killPages, killKb, dir.toString, nBuckets = 8, runId = 2))
    assert(n == 15)
  }

  /** The part files in each `pk=` directory of `dir/table`. */
  private def partFiles(dir: Path, table: String): Map[String, Set[String]] =
    names(dir.resolve(table)).filter(_.startsWith("pk="))
      .map(b => b -> names(dir.resolve(table).resolve(b)).filter(_.startsWith("part-"))).toMap

  test("each written bucket holds one part file, on a cold build and on a resume") {
    val cold = Paths.get(freshDir())
    Checkpointed.runAll(killPages, killKb, cold.toString, nBuckets = 8, runId = 1)
    val dir = resumable()
    val prior = Seq("triples", "edges").map(t => t -> partFiles(dir, t)).toMap
    Checkpointed.runAll(killPages, killKb, dir.toString, nBuckets = 8, runId = 2)
    for (t <- Seq("triples", "edges")) {
      val coldFiles = partFiles(cold, t)
      assert(coldFiles.size >= 4 && coldFiles.values.forall(_.size == 1), s"cold $t: $coldFiles")
      val resumed = partFiles(dir, t)
      val added = resumed -- prior(t).keys
      assert(added.size >= 2 && added.values.forall(_.size == 1), s"resumed $t: $added")
      // the prior buckets' files are the ones the prior build wrote
      assert(prior(t).forall { case (b, fs) => resumed(b) == fs }, s"$t: prior buckets rewritten")
    }
  }

  /** The codecs of the column chunks of every parquet file under `dir`. */
  private def codecs(dir: Path): Set[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val s = Files.walk(dir)
    val files = try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    assert(files.nonEmpty, s"no parquet file under $dir")
    files.flatMap { f =>
      val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri),
        spark.sparkContext.hadoopConfiguration)
      val r = ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name))
      finally r.close()
    }.toSet
  }

  test("every table a build, a resume or a stream writes is zstd in every column chunk") {
    val (resumed, added) = resumedBuild()
    for (dir <- Seq(oneShot, resumed); t <- Seq("triples", "edges", "nodes"))
      assert(codecs(dir.resolve(t)) == Set("ZSTD"), s"$dir/$t")
    for (t <- Seq("triples", "edges"); pk <- added)
      assert(codecs(resumed.resolve(t).resolve(s"pk=$pk")) == Set("ZSTD"), s"resumed $t pk=$pk")
    // a stream: triples by writeBatch, edges and node deltas by a linked
    // batch, and the node table its compaction swaps in
    val work = Paths.get(freshDir())
    graft.streaming.StreamIngest.writeBatch(Kg.extractTriplesFused(killPages), 0L,
      work.resolve("stream").toString, nBuckets = 4)
    killPages.limit(60).write.parquet(work.resolve("pages").toString)
    val out = work.resolve("out")
    graft.streaming.StreamIngest.runLinked(spark, work.resolve("pages").toString, out.toString,
      work.resolve("ckpt").toString, killKb).awaitTermination()
    for (d <- Seq(work.resolve("stream").resolve("triples"), out.resolve("edges"), out.resolve("nodes")))
      assert(codecs(d) == Set("ZSTD"), d)
    graft.streaming.StreamIngest.compactNodes(spark, out.toString)
    assert(codecs(out.resolve("nodes")) == Set("ZSTD"), "compacted nodes")
  }

  test("manifests stay exact when a triples write task and its exchange's map stage are retried") {
    import spark.implicits._
    val pages = Corpus.pages(spark, 200, 4)
    val dir = freshDir()
    val sc = spark.sparkContext
    val retriedStages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.attemptNumber() > 0) retriedStages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val (ms, lost) = try {
      val r = FailCommit.losingShuffleOnce(spark, "triples") {
        Checkpointed.runTriples(pages, dir, nBuckets = 8, runId = 1)
      }
      org.apache.spark.graftbridge.CoreBridge.drainListenerBus(sc)
      r
    } finally sc.removeSparkListener(listener)
    // the write task failed once, and both its stage and the map stage of
    // the exchange it reads ran again
    assert(lost)
    assert(retriedStages.get >= 2, retriedStages.get)
    val routed = pages.select(Checkpointed.bucketOf(col("url"), 8)).as[Int].collect()
      .groupBy(identity).map { case (pk, v) => pk -> v.length.toLong }
    val written = spark.read.parquet(s"$dir/triples").groupBy("pk").count()
      .as[(Int, Long)].collect().toMap
    val manifestRe = """\{"pk":(\d+),"n_pages":(\d+),"n_triples":(\d+),"run_id":1\}""".r
    val onDisk = Checkpointed.doneBuckets(dir).toSeq.map { pk =>
      new String(Files.readAllBytes(Paths.get(dir, "_done", s"pk=$pk.json")), "UTF-8") match {
        case manifestRe(p, nPages, nTriples) => p.toInt -> (nPages.toLong, nTriples.toLong)
      }
    }.toMap
    assert(onDisk == ms.map(m => m.pk -> (m.nPages, m.nTriples)).toMap)
    assert(onDisk == routed.map { case (pk, n) => pk -> (n, written.getOrElse(pk, 0L)) })
    assert(written.values.sum == Kg.extractTriplesFused(pages).count())
  }

  test("marker files are replaced by rename: a leftover temp file marks nothing done") {
    val dir = freshDir()
    val pages = Corpus.pages(spark, 60, 2)
    Checkpointed.runAll(pages, Corpus.kb(spark, 300), dir, nBuckets = 4, runId = 1)
    val subs = Seq("_done", "_done_graph", "_metrics").map(Paths.get(dir, _))
    def leftovers() = subs.flatMap(names).filterNot(_.matches("""(pk|run)=\d+\.json"""))
    assert(leftovers().isEmpty)
    // a kill while writing a bucket's first manifest leaves only the
    // truncated temp file: the bucket is not done, and the rerun redoes it
    val victim = Checkpointed.doneBuckets(dir).min
    Files.delete(Paths.get(dir, "_done", s"pk=$victim.json"))
    Files.write(Paths.get(dir, "_done", s".pk=$victim.json.tmp"), s"""{"pk":$victim,"n_pa""".getBytes("UTF-8"))
    assert(!Checkpointed.doneBuckets(dir).contains(victim))
    assert(Checkpointed.runTriples(pages, dir, nBuckets = 4, runId = 2).map(_.pk) == Seq(victim))
    assert(leftovers().isEmpty)
  }

  test("first run processes all buckets and commits manifests") {
    val dir = freshDir()
    val pages = Corpus.pages(spark, 200, 4)
    val ms = Checkpointed.runTriples(pages, dir, nBuckets = 8, runId = 1)
    assert(ms.nonEmpty)
    assert(Checkpointed.doneBuckets(dir) == ms.map(_.pk).toSet)
    val total = spark.read.parquet(s"$dir/triples").count()
    assert(total == ms.map(_.nTriples).sum)
    assert(total == Kg.extractTriplesFused(pages).count())
  }

  test("resume skips completed buckets (their files are NOT rewritten)") {
    import scala.jdk.CollectionConverters._
    val dir = freshDir()
    val pages = Corpus.pages(spark, 200, 4)
    val ms = Checkpointed.runTriples(pages, dir, nBuckets = 8, runId = 1)
    val donePk = ms.head.pk
    // drop manifests for every bucket except one
    val doneDir = Paths.get(dir, "_done")
    Files.list(doneDir).iterator().asScala.toList.foreach { p =>
      if (p.getFileName.toString != s"pk=$donePk.json") Files.delete(p)
    }
    val bucketDir = Paths.get(dir, "triples", s"pk=$donePk")
    def mtimes() = Files.list(bucketDir).iterator().asScala.toList
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = mtimes()
    Thread.sleep(1100)
    val redone = Checkpointed.runTriples(pages, dir, nBuckets = 8, runId = 2)
    assert(!redone.map(_.pk).contains(donePk)) // skipped
    assert(mtimes() == before, "completed bucket files were touched")
  }

  test("resume run recomputes only missing buckets; final table complete and duplicate-free") {
    val dir = freshDir()
    val pages = Corpus.pages(spark, 300, 4)
    val all = Checkpointed.runTriples(pages, dir, nBuckets = 8, runId = 1)
    val expected = spark.read.parquet(s"$dir/triples").drop("pk")
      .orderBy("url", "subj", "pred", "obj").collect().toSeq
    // wipe manifests for half the buckets + delete their data (simulated
    // crash before commit)
    val doneDir = Paths.get(dir, "_done")
    val toRedo = all.map(_.pk).filter(_ % 2 == 1)
    toRedo.foreach { pk =>
      Files.deleteIfExists(doneDir.resolve(s"pk=$pk.json"))
    }
    val redone = Checkpointed.runTriples(pages, dir, nBuckets = 8, runId = 2)
    assert(redone.map(_.pk).toSet == toRedo.toSet)
    val after = spark.read.parquet(s"$dir/triples").drop("pk")
      .orderBy("url", "subj", "pred", "obj").collect().toSeq
    assert(after == expected) // deterministic rewrite, no dupes, complete
    // fully-done rerun is a no-op
    assert(Checkpointed.runTriples(pages, dir, nBuckets = 8, runId = 3).isEmpty)
  }

  test("runAll's triples read opens ONLY pending bucket files") {
    // the resume's pending buckets are the ones it adds; the pk filter of
    // runAll's read of triples/ must prune every other directory.
    // Execution-truth check: DELETE every other bucket's data files and
    // leave one unreadable file in each of their directories — a scan
    // (or a schema inference) that opened them would throw; a pruned
    // scan never does
    val dir = resumable()
    val tripDir = dir.resolve("triples")
    names(tripDir).filter(_.startsWith("pk=")).map(tripDir.resolve).foreach { bucket =>
      names(bucket).foreach(n => Files.delete(bucket.resolve(n)))
      Files.write(bucket.resolve("part-00000-not-parquet.parquet"), "not parquet".getBytes("UTF-8"))
    }
    Checkpointed.runAll(killPages, killKb, dir.toString, nBuckets = 8, runId = 2)
    def rows(d: Path, name: String) =
      spark.read.parquet(s"$d/$name").drop("pk").collect().map(_.toSeq).sortBy(_.toString).toSeq
    Seq("nodes", "edges").foreach(t => assert(rows(dir, t) == rows(oneShot, t), s"$t differs"))
  }

  test("manifests count each bucket's routed pages and written rows") {
    import spark.implicits._
    // English pages, plus three German pages on a domain whose bucket no
    // English page shares: that bucket yields pages but no triples
    val en = (0L until 60L).map(Corpus.genPage(_)._1).filter(_.lang == "en")
    val de = Iterator.from(0).map(i => Corpus.genPage(i.toLong)._1).filter(_.lang != "en").take(3).toSeq
    def buckets(urls: Seq[String]) =
      urls.toDF("url").select(Checkpointed.bucketOf(col("url"), 16)).as[Int].collect().toSeq
    val enBuckets = buckets(en.map(_.url)).toSet
    val deUrls = (0 until 64).map(i => s"https://nur-deutsch-$i.example/")
    val deRoot = deUrls.zip(buckets(deUrls)).collectFirst { case (u, b) if !enBuckets(b) => u }.get
    val input = en ++ de.zipWithIndex.map { case (p, i) => p.copy(url = s"${deRoot}seite-$i") }
    val pages = spark.createDataset(input)
    val dir = freshDir()
    val ms = Checkpointed.runTriples(pages, dir, nBuckets = 16, runId = 1)
    val routed = buckets(input.map(_.url)).groupBy(identity).map { case (pk, v) => pk -> v.size.toLong }
    val written = spark.read.parquet(s"$dir/triples").groupBy("pk").count()
      .as[(Int, Long)].collect().toMap
    val dePk = buckets(Seq(deRoot)).head
    assert(ms.map(_.pk) == routed.keys.toSeq.sorted)
    assert(ms.map(m => m.pk -> m.nPages).toMap == routed)
    assert(ms.map(m => m.pk -> m.nTriples).toMap == written + (dePk -> 0L))
    assert(routed(dePk) == 3 && !written.contains(dePk))
    assert(Checkpointed.doneBuckets(dir) == routed.keySet)
    // a rerun has nothing pending: no manifest, no run metrics, no bucket
    // file touched
    def bucketFiles() = names(Paths.get(dir, "triples")).filter(_.startsWith("pk="))
      .flatMap(b => names(Paths.get(dir, "triples", b)).map(f => Paths.get(dir, "triples", b, f)))
      .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    val before = bucketFiles()
    Thread.sleep(1100)
    assert(Checkpointed.runTriples(pages, dir, nBuckets = 16, runId = 2).isEmpty)
    assert(!Files.exists(Paths.get(dir, "_metrics", "run=2.json")))
    assert(bucketFiles() == before)
  }

  test("a page whose relation kernel throws is dropped; its bucket's other pages keep their triples") {
    import spark.implicits._
    // PropertySpec's search found this text: a relation pattern followed
    // by nothing but a comma makes Relations.extract index an empty split
    val broken = "Alan Bean was born on 1932-03-15. Alan Bean was born in ,"
    intercept[ArrayIndexOutOfBoundsException](graft.kernel.Relations.extract(broken))
    val en = (0L until 40L).map(Corpus.genPage(_)._1).filter(_.lang == "en")
    val bad = en.head.copy(url = en.head.url + "-broken",
      html = graft.kernel.HtmlText.render("broken", broken, "en"), text = broken)
    val input = en :+ bad
    val pkOf = input.map(_.url).toDF("url").select(col("url"), Checkpointed.bucketOf(col("url"), 8))
      .as[(String, Int)].collect().toMap
    val pk = pkOf(bad.url)
    val dir = freshDir()
    val ms = Checkpointed.runTriples(spark.createDataset(input), dir, nBuckets = 8, runId = 1)
    val neighbours = en.filter(p => pkOf(p.url) == pk)
    val expected = neighbours.map(p => p.url -> Kg.extractPage(p.url, p.html, p.lang).size.toLong).toMap
    assert(neighbours.nonEmpty && expected.values.sum > 0)
    val written = spark.read.parquet(s"$dir/triples").filter(col("pk") === pk)
      .groupBy("url").count().as[(String, Long)].collect().toMap
    assert(written == expected.filter(_._2 > 0), "the bucket's other pages lost triples")
    // the dropped page is still a routed page of its bucket
    assert(ms.find(_.pk == pk).map(m => (m.nPages, m.nTriples)).contains(
      (neighbours.size + 1L, expected.values.sum)))
  }

  test("incremental runAll: kept edge partitions untouched; result == full rebuild") {
    import scala.jdk.CollectionConverters._
    val dirA = freshDir()
    val dirB = freshDir()
    val pages = Corpus.pages(spark, 250, 4)
    val kb = Corpus.kb(spark, 300)
    Checkpointed.runAll(pages, kb, dirA, nBuckets = 8, runId = 1) // reference: one shot
    Checkpointed.runAll(pages, kb, dirB, nBuckets = 8, runId = 1)
    // simulate a partial crash: odd buckets lose their manifests
    val doneDir = Paths.get(dirB, "_done")
    val redo = Checkpointed.doneBuckets(dirB).filter(_ % 2 == 1)
    assert(redo.nonEmpty)
    redo.foreach(pk => Files.delete(doneDir.resolve(s"pk=$pk.json")))
    val kept = Checkpointed.doneBuckets(dirB)
    assert(kept.nonEmpty)
    def edgeMtimes(pk: Int): Map[String, Long] = {
      val d = Paths.get(dirB, "edges", s"pk=$pk")
      val s = Files.list(d)
      try s.iterator().asScala.toList
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val before = kept.map(pk => pk -> edgeMtimes(pk)).toMap
    Thread.sleep(1100)
    Checkpointed.runAll(pages, kb, dirB, nBuckets = 8, runId = 2) // incremental
    // O(fresh): the kept buckets' edge files were NOT rewritten
    kept.foreach(pk => assert(edgeMtimes(pk) == before(pk), s"bucket $pk rewritten"))
    // result identity with the one-shot rebuild
    def table(dir: String, name: String) =
      spark.read.parquet(s"$dir/$name").drop("pk")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(table(dirB, "nodes") == table(dirA, "nodes"))
    assert(table(dirB, "edges") == table(dirA, "edges"))
  }

  test("graph done marker: crash between triple commit and graph writes self-heals") {
    val dirA = freshDir()
    val dirB = freshDir()
    val pages = Corpus.pages(spark, 250, 4)
    val kb = Corpus.kb(spark, 300)
    Checkpointed.runAll(pages, kb, dirA, nBuckets = 8, runId = 1) // reference
    Checkpointed.runAll(pages, kb, dirB, nBuckets = 8, runId = 1)
    assert(Checkpointed.graphDoneBuckets(dirB) == Checkpointed.doneBuckets(dirB))
    // simulate the ADVICE crash: a bucket's triple manifest committed
    // but its graph writes lost — delete the graph marker AND the edge
    // partition of one bucket (triple manifest intact)
    val victim = Checkpointed.graphDoneBuckets(dirB).head
    Files.delete(Paths.get(dirB, "_done_graph", s"pk=$victim.json"))
    import scala.jdk.CollectionConverters._
    val edgeDir = Paths.get(dirB, "edges", s"pk=$victim")
    Files.list(edgeDir).iterator().asScala.toList.foreach(Files.delete)
    Files.delete(edgeDir)
    // no new pages: the old code saw fresh.isEmpty && nodes-exists and
    // returned, leaving the bucket's edges missing forever
    Checkpointed.runAll(pages, kb, dirB, nBuckets = 8, runId = 2)
    assert(Checkpointed.graphDoneBuckets(dirB).contains(victim))
    def table(dir: String, name: String) =
      spark.read.parquet(s"$dir/$name").drop("pk")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(table(dirB, "edges") == table(dirA, "edges"))
    assert(table(dirB, "nodes") == table(dirA, "nodes"))
  }

  test("stale graph marker (run_id mismatch) is detected and the bucket rebuilt") {
    import scala.jdk.CollectionConverters._
    val dirA = freshDir()
    val dirB = freshDir()
    val pages = Corpus.pages(spark, 200, 4)
    val kb = Corpus.kb(spark, 300)
    Checkpointed.runAll(pages, kb, dirA, nBuckets = 8, runId = 1)
    Checkpointed.runAll(pages, kb, dirB, nBuckets = 8, runId = 1)
    val victim = Checkpointed.graphDoneBuckets(dirB).head
    // simulate: the bucket's triples were re-extracted by run 2 (its
    // _done manifest now carries run_id 2) but the process crashed
    // before the graph commit — the old run-1 graph marker survives
    val mf = Paths.get(dirB, "_done", s"pk=$victim.json")
    val txt = new String(Files.readAllBytes(mf), "UTF-8")
      .replace("\"run_id\":1", "\"run_id\":2")
    Files.write(mf, txt.getBytes("UTF-8"))
    val edgeDir = Paths.get(dirB, "edges", s"pk=$victim")
    Files.list(edgeDir).iterator().asScala.toList.foreach(Files.delete)
    Files.delete(edgeDir)
    // marker-presence alone would skip the bucket forever; the run_id
    // comparison must flag it pending
    Checkpointed.runAll(pages, kb, dirB, nBuckets = 8, runId = 3)
    assert(Files.exists(edgeDir), "stale bucket was not rebuilt")
    val gm = new String(Files.readAllBytes(
      Paths.get(dirB, "_done_graph", s"pk=$victim.json")), "UTF-8")
    assert(gm.contains("\"run_id\":2"), s"marker should record the manifest run_id: $gm")
    def table(dir: String, name: String) =
      spark.read.parquet(s"$dir/$name").drop("pk")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(table(dirB, "edges") == table(dirA, "edges"))
    assert(table(dirB, "nodes") == table(dirA, "nodes"))
  }

  test("re-extracted bucket with SHRUNK content: stale nodes are dropped (full-rebuild identity)") {
    import scala.jdk.CollectionConverters._
    val dir = freshDir()
    val kb = Corpus.kb(spark, 300)
    val pagesA = Corpus.pages(spark, 250, 4)
    Checkpointed.runAll(pagesA, kb, dir, nBuckets = 8, runId = 1)
    // invalidate one bucket and re-extract it from a SMALLER corpus:
    // entities its old extraction contributed must disappear from nodes
    // (the union-merge could only ever ADD rows — ADVICE r03)
    val victim = Checkpointed.graphDoneBuckets(dir).head
    Files.delete(Paths.get(dir, "_done", s"pk=$victim.json"))
    val pagesB = Corpus.pages(spark, 120, 4)
    Checkpointed.runAll(pagesB, kb, dir, nBuckets = 8, runId = 2)
    // invariant: the node table equals a full rebuild from the CURRENT
    // triples — no stale rows from the victim's previous extraction
    import spark.implicits._
    val trip = spark.read.parquet(s"$dir/triples").drop("pk").as[TripleRow]
    val (expectNodes, expectEdges, release) = Pipeline.graphFromTriples(trip, kb)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    try {
      assert(canon(spark.read.parquet(s"$dir/nodes")) == canon(expectNodes))
      // edges stay per-bucket consistent too
      assert(canon(spark.read.parquet(s"$dir/edges").drop("pk")) == canon(expectEdges))
    } finally release()
    // and the rebuild actually removed something (the scenario is real):
    // bucket[victim] of pagesA had triples that pagesB lacks
    val aCount = Kg.extractTriplesFused(pagesA)
      .withColumn("pk", Checkpointed.bucketOf(col("url"), 8))
      .filter(col("pk") === victim).count()
    val bCount = trip.toDF.withColumn("pk", Checkpointed.bucketOf(col("url"), 8))
      .filter(col("pk") === victim).count()
    assert(bCount < aCount, s"victim bucket did not shrink ($aCount -> $bCount)")
  }

  test("runAll produces graph tables partitioned by domain bucket") {
    val dir = freshDir()
    val pages = Corpus.pages(spark, 200, 4)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    Checkpointed.runAll(pages, Corpus.kb(spark, 500), dir, nBuckets = 8, runId = 1)
    // the graph build's vocabulary caches are released once the tables
    // are written: a long-lived JVM running many builds must not keep them
    val leaked = (spark.sparkContext.getPersistentRDDs -- cachedBefore).values
      .filter(_.getStorageLevel.useMemory)
    assert(leaked.isEmpty, s"${leaked.size} leaked caches, rdd ids ${leaked.map(_.id).mkString(", ")}")
    assert(Files.exists(Paths.get(dir, "nodes")))
    val edges = spark.read.parquet(s"$dir/edges")
    assert(edges.count() > 0)
    assert(edges.columns.contains("pk"))
    // partition pruning works on the bucket column
    val pruned = edges.filter(col("pk") === 0)
    assert(pruned.count() >= 0)
  }

  test("runAll and writeBatch leave the session's partitionOverwriteMode alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try {
      val dir = freshDir()
      Checkpointed.runAll(Corpus.pages(spark, 60, 2), Corpus.kb(spark, 300), dir,
        nBuckets = 4, runId = 1)
      assert(spark.conf.get(key) == "static", "runAll changed the caller's session")
      val batch = Kg.extractTriplesFused(Corpus.pages(spark, 40, 2))
      graft.streaming.StreamIngest.writeBatch(batch, 1L, s"$dir/stream", nBuckets = 4)
      graft.streaming.StreamIngest.writeBatch(batch, 2L, s"$dir/stream", nBuckets = 4)
      assert(spark.conf.get(key) == "static", "writeBatch changed the caller's session")
      // the writes themselves still overwrite dynamically: batch 2 kept batch 1
      assert(spark.read.parquet(s"$dir/stream/triples")
        .select("batch").distinct().count() == 2)
    } finally spark.conf.set(key, old)
  }
}
