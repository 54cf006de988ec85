package kgbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.pipeline.{Corpus, KbEntry, Page, Rng}

/** Seeded inputs. The program sees only the tables written here:
  *   pages/  (url, warc_ts, html, text, lang) — `Corpus.genPage` over the
  *           seed's page-id range
  *   kb/     KB labels — `Corpus.kb`, or the seeded fuzzy KB
  * and, for the checks only:
  *   gold.jsonl — the generator's gold triples (url, subj, pred, obj)
  *   stats.json — pages and html bytes per url-domain bucket
  */
object Inputs {

  val nBuckets = 64

  /** First page id of a seed's range. Ranges are 2^32 ids apart, so two
    * seeds below 2^20 never share a page id. */
  def pageOffset(seed: Long): Long = (java.lang.Math.floorMod(seed, 1L << 20) + 1L) << 32

  /** Files per generated table (fixed, so the read split does not
    * depend on the machine). */
  val genPartitions = 16

  def pages(spark: SparkSession, seed: Long, n: Long): Dataset[Page] = {
    import spark.implicits._
    spark.range(pageOffset(seed), pageOffset(seed) + n, 1, genPartitions)
      .map(id => Corpus.genPage(id)._1)
  }

  /** KB for the fuzzy-linking workload: every world entity under a
    * qualified label ("Alan Bean (entity)"), so no surface matches a
    * label exactly, plus seeded distractors whose first token is a world
    * label's first token, so every surface's block holds many labels
    * that fail `contains`. Distractors are longer than any world label:
    * where one does contain a one-word surface, its Jaro-Winkler score
    * stays below the world label's. */
  def fuzzyKb(spark: SparkSession, seed: Long, nLabels: Long): Dataset[KbEntry] = {
    import spark.implicits._
    val world: Seq[(String, String)] =
      ((0 until Corpus.nPersons).map(i => Corpus.personName(i) -> "Person") ++
        (0 until Corpus.nOrgs).map(i => Corpus.orgName(i) -> "Organization") ++
        (0 until Corpus.nCities).map(i => Corpus.universityName(i) -> "EducationalOrganization") ++
        (0 until Corpus.nCities).map(i => Corpus.airportName(i) -> "Airport") ++
        Corpus.cityCountry.flatMap { case (c, k) => Seq(c -> "Place", k -> "Place") }).distinct
    val worldKb = world.map { case (name, t) =>
      val label = s"$name (entity)"
      KbEntry(Corpus.mintUri(label), label, label.toLowerCase, Seq(t))
    }
    // one entry per world label, so blocks are as big as the surfaces
    // that probe them are common (most surfaces are person names)
    val firsts = world.map(_._1.split(" ")(0)).toArray
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    val nDistract = (nLabels - worldKb.size).max(0L)
    val distract = spark.range(0, nDistract, 1, genPartitions).map { i =>
      val rng = new Rng(seed * 0x9e3779b97f4a7c15L ^ (i * 0xbf58476d1ce4e5b9L) ^ 0x2545f491L)
      def token: String = Seq.fill(5)(alphabet(rng.nextInt(alphabet.length))).mkString + rng.nextInt(10)
      val label = s"${firsts(rng.nextInt(firsts.length))} $token $token $token (distractor $i)"
      KbEntry(Corpus.mintUri(label), label, label.toLowerCase, Seq("Thing"))
    }
    spark.createDataset(worldKb).union(distract)
  }

  /** `Checkpointed.bucketOf` outside Spark: crc32 of the url's domain,
    * modulo the bucket count (BenchSpec checks the two agree). */
  def bucket(url: String): Int = {
    val m = """^https?://([^/]+)""".r.findFirstMatchIn(url)
    val crc = new java.util.zip.CRC32
    crc.update(m.map(_.group(1)).getOrElse("").getBytes("UTF-8"))
    java.lang.Math.floorMod(crc.getValue, nBuckets.toLong).toInt
  }

  /** Write all inputs of one workload under `dir`. Pages and KB are
    * written by Spark as the program reads them; gold and the bucket
    * stats, which only the checks read, are written outside Spark. */
  def write(spark: SparkSession, w: Workload, seed: Long, dir: String): Unit = {
    pages(spark, seed, w.pages).write.mode("overwrite").parquet(s"$dir/pages")
    Main.phase("pages written")
    val kb = if (w.fuzzyKbLabels > 0) fuzzyKb(spark, seed, w.fuzzyKbLabels) else Corpus.kb(spark)
    kb.write.mode("overwrite").parquet(s"$dir/kb")
    Main.phase("kb written")

    val pagesPer = new Array[Long](nBuckets)
    val bytesPer = new Array[Long](nBuckets)
    val gold = Files.newBufferedWriter(Paths.get(dir, "gold.jsonl"))
    try {
      for (id <- pageOffset(seed) until pageOffset(seed) + w.pages) {
        val (p, g) = Corpus.genPage(id)
        val b = bucket(p.url)
        pagesPer(b) += 1
        bytesPer(b) += p.html.length
        g.foreach { t =>
          gold.write(Json.obj("url" -> t.url, "subj" -> t.subj, "pred" -> t.pred, "obj" -> t.obj))
          gold.write('\n')
        }
      }
    } finally gold.close()
    val stats = (0 until nBuckets).filter(pagesPer(_) > 0)
      .map(b => Map("pk" -> b, "pages" -> pagesPer(b), "html_bytes" -> bytesPer(b)))
    Files.write(Paths.get(dir, "stats.json"), Json.arr(stats).getBytes("UTF-8"))
  }
}
