package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** WebNLG XML ingest over the repo's fixtures (fixtures/README): the
  * astronaut file holds 6 entries with 10 mtriples, the airport file 4
  * entries with 5. */
class WebNlgSpec extends SparkTestBase {

  private val path = graft.SparkEntry.webnlgPath.replace("*", "astronaut")

  test("parser: entries carry eid/category/size, mtriples and texts, entities unescaped") {
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    val es = WebNlg.parseEntries(xml)
    assert(es.nonEmpty)
    // first fixture entry golden (webnlg-astronaut.xml:4-18)
    val first = es.head
    assert(first.eid == "Id1" && first.category == "Astronaut" && first.size == 1)
    assert(first.mtriples == Vector("Alan_Bean | almaMater | \"UT Austin, B.S. 1955\""))
    assert(first.texts.contains("Alan Bean graduated in 1955 from UT Austin with a B.S."))
    // every entry well-formed
    assert(es.forall(e => e.eid.nonEmpty && e.mtriples.nonEmpty))
    assert(es.forall(_.mtriples.forall(_.contains(" | "))))
    // no entity escapes survive
    assert(es.forall(e => (e.mtriples ++ e.texts).forall(s => !s.contains("&quot;"))))
  }

  test("spark source parses the same entries executor-side") {
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    val local = WebNlg.parseEntries(xml).map(_.eid)
    val dist = WebNlg.entries(spark, path).collect().map(_.eid).toSeq
    assert(dist.sorted == local.sorted)
  }

  test("gold denormalization: split + unquote; literals lose their quotes") {
    val g = WebNlg.goldTriples(WebNlg.entries(spark, path))
    val first = g.filter(col("eid") === "Id1").collect()
    assert(first.length == 1)
    val r = first.head
    assert(r.getString(2) == "Alan_Bean")
    assert(r.getString(3) == "almaMater")
    assert(r.getString(4) == "UT Austin, B.S. 1955") // quotes stripped
    assert(g.count() == 10) // the astronaut file's full mtriple count
  }

  test("multi-file glob reads both corpora; (eid, category) disambiguates colliding eids") {
    val e = WebNlg.entries(spark, graft.SparkEntry.webnlgPath)
    assert(e.count() == 6 + 4)
    val cats = e.collect().map(_.category).distinct.sorted
    assert(cats.contains("Astronaut") && cats.contains("Airport"))
    // eids collide across files (both have Id1) but (eid, category) is unique
    import org.apache.spark.sql.functions.{col, countDistinct}
    val d = e.toDF
    assert(d.select(countDistinct(col("eid"), col("category"))).head.getLong(0) == 10L)
  }

  test("fixture eval: extraction recovers gold triples from lexicalizations") {
    val e = WebNlg.entries(spark, path)
    val ev = WebNlg.evalByCategory(WebNlg.predicted(e), WebNlg.normalizedGold(e))
      .collect()
    assert(ev.nonEmpty)
    val tp = ev.map(_.getAs[Long]("tp")).sum
    // the rule-based patterns genuinely recover gold triples
    // (the fixture has birthDate / birthPlace / alumniOf phrasings)
    assert(tp > 0, s"no true positives against WebNLG gold")
  }
}
