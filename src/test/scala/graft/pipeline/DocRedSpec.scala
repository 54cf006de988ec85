package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DocRedSpec extends SparkTestBase {
  import DocRed._

  test("J9 denormalization: first mention = cluster element 0, dict-mapped predicate") {
    import spark.implicits._
    val doc = DocRedDoc(1L, "Test",
      vertexSet = Seq(
        Seq(DocMention("Marie Curie", 0, "PER"), DocMention("Curie", 3, "PER")),
        Seq(DocMention("University of Paris", 1, "ORG")),
        Seq(DocMention("Warsaw", 2, "LOC"))),
      labels = Seq(DocLabel(0, 1, "P69"), DocLabel(0, 2, "P19"), DocLabel(0, 2, "P999")))
    val got = goldTriples(Seq(doc).toDS.toDF)
      .select("subj", "pred", "obj").collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("marie_curie", "alumniof", "University of Paris"),
      ("marie_curie", Porter2Check.birthplac, "Warsaw"))) // P999 unmapped → dropped
  }

  test("A11 cross-sentence relation counting") {
    import spark.implicits._
    val doc = DocRedDoc(1L, "T",
      vertexSet = Seq(
        Seq(DocMention("A B", 0, "PER")),
        Seq(DocMention("C Inc", 0, "ORG")), // same sentence as A B
        Seq(DocMention("Lyon", 2, "LOC"))),
      labels = Seq(DocLabel(0, 1, "P108"), DocLabel(0, 2, "P19")))
    val r = crossSentenceCounts(Seq(doc).toDS.toDF).head()
    assert(r.getAs[Long]("n_relations") == 2)
    assert(r.getAs[Long]("n_cross_sentence") == 1)
  }

  test("synthesized docred corpus is deterministic and denormalizes cleanly") {
    val docs = DocRed.corpus(spark, 50)
    val g1 = goldTriples(docs.toDF).orderBy("id", "subj", "pred", "obj").collect().toSeq
    val g2 = goldTriples(DocRed.corpus(spark, 50).toDF).orderBy("id", "subj", "pred", "obj").collect().toSeq
    assert(g1 == g2 && g1.nonEmpty)
    assert(g1.size == 50 * 3) // all three labels map
  }

  test("DocRED fixture: executor-side parse + denorm") {
    val docs = graft.sources.DocRedJson.docs(spark)
    assert(docs.count() == 3, "fixture ships three documents")
    val byId = docs.collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(byId.keySet == Set("docred_sample_1", "docred_sample_2", "docred_sample_3"))
    assert(byId("docred_sample_1") == 4) // Marie Curie doc has 4 sentences
    val g = goldTriples(docs)
      .select("id", "subj", "pred", "obj")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    // P19 birthPlace from the Marie Curie doc: subject = slug of the
    // cluster's FIRST mention, object = tail cluster's first mention
    assert(g.contains(("docred_sample_1", "marie_curie", Porter2Check.birthplac, "Warsaw")), g.toString)
    // cross-sentence: P19 head (sent 0 first mention) vs Warsaw (sent 1)
    val cs = crossSentenceCounts(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_cross_sentence")).toMap
    assert(cs("docred_sample_1") >= 1)
  }

  test("A8/A9 per-case and aggregate metrics") {
    import spark.implicits._
    val gold = Seq(
      ("u1", "a", "p", "x"), ("u1", "a", "p", "y"),
      ("u2", "b", "p", "z")).toDF("url", "subj", "pred", "obj")
    val pred = Seq(
      ("u1", "a", "p", "x"), // tp
      ("u1", "a", "p", "WRONG"), // fp  (u1: tp=1 fp=1 fn=1 → P=R=0.5)
      ("u2", "b", "p", "z")) // tp    (u2: P=R=1)
      .toDF("url", "subj", "pred", "obj")
    val (perCase, agg) = EvalAgg.perCaseAndAggregate(pred, gold)
    val byUrl = perCase.collect().map(r => r.getString(0) ->
      (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))).toMap
    assert(byUrl("u1") == ((1L, 1L, 1L)))
    assert(byUrl("u2") == ((1L, 0L, 0L)))
    val a = agg.head()
    assert(a.getAs[Long]("n_cases") == 2)
    assert(math.abs(a.getAs[Double]("avg_precision") - 0.75) < 1e-6)
    assert(math.abs(a.getAs[Double]("avg_f1") - 0.75) < 1e-6)
  }
}

/** Keep the stem expectation honest instead of hardcoding twice. */
object Porter2Check {
  val birthplac: String = graft.kernel.Porter.stemPredicate("birthPlace")
}
