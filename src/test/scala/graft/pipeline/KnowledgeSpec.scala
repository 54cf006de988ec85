package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** A1-A5 knowledge-buffer semantics, replicating the reference unit
  * tests (/root/reference/src/knowledge_buffer.rs:171-287) on the
  * set-oriented re-architecture (O3). */
class KnowledgeSpec extends SparkTestBase {

  import spark.implicits._

  private def ment(url: String, surface: String, tpe: String,
      chunk: Int, start: Int) =
    MentionRow(url, chunk, surface, tpe, start, start + surface.length, 0.9)

  test("A4 latest-entity-of-type matches knowledge_buffer.rs test_get_last_entity_of_type") {
    // kb.add_entity("Person A", Person, 0); ("Person B", Person, 100);
    // ("Org A", Organization, 50) -> last Person = Person B, last Org =
    // Org A, last Place = none
    val ments = Seq(
      ment("u", "Person A", "Person", 0, 0),
      ment("u", "Person B", "Person", 0, 100),
      ment("u", "Org A", "Organization", 0, 50)).toDS
    val last = Kg.lastEntityOfType(Kg.entityTable(ments))
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(last == Map("Person" -> "Person B", "Organization" -> "Org A"))
    assert(!last.contains("Place"))
  }

  test("A4 first-mention offset governs, not later repeat mentions (first-wins A1 upstream)") {
    // Person A first at 0 (repeated at 500 — repeats don't move it);
    // Person B first at 100 -> B is still the latest-of-type
    val ments = Seq(
      ment("u", "Person A", "Person", 0, 0),
      ment("u", "Person B", "Person", 0, 100),
      ment("u", "Person A", "Person", 0, 500)).toDS
    val last = Kg.lastEntityOfType(Kg.entityTable(ments))
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(last("Person") == "Person B")
  }

  test("A3 property accumulation is last-write-wins per key (knowledge_buffer.rs:66-73)") {
    // add_property overwrites: location written in chunk 0 then chunk 2
    val trip = Seq(
      TripleRow("u", "apple_inc", "foundedyear", "1976", "", "Apple Inc.", false,
        "Organization", "", 0, 0, 0.9, "rule-based"),
      TripleRow("u", "apple_inc", "locat", "Cupertino", "cupertino", "Apple Inc.", true,
        "Organization", "Place", 0, 1, 0.9, "rule-based"),
      TripleRow("u", "apple_inc", "locat", "Austin", "austin", "Apple Inc.", true,
        "Organization", "Place", 2, 0, 0.9, "rule-based")).toDS.toDF
    val props = Kg.propsMap(trip).collect()
    assert(props.length == 1)
    val m = props(0).getMap[String, String](2)
    assert(m == Map("foundedyear" -> "1976", "locat" -> "Austin"))
    // exploded form agrees
    val rows = Kg.entityProps(trip).collect()
      .map(r => r.getString(2) -> r.getString(3)).toMap
    assert(rows == Map("foundedyear" -> "1976", "locat" -> "Austin"))
  }

  test("A3 props exposed on the node table via nodePropsFromVocab") {
    val trip = Kg.extractTriplesFused(Corpus.pages(spark, 80, 4))
    val (nodes, _, releaseGraph) = Pipeline.graphFromTriples(trip, Corpus.kb(spark, 200))
    // kg_node_props' shape: props keyed on the build's vocabulary table
    val (surfaceIri, _, releaseVocab) =
      Pipeline.surfaceIriReleasable(trip, Corpus.kb(spark, 200))
    try {
      val nodesP = nodes.join(Pipeline.nodePropsFromVocab(trip.toDF, surfaceIri),
        Seq("iri"), "left")
      // props never reduce the node set; node keys identical
      assert(nodesP.select("iri").orderBy("iri").collect().toSeq ==
        nodes.select("iri").orderBy("iri").collect().toSeq)
      // every subject node with triples carries a non-empty props map
      val withProps = nodesP.filter(col("props").isNotNull && size(col("props")) > 0).count()
      assert(withProps > 0)
    } finally { releaseVocab(); releaseGraph() }
  }
}
