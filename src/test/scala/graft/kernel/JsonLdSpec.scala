package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** Goldens from the repo's fixture fixtures/test_cases.json (the
  * reference's test_cases.json format, FIXTURES.md A1) and the
  * reference's flattener tests (tests/integration_tests.rs:70-110,
  * examples/docred_evaluation.rs:251-327). */
class JsonLdSpec extends AnyFunSuite {

  private val testCases = "fixtures/test_cases.json"

  test("flatten: astronaut_birthdate_1 (test_cases.json:1-17)") {
    val json =
      """{"@context":"https://schema.org/","@type":"Person",
         "name":"Alan Bean","birthDate":"1932-03-15"}"""
    assert(JsonLd.flatten(json) ==
      Vector(JsonLd.FlatTriple("alan_bean", "birthdat", "1932-03-15")))
  }

  test("flatten: nested entity contributes its name verbatim (test_cases.json:19-38)") {
    val json =
      """{"@context":"https://schema.org/","@type":"Person","name":"Alan Bean",
         "alumniOf":{"@type":"EducationalOrganization","name":"UT Austin"}}"""
    assert(JsonLd.flatten(json) ==
      Vector(JsonLd.FlatTriple("alan_bean", "alumniof", "UT Austin")))
  }

  test("flatten: airport location (test_cases.json:40-58)") {
    val json =
      """{"@context":"https://schema.org/","@type":"Airport","name":"Aarhus Airport",
         "location":{"@type":"Place","name":"Aarhus","addressCountry":"Denmark"}}"""
    val t = JsonLd.flatten(json)
    assert(t == Vector(JsonLd.FlatTriple("aarhus_airport", "locat", "Aarhus")))
    // rich variant (docred_evaluation.rs:302-320): nested scalar props
    // become triples of the nested entity
    val rich = JsonLd.flatten(json, nestedProps = true)
    assert(rich.toSet == Set(
      JsonLd.FlatTriple("aarhus_airport", "locat", "Aarhus"),
      JsonLd.FlatTriple("aarhus", Porter.stemPredicate("addressCountry"), "Denmark")))
  }

  test("flatten: arrays yield one triple per element (docred_evaluation.rs:302-327)") {
    val json =
      """{"@type":"Person","name":"Ada","memberOf":["Org One","Org Two"]}"""
    assert(JsonLd.flatten(json).toSet == Set(
      JsonLd.FlatTriple("ada", "memberof", "Org One"),
      JsonLd.FlatTriple("ada", "memberof", "Org Two")))
  }

  test("flatten: @graph documents flatten every root entity") {
    val json =
      """{"@context":"https://schema.org/","@graph":[
          {"@type":"Person","name":"Alan Bean","birthDate":"1932-03-15"},
          {"@type":"Organization","name":"Acme Corp","location":{"name":"Lyon"}}]}"""
    assert(JsonLd.flatten(json).toSet == Set(
      JsonLd.FlatTriple("alan_bean", "birthdat", "1932-03-15"),
      JsonLd.FlatTriple("acme_corp", "locat", "Lyon")))
  }

  test("entityNames: sorted deduped recursive harvest (extractor.rs:371-397)") {
    val json =
      """{"@type":"Person","name":"Alan Bean",
         "alumniOf":{"name":"UT Austin"},
         "worksFor":[{"name":"NASA"},{"name":"UT Austin"}]}"""
    assert(JsonLd.entityNames(json) == Vector("Alan Bean", "NASA", "UT Austin"))
  }

  test("normalizeRootName only (normalize.rs:220-265)") {
    val json = """{"name":"Aarhus Airport","location":{"name":"Aarhus"}}"""
    assert(JsonLd.normalizeRootName(json).contains(("Aarhus Airport", "aarhus_airport")))
  }

  test("P3 json carve-out from model replies (extractor.rs:164-183)") {
    assert(JsonLd.extractJsonFromResponse(
      "Here you go:\n```json\n{\"a\":1}\n```\nthanks").contains("{\"a\":1}"))
    assert(JsonLd.extractJsonFromResponse(
      "noise {\"a\":{\"b\":2}} trailing").contains("{\"a\":{\"b\":2}}"))
    assert(JsonLd.extractJsonFromResponse("no json here").isEmpty)
    // unterminated fence falls back to brace carving
    assert(JsonLd.extractJsonFromResponse("```json {\"x\":1}").contains("{\"x\":1}"))
  }

  test("parser handles escapes, numbers, booleans, null, unicode") {
    val json = """{"a":"q\"uo\nteA","n":42.5,"b":true,"x":null,"arr":[1,2]}"""
    val parsed = JsonParser.parse(json)
    assert(parsed.isRight)
    val o = parsed.toOption.get.asInstanceOf[JVal.JObj]
    assert(o.get("a").contains(JVal.JStr("q\"uo\nteA")))
    assert(o.get("b").contains(JVal.JBool(true)))
  }

  test("parser rejects malformed input without throwing") {
    assert(JsonParser.parse("{\"a\":").isLeft)
    assert(JsonParser.parse("not json").isLeft)
    assert(JsonLd.flatten("{broken") == Vector.empty)
  }

  test("flatten matches the fixture file end-to-end") {
    // flatten(expected_jsonld) == expected_triples for every case of the
    // fixture
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(testCases)), "UTF-8")
    val parsed = JsonParser.parse(raw).toOption.get.asInstanceOf[JVal.JArr]
    parsed.items.foreach { case c: JVal.JObj =>
      val id = c.get("id").collect { case JVal.JStr(s) => s }.get
      val expected = c.get("expected_triples").collect { case a: JVal.JArr =>
        a.items.collect { case t: JVal.JObj =>
          JsonLd.FlatTriple(
            t.get("subject").collect { case JVal.JStr(s) => s }.get,
            t.get("predicate").collect { case JVal.JStr(s) => s }.get,
            t.get("object").collect { case JVal.JStr(s) => s }.get)
        }
      }.get
      // re-serialize the expected_jsonld subtree through our flattener
      val jsonldStart = raw.indexOf("\"expected_jsonld\"", raw.indexOf(s""""$id""""))
      assert(jsonldStart > 0)
      val sub = extractJsonObject(raw, raw.indexOf('{', jsonldStart))
      val got = JsonLd.flatten(sub)
      assert(got.toSet == expected.toSet, s"case $id: got $got expected $expected")
    case _ => ()
    }
  }

  test("emit reproduces the fixture expected_jsonld trees (types.rs:170-196 shape)") {
    import JVal._
    // case 1: single entity, literal property
    val doc1 = JsonLd.emitDocument(Vector(JsonLd.emitEntity(
      "Alan Bean", "Person",
      Vector("birthDate" -> Vector(JStr("1932-03-15"))))))
    val want1 = JsonParser.parse(
      """{"@context":"https://schema.org/","@type":"Person",
         "name":"Alan Bean","birthDate":"1932-03-15"}""").toOption.get
    assert(doc1 == want1)
    // case 2: nested entity value carries @type + name only
    val doc2 = JsonLd.emitDocument(Vector(JsonLd.emitEntity(
      "Alan Bean", "Person",
      Vector("alumniOf" -> Vector(JsonLd.emitNested("UT Austin", "EducationalOrganization"))))))
    val want2 = JsonParser.parse(
      """{"@context":"https://schema.org/","@type":"Person","name":"Alan Bean",
         "alumniOf":{"@type":"EducationalOrganization","name":"UT Austin"}}""").toOption.get
    assert(doc2 == want2)
    // merge shape: 0 entities -> context only; n -> @graph
    assert(JsonLd.render(JsonLd.emitDocument(Vector())) ==
      """{"@context":"https://schema.org/"}""")
    val multi = JsonLd.emitDocument(Vector(
      JsonLd.emitNested("A", "Person"), JsonLd.emitNested("B", "Place")))
    assert(multi.asInstanceOf[JObj].get("@graph").nonEmpty)
  }

  test("flatten(emit(x)) == x: emitted docs flatten back to their exact triples") {
    import JVal._
    val doc = JsonLd.emitDocument(Vector(
      JsonLd.emitEntity("Alan Bean", "Person", Vector(
        "birthDate" -> Vector(JStr("1932-03-15")),
        "alumniOf" -> Vector(JsonLd.emitNested("UT Austin", "EducationalOrganization")),
        // multi-valued property round-trips through a JSON array
        "worksFor" -> Vector(JsonLd.emitNested("Acme Corp", "Organization"),
          JsonLd.emitNested("Globex Inc", "Organization")))),
      JsonLd.emitEntity("Acme Corp", "Organization", Vector(
        "location" -> Vector(JsonLd.emitNested("Lyon", "Place"))))))
    val got = JsonLd.flatten(JsonLd.render(doc))
    assert(got.toSet == Set(
      JsonLd.FlatTriple("alan_bean", "birthdat", "1932-03-15"),
      JsonLd.FlatTriple("alan_bean", "alumniof", "UT Austin"),
      JsonLd.FlatTriple("alan_bean", "worksfor", "Acme Corp"),
      JsonLd.FlatTriple("alan_bean", "worksfor", "Globex Inc"),
      JsonLd.FlatTriple("acme_corp", "locat", "Lyon")))
  }

  test("GLiNER-shape discovery document (gliner_extractor.rs:261-327)") {
    import JVal._
    // single entity: direct document with @id entity_<start> + _metadata
    val one = JsonLd.emitDiscovery(
      Vector(("Alan Bean", "Person", "Person", 0.9, 0, 9)), 40).asInstanceOf[JObj]
    assert(one.get("@type").contains(JStr("Person")))
    assert(one.get("@id").contains(JStr("entity_0")))
    assert(one.get("name").contains(JStr("Alan Bean")))
    val m = one.get("_metadata").get.asInstanceOf[JObj]
    assert(m.get("startOffset").contains(JNum("0")) && m.get("endOffset").contains(JNum("9")))
    assert(m.get("extractor").nonEmpty)
    // several entities: @graph + _extractionMetadata with the counts
    val many = JsonLd.emitDiscovery(Vector(
      ("Alan Bean", "Person", "Person", 0.9, 0, 9),
      ("Acme Corp", "Organization", "Organization", 0.9, 20, 29)), 60).asInstanceOf[JObj]
    val graph = many.get("@graph").get.asInstanceOf[JArr]
    assert(graph.items.length == 2)
    assert(graph.items.head.asInstanceOf[JObj].get("@id").contains(JStr("entity_0")))
    val xm = many.get("_extractionMetadata").get.asInstanceOf[JObj]
    assert(xm.get("extractedEntities").contains(JNum("2")))
    assert(xm.get("sourceTextLength").contains(JNum("60")))
    // the document parses back through our own parser (well-formed JSON)
    assert(JsonParser.parse(JsonLd.render(many)).isRight)
  }

  test("GLiNER type mapping matches gliner_extractor.rs:234-242") {
    assert(Relations.mapToSchemaType("person") == "Person")
    assert(Relations.mapToSchemaType("ORGANISATION") == "Organization")
    assert(Relations.mapToSchemaType("company") == "Organization")
    assert(Relations.mapToSchemaType("city") == "Place")
    assert(Relations.mapToSchemaType("country") == "Place")
    assert(Relations.mapToSchemaType("event") == "Event")
    assert(Relations.mapToSchemaType("Spacecraft") == "Spacecraft") // custom passthrough
  }

  test("render/parse is an exact inverse on every fixture document") {
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(testCases)), "UTF-8")
    val parsed = JsonParser.parse(raw).toOption.get
    assert(JsonParser.parse(JsonLd.render(parsed)) == Right(parsed))
  }

  private def extractJsonObject(s: String, start: Int): String = {
    var depth = 0; var i = start; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\\') i += 1 else if (c == '"') inStr = false }
      else if (c == '"') inStr = true
      else if (c == '{') depth += 1
      else if (c == '}') { depth -= 1; if (depth == 0) return s.substring(start, i + 1) }
      i += 1
    }
    s.substring(start)
  }
}
