package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** Snowball (Porter2) English stemmer — cases taken from the published
  * algorithm description (each rule's worked examples) plus the
  * exceptional-form list, and goldens for the predicate names the
  * pipeline and the WebNLG fixtures use. */
class SnowballSpec extends AnyFunSuite {

  private def s(w: String) = Snowball.stem(w)

  test("step 1a examples from the spec") {
    assert(s("ties") == "tie") // the classic-Porter divergence, fixed
    assert(s("cries") == "cri")
    assert(s("gas") == "gas")
    assert(s("this") == "this")
    assert(s("gaps") == "gap")
    assert(s("kiwis") == "kiwi")
    assert(s("caresses") == "caress")
  }

  test("step 1b examples: eed in R1, ed/ing with fix-ups") {
    assert(s("agreed") == "agre")    // eed -> ee, then step5 drops e
    assert(s("feed") == "feed")      // eed not in R1
    assert(s("hopping") == "hop")    // undouble
    assert(s("hoping") == "hope")    // short word regains e
    assert(s("luxuriated") == "luxuri") // at -> ate, then 2/4 strip
    assert(s("disabled") == "disabl")
  }

  test("step 1c: y after non-vowel, not word-initial") {
    assert(s("cry") == "cri")
    assert(s("by") == "by")
    assert(s("say") == "say")
    assert(s("flying") == "fli")
  }

  test("derivational suffix chains (steps 2-4)") {
    assert(s("nationality") == "nation")
    assert(s("rationalization") == "ration")
    assert(s("generously") == "generous") // gener- prefix pins R1
    assert(s("generate") == "generat")
    assert(s("communication") == "communic") // commun- prefix
    assert(s("arsenic") == "arsenic")        // arsen- prefix
    assert(s("sensational") == "sensat")
    assert(s("hopefulness") == "hope")
    assert(s("dependent") == "depend")
    assert(s("adjustment") == "adjust")
  }

  test("step 5 and ll") {
    assert(s("rate") == "rate")   // e preceded by short syllable, R2 null
    assert(s("cease") == "ceas")
    assert(s("controll") == "control")
  }

  test("exceptional forms and invariants") {
    assert(s("skis") == "ski"); assert(s("skies") == "sky")
    assert(s("dying") == "die"); assert(s("lying") == "lie")
    assert(s("tying") == "tie"); assert(s("early") == "earli")
    assert(s("only") == "onli"); assert(s("news") == "news")
    assert(s("proceed") == "proceed"); assert(s("inning") == "inning")
    assert(s("succeeding") == "succeed")
  }

  test("reference goldens from normalize.rs:178-199 still hold") {
    assert(s("runs") == "run" && s("running") == "run" && s("ran") == "ran")
    assert(s("serves") == "serv" && s("serving") == "serv" && s("served") == "serv")
    assert(s("graduates") == "graduat" && s("graduated") == "graduat")
    assert(s("birthdate") == "birthdat")
    assert(s("almamater") == "almamat")
    assert(s("cityserved") == "cityserv")
    assert(s("location") == "locat")
  }

  test("Snowball goldens for the raw aliases and the WebNLG property names") {
    // the stems classic Porter gave too: the two algorithms agree here
    val expected = Map(
      "location" -> "locat", // the one rawAliases value
      "operatingOrganisation" -> "operatingorganis", "partOf" -> "partof",
      "leaderName" -> "leadernam", "foundedBy" -> "foundedbi",
      "cityServed" -> "cityserv", "runwayLength" -> "runwaylength",
      "elevation" -> "elev", "owner" -> "owner", "occupation" -> "occup",
      "birthPlace" -> "birthplac", "deathPlace" -> "deathplac",
      "nationality" -> "nation", "almaMater" -> "almamat",
      "mission" -> "mission", "award" -> "award")
    PredDict.rawAliases.values.foreach(p => assert(expected.contains(p), s"unpinned alias $p"))
    expected.foreach { case (p, stem) =>
      assert(s(p.toLowerCase) == stem, s"$p stemmed to ${s(p.toLowerCase)}")
    }
    // open-vocabulary forms where Snowball (the reference's algorithm)
    // differs from classic Porter (statu, ti): the us-suffix guard and
    // the ies short-stem rule
    assert(s("status") == "status")
    assert(s("ties") == "tie")
  }
}
