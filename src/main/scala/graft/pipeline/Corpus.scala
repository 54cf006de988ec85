package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.kernel.{HtmlText, PredDict, Slug}

/** Deterministic splitmix64 PRNG — pure function of the seed, no
  * wall-clock, identical on every executor (public algorithm,
  * Steele et al. 2014). */
final class Rng(seed0: Long) extends Serializable {
  private var s = seed0
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
}

/** Synthetic Common-Crawl-style corpus over a closed entity world
  * (FIXTURES.md §B2). Everything is a pure function of (seed, pageId):
  * pages, KB labels, and gold triples are generated consistently, so the
  * P/R≥0.95 gate measures pipeline integrity (normalization, coref,
  * linking, dedup, direction — SURVEY.md §7.3#6), exactly how the
  * reference pairs raw_text with expected_triples in
  * /root/reference/tests/fixtures/test_cases.json.
  */
object Corpus {

  val seed = 42L

  // --- entity world (names compose kernel-classifiable surfaces) ---
  private val firstNames = Vector("Alan", "Maria", "Dan", "Lena", "Omar",
    "Ingrid", "Pierre", "Sofia", "Viktor", "Amara", "Hugo", "Yuki", "Nadia",
    "Tomas", "Elena", "Marcus", "Priya", "Johan", "Clara", "Rafael",
    "Farid", "Greta", "Mateo", "Anya", "Kenji", "Livia", "Samir", "Dagny",
    "Pablo", "Mira", "Otto", "Zara", "Ravi", "Edith", "Bruno", "Salma",
    "Nils", "Irene", "Diego", "Wanda")
  private val lastNames = Vector("Bean", "Curie", "Shalev", "Fischer",
    "Haddad", "Larsen", "Moreau", "Costa", "Novak", "Okafor", "Brandt",
    "Tanaka", "Petrov", "Silva", "Varga", "Lindqvist", "Sharma", "Berg",
    "Rossi", "Keller", "Dubois", "Meyer", "Olsen", "Kovacs", "Sato",
    "Ferreira", "Nasser", "Eriksen", "Vidal", "Banda", "Weiss", "Iyer",
    "Horvat", "Duarte", "Lehto", "Quinn", "Bjarnason", "Peeters", "Szabo",
    "Kask")
  private val orgRoots = Vector("Acme", "Globex", "Initech", "Vandelay",
    "Cyberdyne", "Aperture", "Monarch", "Zenith", "Atlas", "Borealis",
    "Cascade", "Ember", "Falcon", "Juniper", "Krypton", "Lumen", "Meridian",
    "Nimbus", "Obsidian", "Pinnacle")
  // Coref "It" pages need a Neutral marker (Corp/Inc/Ltd/Company,
  // coref.rs:530-537); the first four suffixes carry one.
  private val orgSuffixes = Vector("Corp", "Inc", "Ltd", "Company",
    "Systems", "Labs", "Group")
  /** city -> country, all present in the kernel place gazetteer. */
  val cityCountry: Vector[(String, String)] = Vector(
    "Aarhus" -> "Denmark", "Lyon" -> "France", "Krakow" -> "Poland",
    "Hamburg" -> "Germany", "Seville" -> "Spain", "Osaka" -> "Japan",
    "Recife" -> "Brazil", "Toronto" -> "Canada", "Bergen" -> "Norway",
    "Uppsala" -> "Sweden", "Graz" -> "Austria", "Porto" -> "Portugal",
    "Tampere" -> "Finland", "Galway" -> "Ireland", "Reykjavik" -> "Iceland",
    "Ghent" -> "Belgium", "Szeged" -> "Hungary", "Split" -> "Croatia",
    "Tartu" -> "Estonia", "Warsaw" -> "Poland")

  val nPersons: Int = firstNames.length * lastNames.length // 1600
  val nOrgs: Int = orgRoots.length * orgSuffixes.length // 140
  val nCities: Int = cityCountry.length

  def personName(i: Int): String =
    firstNames(i % firstNames.length) + " " + lastNames((i / firstNames.length) % lastNames.length)
  def orgName(i: Int): String =
    orgRoots(i % orgRoots.length) + " " + orgSuffixes((i / orgRoots.length) % orgSuffixes.length)
  def universityName(i: Int): String = cityCountry(i % nCities)._1 + " University"
  def airportName(i: Int): String = cityCountry(i % nCities)._1 + " Airport"

  /** Zipf-ish head skew: a few head orgs dominate (north-rule skew test).
    * u^3 concentrates ~50% of draws on the first ~12% of indexes. */
  def zipfOrg(rng: Rng): Int = {
    val u = rng.nextDouble()
    (u * u * u * nOrgs).toInt.min(nOrgs - 1)
  }

  private def isoDate(rng: Rng): String = {
    val y = 1920 + rng.nextInt(90)
    val m = 1 + rng.nextInt(12)
    val d = 1 + rng.nextInt(28)
    f"$y%04d-$m%02d-$d%02d"
  }
  private val monthNames = Vector("January", "February", "March", "April",
    "May", "June", "July", "August", "September", "October", "November",
    "December")
  /** Surface form of a date, varied (all parsed by kernel Dates). */
  private def dateSurface(iso: String, rng: Rng): String = {
    val y = iso.substring(0, 4).toInt
    val m = iso.substring(5, 7).toInt
    val d = iso.substring(8, 10).toInt
    rng.nextInt(3) match {
      case 0 => s"${monthNames(m - 1)} $d, $y"
      case 1 => s"$d ${monthNames(m - 1)} $y"
      case _ => s"the ${d}th of ${monthNames(m - 1)} $y"
    }
  }

  private val fillers = Vector(
    "the archive preserved several letters from that period",
    "records from that era remain incomplete",
    "a detailed chronology appears in the appendix",
    "little else is known about the following years",
    "the collection was digitized decades later")

  /** One fact sentence + its gold triple. A fact is (sentence text,
    * subject surface, schema property, object surface-or-ISO). */
  private final case class Fact(sentence: String, subj: String, prop: String, obj: String) {
    def gold(url: String): GoldTriple =
      GoldTriple(url, Slug.slug(subj), PredDict.canonical(prop), obj)
  }

  private def personFacts(p: Int, rng: Rng): Vector[Fact] = {
    val name = personName(p)
    val out = Vector.newBuilder[Fact]
    val born = isoDate(rng)
    out += Fact(s"$name was born on ${dateSurface(born, rng)}.", name, "birthDate", born)
    if (rng.nextDouble() < 0.7) {
      val city = cityCountry(rng.nextInt(nCities))._1
      out += Fact(s"$name was born in $city.", name, "birthPlace", city)
    }
    if (rng.nextDouble() < 0.6) {
      val uni = universityName(rng.nextInt(nCities))
      out += Fact(s"$name graduated from $uni.", name, "alumniOf", uni)
    }
    if (rng.nextDouble() < 0.8) {
      val org = orgName(zipfOrg(rng)) // head-entity skew lives here
      out += Fact(s"$name works for $org.", name, "worksFor", org)
    }
    if (rng.nextDouble() < 0.15) {
      val died = isoDate(rng)
      out += Fact(s"$name died on ${dateSurface(died, rng)}.", name, "deathDate", died)
    }
    out.result()
  }

  private def orgFacts(o: Int, rng: Rng, useCoref: Boolean): Vector[Fact] = {
    val org = orgName(o)
    val city = cityCountry(rng.nextInt(nCities))._1
    val founder = personName(rng.nextInt(nPersons))
    val located = Fact(s"$org is located in $city.", org, "location", city)
    val hasNeutralMarker = Seq("Corp", "Inc", "Ltd", "Company").exists(org.contains)
    if (useCoref && hasNeutralMarker)
      // "It" resolves to the org via the Neutral marker heuristic
      // (coref.rs:530-537); the resolved sentence carries the gold fact.
      Vector(located,
        Fact(s"It was founded by $founder.", org, "foundedBy", founder))
    else
      Vector(located,
        Fact(s"$org was founded by $founder.", org, "foundedBy", founder))
  }

  private def airportFacts(a: Int, rng: Rng): Vector[Fact] = {
    val (city, country) = cityCountry(a % nCities)
    val airport = airportName(a)
    Vector(Fact(s"$airport serves the city of $city, $country.", airport, "location", city))
  }

  /** Generate one page + its gold triples. Pure in (seed, id). */
  def genPage(id: Long): (Page, Vector[GoldTriple]) = {
    val rng = new Rng(seed ^ (id * 0x9e3779b97f4a7c15L) ^ 0x5bf03635L)
    // Zipfian domain skew (FIXTURES.md B2): u^3 concentrates ~half the
    // corpus on ~12% of domains — stresses url-domain bucket balance
    // and the salted-join path exactly like real crawl data.
    val domain = {
      val u = rng.nextDouble()
      s"w${(u * u * u * 1000).toInt.min(999)}.example.org"
    }
    val kindRoll = rng.nextDouble()
    val isLong = rng.nextDouble() < 0.10
    val nonEn = rng.nextDouble() < 0.05

    // Base pages carry 2-3 entity sections (~6-12 sentences, ~0.7-1.5 KB
    // like a short web article); long pages (10%) carry 12+ (~4-6 KB).
    val (facts, slugBase): (Vector[Fact], String) =
      if (kindRoll < 0.55) {
        val p = rng.nextInt(nPersons)
        val nSections = if (isLong) 12 else 2 + rng.nextInt(2)
        val fs = (0 until nSections)
          .flatMap(k => personFacts((p + k * 37) % nPersons, rng)).toVector
        (fs, Slug.slug(personName(p)))
      } else if (kindRoll < 0.85) {
        val o = zipfOrg(rng)
        val nSections = if (isLong) 10 else 2 + rng.nextInt(2)
        val fs0 = orgFacts(o, rng, useCoref = rng.nextDouble() < 0.5)
        val fs = fs0 ++ (1 until nSections)
          .flatMap(k => orgFacts((o + k * 11) % nOrgs, rng, useCoref = false))
        (fs, Slug.slug(orgName(o)))
      } else {
        val a = rng.nextInt(nCities)
        val fs = airportFacts(a, rng) ++
          personFacts(rng.nextInt(nPersons), rng)
        (fs, Slug.slug(airportName(a)))
      }

    val url = s"https://$domain/$slugBase-$id"
    val ts = new Timestamp(1735689600000L + (java.lang.Math.floorMod(rng.nextLong(), 31536000L)) * 1000L)

    if (nonEn) {
      val text = "Dies ist ein Platzhaltertext ohne extrahierbare Fakten. " +
        "Der Inhalt dieser Seite ist nicht englisch."
      (Page(url, ts, HtmlText.render(slugBase, text, "de"), text, "de"), Vector.empty)
    } else {
      // Group fact sentences into paragraphs of ~4, with an occasional
      // filler sentence; pronoun facts stay adjacent to their antecedent
      // (same paragraph → same chunk → coref window holds).
      val sentences = facts.map(_.sentence) ++
        (if (rng.nextDouble() < 0.4) Vector(fillers(rng.nextInt(fillers.length)) + ".") else Vector.empty)
      val paras = sentences.grouped(4).map(_.mkString(" ")).toVector
      val text = paras.mkString("\n\n")
      val gold = facts.map(_.gold(url)).distinct
      (Page(url, ts, HtmlText.render(slugBase, text, "en"), text, "en"), gold)
    }
  }

  // --- Spark dataset builders ---

  def pages(spark: SparkSession, nPages: Long, partitions: Int = 32): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, nPages, 1, partitions).map(id => genPage(id)._1)
  }

  def gold(spark: SparkSession, nPages: Long, partitions: Int = 32): Dataset[GoldTriple] = {
    import spark.implicits._
    spark.range(0, nPages, 1, partitions).flatMap(id => genPage(id)._2)
  }

  private def h8(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString

  def mintUri(label: String): String = s"https://kb.local/e/${Slug.slug(label)}-${h8(label)}"

  private def kbLabels(nDistractors: Int): Seq[(String, String)] = {
    val world: Seq[(String, String)] =
      (0 until nPersons).map(i => personName(i) -> "Person") ++
        (0 until nOrgs).map(i => orgName(i) -> "Organization") ++
        (0 until nCities).map(i => universityName(i) -> "EducationalOrganization") ++
        (0 until nCities).map(i => airportName(i) -> "Airport") ++
        cityCountry.map(_._1 -> "Place").distinct ++
        cityCountry.map(_._2 -> "Place").distinct
    val distract = (0 until nDistractors).map { i =>
      (s"Distractor Entity $i", "Thing")
    }
    (world ++ distract).distinct
  }

  /** KB label table: every world entity + deterministic distractors.
    * Types follow the kernel classifier so linking agrees with NER. */
  def kb(spark: SparkSession, nDistractors: Int = 5000): Dataset[KbEntry] = {
    import spark.implicits._
    spark.createDataset(kbLabels(nDistractors).map { case (label, t) =>
      KbEntry(mintUri(label), label, label.toLowerCase, Seq(t))
    })
  }
}
