package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import graft.ops.Multimodal
import graft.sources.Warc

/** Property tests over the byte-level codecs and parsers — the code
  * most exposed to adversarial input at crawl scale. All pure JVM (no
  * Spark session), so hundreds of cases run in milliseconds. Driven by
  * raw scalacheck (the scalatest bridge artifact is not in the offline
  * cache): each test asserts the Prop passes 100 cases (or `cases`). */
class PropertySpec extends AnyFunSuite {

  private def check(prop: Prop, cases: Int = 100): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, res.status.toString)
  }

  private val dims = for {
    w <- Gen.choose(1, 17)
    h <- Gen.choose(1, 9)
  } yield (w, h)

  test("BMP: encode∘decode == id for arbitrary dims (all padding widths) and pixels") {
    check(forAll(dims, Gen.long) { case ((w, h), seed) =>
      val rng = new scala.util.Random(seed)
      val px = Array.fill(w * h)(rng.nextInt(1 << 24))
      val d = Multimodal.decodeBmp(Multimodal.encodeBmp(w, h,
        (x, y) => { val p = px(y * w + x); ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff) }))
      d.width == w && d.height == h && d.pixels.sameElements(px)
    })
  }

  test("PNG (JDK): encode∘decode == id for arbitrary dims and pixels") {
    check(forAll(dims, Gen.long) { case ((w, h), seed) =>
      val rng = new scala.util.Random(seed)
      val px = Array.fill(w * h)(rng.nextInt(1 << 24))
      val d = Multimodal.decodeJdk(Multimodal.encodeJdk(w, h, "png",
        (x, y) => { val p = px(y * w + x); ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff) }))
      d.width == w && d.height == h && d.pixels.sameElements(px)
    })
  }

  test("WAV (JDK): PCM16 encode∘decode == id for arbitrary rates and samples") {
    val gen = for {
      rate <- Gen.oneOf(8000, 11025, 16000, 22050, 44100)
      n <- Gen.choose(1, 400)
      seed <- Gen.long
    } yield (rate, n, seed)
    check(forAll(gen) { case (rate, n, seed) =>
      val rng = new scala.util.Random(seed)
      val samples = Array.fill(n)(rng.nextInt(65536).toShort)
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(Multimodal.encodeWavPcm16(rate, samples)))
      val pcm = in.readAllBytes()
      val back = Array.tabulate(n)(i =>
        ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort)
      in.getFormat.getSampleRate == rate.toFloat && back.sameElements(samples)
    })
  }

  test("WARC: serialize∘parse == id for record sets with adversarial bodies") {
    // bodies deliberately include CRLFs, empty lines and WARC-looking
    // boundaries — Content-Length-driven parsing must not care
    val body = Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      Gen.const("\r\n\r\nWARC/1.0\r\nContent-Length: 7\r\n\r\n".getBytes("UTF-8")),
      Gen.alphaNumStr.map(_.getBytes("UTF-8")))
    val rec = for {
      host <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
      path <- Gen.alphaNumStr
      b <- body
    } yield (s"https://$host.test/$path", b)
    check(forAll(Gen.nonEmptyListOf(rec)) { recs =>
      val ts = java.sql.Timestamp.valueOf("2024-01-02 03:04:05")
      val bytes = recs.toArray.flatMap { case (u, b) => Warc.record(u, ts, b) }
      val parsed = Warc.parseRecords(bytes).toList
      parsed.length == recs.length &&
        parsed.zip(recs).forall { case ((pu, _, pb), (u, b)) =>
          pu == u && pb.sameElements(b)
        }
    })
  }

  test("slug is idempotent and stays in its own alphabet") {
    check(forAll(Gen.asciiPrintableStr) { s =>
      val once = Slug.slug(s)
      Slug.slug(once) == once && once.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_')
    })
  }

  test("the per-page pass drops exactly the pages whose NLP kernels throw") {
    // adversarial text: sentences built from a relation pattern between
    // odd arguments (empty, bare separators, case-changing and control
    // characters, lone surrogates), mixed with arbitrary strings
    val odd = Gen.oneOf("", ",", ", ,", ".", " . ", "Mr.", "\u0130", "\u212a", "\u00df",
      "\u0000", "\u0007", "\t", "\n", "\ud800", "\udc00", "\ud83d\ude00")
    val arg = Gen.oneOf(odd, Gen.oneOf("Alan Bean", "Acme Corp", "Lyon", "He", "It", "1932-03-15"),
      Gen.identifier.map(_.capitalize), Gen.alphaStr)
    val pattern = Gen.oneOf("was born on", "was born in", "was founded by", "founded",
      "is the capital of", "is part of", "The leader of", "the location of", "is")
    val sentence = for (a <- arg; vp <- pattern; b <- arg) yield s"$a $vp $b"
    val text = Gen.oneOf(Gen.listOf(Gen.oneOf(sentence, arg)).map(_.mkString(". ")),
      Gen.asciiPrintableStr, org.scalacheck.Arbitrary.arbitrary[String])
    // the kernels as Kg.extractPage runs them on a one-chunk page
    def kernels(text: String): Unit =
      for (r <- Relations.extract(Coref.resolve(text).resolvedText)) {
        Slug.slug(r.subj); Slug.slug(r.obj); PredDict.canonical(r.pred)
      }
    val dropped = new java.util.concurrent.atomic.AtomicInteger()
    check(forAll(text) { s =>
      Slug.slug(s); PredDict.canonical(s) // total on any string
      val html = HtmlText.render("t", s, "en")
      val triples = graft.pipeline.Kg.extractPage("https://p.example/a", html, "en") // never throws (O4)
      scala.util.Try(kernels(HtmlText.extract(html))).isSuccess ||
        { dropped.incrementAndGet(); triples.isEmpty }
    }, cases = 2000)
    // the search still reaches a throwing input (today: a relation
    // pattern followed by nothing but a comma, see CheckpointedSpec)
    assert(dropped.get > 0, "no generated page made a kernel throw")
  }

  test("simhash kernel: permutation-invariant to whitespace runs, sensitive to tokens") {
    val words = Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString))
    check(forAll(words) { ws =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val a = graft.ops.Dedup.simhashKernel(ws.mkString(" "), md)
      val b = graft.ops.Dedup.simhashKernel(ws.mkString("  \t "), md)
      a == b // whitespace collapse is part of the tokenization spec
    })
  }
}
