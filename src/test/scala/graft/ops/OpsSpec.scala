package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class OpsSpec extends SparkTestBase {

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup keeps lowest id per normalized text") {
    val d = docs(Seq(
      (1L, "the quick brown fox"), (2L, "THE  QUICK   brown FOX"),
      (3L, "something else entirely here")))
    val r = Dedup.exact(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(r(1L) && !r(2L) && r(3L))
  }

  test("minhash LSH finds planted near-duplicates, not unrelated docs") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val nearDup = base.replace("token30", "changed30") // ~95% shingle overlap
    val other = (1 to 60).map(i => s"word$i").mkString(" ")
    val d = docs(Seq((1L, base), (2L, nearDup), (3L, other), (4L, base)))
    val pairs = Dedup.lshCandidates(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair missing: $pairs")
    assert(pairs.contains((1L, 4L)), s"exact pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"false candidate: $pairs")
  }

  test("one-pass minhash kernel == columnar executable spec, bit for bit") {
    import spark.implicits._
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "short"), (3L, ""), (4L, "two words"),
      (5L, "  leading and   trailing whitespace  "),
      (6L, (1 to 100).map(i => s"tok$i").mkString(" ")),
      (7L, "MIXED Case TEXT With\tTabs\nand newlines"))
    val d = texts.toDF("doc_id", "text")
    val columnar = d
      .select(col("doc_id"), Dedup.minhashSignature(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.foreach { case (id, t) =>
      val kernel = Dedup.minhashSigKernel(t, 3, 32, md).toVector
      assert(kernel == columnar(id), s"doc $id: kernel != columnar")
    }
  }

  test("LSH bucket cap: hot bucket degrades to star pairs on the min id") {
    // 8 identical docs = every band-bucket has 8 members; cap at 4
    // forces the star path: pairs must be exactly (1, x) for x in 2..8
    val d = docs((1L to 8L).map(i => (i, "same same same same same text")))
    val pairs = Dedup.lshCandidates(d, "doc_id", "text", bucketCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (2L to 8L).map(x => (1L, x)).toSet, s"got $pairs")
    val capped = Dedup.lshCappedBuckets(d, "doc_id", "text", bucketCap = 4)
    assert(capped.count() == 8) // all 8 bands capped
    // below the cap the same corpus emits all 28 pairs
    val full = Dedup.lshCandidates(d, "doc_id", "text", bucketCap = 2000)
    assert(full.count() == 28)
  }

  test("incremental LSH index: probe finds cross-corpus dups; append extends it") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val other = (1 to 60).map(i => s"w$i").mkString(" ")
    val corpusA = docs(Seq((1L, base), (2L, other)))
    val dir = tempDir("graft_lshidx") + "/idx"
    Dedup.lshIndexWrite(corpusA, "doc_id", "text", dir)
    // batch B: a near-dup of doc 1, a fresh doc, and an intra-batch dup
    val nearDup = base.replace("token30", "x30")
    val batchB = docs(Seq((10L, nearDup), (11L, "completely new words here"), (12L, nearDup)))
    val (cross, intra, freshBuckets) = Dedup.lshIndexProbe(batchB, "doc_id", "text", dir)
    val c = cross.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(c.contains((1L, 10L)) && c.contains((1L, 12L)), c.toString)
    assert(!c.exists(_._1 == 2L), "unrelated corpus doc matched")
    val i = intra.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(i == Set((10L, 12L)))
    // append REUSES the probe's signed buckets (no re-signing)
    Dedup.lshIndexAppendBuckets(freshBuckets, dir)
    // batch C duplicates a batch-B doc: found only because of the append
    val (cross2, _, _) = Dedup.lshIndexProbe(
      docs(Seq((20L, "completely new words here"))), "doc_id", "text", dir)
    val c2 = cross2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(c2.contains((11L, 20L)), c2.toString)
  }

  test("JDK codecs: PNG and GIF encode∘decode == id pixel-exact; JPEG bounded; WAV exact") {
    for (id <- Seq(0L, 3L, 7L, 11L); fmt <- Seq("png", "gif")) {
      // GIF needs the >= 30-pixel sizes (JDK codec quirk on tiny images)
      val (wb, hb) = if (fmt == "gif") (6, 5) else (4, 3)
      val w = (wb + id % 5).toInt
      val h = (hb + id % 4).toInt
      val d = Multimodal.decodeJdk(Multimodal.encodeJdk(w, h, fmt, Multimodal.formulaRgb(id)))
      assert(d.width == w && d.height == h, s"$fmt dims for id=$id")
      val f = Multimodal.formulaRgb(id)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = f(x, y)
        assert(d.pixels(y * w + x) == ((r << 16) | (g << 8) | b),
          s"$fmt id=$id pixel ($x,$y) not lossless")
      }
    }
    // JPEG: lossy, but channel means stay within the documented bound
    for (id <- Seq(0L, 5L, 9L)) {
      val w = (16 + (id % 5) * 8).toInt
      val h = (16 + (id % 4) * 8).toInt
      val d = Multimodal.decodeJdk(Multimodal.encodeJdk(w, h, "jpg", Multimodal.formulaRgb(id)))
      assert(d.width == w && d.height == h)
      var dr = 0.0; var fr = 0.0
      val f = Multimodal.formulaRgb(id)
      for (y <- 0 until h; x <- 0 until w) {
        dr += (d.pixels(y * w + x) >> 16) & 0xff
        fr += f(x, y)._1
      }
      assert(math.abs(dr / (w * h) - fr / (w * h)) < 3.0, s"jpeg mean err id=$id")
    }
    // WAV: PCM16 round-trips exactly; container fields parsed for real
    val samples = Multimodal.wavSamples(42L, 1000)
    val wav = Multimodal.encodeWavPcm16(16000, samples)
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(in.getFormat.getSampleRate == 16000f && in.getFormat.getChannels == 1)
    val pcm = in.readAllBytes()
    val back = Array.tabulate(1000)(i =>
      ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort)
    assert(back.sameElements(samples), "WAV PCM not lossless")
  }

  test("jwSimilarityJoin == brute-force cross join (length pruning is sound)") {
    import spark.implicits._
    // adversarial lengths: short words, long words, near-dups, repeats
    val rng = new scala.util.Random(7)
    val base = Seq("alpha", "alphq", "beta", "betatron", "a", "ab",
      "organization", "organisation", "supercalifragilistic")
    val strs = (0 until 60).map { i =>
      val s = base(i % base.length)
      if (i % 3 == 0) s else s + ("x" * rng.nextInt(3))
    }
    val d = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    for (c <- Seq(0.85, 0.92)) {
      val got = Dedup.jwSimilarityJoin(d, "id", "s", c)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = (for {
        i <- strs.indices; j <- strs.indices if i < j
        if graft.kernel.Jaro.jaroWinkler(strs(i), strs(j)) >= c
      } yield (i.toLong, j.toLong)).toSet
      assert(got == expect, s"threshold $c: missing=${expect -- got} extra=${got -- expect}")
      assert(expect.nonEmpty, "fixture must produce matches")
    }
    intercept[IllegalArgumentException] {
      Dedup.jwSimilarityJoin(d, "id", "s", 0.8) // pruning unsound at <= 0.8
    }
  }

  test("jwContainsJoin == brute-force contains join on token-aligned names") {
    import spark.implicits._
    // same planted family as q_sim_join_jw: fixed-width numerals keep
    // every true containment token-aligned (the blocking's regime)
    val names = (0 until 60).map { i =>
      val k = f"${i % 10}%03d"
      (i % 3) match {
        case 0 => s"acme systems $k"
        case 1 => s"acme systems $k incorporated"
        case _ => s"zenith labs $k"
      }
    }
    val d = names.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "name")
    val got = Dedup.jwContainsJoin(d, "id", "name", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expect = (for {
      i <- names.indices; j <- names.indices if i < j
      if names(i).contains(names(j)) || names(j).contains(names(i))
      jw = BigDecimal(graft.kernel.Jaro.jaroWinkler(names(i), names(j)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jw >= 0.9
    } yield (i.toLong, j.toLong, jw)).toSet
    assert(expect.nonEmpty, "fixture must produce matches")
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
  }

  test("jaccardSimilarityJoin == brute-force cross join (size pruning is sound)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val vocab = (1 to 30).map(i => s"w$i")
    val texts = (0 until 50).map { _ =>
      val n = 1 + rng.nextInt(12)
      (0 until n).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val d = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    for (c <- Seq(0.3, 0.6)) {
      val got = Dedup.jaccardSimilarityJoin(d, "id", "s", c)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def jac(a: String, b: String): Double = {
        val sa = a.split(" ").toSet; val sb = b.split(" ").toSet
        BigDecimal(sa.intersect(sb).size.toDouble / sa.union(sb).size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val expect = (for {
        i <- texts.indices; j <- texts.indices if i < j
        if jac(texts(i), texts(j)) >= c
      } yield (i.toLong, j.toLong)).toSet
      assert(got == expect, s"threshold $c: missing=${expect -- got} extra=${got -- expect}")
      assert(expect.nonEmpty)
    }
  }

  test("canonicalizeUrl: case, default ports, fragments, utm params") {
    import spark.implicits._
    val cases = Seq(
      ("HTTP://Example.COM:80/Path?utm_source=x&id=1#frag", "http://example.com/Path?id=1"),
      ("https://A.b:443/x", "https://a.b/x"),
      ("https://a.b:8443/x", "https://a.b:8443/x"), // non-default port kept
      ("http://a.b/p?utm_a=1&utm_b=2", "http://a.b/p"), // all params removed
      ("http://a.b/p?utm_a=1&id=2&utm_b=3", "http://a.b/p?id=2"),
      ("ftp://Host/P", "ftp://host/P"), // unknown scheme: no port logic, still lowercased
      ("not a url", "not a url")) // pass-through
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), Urls.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"$in -> ${got(in)} (want $want)")
    }
  }

  test("redactPii: cascade replaces emails, IPs, phones with typed tokens") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail bob.smith@corp.io then ping 192.168.1.77 or call 555-1234 end"),
      (2L, "clean text without identifiers at all")).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(got(1L)._1 == 1 && got(1L)._2 == 1 && got(1L)._3 == 1)
    val expected = "mail <EMAIL> then ping <IP> or call <PHONE> end"
    val md = java.security.MessageDigest.getInstance("MD5")
    val expMd5 = md.digest(expected.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(got(1L)._4 == expMd5, s"redacted md5 mismatch")
    assert(got(2L) == ((0, 0, 0, got(2L)._4)))
  }

  test("decontaminate: 8-gram overlap with the benchmark subset flags documents") {
    import spark.implicits._
    val benchText = (1 to 20).map(i => s"b$i").mkString(" ")
    val leaked = "x y " + (5 to 12).map(i => s"b$i").mkString(" ") + " z" // 8-gram of bench
    val clean = (1 to 20).map(i => s"c$i").mkString(" ")
    val d = Seq((0L, benchText), (1L, leaked), (2L, clean)).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminate(d, "doc_id", "text",
      benchPred = col("doc_id") === 0L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.keySet == Set(1L, 2L)) // benchmark docs excluded from output
    assert(got(1L)._2 && got(1L)._1 == 1L, got.toString)
    assert(got(2L) == ((0L, false)))
  }

  test("sampleByTokenBudget: deterministic per-source quota, inclusive cumsum") {
    import spark.implicits._
    val d = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "web" else "books", 100L)).toDF("doc_id", "source", "n_chars")
    // 100 chars -> 25 tokens each; budget 100 -> exactly 4 docs per source
    val got = TextAnalysis.sampleByTokenBudget(d, "source", "doc_id",
      col("n_chars") / lit(4), budget = 100L).collect()
    val bySrc = got.groupBy(_.getString(0))
    assert(bySrc.keySet == Set("web", "books"))
    bySrc.values.foreach { rows =>
      assert(rows.length == 4)
      assert(rows.map(_.getLong(3)).max == 100L) // inclusive boundary kept
    }
    // deterministic: same input -> same picked ids
    val again = TextAnalysis.sampleByTokenBudget(d, "source", "doc_id",
      col("n_chars") / lit(4), budget = 100L).collect()
    assert(got.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("hashEmbed: exact integer components, repeated tokens accumulate") {
    import spark.implicits._
    val d = Seq((1L, "a a a"), (2L, "a a a"), (3L, "b c d e")).toDF("doc_id", "text")
    val got = TextAnalysis.hashEmbed(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // identical text -> identical fingerprint; tf accumulates: |v|=3 on one index
    assert(got(1L) == got(2L))
    assert(got(1L)._2 == 3L)
    assert(got(3L)._2 <= 4L) // 4 distinct tokens, possible sign cancellation on collision
    assert(got(1L)._1 != got(3L)._1)
  }

  test("simhash candidates: near-dups pair with small hamming; chunk blocking is recall-complete <= 3") {
    import spark.implicits._
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok40", "zzz40") // one token changed
    val other = (1 to 80).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.simhashCandidates(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.contains((1L, 2L)), s"near-dup pair missing: $pairs")
    val h = pairs((1L, 2L))
    // exact hamming equals the kernel xor popcount
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = java.lang.Long.bitCount(
      Dedup.simhashKernel(base, md) ^ Dedup.simhashKernel(nearDup, md))
    assert(h == expected && h < 16, s"hamming $h vs kernel $expected")
    // pigeonhole: the pair shares a 16-bit chunk whenever hamming <= 3
    if (expected <= 3) assert(pairs.contains((1L, 2L)))
  }

  test("O4 tolerant decode: corrupt blobs dropped + counted, never detonating the job") {
    import spark.implicits._
    val good = Multimodal.encodeJdk(6, 5, "png", Multimodal.formulaRgb(1L))
    val truncated = good.take(10)
    val garbage = Array.fill[Byte](40)(0x5a)
    val df = Seq((1L, good), (2L, truncated), (3L, garbage)).toDF("img_id", "img")
    val ok = Multimodal.jdkChannelMeansTolerant(df)
      .collect().map(_.getLong(0)).toSet
    assert(ok == Set(1L))
    val failed = Multimodal.decodeFailures(df).collect().map(_.getLong(0)).toSet
    assert(failed == Set(2L, 3L))
    // the strict path fails loudly on the same input
    intercept[org.apache.spark.SparkException] {
      Multimodal.jdkChannelMeans(df).collect()
    }
  }

  test("animated GIF video container: frames round-trip pixel-exact with delays") {
    for (id <- Seq(0L, 4L, 9L)) {
      val w = (6 + id % 5).toInt
      val h = (5 + id % 4).toInt
      val nf = (4 + id % 7).toInt
      val delay = (4 + (id % 3) * 2).toInt
      val bytes = Multimodal.encodeAnimatedGif(w, h, delay,
        (0 until nf).map(f => Multimodal.formulaRgbFrame(id, f)))
      val v = Multimodal.decodeAnimatedGif(bytes)
      assert(v.width == w && v.height == h, s"dims id=$id")
      assert(v.frames.length == nf, s"frame count id=$id")
      assert(v.delayCs == delay, s"delay id=$id")
      for (f <- 0 until nf) {
        val rgb = Multimodal.formulaRgbFrame(id, f)
        for (y <- 0 until h; x <- 0 until w) {
          val (r, g, b) = rgb(x, y)
          assert(v.frames(f).pixels(y * w + x) == ((r << 16) | (g << 8) | b),
            s"id=$id frame=$f pixel ($x,$y)")
        }
      }
    }
  }

  test("MJPEG-AVI container: RIFF walk exact, frames JPEG-decode within bound") {
    var worst = 0.0
    for (id <- Seq(0L, 1L, 2L, 5L, 11L)) {
      val w = (16 + 8 * (id % 3)).toInt
      val h = (16 + 8 * (id % 2)).toInt
      val nf = (3 + id % 4).toInt
      val us = (40000 + 20000 * (id % 3)).toInt
      val bytes = Multimodal.encodeAviMjpeg(w, h, us,
        (0 until nf).map(f => Multimodal.formulaRgbFrame(id, f)))
      val v = Multimodal.decodeAviMjpeg(bytes)
      assert(v.width == w && v.height == h, s"dims id=$id")
      assert(v.frames.length == nf, s"frame count id=$id")
      assert(v.usPerFrame == us, s"timing id=$id")
      for (f <- 0 until nf) {
        assert(v.frames(f).width == w && v.frames(f).height == h,
          s"frame dims id=$id f=$f")
        // JPEG is lossy: channel MEANS must stay within the q_multimodal
        // tolerance (same bound the oracle booleans use)
        val rgb = Multimodal.formulaRgbFrame(id, f)
        var fr = 0.0; var fg = 0.0; var fb = 0.0
        var dr = 0.0; var dg = 0.0; var db = 0.0
        for (y <- 0 until h; x <- 0 until w) {
          val (r, g, b) = rgb(x, y); fr += r; fg += g; fb += b
          val p = v.frames(f).pixels(y * w + x)
          dr += (p >> 16) & 0xff; dg += (p >> 8) & 0xff; db += p & 0xff
        }
        val n = (w * h).toDouble
        val err = Seq(math.abs(dr - fr), math.abs(dg - fg), math.abs(db - fb)).max / n
        worst = math.max(worst, err)
      }
      // truncation fails loudly (the WARC contract)
      intercept[IllegalArgumentException] {
        Multimodal.decodeAviMjpeg(bytes.take(bytes.length - 7))
      }
    }
    assert(worst < 3.0, s"JPEG mean error $worst exceeds the oracle tolerance")
  }

  test("real BMP codec: encode∘decode == id, padding and row order exact") {
    // 3x2 image with distinct per-pixel values; width 3 forces row padding
    val px = Map(
      (0, 0) -> (10, 20, 30), (1, 0) -> (40, 50, 60), (2, 0) -> (70, 80, 90),
      (0, 1) -> (11, 21, 31), (1, 1) -> (41, 51, 61), (2, 1) -> (71, 81, 91))
    val bytes = Multimodal.encodeBmp(3, 2, (x, y) => px((x, y)))
    val d = Multimodal.decodeBmp(bytes)
    assert(d.width == 3 && d.height == 2)
    for (((x, y), (r, g, b)) <- px) {
      val p = d.pixels(y * 3 + x)
      assert(((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff) == ((r, g, b)),
        s"pixel ($x,$y)")
    }
    // real nearest-neighbor resize: 4x2 -> 2x1 samples columns 0 and 2
    val wide = Multimodal.encodeBmp(4, 2,
      (x, y) => (x * 10 + y, 0, 0))
    val rz = Multimodal.resizeNearest(Multimodal.decodeBmp(wide), 2, 1)
    assert(rz.width == 2 && rz.height == 1)
    assert(((rz.pixels(0) >> 16) & 0xff, (rz.pixels(1) >> 16) & 0xff) == ((0, 20)))
    // and through the Spark path: means of the known corpus formula
    val means = Multimodal.bmpChannelMeans(Multimodal.bmpImages(spark, 10))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(means(0L)._1 == 4 && means(0L)._2 == 3)
    // img 0, mean_r = avg((x*7 + y*13) % 256) over 4x3 grid
    val exp = (for (x <- 0 until 4; y <- 0 until 3) yield (x * 7 + y * 13) % 256)
    assert(math.abs(means(0L)._3 - exp.sum.toDouble / exp.size) < 1e-9)
  }

  test("int8 quantization: max component hits ±127, zero vector guarded") {
    import spark.implicits._
    val d = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(d, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2).toVector)).toMap
    assert(got(1L)._2 == Vector(64, -127, 32)) // 0.5*127, -1*127, 0.25*127 rounded
    assert(got(1L)._1 == 127.0)
    assert(got(2L) == ((0.0, Vector(0, 0, 0))))
  }

  test("as-of join: latest right row at or before each left ts, per key") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val left = Seq((100L, 1L, ts(10)), (101L, 1L, ts(20)), (102L, 2L, ts(5)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts(9), 50L, 1.0), (1L, ts(10), 51L, 2.0), // tie at left ts(10): inclusive
      (1L, ts(10), 52L, 3.0), // same-ts tie -> largest ord (52) wins
      (1L, ts(15), 53L, 4.0), // latest before ts(20)
      (3L, ts(1), 60L, 9.0)) // other key, never matched
      .toDF("user_id", "ts", "event_id", "value")
    val got = AsOf.asofJoin(left, right, "user_id", "ts", "event_id", Seq("value"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(4)).map(_.asInstanceOf[Long]), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(got(100L) == ((Some(52L), Some(3.0)))) // inclusive + ord tie-break
    assert(got(101L) == ((Some(53L), Some(4.0))))
    assert(got(102L) == ((None, None))) // no prior right row for user 2
  }

  test("as-of join: NULL right values stay atomic (whole-row pick)") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val left = Seq((100L, 1L, ts(10))).toDF("event_id", "user_id", "ts")
    // latest preceding right row (ord 51) has a NULL value; the older
    // row (ord 50) has 7.0 — per-column last(ignoreNulls) would stitch
    // (event_id=51, value=7.0), a row that never existed (ADVICE r03)
    val right = Seq(
      (1L, ts(8), 50L, Some(7.0)),
      (1L, ts(9), 51L, None))
      .toDF("user_id", "ts", "event_id", "value")
    val r = AsOf.asofJoin(left, right, "user_id", "ts", "event_id", Seq("value"))
      .select("asof_event_id", "asof_value").collect()(0)
    assert(r.getLong(0) == 51L, r.toString)
    assert(r.isNullAt(1), "value must be the picked ROW's null, not an older row's value")
  }

  test("range join: same-key pairs within the window, including cross-bucket") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
    val e = Seq(
      (1L, 1L, ts(0)), (2L, 1L, ts(299)),  // same user, 299 s apart: in
      (3L, 1L, ts(601)),                    // 302 s after id 2: out
      (4L, 2L, ts(10)),                     // other user: never pairs
      (5L, 1L, ts(600)))                    // 301 s after id 2: out; 1 s before id 3: in
      .toDF("event_id", "user_id", "ts")
    val got = AsOf.temporalNeighbors(e, "user_id", "event_id", "ts", 300L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 299L, (3L, 5L) -> -1L), got.toString)
  }

  test("quality filter: clean text keeps, degenerate text drops with reasons") {
    val clean = "the quick brown fox jumps over the lazy dog and then runs " +
      "into the forest to find a quiet place of rest and calm in the evening"
    val repetitive = (1 to 30).map(_ => "buy now").mkString(" ")
    val short = "tiny text"
    val d = docs(Seq((1L, clean), (2L, repetitive), (3L, short)))
    val got = TextAnalysis.qualityFilter(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(got(1L) == ((true, "")))
    assert(!got(2L)._1 && got(2L)._2.contains("repetitive_bigrams"), got(2L).toString)
    assert(!got(3L)._1 && got(3L)._2.contains("too_short"))
  }

  test("assignSplit: pure md5 bucket, stable, roughly 90/5/5") {
    import spark.implicits._
    val ids = (1L to 2000L).toDF("doc_id")
    val got = TextAnalysis.assignSplit(ids, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val again = TextAnalysis.assignSplit(ids, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == again, "split must be a pure function of the id")
    val frac = got.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.90) < 0.03 &&
      math.abs(frac("val") - 0.05) < 0.02 && math.abs(frac("test") - 0.05) < 0.02,
      frac.toString)
  }

  test("vocabCoverage: rank follows (cnt desc, token asc); coverage monotone <= 1") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b b c"), (2L, "a b d")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, "text", 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(_._3)
    // counts: a=4 b=3 c=1 d=1 (total 9); top-3 ties break on token asc
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq(("a", 4L, 1), ("b", 3L, 2), ("c", 1L, 3)), got.mkString(","))
    assert(got.map(_._4).toSeq == Seq(4.0 / 9, 7.0 / 9, 8.0 / 9).map(x =>
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("bpeMerges: hand-computed merges on the classic fixture; run parity; early stop") {
    import spark.implicits._
    // word counts: low=5 lower=2 newest=6 widest=3 (the subword-nmt demo)
    val d = Seq(
      (1L, "low low low low low lower lower"),
      (2L, "newest newest newest newest newest newest widest widest widest"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(d, "text", vocabK = 100, nMerges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // iter0: (e,s)=9 ties (s,t)=9, smaller left wins; iter1: (es,t)=9;
    // iter2: (l,o)=7 ties (o,w)=7
    assert(got.toSeq == Seq((0, "e", "s", 9L), (1, "es", "t", 9L), (2, "l", "o", 7L)),
      got.mkString(","))
    // identical-symbol runs merge greedily left-to-right: "aaaaa" has 4
    // overlapping (a,a) occurrences but merges to [aa, aa, a]; then
    // (aa,aa)=3 ties (aa,a)=3 and the smaller RIGHT symbol wins; merging
    // (aa,a) left-to-right gives [aa, aaa] (the first aa's next is aa)
    val runs = TextAnalysis.bpeTrain(Seq(("aaaaa", 3L)), 3)
    assert(runs == Seq((0, "a", "a", 12L), (1, "aa", "a", 3L), (2, "aa", "aaa", 3L)),
      runs.toString)
    // early stop when nothing is left to merge
    assert(TextAnalysis.bpeTrain(Seq(("ab", 1L)), 5).length == 1)
    assert(TextAnalysis.bpeTrain(Seq(("a", 1L)), 5).isEmpty)
  }

  test("bpeApply/bpeEncode: rank-order replay; per-doc rollup; empty docs drop") {
    import spark.implicits._
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"))
    assert(TextAnalysis.bpeApply("newest", merges).toSeq ==
      Seq("n", "e", "w", "est"))
    assert(TextAnalysis.bpeApply("lowest", merges).toSeq ==
      Seq("lo", "w", "est"))
    assert(TextAnalysis.bpeApply("low", merges).toSeq == Seq("lo", "w"))
    // identical-symbol runs replay training's greedy left-to-right scan:
    // "aaaaa" re-fuses fully under its own merges; "aaaa" stops at
    // [aa, aa] because (aa,a) and (aa,aaa) never match
    val runMerges = TextAnalysis.bpeTrain(Seq(("aaaaa", 3L)), 3).map(m => (m._2, m._3))
    assert(TextAnalysis.bpeApply("aaaaa", runMerges).toSeq == Seq("aaaaa"))
    assert(TextAnalysis.bpeApply("aaaa", runMerges).toSeq == Seq("aa", "aa"))
    val d = Seq((1L, "low lowest"), (2L, ""), (3L, "   "), (4L, "newest est"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(d, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // low=[lo,w] lowest=[lo,w,est]; newest=[n,e,w,est] est=[est]
    assert(got.toSeq == Seq((1L, 2L, 5L), (4L, 2L, 5L)), got.mkString(","))
  }

  test("sessionize/sessionStats: gap splits sessions; exact us math; boundary inclusive") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 00:00:00.000001"), 1.0),
      (2L, 10L, ts("2024-01-01 00:30:00.0"), 2.0),       // 30m gap, same session
      (3L, 10L, ts("2024-01-01 02:00:00.0"), 3.0),       // 90m gap, NEW session
      (4L, 20L, ts("2024-01-01 00:00:00.0"), 4.0),
      (5L, 20L, ts("2024-01-01 01:00:00.0"), 5.0),       // exactly 3600s: same (strict >)
      (6L, 20L, ts("2024-01-01 02:00:00.000001"), 6.0))  // 3600s + 1us: NEW
      .toDF("event_id", "user_id", "ts", "value")
    val got = Events.sessionStats(ev, "user_id", "event_id", "ts", "value", 3600L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5), r.getDouble(6)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      (10L, 1L, 2L, 1799999999L, 3.0),   // duration exact to the microsecond
      (10L, 2L, 1L, 0L, 3.0),
      (20L, 1L, 2L, 3600000000L, 9.0),
      (20L, 2L, 1L, 0L, 6.0)), got.mkString(","))
  }

  test("dsirWeights: target-like docs outscore source-typical; exact smoothing") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha alpha alpha", "tgt"),
      (2L, "alpha alpha beta", "tgt"),
      (3L, "beta beta beta beta", "src"),
      (4L, "beta beta", "src"),
      (5L, "", "src"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.dsirWeights(d, "doc_id", "text",
        col("source") === "tgt", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .sortBy(_._1)
    // empty doc 5 drops; counts: alpha c_src=5 c_tgt=5, beta c_src=7
    // c_tgt=1, t_src=12 t_tgt=6 (alpha/beta buckets distinct mod 64)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L), got.mkString(","))
    val mean = got.map(t => t._1 -> t._3).toMap
    val lrAlpha = math.log((6.0 / 70) / (6.0 / 76))
    val lrBeta = math.log((2.0 / 70) / (8.0 / 76))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(mean(1L) == r4(lrAlpha), s"${mean(1L)} vs $lrAlpha")
    assert(mean(3L) == r4(lrBeta), s"${mean(3L)} vs $lrBeta")
    assert(mean(1L) > mean(3L))
    assert(got.find(_._1 == 1L).get._2 == 3L) // n_tokens exact
  }

  test("lmScore: fluent in-corpus transitions outscore gibberish; counts exact") {
    import spark.implicits._
    val fluent = "the cat sat on the mat"
    val docs = ((1L to 8L).map(i => (i, fluent)) :+ ((99L, "zq xv qk pw zz")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // 6 bigrams per fluent doc: <s>-the the-cat cat-sat sat-on on-the the-mat
    assert(got(1L)._1 == 6L && got(99L)._1 == 5L, got.toString)
    // repeated fluent transitions are high-probability; the gibberish
    // doc's transitions are singletons against a 11-token vocabulary
    assert(got(1L)._2 > got(99L)._2, got.toString)
    assert(got(2L) == got(1L)) // identical docs score identically
  }

  test("tf-idf top-k: corpus-wide terms score zero, rare terms rank first") {
    val d = docs(Seq(
      (1L, "apple banana banana shared"),
      (2L, "cherry shared"),
      (3L, "durian shared")))
    val got = TextAnalysis.tfidfTopK(d, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getInt(5)) -> (r.getString(1), r.getDouble(4))).toMap
    // doc 1: banana tf=2 df=1 -> 2*ln(3); apple tf=1 df=1 -> ln(3); shared df=3 -> 0
    assert(got((1L, 1))._1 == "banana")
    assert(got((1L, 2))._1 == "apple")
    assert(math.abs(got((1L, 1))._2 - 2 * math.log(3.0)) < 1e-3)
    assert(got((2L, 1))._1 == "cherry" && got((3L, 1))._1 == "durian")
    // 'shared' appears in every doc -> idf 0 -> never outranks a real keyword
    assert(got((2L, 2))._1 == "shared" && got((2L, 2))._2 == 0.0)
  }

  test("connected components: pairs collapse to min-id clusters") {
    import spark.implicits._
    // two components: {1,2,3,4} (chain) and {10,11}; 99 isolated (absent)
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    val driverTier = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driverTier == expected)
    // forced distributed tier (min-label propagation) is result-identical
    val distTier = Dedup.connectedComponents(pairs, driverPairLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distTier == expected)
  }

  test("keepBestPerCluster: longest doc survives, ties break to min id") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa"), (2L, "aaaaaa"), (3L, "bbbbbb"),
      (10L, "cc"), (11L, "ccccc"), (99L, "unclustered")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster")
    val got = Dedup.keepBestPerCluster(docs, "doc_id", "text", clusters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    // cluster 1: lengths 4/6/6 — tie at 6 between ids 2 and 3 → 2 keeps
    assert(got == Map(1L -> ((4L, false)), 2L -> ((6L, true)), 3L -> ((6L, false)),
      10L -> ((2L, false)), 11L -> ((5L, true))), got.toString)
  }

  test("repetition features: dup sentences and hot bigrams surface") {
    val repeated = "the cat sat. the cat sat. something else here. the cat sat"
    val clean = "alpha beta gamma delta. epsilon zeta eta theta"
    val d = docs(Seq((1L, repeated), (2L, clean)))
    val got = TextAnalysis.repetitionFeatures(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // doc 1: 4 sentences, 2 distinct -> dup frac 0.5
    assert(got(1L)._1 == 4 && got(1L)._2 == 0.5)
    assert(got(1L)._3 > got(2L)._3, "repeated text must score a hotter top bigram")
    assert(got(2L)._2 == 0.0)
  }

  test("line dedup keeps only the globally first occurrence") {
    val d = docs(Seq(
      (1L, "shared boilerplate line. unique to one"),
      (2L, "unique to two. shared boilerplate line")))
    val got = TextAnalysis.lineDedup(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getBoolean(3)))
    val shared = got.filter(_._3 == "shared boilerplate line")
    assert(shared.toSet ==
      Set((1L, 0, "shared boilerplate line", true), (2L, 1, "shared boilerplate line", false)))
    assert(got.filter(_._3.startsWith("unique")).forall(_._4))
  }

  test("span dedup finds duplicated passages inside otherwise-unique docs") {
    // 10-token passage planted in three otherwise-unique documents;
    // doc 3 carries it TWICE, separated by 9 unique tokens (> n gap).
    val common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val filler = (1 to 9).map(i => s"filler$i").mkString(" ")
    val d = docs(Seq(
      (1L, s"one two three $common four five six"),
      (2L, s"seven eight nine ten eleven $common twelve"),
      (3L, s"$common $filler $common"),
      (4L, "totally unique text with no shared passage at all")))
    val got = Dedup.spanDedup(d, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    // doc 1 holds every global first occurrence (lowest doc_id) → emits nothing;
    // doc 2: passage at tokens 5..14 → fully-interior 8-shingles at pos 5,6,7
    //   merge to one island [5, 15);
    // doc 3: two copies at 0..9 and 19..28 → two islands (gap 19-2 > 8);
    // doc 4: nothing.
    assert(got == Set(
      (2L, 5, 15, 3L),
      (3L, 0, 10, 3L), (3L, 19, 29, 3L)), got.toString)
  }

  test("sequence packing: two-pass prefix sum equals the naive global cumsum") {
    import spark.implicits._
    val d = (0L until 100L).map(i => (i, (0 to (i % 7).toInt).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(d, "doc_id", "text", budget = 10L, parts = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // naive check
    var off = 0L
    (0L until 100L).foreach { i =>
      val n = (i % 7) + 1
      assert(got(i) == ((n, off / 10, off % 10)), s"doc $i")
      off += n
    }
  }

  test("lshCandidates with a bucket checkpoint returns identical pairs") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val d = docs(Seq((1L, base), (2L, base.replace("token30", "x30")),
      (3L, (1 to 60).map(i => s"w$i").mkString(" ")), (4L, base)))
    val dir = tempDir("graft_lshck")
    def pairs(ck: Option[String]) =
      Dedup.lshCandidates(d, "doc_id", "text", bucketsCheckpoint = ck)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Some(s"$dir/buckets")) == pairs(None))
  }

  test("one-pass simhash kernel == columnar executable spec, bit for bit") {
    import spark.implicits._
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "short"), (3L, ""), (4L, "two words"),
      (5L, "  leading and   trailing whitespace  "),
      (6L, (1 to 100).map(i => s"tok$i").mkString(" ")),
      (7L, "MIXED Case TEXT With\tTabs\nand newlines"))
    val d = texts.toDF("doc_id", "text")
    val columnar = d
      .select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.foreach { case (id, t) =>
      assert(Dedup.simhashKernel(t, md) == columnar(id), s"doc $id: kernel != columnar")
    }
    // and the table form end to end
    val tbl = Dedup.simhashTable(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tbl == columnar)
  }

  test("simhash: near-dups differ in few bits, unrelated in many") {
    val base = (1 to 80).map(i => s"token$i").mkString(" ")
    val nearDup = base.replace("token7", "changedx")
    val other = (1 to 80).map(i => s"word$i").mkString(" ")
    val d = docs(Seq((1L, base), (2L, nearDup), (3L, other)))
    val sh = d.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) <= 12,
      s"near-dup hamming ${hamming(sh(1L), sh(2L))}")
    assert(hamming(sh(1L), sh(3L)) >= 20,
      s"unrelated hamming ${hamming(sh(1L), sh(3L))}")
  }

  test("jaccard column matches hand-computed value") {
    val d = docs(Seq((1L, "a b c d"), (2L, "b c d e")))
    val a = d.filter(col("doc_id") === 1).select(col("text").as("t1"))
    val b = d.filter(col("doc_id") === 2).select(col("text").as("t2"))
    val j = a.crossJoin(b)
      .select(Dedup.jaccard(col("t1"), col("t2"), 1).as("j"))
      .head().getDouble(0)
    assert(j == 0.6) // {b,c,d} / {a,b,c,d,e}
  }

  test("embedding near-dup: planted duplicate found at 0.95") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(7L)
    def vec() = Array.fill(64)((rng.nextDouble() - 0.5).toFloat)
    val v1 = vec()
    val v1dup = v1.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val corpus = Seq((1L, v1), (2L, v1dup), (3L, vec()), (4L, vec()))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(corpus, 64, 6, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("bloom: no false negatives; disjoint keys reject at large m; kernel == spec") {
    import spark.implicits._
    val seen = (1L to 40L).map(i => (i, s"seen document number $i")).toDF("doc_id", "text")
    val fresh = (41L to 80L).map(i => (i, s"fresh document number $i")).toDF("doc_id", "text")
    val all = seen.unionByName(fresh)
    // large m: fill factor ~40*4/2^20 -> false positives effectively impossible
    val m = 1 << 20
    val bits = Sketch.bloomBuild(seen, "text", m, 4)
    val got = Sketch.bloomProbe(all, "doc_id", "text", bits, m, 4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    (1L to 40L).foreach(i => assert(got(i), s"false negative on $i"))
    (41L to 80L).foreach(i => assert(!got(i), s"false positive on $i at m=$m"))
    // kernel probe == the columnar join spec, at a SMALL m where false
    // positives are live behavior (fill ~15%), so the equivalence
    // covers the collision path too
    val mSmall = 1024
    val bitsSmall = Sketch.bloomBuild(seen, "text", mSmall, 4)
    val kernel = Sketch.bloomProbe(all, "doc_id", "text", bitsSmall, mSmall, 4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val spec = Sketch.bloomProbeSpec(all, "doc_id", "text", seen, "text", mSmall, 4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(kernel == spec)
    // and the kernel position math matches the columnar expression
    val colPos = seen.select(col("doc_id"),
        Sketch.bloomPositions(col("text"), mSmall, 4).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    seen.collect().foreach { r =>
      val (id, txt) = (r.getLong(0), r.getString(1))
      assert(Sketch.bloomPositionsKernel(txt, mSmall, 4).sameElements(colPos(id)), s"doc $id")
    }
  }

  test("snapshotDiff: added/removed/changed/unchanged classified per id") {
    import spark.implicits._
    val oldV = Seq((1L, "same"), (2L, "will change"), (3L, "goes away"))
      .toDF("doc_id", "text")
    val newV = Seq((1L, "same"), (2L, "did change"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.snapshotDiff(oldV, newV, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), got)
  }

  test("negativeSamplingTable: unigram^0.75 normalized, probs sum to ~1 over full vocab") {
    import spark.implicits._
    val docs = Seq((1L, "a a a a b b c")).toDF("doc_id", "text")
    val got = TextAnalysis.negativeSamplingTable(docs, "text", 0.75, 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val tot = math.pow(4, 0.75) + math.pow(2, 0.75) + 1.0
    def r8(x: Double) =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      ("a", 4L, r8(math.pow(4, 0.75) / tot)),
      ("b", 2L, r8(math.pow(2, 0.75) / tot)),
      ("c", 1L, r8(1.0 / tot))), got.mkString(","))
    // 0.75 flattens Zipf: 4x the count must get LESS than 4x the mass
    assert(got(0)._3 < 4 * got(2)._3 && got(0)._3 > got(2)._3)
  }

  test("phraseMine: word2phrase score exact; collocation outranks chance pairs") {
    import spark.implicits._
    // "new york" 6x as a unit; "the" everywhere so (the, new) is chance
    val docs = Seq(
      (1L, "the new york subway"),
      (2L, "i love new york a lot"),
      (3L, "new york  new york new york"), // double space: empty token filtered, adjacency preserved
      (4L, "the city of new york"),
      (5L, "the the the the")).toDF("doc_id", "text")
    val got = TextAnalysis.phraseMine(docs, "text", delta = 1.0, minCount = 5L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // c(new,york)=6, c_new=6, c_york=6, N=25 tokens -> (6-1)*25/(6*6)
    val expected = BigDecimal((6.0 - 1.0) * 25.0 / 36.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.length == 1, got.mkString(",")) // only (new, york) reaches minCount 5
    assert(got(0) == ("new", "york", 6L, expected), s"${got(0)} vs $expected")
  }

  test("cmsHeavyHitters: estimate >= exact always; == exact when w is collision-free") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple apple banana"),
      (2L, "apple banana cherry"),
      (3L, "apple date cherry cherry")).toDF("doc_id", "text")
    // collision-free regime: w >> distinct tokens -> min-counter is exact
    val wide = Sketch.cmsHeavyHitters(docs, "text", w = 1 << 16, d = 4, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(wide.forall { case (_, est, exact) => est == exact }, wide.mkString(","))
    assert(wide.take(2).map(t => (t._1, t._2)).toSeq ==
      Seq(("apple", 5L), ("cherry", 3L)), wide.mkString(","))
    // tiny w forces collisions: estimates may only OVERcount, never under
    val tight = Sketch.cmsHeavyHitters(docs, "text", w = 4, d = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(tight.forall { case (_, est, exact) => est >= exact }, tight.mkString(","))
  }

  test("hllDistinct: one row, raw estimate near exact, register invariants") {
    import spark.implicits._
    val keys = (1L to 500L).map(i => s"key-$i").toDF("token")
    val r = Sketch.hllDistinct(keys, "token", b = 7).collect()
    assert(r.length == 1)
    val (m, used, est, exact) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getDouble(2), r(0).getLong(3))
    assert(m == 128 && exact == 500L && used <= m)
    // raw HLL std error at m=128 is ~9.2%; 30% is a deterministic-safe band
    assert(math.abs(est - exact) / exact < 0.30, s"est=$est exact=$exact")
    // duplicates must not move the registers: same estimate, same exact
    val dup = keys.unionByName(keys)
    val r2 = Sketch.hllDistinct(dup, "token", b = 7).collect()(0)
    assert(r2.getDouble(2) == est && r2.getLong(3) == exact)
  }

  test("ivfAssignKernel == columnar ivfAssign, id for id") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(53L)
    val vecs = (0L until 50L).map(i => (i, Array.fill(64)((rng.nextDouble() - 0.5).toFloat)))
    val cents = Array.tabulate(8)(Similarity.ivfCentroid(_, 64))
    val columnar = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.ivfAssign(col("embedding"), 64, 8).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    vecs.foreach { case (id, v) =>
      assert(Similarity.ivfAssignKernel(v, cents) == columnar(id), s"vec $id")
    }
  }

  test("ivfProbesKernel == columnar ivfProbes, probe list for probe list") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(61L)
    val vecs = (0L until 50L).map(i => (i, Array.fill(64)((rng.nextDouble() - 0.5).toFloat)))
    val cents = Array.tabulate(8)(Similarity.ivfCentroid(_, 64))
    val columnar = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.ivfProbes(col("embedding"), 64, 8, 4).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    vecs.foreach { case (id, v) =>
      assert(Similarity.ivfProbesKernel(v, cents, 4).toList == columnar(id), s"vec $id")
    }
  }

  test("pqAdcKernel == columnar pqAdcColumn, double for double") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(67L)
    val vecs = (0L until 20L).map(i => (i, Array.fill(64)((rng.nextDouble() - 0.5).toFloat)))
    val corpus = vecs.toDF("vec_id", "embedding")
    val books = Similarity.fitPqCodebooks(corpus, dim = 64, m = 8, k = 8, iters = 2)
    val columnar = corpus
      .select(col("vec_id"), Similarity.pqAdcColumn(col("embedding"), books).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    vecs.foreach { case (id, v) =>
      assert(Similarity.pqAdcKernel(v, books).toSeq == columnar(id).toSeq, s"vec $id")
    }
  }

  test("semDedup: planted semantic dup drops the higher id, singletons keep") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(47L)
    def vec() = Array.fill(64)((rng.nextDouble() - 0.5).toFloat)
    val v1 = vec()
    val v1dup = v1.map(x => x * 1.01f) // same direction: cosine ~ 1
    val corpus = Seq((1L, v1), (2L, v1dup), (3L, vec()), (4L, vec()))
      .toDF("vec_id", "embedding")
    val cents = Similarity.fitCentroids(corpus, 64, 2, iters = 2)
    val got = Similarity.semDedup(corpus, cents, 0.95)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    // first-wins: 1 keeps, its dup 2 drops; random 64-d vectors are
    // near-orthogonal so 3 and 4 keep regardless of cluster
    assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true), got)
  }

  test("semDedup cluster cap: hot cluster judged against the representative only") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(59L)
    val base = Array.fill(64)((rng.nextDouble() - 0.5).toFloat)
    // 5 same-direction scalings -> one cluster, all mutual near-dups
    val corpus = (1L to 5L).map(i => (i, base.map(x => x * (1f + 0.01f * i))))
      .toDF("vec_id", "embedding")
    val cents = Similarity.fitCentroids(corpus, 64, 2, iters = 2)
    val capped = Similarity.semDedup(corpus, cents, 0.95, clusterCap = 3)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    // star pairing: every member compared to min-id rep 1 only -> same
    // keep set as uncapped here (all are dups of 1)
    assert(capped == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false, 5L -> false), capped)
  }

  test("funnel: greedy subsequence match over (ts, id) order") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, 1L, ts("2024-01-01 00:00:00"), "view"),
      (2L, 1L, ts("2024-01-01 00:01:00"), "click"),
      (3L, 1L, ts("2024-01-01 00:02:00"), "purchase"),
      // user 2: click BEFORE view -> only stage 1 (view) reached
      (4L, 2L, ts("2024-01-01 00:00:00"), "click"),
      (5L, 2L, ts("2024-01-01 00:01:00"), "view"),
      (6L, 2L, ts("2024-01-01 00:02:00"), "purchase"),
      // user 3: repeats are harmless
      (7L, 3L, ts("2024-01-01 00:00:00"), "view"),
      (8L, 3L, ts("2024-01-01 00:01:00"), "view"),
      (9L, 3L, ts("2024-01-01 00:02:00"), "click"),
      // user 4: purchase only -> stage 0 (still emitted: has a step event)
      (10L, 4L, ts("2024-01-01 00:00:00"), "purchase"),
      // user 5: no funnel-step events at all -> no row
      (11L, 5L, ts("2024-01-01 00:00:00"), "error"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = Events.funnel(ev, "user_id", "event_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 2L, 4L -> 0L), got)
  }

  test("retentionCohorts: cohort = first active day, per-offset distinct users") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 09:00:00")),
      (2L, 10L, ts("2024-01-01 18:00:00")), // same day, dedups
      (3L, 10L, ts("2024-01-03 09:00:00")),
      (4L, 20L, ts("2024-01-01 23:59:59")),
      (5L, 30L, ts("2024-01-02 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    val got = Events.retentionCohorts(ev, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("2024-01-01", 0L, 2L),  // users 10 and 20 on their cohort day
      ("2024-01-01", 2L, 1L),  // user 10 back on day 2
      ("2024-01-02", 0L, 1L)), // user 30's own cohort
      got)
  }

  test("lshBucketKernel == columnar lshBucket, bit for bit") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(29L)
    val vecs = (0L until 50L).map(i => (i, Array.fill(64)((rng.nextDouble() - 0.5).toFloat)))
    val columnar = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.lshBucket(col("embedding"), 64, 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      assert(Similarity.lshBucketKernel(v, 64, 8) == columnar(id), s"vec $id")
    }
  }

  test("embedding near-dup bucket cap: hot bucket emits star pairs only") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(13L)
    val base = Array.fill(64)((rng.nextDouble() - 0.5).toFloat)
    // 6 tiny perturbations of one vector -> same bucket, all near-dups
    val corpus = (1L to 6L).map { i =>
      (i, base.zipWithIndex.map { case (x, d) =>
        if (d == 0) x + 0.001f * i else x })
    }.toDF("vec_id", "embedding")
    val capped = Similarity.nearDupPairs(corpus, 64, 6, 0.9, bucketCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == (2L to 6L).map(x => (1L, x)).toSet, s"got $capped")
    val full = Similarity.nearDupPairs(corpus, 64, 6, 0.9)
    assert(full.count() == 15) // C(6,2) below the cap
    // the capped-bucket report names the hot bucket with its size and
    // no bucket at or under the cap (two copies of -base: another bucket)
    val hot = Similarity.lshBucketKernel(base.updated(0, base(0) + 0.001f), 64, 6)
    assert(Similarity.lshBucketKernel(base.map(-_), 64, 6) != hot)
    val withCold = corpus.union(
      Seq((7L, base.map(-_)), (8L, base.map(-_))).toDF("vec_id", "embedding"))
    val cappedBuckets = Similarity.nearDupCappedBuckets(withCold, 64, 6, bucketCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cappedBuckets == Seq((hot, 6L)), s"got $cappedBuckets")
    assert(Similarity.nearDupCappedBuckets(withCold, 64, 6).isEmpty)
  }

  test("LSH ANN returns the true nearest neighbor for in-bucket queries") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(11L)
    def vec() = Array.fill(64)((rng.nextDouble() - 0.5).toFloat)
    val vs = (0L until 200L).map(i => (i, vec()))
    val corpus = vs.toDF("vec_id", "embedding")
    val q = vs.take(5).map { case (i, v) => (i, v) }.toDF("qid", "qvec")
    val brute = Similarity.bruteForceTopK(q, corpus, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Similarity.lshTopK(q, corpus, 64, 4, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rank-1 self-match always lands in its own bucket
    assert(lsh == brute)
    assert(brute.forall { case (qid, v) => qid == v })
  }

  test("multiprobe LSH recall >= single-probe recall; both find self-matches") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(31L)
    def vec() = Array.fill(64)((rng.nextDouble() - 0.5).toFloat)
    val vs = (0L until 300L).map(i => (i, vec()))
    val corpus = vs.toDF("vec_id", "embedding")
    val q = vs.take(10).toDF("qid", "qvec")
    val brute = Similarity.bruteForceTopK(q, corpus, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.lshTopK(q, corpus, 64, 6, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.lshTopKMultiprobe(q, corpus, 64, 6, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rs = single.intersect(brute).size.toDouble / brute.size
    val rm = multi.intersect(brute).size.toDouble / brute.size
    info(s"recall single=$rs multi=$rm")
    assert(rm >= rs, s"multiprobe recall $rm < single-probe $rs")
    assert(rm > rs, "multiprobe should strictly improve recall at nBits=6 on random data")
    (0L until 10L).foreach(qid => assert(multi.contains((qid, qid))))
  }

  test("k-means-fitted IVF codebook: recall >= seeded-constant codebook on clustered data") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(37L)
    // clustered corpus: 6 centers + small noise (the case a real fit wins)
    val centers = Array.fill(6)(Array.fill(32)((rng.nextDouble() - 0.5).toFloat * 2f))
    val vs = (0L until 360L).map { i =>
      val c = centers((i % 6).toInt)
      (i, c.map(x => x + (rng.nextDouble() - 0.5).toFloat * 0.1f))
    }
    val corpus = vs.toDF("vec_id", "embedding")
    val q = vs.take(12).toDF("qid", "qvec")
    val brute = Similarity.bruteForceTopK(q, corpus, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val seeded = Similarity.ivfTopK(q, corpus, 32, nCentroids = 6, nProbe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fitted = Similarity.fitCentroids(corpus, 32, 6, iters = 5)
    val trained = Similarity.ivfTopKWith(q, corpus, 32, fitted, nProbe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rSeeded = seeded.intersect(brute).size.toDouble / brute.size
    val rTrained = trained.intersect(brute).size.toDouble / brute.size
    info(s"recall seeded=$rSeeded trained=$rTrained")
    assert(rTrained >= rSeeded)
    assert(rTrained >= 0.9, s"trained codebook recall $rTrained")
  }

  test("pqEncode kernel == columnar pqEncodeColumn, code for code") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(41L)
    val vs = (0L until 120L).map(i => (i, Array.fill(64)((rng.nextDouble() - 0.5).toFloat)))
    val corpus = vs.toDF("vec_id", "embedding")
    val books = Similarity.fitPqCodebooks(corpus, dim = 64, m = 8, k = 8, iters = 2)
    val columnar = corpus
      .select(col("vec_id"), Similarity.pqEncodeColumn(col("embedding"), books).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    vs.foreach { case (id, v) =>
      assert(Similarity.pqEncode(v, books).sameElements(columnar(id)), s"vec $id")
    }
  }

  test("PQ-ADC ANN: recall vs brute is high on product-structured data") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(43L)
    // PQ's designed regime is PRODUCT structure: each 8-dim subspace
    // independently near one of 8 sub-centers (8^8 distinct code vectors,
    // tiny reconstruction error). Globally-clustered data instead
    // collapses whole clusters onto ONE code vector and ADC can't rank
    // within a cluster — so we test the regime the operator is for.
    val subCenters = Array.fill(8, 8)(Array.fill(8)((rng.nextDouble() - 0.5).toFloat * 2f))
    val vs = (0L until 400L).map { i =>
      val v = new Array[Float](64)
      for (sub <- 0 until 8) {
        val c = subCenters(sub)(rng.nextInt(8))
        for (d <- 0 until 8) v(sub * 8 + d) = c(d) + (rng.nextDouble() - 0.5).toFloat * 0.05f
      }
      (i, v)
    }
    val corpus = vs.toDF("vec_id", "embedding")
    val q = vs.take(10).toDF("qid", "qvec")
    val books = Similarity.fitPqCodebooks(corpus, dim = 64, m = 8, k = 8, iters = 3)
    val brute = Similarity.bruteForceTopK(q, corpus, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(q, corpus, dim = 64, books, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    info(s"PQ recall vs brute = $recall")
    assert(recall >= 0.8, s"PQ recall $recall below floor")
  }

  test("IVF ANN: self-match always found; recall vs brute force is high") {
    import spark.implicits._
    val rng = new graft.pipeline.Rng(23L)
    def vec() = Array.fill(32)((rng.nextDouble() - 0.5).toFloat)
    val vs = (0L until 300L).map(i => (i, vec()))
    val corpus = vs.toDF("vec_id", "embedding")
    val q = vs.take(10).toDF("qid", "qvec")
    val brute = Similarity.bruteForceTopK(q, corpus, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, corpus, dim = 32, nCentroids = 8, nProbe = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // self-match (rank 1) must always be present
    (0L until 10L).foreach(qid => assert(ivf.contains((qid, qid))))
    // probing half the lists should recover most of the true top-3
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"ivf recall $recall")
  }

  test("multimodal: real PNG decode + nearest resize matches the formula at sampled coords") {
    val imgs = Multimodal.codecImages(spark, 20, "png")
    val rows = Multimodal.jdkResizedMeans(imgs, outW = 4, outH = 3).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 4 && r.getInt(2) == 3)
      val (w, h) = ((4 + id % 5).toInt, (3 + id % 4).toInt)
      val f = Multimodal.formulaRgb(id)
      // expected means from the formula at the decimation's source coords
      var sr = 0.0; var sg = 0.0; var sb = 0.0
      for (y <- 0 until 3; x <- 0 until 4) {
        val (pr, pg, pb) = f(x * w / 4, y * h / 3)
        sr += pr; sg += pg; sb += pb
      }
      def r4(x: Double) =
        BigDecimal(x / 12).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == r4(sr) && r.getDouble(4) == r4(sg) &&
        r.getDouble(5) == r4(sb), s"img $id")
    }
  }

  test("video frame sampling: stride/timestamp plan over the stubbed container decode") {
    val vids = Multimodal.videos(spark, 40)
    val dec = Multimodal.decodeVideo(vids).collect()
    assert(dec.length == 40)
    assert(dec.forall(v => v.n_frames >= 30 && v.fps_x100 >= 2400))
    val frames = Multimodal.frameSample(Multimodal.decodeVideo(vids), 30).collect()
    val byVid = frames.groupBy(_.getLong(0))
    dec.foreach { v =>
      val fs = byVid(v.video_id).map(_.getInt(1)).sorted
      // frames 0, 30, ... < n_frames, nothing else
      assert(fs.toSeq == (0 until v.n_frames by 30).toSeq, s"video ${v.video_id}")
    }
    // timestamps: frame 30 at fps 24.00 -> floor(30/24*1000) = 1250 ms
    val f30 = frames.find(r => r.getInt(1) == 30 &&
      dec.find(_.video_id == r.getLong(0)).get.fps_x100 == 2400)
    f30.foreach(r => assert(r.getLong(2) == 1250L))
  }

  test("audio segmentation: real WAV decode, ceil-count windows, exact segment sums") {
    val aud = Multimodal.wavAudios(spark, 15)
    val segs = Multimodal.wavSegmentStats(aud, segSamples = 512).collect()
    val byId = segs.groupBy(_.getLong(0))
    (0L until 15L).foreach { id =>
      val ns = (800 + (id % 5) * 400).toInt
      val ss = byId(id).sortBy(_.getInt(1))
      assert(ss.length == (ns + 511) / 512, s"audio $id") // ceil windows
      // contiguous cover of [0, ns): starts step by 512, lengths sum to ns
      ss.zipWithIndex.foreach { case (r, i) => assert(r.getInt(2) == i * 512) }
      assert(ss.map(_.getInt(3)).sum == ns)
      assert(ss.forall(_.getInt(4) == (8000 + (id % 3) * 4000).toInt))
      // exact stats of the FIRST segment re-derived from the formula
      val vals = (0 until math.min(512, ns)).map(i =>
        (((i * 37L + id * 101L) % 4096L) - 2048L))
      def r4(x: Double) =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val n = vals.length.toDouble
      assert(ss.head.getDouble(5) == r4(vals.sum / n), s"mean audio $id")
      assert(ss.head.getDouble(6) == r4(math.sqrt(vals.map(v => v * v).sum / n)),
        s"rms audio $id")
    }
  }

  test("BPE-ish token count and rolling fingerprint") {
    val d = docs(Seq((1L, "Hello, world 42!"), (2L, "Hello, world 42!"),
      (3L, "hello , world 42 !")))
    val r = d.select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("b"),
        TextAnalysis.rollingHash(col("text")).as("h"))
      .collect().map(x => x.getLong(0) -> (x.getInt(1), x.getLong(2))).toMap
    assert(r(1L)._1 == 6) // Hello , world 4 2 !
    assert(r(1L)._2 == r(2L)._2) // identical text, identical fp
    assert(r(1L)._2 != r(3L)._2) // different byte stream, different fp
    // hand-checked polynomial fold: "ab" -> 97*257 + 98
    val ab = docs(Seq((9L, "ab")))
      .select(TextAnalysis.rollingHash(col("text"))).head().getLong(0)
    assert(ab == 97L * 257L + 98L)
  }

  test("winnowing fingerprint: min window hash, O(n) rolling == brute force") {
    val p = 2147483647L
    def brute(text: String, k: Int): Long = {
      val s = text.toLowerCase.replaceAll("\\s+", " ")
      if (s.length <= k) return TextAnalysis.winnowFingerprint(text, k)
      (0 to s.length - k).map { i =>
        s.substring(i, i + k).foldLeft(0L)((a, c) => (a * 257L + c) % p)
      }.min
    }
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "short", "", "a b  c   d", (1 to 50).map(i => s"tok$i").mkString(" "))
    texts.foreach { t =>
      assert(TextAnalysis.winnowFingerprint(t, 8) == brute(t, 8), s"'$t'")
    }
    // robust to edits AWAY from the minimal window: appending text can
    // only lower the min, never lose an existing window
    val base = "the quick brown fox jumps over the lazy dog"
    assert(TextAnalysis.winnowFingerprint(base + " extra tail", 8) <=
      TextAnalysis.winnowFingerprint(base, 8))
  }

  test("langId picks the language with most stopword hits") {
    val d = docs(Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el gato y la casa de la madre"),
      (3L, "der hund und die katze und der garten")))
    val r = TextAnalysis.langId(d, col("text"))
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r(1L) == "en" && r(2L) == "es" && r(3L) == "de")
  }
}
