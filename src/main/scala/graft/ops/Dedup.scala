package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.kernel.Toolbox

/** Deduplication family for a web-scale training-data pipeline.
  *
  * Scale shapes (the part that matters at 100 TB):
  *  - exact: one hash-groupBy shuffle on a 32-hex key; min_by keeps the
  *    deterministic representative.
  *  - MinHash+LSH: signatures are computed scan-side (narrow); the only
  *    shuffle is the band-bucket groupBy, whose keys are (band, hash) —
  *    candidate pairs are generated per bucket, never a cross join.
  *  - SimHash: 64-bit signature scan-side; bucket by 16-bit chunks
  *    (Hamming-adjacent dup candidates share a chunk).
  *  - n-gram Jaccard: verification joins candidates only.
  *  - embedding cosine: see Similarity.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per normalized-text fingerprint.
    * Returns (id, fingerprint, keep) — keep=true on the representative. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol).asc)
    df.select(col(idCol), fp.as("fp"))
      .withColumn("rn", row_number().over(w))
      .withColumn("keep", col("rn") === 1)
      .drop("rn")
  }

  /** Lower-cased text with every whitespace run collapsed to one space:
    * the one normalization under every dedup key, shingle and token
    * stream (kernel form: `Toolbox.normalize`). */
  def normalized(text: Column): Column = regexp_replace(lower(text), "\\s+", " ")

  /** `normalized` text split on single spaces, trailing empties kept
    * (kernel form: `Toolbox.tokens`). */
  def tokens(text: Column): Column = split(normalized(text), " ")

  /** Word shingles of size n as an array column. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    // transform over sliding windows via sequence + slice
    transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
  }

  /** 60-bit stable hash of a string via a 15-hex-char md5 prefix (no
    * engine-private hash functions — md5 is portable and deterministic
    * everywhere; 15 chars keep the conv result inside a signed long). */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** FULL 64-bit stable hash: all 16 leading md5 hex chars, assembled as
    * (60-bit prefix << 4) | last nibble. The shift is a bitwise op (no
    * ANSI overflow check), so values with the top bit set wrap to
    * negative longs — identical to Long.parseUnsignedLong(hex16, 16).
    * Used by SimHash so every one of its 64 bits is informative
    * (VERDICT r03 "What's wrong" #3: the 60-bit hash left bits 60-63
    * structurally zero). */
  def md5Long64(c: Column): Column =
    shiftleft(md5Long(c), 4)
      .bitwiseOR(conv(substring(md5(c), 16, 1), 16, 10).cast("long"))

  private val minhashP = 2147483647L // 2^31-1: h*a+b stays within a long (ANSI)

  /** MinHash signature as pure column expressions — the EXECUTABLE SPEC
    * of the signature semantics, kept for the equivalence test against
    * the one-pass kernel below. Do NOT use on the hot path: k
    * independent `transform` passes compile to a ~2 MB codegen unit and
    * were measured at ~7 ms/doc (34.5 s for 5k docs). */
  def minhashSignature(text: Column, n: Int = 3, k: Int = 32): Column = {
    val hashes = transform(shingles(text, n), s => pmod(md5Long(s), lit(minhashP)))
    // NOTE: callers must name `hashes` via withColumn before fanning out,
    // or every perm repeats the md5 work (observed 30x slowdown).
    array((0 until k).map { i =>
      val a = 2L * i + 1L
      val b = 1000003L * (i + 1)
      array_min(transform(hashes, h => pmod(h * lit(a) + lit(b), lit(minhashP))))
    }: _*)
  }

  // ---- one-pass MinHash kernel (the production path) ----
  // Identical semantics to minhashSignature (pinned by OpsSpec
  // equivalence test and the DuckDB oracle): same whitespace
  // normalization, word shingles, md5-hex-prefix 60-bit hash, and
  // (a_i*h + b_i) mod p permutations — but computed in ONE imperative
  // loop per row instead of k Catalyst passes over the shingle array.
  // This is the sanctioned mapPartitions carve-out (SURVEY.md §2.10):
  // a k-minima accumulator is a 15-line loop that a giant expression
  // tree loses to by ~60x (round-1 bench: 34.5 s -> sub-second).

  /** One-pass MinHash signature of a text (kernel form). Matches
    * minhashSignature semantics exactly: tokens = lowercased text with
    * whitespace collapsed, split on single spaces (trailing empties
    * kept, as Spark split does); shingles = n-token windows for
    * i in 0..max(len-n, 0) (short texts yield one truncated shingle). */
  def minhashSigKernel(text: String, n: Int, k: Int,
      md: java.security.MessageDigest): Array[Long] = {
    val toks = Toolbox.tokens(text)
    val sig = Array.fill(k)(Long.MaxValue)
    val last = math.max(toks.length - n, 0)
    var i = 0
    while (i <= last) {
      val sh = toks.slice(i, math.min(i + n, toks.length)).mkString(" ")
      val h = Toolbox.md5Long60(sh, md) % minhashP
      var j = 0
      while (j < k) {
        val cand = (h * (2L * j + 1L) + 1000003L * (j + 1)) % minhashP
        if (cand < sig(j)) sig(j) = cand
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Band hashes of a signature: md5 hex of the comma-joined band slice
    * (identical to md5(concat_ws(",", slice(sig, b*r+1, r)))). */
  def bandHashesKernel(sig: Array[Long], bands: Int,
      md: java.security.MessageDigest): Array[String] = {
    val r = sig.length / bands
    Array.tabulate(bands) { b =>
      Toolbox.md5Hex(sig.slice(b * r, b * r + r).mkString(","), md)
    }
  }

  /** LSH band buckets (id, band, bucket): rows sharing any
    * (band, bucket) are candidate duplicates. Signature + band hashes
    * are computed scan-side in one narrow mapPartitions pass — the only
    * shuffle in the whole dedup is the downstream bucket join. */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = Toolbox.newMd5()
        it.flatMap { case (id, text) =>
          val sig = minhashSigKernel(if (text == null) "" else text, n, k, md)
          val bh = bandHashesKernel(sig, bands, md)
          (0 until bands).iterator.map(b => (id, b, bh(b)))
        }
      }
      .toDF(idCol, "band", "bucket")
  }

  /** Candidate near-duplicate pairs from LSH buckets (id1 < id2),
    * deduplicated across bands — with a BUCKET-SIZE CAP, the guard that
    * makes this safe at 10^12 docs: a same-bucket self-join is
    * quadratic in bucket size, so one viral boilerplate cluster of 10^6
    * docs would otherwise emit 10^12 pairs from a single bucket.
    * Buckets with ≤ bucketCap members emit all pairs (exact LSH
    * semantics); larger buckets degrade to STAR pairing — every member
    * paired with the bucket's min-id representative — which keeps the
    * duplicate cluster connected (what downstream connected-component /
    * greedy dedup needs) at O(m) instead of O(m²) pairs. Use
    * lshCappedBuckets to count/log what was capped. */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8,
      bucketCap: Int = 2000,
      bucketsCheckpoint: Option[String] = None): DataFrame = {
    // The bucket lineage feeds THREE plan branches (counts, small-side,
    // star-side) and is re-evaluated per branch — cheap by design (the
    // signature is a one-pass kernel), but when bands×k grow, pass a
    // checkpoint dir to pay the signature pass exactly once (parquet
    // boundary; persist() can silently recompute across branches —
    // CLAUDE.md).
    val b0 = lshBuckets(df, idCol, textCol, n, k, bands)
    val b = bucketsCheckpoint match {
      case Some(dir) =>
        b0.write.mode("overwrite").parquet(dir)
        df.sparkSession.read.parquet(dir)
      // default: eager localCheckpoint — same lineage cut as the
      // parquet boundary (the signature pass runs ONCE instead of once
      // per branch), shuffle-table-sized, no directory to manage
      case None => b0.localCheckpoint(true)
    }
    val counts = b.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bkt_n"), min(col(idCol)).as("rep"))
    val withC = b.join(counts, Seq("band", "bucket"))
    val small = withC.filter(col("bkt_n") <= bucketCap)
      .select(col("band"), col("bucket"), col(idCol))
    val allPairs = small.select(col("band"), col("bucket"), col(idCol).as("id1"))
      .join(small.select(col("band"), col("bucket"), col(idCol).as("id2")),
        Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
    val starPairs = withC
      .filter(col("bkt_n") > bucketCap && col(idCol) =!= col("rep"))
      .select(col("rep").as("id1"), col(idCol).as("id2"))
    allPairs.unionByName(starPairs).distinct()
  }

  // ---- incremental LSH index (the production dedup-service shape) ----
  // At 10^12 docs you never re-sign the corpus per batch: the band
  // buckets are a PERSISTED parquet table partitioned by band; each new
  // batch signs only its own documents, probes the index with a
  // band-keyed join, and appends its buckets. Old signatures are never
  // recomputed; the probe shuffles only the (tiny) batch side plus the
  // matching index partitions.

  /** Write the LSH bucket index for a corpus (overwrite). Partitioned
    * by band so a probe prunes to the band files it touches. */
  def lshIndexWrite(df: DataFrame, idCol: String, textCol: String, dir: String,
      n: Int = 3, k: Int = 32, bands: Int = 8): Unit =
    lshBuckets(df, idCol, textCol, n, k, bands)
      // one band-keyed shuffle of the (tiny) bucket rows → one file per
      // band partition instead of every scan task opening a file in
      // every band directory (guide §6 small-files)
      .repartition(col("band"))
      .write.mode("overwrite").partitionBy("band").parquet(dir)

  /** Probe the index with a NEW batch: near-dup candidate pairs
    * (index_id, new_id) between the existing corpus and the batch, plus
    * intra-batch pairs (id1 < id2) — exactly the pairs lshCandidates
    * over (corpus ∪ batch) would emit that involve a batch doc. The
    * batch is SIGNED EXACTLY ONCE: its buckets are materialized with an
    * eager localCheckpoint before fanning into the cross and intra plan
    * branches (a multi-branch lazy lineage re-runs the signature pass
    * per branch — ADVICE r03), and returned as the third element so the
    * append step (`lshIndexAppendBuckets`) reuses them instead of
    * re-signing a third time.
    *
    * The batch-bucket checkpoint lives as long as the three returned
    * frames (see `Bridge.releaseLocalCheckpoint`). */
  def lshIndexProbe(newDocs: DataFrame, idCol: String, textCol: String, dir: String,
      n: Int = 3, k: Int = 32, bands: Int = 8): (DataFrame, DataFrame, DataFrame) = {
    val spark = newDocs.sparkSession
    val fresh = lshBuckets(newDocs, idCol, textCol, n, k, bands).localCheckpoint(true)
    val idx = spark.read.parquet(dir)
    val cross = idx.select(col("band"), col("bucket"), col(idCol).as("index_id"))
      .join(fresh.select(col("band"), col("bucket"), col(idCol).as("new_id")),
        Seq("band", "bucket"))
      .filter(col("index_id") =!= col("new_id"))
      .select(col("index_id"), col("new_id")).distinct()
    val intra = fresh.select(col("band"), col("bucket"), col(idCol).as("id1"))
      .join(fresh.select(col("band"), col("bucket"), col(idCol).as("id2")),
        Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    (cross, intra, fresh)
  }

  /** Append a probed batch's ALREADY-SIGNED buckets (lshIndexProbe's
    * third element) to the index — per-band dynamic partition append,
    * old band files untouched, no re-signing. */
  def lshIndexAppendBuckets(buckets: DataFrame, dir: String): Unit =
    buckets.write.mode("append").partitionBy("band").parquet(dir)

  /** The buckets lshCandidates capped (band, bucket, bkt_n > cap) —
    * count/log this next to any capped run so truncation is never
    * silent. */
  def lshCappedBuckets(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8,
      bucketCap: Int = 2000): DataFrame =
    lshBuckets(df, idCol, textCol, n, k, bands)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bkt_n"))
      .filter(col("bkt_n") > bucketCap)

  /** Connected components over a candidate-pair table (id1, id2) —
    * the step a real dedup pipeline needs between PAIRS and a keep/drop
    * decision: each near-dup cluster gets one canonical representative
    * (its min id). Returns (id, cluster) for every vertex in a pair.
    *
    * SIZE-TIERED like the KB/vocabulary joins: the pair table is
    * near-dup-sized (orders of magnitude below the corpus), so under
    * `driverPairLimit` an exact union-find with path compression runs on
    * the driver in one collect — O(pairs α(pairs)), no per-iteration
    * Spark job overhead. Above the limit (boilerplate-heavy web crawls)
    * it falls back to distributed min-label propagation with a
    * convergence check — rounds ≈ cluster diameter (LSH clusters are
    * star/band-shaped), each round one vertex-keyed shuffle; the
    * alternating large-star/small-star recipe (Kiveris et al. 2014) is
    * the extreme-diameter swap, same join shapes. */
  def connectedComponents(pairs: DataFrame, idCol1: String = "id1",
      idCol2: String = "id2", maxIter: Int = 50,
      driverPairLimit: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.select(col(idCol1).cast("long").as("src"), col(idCol2).cast("long").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = p.count()
    if (nPairs <= driverPairLimit) {
      // driver tier: exact union-find (path compression + union by min).
      // Collected as primitive tuples, not Rows, and parallelized back
      // out via createDataset (never a giant LocalRelation in the plan).
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var r = parent.getOrDefault(x, x)
        while (r != x) { x = r; r = parent.getOrDefault(x, x) }
        // path compression
        var c = x0
        while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
        r
      }
      val rows = p.as[(Long, Long)].collect()
      p.unpersist()
      rows.foreach { case (s, d) =>
        val (a, b) = (find(s), find(d))
        if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
      }
      val verts = rows.flatMap { case (s, d) => Array(s, d) }.distinct
      spark.createDataset(verts.map(v => (v, find(v))).toSeq).toDF("id", "cluster")
    } else {
      val edges = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        // each vertex takes min(own label, min neighbor label)
        val viaNeighbor = edges
          .join(labels.withColumnRenamed("id", "src"), Seq("src"))
          .groupBy(col("dst").as("id"))
          .agg(min(col("cluster")).as("n_cluster"))
        val next = labels.join(viaNeighbor, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("n_cluster"), col("cluster"))).as("cluster"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val changed = next.join(labels.withColumnRenamed("cluster", "old"), Seq("id"))
          .filter(col("cluster") =!= col("old")).count()
        labels.unpersist()
        labels = next
        converged = changed == 0
        iter += 1
      }
      // a non-converged result has INCONSISTENT labels (members of one
      // component reporting different clusters) — fail loudly, never
      // return silently-wrong data (no-silent-caps rule)
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds " +
            "(component diameter exceeds maxIter) — raise maxIter or " +
            "switch to the large-star/small-star variant")
      // materialize the result and release every cached input
      val out = labels.localCheckpoint(true)
      labels.unpersist()
      edges.unpersist()
      p.unpersist()
      out
    }
  }

  /** Scalable Jaro-Winkler similarity self-join: all pairs with
    * JW(a, b) ≥ threshold, WITHOUT the cartesian product Catalyst
    * would plan for the naive theta-join. Soundness comes from the
    * classic length-filter bound made equi-joinable:
    *
    *   JW = jaro + ℓp(1−jaro), ℓ ≤ 4, p = 0.1 ⟹ JW ≤ 0.6·jaro + 0.4
    *   jaro ≤ (2 + min/max)/3 (m ≤ min(|a|,|b|), transpositions ≥ 0)
    *   ⟹ JW ≥ c ⟹ min(|a|,|b|)/max(|a|,|b|) ≥ 5c − 4.
    *
    * For c > 0.8 the ratio bound r = 5c−4 is positive, so rows bucket
    * by floor(log_q |s|) with q = 1/r; any qualifying pair differs by
    * at most one bucket and one side probes its ±1 neighbors (the
    * temporalNeighbors shape — a pair matches via exactly one probe
    * offset, no dedup pass). q is widened by 1e-9 so floating log
    * error at the exact ratio boundary can never cost recall. The
    * exact JW ≥ c filter (native codegen expression) runs after the
    * equi-join. Result-identity vs the brute-force cross join is
    * property-tested IN-ENGINE (OpsSpec): DuckDB's
    * jaro_winkler_similarity counts transpositions differently from
    * strsim on some pairs (e.g. "table stream"/"table fast": 0.9078 vs
    * 0.8967), so the correctness gate for this operator is the
    * brute-force identity against the golden-tested kernel JW, not a
    * cross-engine oracle (use jaccardSimilarityJoin below when an
    * exact SQL oracle is required). Returns (id1 < id2, jw). */
  def jwSimilarityJoin(df: DataFrame, idCol: String, strCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.8,
      s"length pruning needs threshold > 0.8 (ratio bound 5c-4 must be positive); got $threshold")
    lengthBucketPairs(df.select(col(idCol), col(strCol)), idCol, strCol,
      length(col(strCol)), 5 * threshold - 4)
      .withColumn("jw",
        graft.functions.JaroWinklerExpression.jaroWinkler(col("v1"), col("v2")))
      .filter(col("jw") >= threshold)
      .select(col("id1"), col("id2"), col("jw"))
  }

  /** Contains-constrained Jaro-Winkler similarity self-join — the
    * fuzzy-LINKING regime (kg_links): a pair qualifies when one string
    * CONTAINS the other and JW ≥ threshold. This is also the regime
    * where DuckDB's jaro_winkler_similarity agrees with the kernel
    * (its transposition-count divergence from strsim never manifests
    * on contains-constrained pairs — the repo's verified toolbox
    * note), so unlike jwSimilarityJoin this variant DOES carry a
    * cross-engine oracle (q_sim_join_jw).
    *
    * Blocking is prefix filtering (the AllPairs/PPJoin idea, Bayardo
    * et al. 2007): each row probes with its globally RAREST distinct
    * token (deterministic min (count, token)); the container side
    * explodes ALL its distinct tokens. Token-aligned containment
    * implies every token of the contained string is a token of the
    * container, so rarest-token equality is recall-complete for
    * token-aligned pairs (non-token-aligned containment is the same
    * documented miss class as Linking.fuzzy's first-token block).
    * Probing on the RAREST token — not the first — is what keeps a
    * Zipfian stopword from turning the block join quadratic: the hot
    * token is only ever a block key for rows where it is the rarest
    * one they have; the container side is additionally SEMI-JOIN
    * pruned to tokens that actually are someone's rarest (broadcast —
    * the set is vocabulary-bounded), so a hot stopword's exploded rows
    * never even enter the block shuffle (review r05).
    * Returns (id1 < id2, jw rounded 4).
    *
    * The exploded lineage feeds three plan branches (the multi-branch
    * recompute rule), so it is checkpointed; the checkpoint lives as
    * long as the pairs (see `Bridge.releaseLocalCheckpoint`). */
  def jwContainsJoin(df: DataFrame, idCol: String, strCol: String,
      threshold: Double): DataFrame = {
    val rows = df.select(col(idCol), col(strCol),
      array_distinct(split(col(strCol), " ")).as("toks"))
    // materialized ONCE: three plan branches below would otherwise
    // re-run the caller's upstream lineage per branch
    val exploded = rows.select(col(idCol), col(strCol), explode(col("toks")).as("tok"))
      .localCheckpoint(true)
    val tokCounts = exploded.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val probe = exploded.join(tokCounts, Seq("tok"))
      .groupBy(col(idCol), col(strCol))
      .agg(min(struct(col("cnt"), col("tok"))).as("m"))
      .select(col("m.tok").as("tok"), col(idCol).as("ida"), col(strCol).as("sa"))
    val probeKeys = probe.select(col("tok")).distinct()
    val container = exploded
      .join(broadcast(probeKeys), Seq("tok"), "leftsemi")
      .select(col("tok"), col(idCol).as("idb"), col(strCol).as("sb"))
    probe.join(container, Seq("tok"))
      .filter(col("ida") =!= col("idb") && col("sb").contains(col("sa")))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"),
        round(graft.functions.JaroWinklerExpression.jaroWinkler(col("sa"), col("sb")), 4)
          .as("jw"))
      .filter(col("jw") >= threshold)
      .distinct()
  }

  /** Scalable token-set Jaccard similarity self-join, same pruning
    * idea with an even simpler bound: J = |A∩B|/|A∪B| ≤ min/max of the
    * set SIZES, so J ≥ c ⟹ size ratio ≥ c — rows bucket by
    * floor(log_q |tokens|), q = (1/c)(1+1e-9), one side probes ±1, the
    * exact Jaccard filter runs after the equi-join. Unlike JW, the
    * exact filter is bit-identical across engines (set intersections),
    * so this variant carries the DuckDB brute-force oracle. Returns
    * (id1 < id2, jaccard rounded 4). */
  def jaccardSimilarityJoin(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1); got $threshold")
    val e = df.select(col(idCol), array_distinct(split(col(textCol), " ")).as("toks"))
    lengthBucketPairs(e, idCol, "toks", size(col("toks")), threshold)
      .withColumn("jaccard",
        round(size(array_intersect(col("v1"), col("v2"))).cast("double") /
          size(array_union(col("v1"), col("v2"))), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** The length-bucketed self-join both similarity joins share: rows
    * bucket by floor(log_q size) with q = (1/ratio)(1+1e-9), and one
    * side probes its ±1 neighbor buckets, so every pair whose size
    * ratio min/max is ≥ `ratio` meets in exactly one probe. Returns
    * (bkt, id1, v1, id2, v2) with id1 < id2, `v` being `valCol`. */
  private def lengthBucketPairs(e: DataFrame, idCol: String, valCol: String,
      sizeCol: Column, ratio: Double): DataFrame = {
    val lnQ = math.log((1.0 / ratio) * (1 + 1e-9))
    val b = e.withColumn("bkt", floor(log(greatest(sizeCol, lit(1)).cast("double")) / lnQ))
    b.select(col("bkt"), col(idCol).as("id1"), col(valCol).as("v1"))
      .join(b.select(explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"),
        col(idCol).as("id2"), col(valCol).as("v2")), Seq("bkt"))
      .filter(col("id1") < col("id2"))
  }

  /** Exact n-gram Jaccard similarity between two text columns. */
  def jaccard(a: Column, b: Column, n: Int): Column = {
    val sa = array_distinct(shingles(a, n))
    val sb = array_distinct(shingles(b, n))
    round(size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)), 4)
  }

  /** Substring/span-level exact dedup — the third standard dedup axis
    * next to document-level (exact/MinHash/SimHash/embedding) and
    * line-level (`TextAnalysis.lineDedup`): find cross-document
    * duplicated PASSAGES inside otherwise-unique documents (the Lee et
    * al. 2022 "Deduplicating Training Data Makes Language Models
    * Better" suffix-array target, approximated with fixed-width n-gram
    * spans — boilerplate paragraphs survive every doc-level filter
    * because the surrounding document is unique).
    *
    * Semantics: tokenize like the MinHash machinery (lowercase,
    * whitespace collapsed, split on single spaces), emit every n-token
    * shingle with its 0-based token position; an occurrence is
    * DUPLICATED when the same shingle appeared earlier in the corpus
    * (global first occurrence by (doc, pos) — the lineDedup window
    * shape — keeps its span); per document, overlapping or ADJACENT
    * duplicated shingle intervals [pos, pos+n) merge into maximal
    * duplicated passages (gaps-and-islands over the doc-keyed window).
    * Returns one row per merged passage:
    * (idCol, span_start, span_end, n_shingles) — token offsets,
    * end exclusive. A document with no duplicated passage emits
    * nothing; the first copy of a passage emits nothing.
    *
    * Scale shapes: shingles shuffle ONCE keyed by their md5 (fixed
    * 32-char key regardless of n — never the raw n-token string);
    * Zipfian boilerplate shingles are single window partitions handled
    * by rank, exactly as lineDedup's hot lines. The island merge is a
    * second shuffle keyed by document — partitions are document-sized.
    * Nothing is all-pairs; nothing is global. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    // One-pass KERNEL shingle+hash (the minhashSigKernel tokenization,
    // equivalence-tested against the columnar shingles() form): the
    // Catalyst posexplode(shingles)+md5 chain re-materializes the token
    // array per shingle; the loop emits (id, pos, key) directly. The
    // key is the RAW 16-byte md5 (not its 32-char hex string): the
    // window only groups on it, and a bijective re-encoding halves the
    // shuffle bytes of the widest column (guide §2.3 narrower types).
    val spark = df.sparkSession
    import spark.implicits._
    val ex = df.filter(length(col(textCol)) > 0)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = Toolbox.newMd5()
        it.flatMap { case (id, text) =>
          val toks = Toolbox.tokens(text)
          val last = math.max(toks.length - n, 0)
          (0 to last).iterator.map { i =>
            val sh = toks.slice(i, math.min(i + n, toks.length)).mkString(" ")
            (id, i, Toolbox.md5Bytes(sh, md))
          }
        }
      }
      .toDF(idCol, "pos", "key")
    val wFirst = Window.partitionBy(col("key"))
      .orderBy(col(idCol).asc, col("pos").asc)
    val dup = ex.withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") > 1)
      .select(col(idCol), col("pos"))
    // gaps-and-islands: a new island starts when this shingle's span
    // [pos, pos+n) neither overlaps nor touches the previous one
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("pos").asc)
    dup
      .withColumn("new_island",
        when(lag(col("pos"), 1).over(wDoc).isNull ||
          col("pos") > lag(col("pos"), 1).over(wDoc) + n, 1).otherwise(0))
      .withColumn("island",
        sum(col("new_island")).over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_shingles"))
  }

  /** SimHash: 64-bit signature = sign(sum of ±1 per bit over token
    * hashes). COLUMNAR SPEC form — 64 independent `aggregate` passes,
    * each re-traversing the token-hash array: correct, but exactly the
    * expression-tree shape the MinHash kernel replaced (constant-factor
    * 64 per doc). Kept as the executable spec for the equivalence test;
    * use `simhashTable` on the hot path. */
  def simhash(text: Column): Column = {
    val hashes = transform(tokens(text), t => md5Long64(t))
    (0 until 64).map { bit =>
      // logical (unsigned) right shift: the 64-bit token hash can be
      // negative, and an arithmetic shift would smear the sign bit
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftrightunsigned(h, bit).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** One-pass SimHash kernel: identical semantics to `simhash` (pinned
    * by the OpsSpec equivalence test and the q_dedup_simhash DuckDB
    * oracle) — lowercased text, whitespace collapsed, split on single
    * spaces with trailing empties kept, FULL 64-bit md5-prefix token
    * hash (all 64 signature bits informative — VERDICT r03 #3),
    * ±1 vote per bit, bit set when votes > 0 — in ONE loop over the
    * tokens instead of 64 Catalyst array traversals. */
  def simhashKernel(text: String, md: java.security.MessageDigest): Long = {
    val toks = Toolbox.tokens(text)
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = Toolbox.md5Long64(toks(i), md)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** The dedup DECISION step a real pipeline ends with: given near-dup
    * clusters (id, cluster) from `connectedComponents`, pick ONE
    * survivor per cluster — the LONGEST document, ties broken by min
    * id (fully deterministic) — and mark the rest as drops. This is
    * the C4/RefinedWeb "keep best representative" selection. Shapes:
    * one id-keyed join to fetch lengths, then ONE cluster-partitioned
    * window (row_number == 1) — single pass, no self-join, no
    * SortAggregate; cluster partitions are near-dup-cluster-sized, so
    * the per-partition sort is tiny and nothing is global (review r05
    * replaced the two-branch min_by + join-back form).
    * Returns (id, cluster, n_chars, keep). */
  def keepBestPerCluster(docs: DataFrame, idCol: String, textCol: String,
      clusters: DataFrame): DataFrame = {
    val scored = clusters.join(
      docs.select(col(idCol).cast("long").as("id"),
        length(col(textCol)).cast("long").as("n_chars")), Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("n_chars").desc, col("id").asc)
    scored
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("id"), col("cluster"), col("n_chars"), col("keep"))
  }

  /** SimHash near-dup CANDIDATE PAIRS: signatures bucketed by their
    * four 16-bit chunks — by pigeonhole, any pair within Hamming
    * distance 3 shares at least one chunk, so chunk-equality is a
    * recall-complete blocking key for distance ≤ 3. Returns every
    * distinct same-chunk pair with its exact Hamming distance
    * (callers threshold as needed; no silent filtering here). Scale
    * shape mirrors MinHash LSH: the only shuffle is the (band, key)
    * bucket join — never all pairs.
    *
    * The signature-table checkpoint lives as long as the pairs (see
    * `Bridge.releaseLocalCheckpoint`). */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the banded lineage feeds BOTH sides of the self-join; the
    // signature pass is a cheap one-pass kernel by design (and Spark's
    // exchange reuse usually collapses the identical subplans), but the
    // eager localCheckpoint guarantees it runs exactly once regardless
    // (multi-branch-lineage rule, ADVICE r03 on lshIndexProbe)
    val sigs = simhashTable(df, idCol, textCol).localCheckpoint(true)
    val banded = sigs.select(col(idCol), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), 16 * b).bitwiseAND(lit(0xffffL)).as("key"))): _*))
        .as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band"), col("bk.key"))
    val a = banded.select(col("band"), col("key"),
      col(idCol).as("id1"), col("simhash").as("s1"))
    val b = banded.select(col("band"), col("key"),
      col(idCol).as("id2"), col("simhash").as("s2"))
    a.join(b, Seq("band", "key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      .distinct()
  }

  /** SimHash signatures for a whole table, kernel form (the production
    * path): one narrow mapPartitions pass, no shuffle. Returns
    * (idCol, simhash). */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = Toolbox.newMd5()
        it.map { case (id, t) => (id, simhashKernel(if (t == null) "" else t, md)) }
      }
      .toDF(idCol, "simhash")
  }
}
