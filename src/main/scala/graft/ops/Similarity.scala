package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`), pure higher-order Column functions (zip_with /
  * aggregate — codegen'd, no UDF).
  *
  * Scale path: brute-force is the correctness baseline (O(N·Q));
  * the LSH variant buckets by random-hyperplane sign bits so each query
  * only scans its bucket — the standard billion-vector recipe (the
  * hyperplanes are seeded constants, so both sides of the bucket join
  * compute identical keys scan-side, and the shuffle is bucket-sized).
  */
object Similarity {

  /** dot(a,b) as a Column over two float-array columns (double math). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k cosine neighbors for each query vector.
    * queries: (qid, qvec); corpus: (vec_id, embedding).
    * Deterministic tie-break (score desc, vec_id asc). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("cos", cosine(col("embedding"), col("qvec")))
    topK(scored, "cos", k, "cos_sim")
  }

  /** The per-query top-k every ANN search ends with: rank candidates by
    * (score desc, vec_id asc), keep rank ≤ k, round the score to 3 and
    * name it `outName`. */
  private def topK(scored: DataFrame, score: String, k: Int, outName: String): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col(score).desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank"), round(col(score), 3).as(outName))
  }

  /** Seeded random hyperplanes: nBits deterministic pseudo-random unit
    * directions over `dim` dimensions (splitmix-flavored constants).
    * Public so the DuckDB oracle can embed the identical constants. */
  def planeComponent(bit: Int, d: Int): Double = {
    var z = (bit.toLong * 0x9e3779b97f4a7c15L) ^ (d.toLong * 0xbf58476d1ce4e5b9L) ^ 0x2545f4914f6cdd1dL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** Sign-bit LSH bucket id (0..2^nBits-1) for an embedding column. */
  def lshBucket(vec: Column, dim: Int, nBits: Int): Column = {
    (0 until nBits).map { bit =>
      val proj = (0 until dim).map { d =>
        element_at(vec, d + 1).cast("double") * lit(planeComponent(bit, d))
      }.reduce(_ + _)
      when(proj > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Kernel form of lshBucket: the same left-associative double fold,
    * bit-identical buckets (equivalence-tested) — in a loop instead of
    * a dim×nBits-term Catalyst expression. Used where the bucket column
    * feeds several plan branches (the bucket-cap machinery), which
    * would re-evaluate the giant expression once per branch. */
  def lshBucketKernel(vec: Array[Float], dim: Int, nBits: Int): Long = {
    var bucket = 0L
    var bit = 0
    while (bit < nBits) {
      var s = 0.0
      var d = 0
      while (d < dim) { s += vec(d).toDouble * planeComponent(bit, d); d += 1 }
      if (s > 0) bucket |= (1L << bit)
      bit += 1
    }
    bucket
  }

  /** Corpus side bucketed by the KERNEL (bit-identical to the columnar
    * lshBucket, equivalence-tested): the nBits×dim-term Catalyst
    * expression costs more to CODEGEN-compile per query than the whole
    * 2k-row scan costs to run — the giant-expression shape CLAUDE.md
    * flags; the loop needs no codegen at all. */
  private def bucketedKernel(df: DataFrame, idName: String, vecName: String,
      dim: Int, nBits: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idName).cast("long"), col(vecName))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (id, v, lshBucketKernel(v, dim, nBits)) })
      .toDF(idName, vecName, "bucket")
  }

  /** Corpus side assigned to its nearest centroid by the KERNEL
    * (ivfAssignKernel, bit-identical to the columnar ivfAssignWith):
    * (vec_id, embedding, centroid). */
  private def assignedKernel(corpus: DataFrame,
      cents: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (id, v, ivfAssignKernel(v, cents.value)) })
      .toDF("vec_id", "embedding", "centroid")
  }

  /** Capped in-key pairing over (key, vec_id, embedding) rows: a key
    * with at most `cap` members emits all its pairs; a bigger key pairs
    * every other member with its min-id member only (O(m), not O(m²)).
    * The per-key counts are broadcast (one row per key), so the cap
    * check never shuffles the corpus. Each vector has exactly one key,
    * so every pair arises once. Returns (key, id1, e1, id2, e2), id1 < id2. */
  private def cappedPairs(keyed: DataFrame, key: String, cap: Int): DataFrame = {
    val counts = keyed.groupBy(col(key))
      .agg(count(lit(1)).as("key_n"), min(col("vec_id")).as("rep"))
    val withC = keyed.join(broadcast(counts), Seq(key))
    def side(rows: DataFrame, n: Int) =
      rows.select(col(key), col("vec_id").as(s"id$n"), col("embedding").as(s"e$n"))
    val small = withC.filter(col("key_n") <= cap)
    val allPairs = side(small, 1).join(side(small, 2), Seq(key))
      .filter(col("id1") < col("id2"))
    val capped = withC.filter(col("key_n") > cap)
    val starPairs = side(capped.filter(col("vec_id") =!= col("rep")), 2)
      .join(side(capped.filter(col("vec_id") === col("rep")), 1), Seq(key))
    allPairs.unionByName(starPairs)
  }

  /** Bucketed ANN: each query scans only its LSH bucket (plus no
    * multiprobe in this baseline — recall traded for a bucket-local
    * scan; raise nBits for smaller buckets at lower recall). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, dim: Int, nBits: Int, k: Int): DataFrame = {
    val cb = bucketedKernel(corpus, "vec_id", "embedding", dim, nBits)
    val qb = bucketedKernel(queries, "qid", "qvec", dim, nBits)
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .withColumn("cos", cosine(col("embedding"), col("qvec")))
    topK(scored, "cos", k, "cos_sim")
  }

  /** Multiprobe LSH ANN: each query probes its own bucket PLUS every
    * bucket at Hamming distance 1 (the standard multiprobe recipe —
    * recall recovered without shrinking buckets or duplicating the
    * corpus; probe count = nBits+1 per query, all on the tiny query
    * side). A corpus vector lives in exactly one bucket and the probe
    * list is distinct, so no post-join dedup is needed. */
  def lshTopKMultiprobe(queries: DataFrame, corpus: DataFrame,
      dim: Int, nBits: Int, k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cb = bucketedKernel(corpus, "vec_id", "embedding", dim, nBits)
    // kernel probe fan-out: own bucket + every Hamming-1 flip — the
    // same probe list as the columnar explode(array(bucket0 xor 2^b))
    val qb = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.flatMap { case (id, v) =>
        val b0 = lshBucketKernel(v, dim, nBits)
        (-1 until nBits).iterator.map { b =>
          (id, v, if (b < 0) b0 else b0 ^ (1L << b))
        }
      })
      .toDF("qid", "qvec", "bucket")
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .withColumn("cos", cosine(col("embedding"), col("qvec")))
    topK(scored, "cos", k, "cos_sim")
  }

  /** IVF coarse quantizer: deterministic seeded centroid directions
    * (at real scale these come from a k-means fit persisted as a tiny
    * table — see fitCentroids; seeded directions keep oracle-checked
    * queries reproducible with the same dataflow shape). */
  def ivfCentroid(c: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(d => planeComponent(c * 131 + 7, d))

  /** Lloyd's k-means fit for the IVF codebook — the real trained
    * quantizer (max-inner-product assignment to match ivfAssign, mean
    * update). Deterministic seeded init; the per-dimension means are
    * Spark double sums (partition-order ulp jitter is possible, so
    * tests assert recall properties, not centroid bits). Scale shape:
    * each iteration is one narrow assignment pass + one k×dim-sized
    * aggregation — the codebook stays driver/broadcast-tiny. */
  def fitCentroids(corpus: DataFrame, dim: Int, k: Int, iters: Int): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents = Array.tabulate(k)(c => ivfCentroid(c, dim))
    val vecs = corpus.select(col("embedding")).as[Array[Float]]
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val sums = vecs.mapPartitions { it =>
        val cs = bc.value
        val acc = Array.fill(cs.length)(new Array[Double](dim))
        val cnt = new Array[Long](cs.length)
        it.foreach { v =>
          var best = 0; var bestScore = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            var s = 0.0; var d = 0
            while (d < dim) { s += v(d).toDouble * cs(c)(d); d += 1 }
            if (s > bestScore) { bestScore = s; best = c }
            c += 1
          }
          var d = 0
          while (d < dim) { acc(best)(d) += v(d); d += 1 }
          cnt(best) += 1
        }
        Iterator.single((acc, cnt))
      }.reduce { (a, b) =>
        val (sa, ca) = a; val (sb, cb2) = b
        for (c <- sa.indices; d <- 0 until dim) sa(c)(d) += sb(c)(d)
        for (c <- ca.indices) ca(c) += cb2(c)
        (sa, ca)
      }
      val (acc, cnt) = sums
      cents = Array.tabulate(k) { c =>
        if (cnt(c) == 0) cents(c) // empty cluster keeps its seed
        else Array.tabulate(dim)(d => acc(c)(d) / cnt(c))
      }
    }
    cents
  }

  /** Int8 scalar quantization of an embedding column — the standard
    * memory lever before ANN at 10^9+ vectors (4 bytes → 1 byte per
    * dim): per-vector scale = 127/max|v| (0 for the zero vector), each
    * component rounded to [-127, 127]. Pure column expressions, scan
    * speed. Returns (idCol, qscale, qvec ARRAY<INT>). */
  def quantizeInt8(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val maxAbs = array_max(transform(col(embCol), v => abs(v.cast("double"))))
    val scale = when(col("max_abs") === 0.0, lit(0.0))
      .otherwise(lit(127.0) / col("max_abs"))
    df.select(col(idCol), col(embCol))
      .withColumn("max_abs", maxAbs)
      .withColumn("qscale", scale)
      .withColumn("qvec",
        transform(col(embCol), v => round(v.cast("double") * col("qscale")).cast("int")))
      .select(col(idCol), col("qscale"), col("qvec"))
  }

  /** Persist shape for a fitted codebook: one row per centroid,
    * (centroid INT, cvec ARRAY<DOUBLE>) — tiny (k×dim doubles), written
    * as parquet next to the index so the query side and any oracle load
    * the EXACT doubles the fit produced. */
  def centroidsToDF(spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq
      .toDF("centroid", "cvec")
  }

  /** Kernel form of ivfProbesWith: scores every centroid with the same
    * ascending-d left-assoc double fold, then takes the top nProbe by
    * (score desc, id desc) — the exact order the columnar
    * reverse(array_sort(struct(score, id))) slice produces (probe SETS
    * therefore identical; equivalence-tested in OpsSpec). */
  def ivfProbesKernel(v: Array[Float], cents: Array[Array[Double]],
      nProbe: Int): Array[Int] = {
    val scores = Array.tabulate(cents.length) { c =>
      var s = 0.0
      var d = 0
      while (d < cents(c).length) { s += v(d).toDouble * cents(c)(d); d += 1 }
      s
    }
    cents.indices.toArray
      .sortBy(c => (-scores(c), -c))
      .take(math.min(nProbe, cents.length))
  }

  /** IVF over an explicit codebook (e.g. a fitCentroids result).
    * Corpus assignment and query probes run through the KERNELS
    * (bit-identical to the columnar forms, both equivalence-tested) —
    * the k×dim-term assignment expression is pure codegen overhead at
    * query time (the giant-expression shape CLAUDE.md flags). */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, dim: Int,
      centroids: Array[Array[Double]], nProbe: Int, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    val cb = assignedKernel(corpus, bc)
    val qb = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.flatMap { case (id, v) =>
        ivfProbesKernel(v, bc.value, nProbe).iterator.map(c => (id, v, c))
      })
      .toDF("qid", "qvec", "centroid")
    val scored = cb.join(broadcast(qb), Seq("centroid"))
      .withColumn("cos", cosine(col("embedding"), col("qvec")))
    topK(scored, "cos", k, "cos_sim")
  }

  private[ops] def ivfAssignWith(vec: Column, cents: Array[Array[Double]]): Column = {
    val scored = cents.indices.map { c =>
      struct(centroidScore(vec, cents(c)).as("score"), lit(-c).as("negid"))
    }
    -greatest(scored: _*).getField("negid")
  }

  private[ops] def ivfProbesWith(vec: Column, cents: Array[Array[Double]], nProbe: Int): Column = {
    val scored = cents.indices.map { c =>
      struct(centroidScore(vec, cents(c)).as("score"), lit(c).as("id"))
    }
    slice(transform(reverse(array_sort(array(scored: _*))), s => s.getField("id")),
      lit(1), lit(nProbe))
  }

  private def centroidScore(vec: Column, cent: Array[Double]): Column =
    cent.zipWithIndex.map { case (w, d) =>
      element_at(vec, d + 1).cast("double") * lit(w)
    }.reduce(_ + _)

  /** Nearest-centroid assignment (argmax dot, deterministic ties by
    * centroid id) as a pure column expression. */
  def ivfAssign(vec: Column, dim: Int, nCentroids: Int): Column =
    ivfAssignWith(vec, Array.tabulate(nCentroids)(ivfCentroid(_, dim)))

  /** Top-nprobe centroid list for a query vector (columnar SPEC of
    * ivfProbesKernel over the seeded codebook — equivalence-tested). */
  private[ops] def ivfProbes(vec: Column, dim: Int, nCentroids: Int, nProbe: Int): Column =
    ivfProbesWith(vec, Array.tabulate(nCentroids)(ivfCentroid(_, dim)), nProbe)

  /** IVF ANN: corpus partitioned into nCentroids inverted lists; each
    * query scans only its nProbe closest lists. The shuffle is keyed by
    * centroid id — at 10^9 vectors each list is a parquet partition and
    * a query touches nProbe/nCentroids of the data. Delegates to
    * ivfTopKWith over the seeded codebook (identical by construction —
    * ivfAssign/ivfProbes are the same builders over the same
    * Array.tabulate(nCentroids)(ivfCentroid) table). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, dim: Int,
      nCentroids: Int, nProbe: Int, k: Int): DataFrame =
    ivfTopKWith(queries, corpus, dim,
      Array.tabulate(nCentroids)(ivfCentroid(_, dim)), nProbe, k)

  /** Embedding-cosine near-duplicate pairs via LSH buckets:
    * pairs in the same bucket with cosine ≥ threshold (id1 < id2).
    *
    * Bucket-size cap (same guard as Dedup.lshCandidates): the in-bucket
    * self-join is quadratic in bucket size, so buckets above bucketCap
    * degrade to star pairing on the min-id member — each member is
    * compared (and thresholded) against the representative only, O(m)
    * pairs instead of O(m²).
    *
    * LOSSINESS CAVEAT (unlike Dedup.lshCandidates, which emits star
    * pairs unthresholded): because star pairs are cosine-thresholded, a
    * capped-bucket member below threshold with the representative but
    * above it with some other member is dropped entirely — a capped
    * bucket is NOT guaranteed to stay connected through the threshold.
    * Truncation is observable: count nearDupCappedBuckets next to any
    * capped run. */
  def nearDupPairs(corpus: DataFrame, dim: Int, nBits: Int, threshold: Double,
      bucketCap: Int = 2000): DataFrame =
    cappedPairs(bucketedKernel(corpus, "vec_id", "embedding", dim, nBits), "bucket", bucketCap)
      .withColumn("cos", cosine(col("e1"), col("e2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos"), 3).as("cos_sim"))

  // ===== Product quantization (PQ) — the billion-vector MEMORY tier =====
  // Jégou/Douze/Schmid 2011 (public paper): split each dim-d vector into
  // m orthogonal subspaces, k-means each subspace independently, store
  // only the m nearest-centroid codes per vector (m bytes at k<=256 vs
  // 4*dim float bytes), and score queries by Asymmetric Distance
  // Computation — an m-entry table lookup per vector instead of a
  // dim-term dot product. The ADC pass IS a full scan, but over the
  // compressed code table: at 10^9 vectors the codes fit where the
  // floats never would, and the scan is m lookups + m adds per row.

  /** Deterministic seeded init centroid for subspace `sub`, code `j`
    * (the same splitmix constants as the LSH planes, distinct stream) —
    * the fallback when the init sample is too small. */
  def pqSeedCentroid(sub: Int, j: Int, subDim: Int): Array[Double] =
    Array.tabulate(subDim)(d => planeComponent(sub * 977 + j * 131 + 13, d))

  /** Deterministic farthest-point init (the greedy max-min k-means++
    * variant) per subspace over a bounded sample: seed 0 is the first
    * sample row's sub-vector, each next seed is the sample point
    * maximizing its min L2 distance to the seeds so far (ties to the
    * earlier row). Unlike fixed seeded directions, this cannot drop two
    * seeds into one true sub-cluster while another has none — the
    * merged-cluster state Lloyd's can never split. Driver-side over a
    * cap-bounded sample, O(m * k * |sample| * subDim). */
  private def pqFarthestInit(sample: Array[Array[Float]], m: Int, k: Int,
      subDim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m) { sub =>
      val off = sub * subDim
      val n = sample.length
      val take = math.min(k, n)
      val chosen = new Array[Int](take)
      val minD = Array.fill(n)(Double.MaxValue)
      var c = 0
      while (c < take) {
        if (c == 0) chosen(0) = 0
        else {
          val last = chosen(c - 1)
          var bestI = 0; var bestD = -1.0
          var i = 0
          while (i < n) {
            var s2 = 0.0; var d = 0
            while (d < subDim) {
              val diff = (sample(i)(off + d) - sample(last)(off + d)).toDouble
              s2 += diff * diff; d += 1
            }
            if (s2 < minD(i)) minD(i) = s2
            if (minD(i) > bestD) { bestD = minD(i); bestI = i }
            i += 1
          }
          chosen(c) = bestI
        }
        c += 1
      }
      Array.tabulate(k) { j =>
        if (j < take) Array.tabulate(subDim)(d => sample(chosen(j))(off + d).toDouble)
        else pqSeedCentroid(sub, j, subDim) // sample smaller than k
      }
    }

  /** Per-subspace Lloyd's k-means (L2 assignment — PQ minimizes
    * reconstruction error, unlike the max-inner-product IVF fit): all m
    * sub-codebooks update in ONE corpus scan per iteration, accumulating
    * m*k*(dim/m) = k*dim doubles per partition — broadcast-tiny. Init is
    * sampled farthest-point (above) over an md5-ordered cap-bounded
    * sample — TakeOrdered (top-cap per partition), never a full sort.
    * Returns books(sub)(code)(d), d in 0 until dim/m. */
  def fitPqCodebooks(corpus: DataFrame, dim: Int, m: Int, k: Int,
      iters: Int, initSampleCap: Int = 2048): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus
      .select(col("embedding"), md5(col("vec_id").cast("string")).as("ord"))
      .orderBy(col("ord")).limit(initSampleCap)
      .select(col("embedding")).as[Array[Float]].collect()
    var books =
      if (sample.isEmpty) Array.tabulate(m, k)((sub, j) => pqSeedCentroid(sub, j, subDim))
      else pqFarthestInit(sample, m, k, subDim)
    val vecs = corpus.select(col("embedding")).as[Array[Float]]
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(books)
      val (acc, cnt) = vecs.mapPartitions { it =>
        val bs = bc.value
        val acc = Array.fill(m, k)(new Array[Double](subDim))
        val cnt = Array.fill(m)(new Array[Long](k))
        it.foreach { v =>
          var sub = 0
          while (sub < m) {
            val off = sub * subDim
            var best = 0; var bestD = Double.MaxValue
            var j = 0
            while (j < k) {
              var s2 = 0.0; var d = 0
              while (d < subDim) {
                val diff = v(off + d).toDouble - bs(sub)(j)(d); s2 += diff * diff; d += 1
              }
              if (s2 < bestD) { bestD = s2; best = j }
              j += 1
            }
            var d = 0
            while (d < subDim) { acc(sub)(best)(d) += v(off + d); d += 1 }
            cnt(sub)(best) += 1
            sub += 1
          }
        }
        Iterator.single((acc, cnt))
      }.reduce { (a, b) =>
        val (sa, ca) = a; val (sb, cb2) = b
        for (sub <- 0 until m; j <- 0 until k) {
          var d = 0
          while (d < subDim) { sa(sub)(j)(d) += sb(sub)(j)(d); d += 1 }
          ca(sub)(j) += cb2(sub)(j)
        }
        (sa, ca)
      }
      books = Array.tabulate(m, k) { (sub, j) =>
        if (cnt(sub)(j) == 0) books(sub)(j) // empty cluster keeps its seed
        else Array.tabulate(subDim)(d => acc(sub)(j)(d) / cnt(sub)(j))
      }
    }
    books
  }

  /** PQ-encode one vector: per subspace, the L2-nearest code (strict <,
    * so ties break to the SMALLER code — matches pqEncodeColumn and the
    * DuckDB oracle's ORDER BY d2 ASC, code ASC). Ascending-d 0.0-seeded
    * distance fold, the exact order the oracle's list_reduce replays. */
  def pqEncode(v: Array[Float], books: Array[Array[Array[Double]]]): Array[Int] = {
    val m = books.length
    val subDim = v.length / m
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      val off = sub * subDim
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < books(sub).length) {
        var s2 = 0.0; var d = 0
        while (d < subDim) {
          val diff = v(off + d).toDouble - books(sub)(j)(d); s2 += diff * diff; d += 1
        }
        if (s2 < bestD) { bestD = s2; best = j }
        j += 1
      }
      out(sub) = best
      sub += 1
    }
    out
  }

  /** Columnar executable spec of pqEncode (equivalence-tested in
    * OpsSpec): argmin-by-L2 per subspace via the negated greatest-struct
    * trick ivfAssignWith uses. Kept as the SPEC — the kernel loop does
    * the corpus-scan work (the m*k*subDim-term expression is the giant-
    * codegen shape CLAUDE.md warns about). */
  def pqEncodeColumn(vec: Column, books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val subDim = books(0)(0).length
    array((0 until m).map { sub =>
      val scored = books(sub).indices.map { j =>
        val d2 = (0 until subDim).map { d =>
          val diff = element_at(vec, sub * subDim + d + 1).cast("double") - lit(books(sub)(j)(d))
          diff * diff
        }.reduce(_ + _)
        struct((-d2).as("negd"), lit(-j).as("negid"))
      }
      (-greatest(scored: _*).getField("negid")).cast("int")
    }: _*)
  }

  /** Persist shape for PQ codebooks: one row per (sub, code) with the
    * centroid doubles — m*k rows, written as parquet so the oracle
    * re-derives encoding and ADC scores from the EXACT fitted doubles
    * (the q_knn_ivf_trained pattern). */
  def pqCodebooksToDF(spark: org.apache.spark.sql.SparkSession,
      books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    (for (sub <- books.indices; j <- books(sub).indices)
      yield (sub, j, books(sub)(j).toSeq)).toDF("sub", "code", "cvec")
  }

  /** Kernel ADC table: entry (sub·k + j) = dot of the query's sub-vector
    * with centroid j of subspace sub — ascending-d left-assoc fold,
    * bit-identical to the columnar pqAdcColumn spec (equivalence test
    * in OpsSpec). */
  def pqAdcKernel(v: Array[Float], books: Array[Array[Array[Double]]]): Array[Double] = {
    val m = books.length
    val nCodes = books(0).length
    val subDim = v.length / m
    val out = new Array[Double](m * nCodes)
    var sub = 0
    while (sub < m) {
      val off = sub * subDim
      var j = 0
      while (j < nCodes) {
        var s = 0.0
        var d = 0
        while (d < subDim) { s += v(off + d).toDouble * books(sub)(j)(d); d += 1 }
        out(sub * nCodes + j) = s
        j += 1
      }
      sub += 1
    }
    out
  }

  /** Columnar executable SPEC of pqAdcKernel (kept for the equivalence
    * test — an m·k·subDim-term expression, never the hot path). */
  private[ops] def pqAdcColumn(qvec: Column,
      books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val nCodes = books(0).length
    val subDim = books(0)(0).length
    array((for (sub <- 0 until m; j <- 0 until nCodes) yield
      (0 until subDim).map(d =>
        element_at(qvec, sub * subDim + d + 1).cast("double") * lit(books(sub)(j)(d))
      ).reduce(_ + _)): _*)
  }

  /** PQ-ADC approximate top-k cosine: corpus compressed to m codes per
    * vector (kernel encode scan), each query carries a broadcast m*k
    * ADC lookup table (dot of its sub-vector with every centroid) plus
    * its norm; score = sum of m table lookups / (|q| * |reconstruction|)
    * — the reconstruction norm is itself m lookups into a constant
    * table because PQ subspaces are orthogonal. The scan over the code
    * table touches no floats. Approximate by construction: scores are
    * cosine against the QUANTIZED vector, so ranks can differ from
    * brute force (recall is property-tested, the score column is named
    * pq_score, not cos_sim). */
  def pqTopK(queries: DataFrame, corpus: DataFrame, dim: Int,
      books: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val m = books.length
    val nCodes = books(0).length
    val subDim = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    val codes = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (id, pqEncode(v, bc.value)) })
      .toDF("vec_id", "codes")
    // constant |centroid|^2 table (driver-computed, ascending-d fold —
    // the oracle recomputes it from the dumped doubles in the same order)
    val norm2 = for (sub <- 0 until m; j <- 0 until nCodes) yield {
      val c = books(sub)(j); var s = 0.0; var d = 0
      while (d < subDim) { s += c(d) * c(d); d += 1 }
      s
    }
    val normArr = array(norm2.map(lit): _*)
    // query-side ADC table via the KERNEL: the columnar form is an
    // m·k·subDim-term array expression whose codegen compile costs more
    // than the whole query — the kernel reproduces the identical
    // ascending-d left-assoc double folds (sub-dots and the qvec norm),
    // so the table is bit-identical (pqAdcKernel equivalence test)
    val qb = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        (id, v, pqAdcKernel(v, bc.value), {
          var s = 0.0; var d = 0
          while (d < v.length) { s += v(d).toDouble * v(d).toDouble; d += 1 }
          math.sqrt(s)
        })
      })
      .toDF("qid", "qvec", "adc", "qnorm")
    val scored = codes.crossJoin(broadcast(qb))
      .withColumn("dotq", aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (code, sub) => element_at(col("adc"), sub * nCodes + code + 1)),
        lit(0.0), (a, x) => a + x))
      .withColumn("rnorm", sqrt(aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (code, sub) => element_at(normArr, sub * nCodes + code + 1)),
        lit(0.0), (a, x) => a + x)))
      .withColumn("score", when(col("rnorm") * col("qnorm") === 0.0, lit(0.0))
        .otherwise(col("dotq") / (col("qnorm") * col("rnorm"))))
    topK(scored, "score", k, "pq_score")
  }

  /** Kernel form of ivfAssignWith: the same ascending-d double fold per
    * centroid, strict > so ties keep the SMALLER centroid id — bit-
    * identical assignments (equivalence-tested in OpsSpec). Used where
    * the assignment column feeds several plan branches (semDedup's
    * self-join sides), which would re-evaluate the k×dim-term Catalyst
    * expression once per branch — the giant-codegen shape. */
  def ivfAssignKernel(v: Array[Float], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var s = 0.0; var d = 0
      while (d < cents(c).length) { s += v(d).toDouble * cents(c)(d); d += 1 }
      if (s > bestScore) { bestScore = s; best = c }
      c += 1
    }
    best
  }

  /** SemDeDup (Abbas et al. 2023, public paper): semantic dedup via
    * k-means partitioning — cluster every embedding to its nearest
    * codebook centroid, compare pairs only WITHIN a cluster, and drop
    * any vector whose cosine to a lower-id cluster-mate reaches
    * `threshold` (first-wins, the same keep rule as exact dedup).
    * Emits every vector: (vec_id, centroid, keep BOOLEAN).
    *
    * Scale shape: the quadratic compare is confined to one cluster —
    * the paper's recipe sizes k WITH the corpus (50k clusters for
    * LAION) so cluster sizes stay bounded as N grows; the codebook is
    * a broadcast-tiny trained table (fitCentroids), assignment is a
    * kernel scan, and the drop set flows back as one aggregated
    * left anti-ish join on vec_id. Clusters that still exceed
    * `clusterCap` degrade to star comparison against the min-id member
    * (each member judged against the representative only — O(m) not
    * O(m²); lossy exactly like nearDupPairs' documented cap, and
    * observable the same way via the returned cluster sizes of
    * `counts`). */
  def semDedup(corpus: DataFrame, centroids: Array[Array[Double]],
      threshold: Double, clusterCap: Int = 2000): DataFrame = {
    val assigned = assignedKernel(corpus, corpus.sparkSession.sparkContext.broadcast(centroids))
    val dropped = cappedPairs(assigned, "centroid", clusterCap)
      .filter(cosine(col("e1"), col("e2")) >= threshold)
      .select(col("id2").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    assigned.select(col("vec_id"), col("centroid"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid"), col("dup").isNull.as("keep"))
  }

  /** The buckets nearDupPairs capped (bucket, bkt_n > cap) — count/log
    * this next to any capped run so the star-pairing lossiness (see
    * nearDupPairs caveat) is never silent. */
  def nearDupCappedBuckets(corpus: DataFrame, dim: Int, nBits: Int,
      bucketCap: Int = 2000): DataFrame =
    bucketedKernel(corpus, "vec_id", "embedding", dim, nBits)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("bkt_n"))
      .filter(col("bkt_n") > bucketCap)
}
