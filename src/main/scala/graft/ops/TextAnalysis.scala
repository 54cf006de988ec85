package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.kernel.Toolbox

/** Text-analysis operators for a training-data pipeline, all pure Column
  * expressions (codegen'd, no UDFs) so they run at scan speed and push
  * into whole-stage codegen. Each has an exact DuckDB-SQL oracle.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** Quality scoring: length, punctuation ratio, stopword ratio,
    * mean word length — the standard web-text quality features. */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    val nChars = length(text)
    val nTokens = size(split(text, " "))
    val nPunct = nChars - length(regexp_replace(text, "[.,;:!?]", ""))
    val stops = Seq("the", "a", "of", "and", "in", "to", "is")
    val nStop = stops.map(w =>
      (length(concat(lit(" "), text, lit(" "))) -
        length(regexp_replace(concat(lit(" "), text, lit(" ")), s" $w ", " "))).cast("long") /
        lit(w.length + 1)).reduce(_ + _)
    df.withColumn("n_chars_c", nChars.cast("long"))
      .withColumn("n_tokens", nTokens.cast("long"))
      .withColumn("punct_ratio", round(nPunct.cast("double") / nChars, 4))
      .withColumn("stopword_ratio", round(nStop.cast("double") / nTokens, 4))
      .withColumn("mean_word_len", round(nChars.cast("double") / nTokens, 4))
  }

  /** Language-ID heuristic: per-language stopword hit counts, argmax with
    * deterministic tie-break on language code. Word-soup text gets an
    * arbitrary-but-deterministic answer; real text gets the right one. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "und", "die"),
    "fr" -> Seq("le", "et", "les"))

  private def hitCount(text: Column, w: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    ((length(padded) - length(regexp_replace(padded, s" $w ", " "))) /
      lit(w.length + 1)).cast("long")
  }

  def langId(df: DataFrame, text: Column): DataFrame = {
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      struct(ws.map(w => hitCount(text, w)).reduce(_ + _).as("score"),
        lit(lang).as("lang"))
    }
    // greatest(struct) = max score, ties → lexicographically LAST lang;
    // deterministic in both engines.
    df.withColumn("pred_lang", greatest(scored: _*).getField("lang"))
      .withColumn("lang_score", greatest(scored: _*).getField("score"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key. md5 is identical in Spark and DuckDB. */
  def fingerprint(text: Column): Column =
    md5(Dedup.normalized(text))

  /** BPE-ish token count: matches of a GPT-style piece pattern (letter
    * runs, single digits, punctuation singletons) — deliberately
    * RE2-safe (no lookarounds) so the DuckDB oracle runs the identical
    * regex. A much better length estimate for LLM budgeting than
    * whitespace words. */
  val bpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePattern), lit(0)))

  private val rollP = 2147483647L // 2^31-1
  private val rollB = 257L

  /** Rolling (polynomial / Rabin-Karp) document fingerprint over the
    * normalized text: fold acc = (acc*B + codepoint) mod p. Pure
    * higher-order Columns — one pass, codegen-friendly, and exactly
    * reproducible in DuckDB via list_reduce. The incremental form is
    * what content-defined chunking builds on; the full-document fold is
    * the dedup key variant. */
  def rollingHash(text: Column): Column = {
    aggregate(transform(split(Dedup.normalized(text), ""), c => ascii(c).cast("long")),
      lit(0L), (acc, c) => (acc * rollB + c) % rollP)
  }

  /** Composite quality-filter decision (the C4/Gopher-style corpus
    * gate): combines the scalar quality features with the repetition
    * features into keep/drop plus a comma-joined reason list
    * (concat_ws skips the NULL sides of untriggered rules — identical
    * semantics in DuckDB, and no array column for the driver compare).
    * Thresholds are the standard web-text heuristics. */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withText = df.filter(length(col(textCol)) > 0)
    val qf = qualityFeatures(withText, col(textCol))
      .select(col(idCol), col("n_tokens"), col("punct_ratio"),
        col("stopword_ratio"), col("mean_word_len"))
    val rep = repetitionFeatures(withText, idCol, textCol)
      .select(col(idCol), col("dup_sent_frac"), col("top_bigram_frac"))
    val joined = qf.join(rep, Seq(idCol))
    val reasons = concat_ws(",",
      when(col("n_tokens") < 20, lit("too_short")),
      when(col("mean_word_len") < 2.0 || col("mean_word_len") > 12.0, lit("word_len")),
      when(col("punct_ratio") > 0.2, lit("punct")),
      when(col("stopword_ratio") < 0.001, lit("no_stopwords")),
      when(col("dup_sent_frac") > 0.3, lit("repetitive_sents")),
      when(col("top_bigram_frac") > 0.2, lit("repetitive_bigrams")))
    joined
      .withColumn("reasons", reasons)
      .withColumn("keep", col("reasons") === "")
      .select(col(idCol), col("keep"), col("reasons"))
  }

  /** Deterministic train/val/test assignment — the split step every
    * training-data pipeline ends with. The bucket is a pure function
    * of the id (md5 % 100, the cross-engine-portable hash), so the
    * split is stable across runs, machines and engines: no sampling
    * state, no seed file, re-runnable on any subset. Scan-speed, no
    * shuffle. Returns (idCol, bucket, split). */
  def assignSplit(df: DataFrame, idCol: String,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    val bucket = pmod(Dedup.md5Long(col(idCol).cast("string")), lit(100)).cast("int")
    df.select(col(idCol), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Token-frequency vocabulary with cumulative corpus coverage — the
    * tokenizer-prep step (how many tokens does a top-K vocabulary
    * cover?). Counts are one token-keyed aggregation; the global
    * (count DESC, token ASC) ranking is computed ONLY on the top-K
    * rows after a TakeOrdered-style limit, so the single-partition
    * window is bounded by K (the documented carve-out — never a
    * corpus-sized global window). The count table is materialized
    * ONCE (eager checkpoint): it feeds both the total and the top-K
    * branch, and the corpus tokenize+shuffle must not run per branch
    * (the multi-branch recompute rule). The vocabulary-sized
    * checkpoint lives as long as the result (see
    * `Bridge.releaseLocalCheckpoint`). Returns
    * (token, cnt, rank, coverage rounded 6). */
  def vocabCoverage(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val toks = df.select(explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val total = counts.agg(sum(col("cnt")).as("total"))
    val topK = counts.orderBy(col("cnt").desc, col("token").asc).limit(k)
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    topK.crossJoin(total)
      .withColumn("rank", row_number().over(w))
      .withColumn("coverage",
        round(sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double") / col("total"), 6))
      .select(col("token"), col("cnt"), col("rank"), col("coverage"))
  }

  /** BPE-merge tokenizer training (Sennrich et al. 2016, the
    * subword-nmt `learn_bpe` shape): words become character sequences,
    * then `nMerges` iterations each (1) count every adjacent symbol
    * pair weighted by word frequency — overlapping occurrences
    * included, the original convention — (2) pick the most frequent
    * pair (ties: smaller left, then right symbol) and (3) merge it in
    * every word, greedy left-to-right (so a run of k identical symbols
    * yields floor(k/2) merges at even offsets).
    *
    * Scale shape: the corpus pays ONE tokenize + word-keyed
    * aggregation; the word-frequency table is then capped at the top
    * `vocabK` words (TakeOrdered — bounded, observable truncation) and
    * the merge loop runs DRIVER-SIDE on that vocabulary-sized table —
    * the k-means-codebook tier: at 100 TB the corpus scan is the cost,
    * the loop touches only |vocab| * |word| symbols per iteration and
    * never re-reads the corpus. Returns one row per learned merge:
    * (merge_idx, lsym, rsym, pair_count). */
  def bpeMerges(df: DataFrame, textCol: String, vocabK: Int,
      nMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrain(bpeVocab(df, textCol, vocabK), nMerges).toSeq
      .toDF("merge_idx", "lsym", "rsym", "pair_count")
  }

  /** The top-`vocabK` (cnt DESC, word ASC) word-frequency table the BPE
    * fit trains on — one corpus tokenize + word-keyed aggregation, then
    * a bounded TakeOrdered collect (vocabulary-sized by construction).
    * Public so callers that both TRAIN and APPLY (q_bpe_merges /
    * q_bpe_encode) can memoize ONE fit per JVM instead of paying the
    * corpus scan twice. */
  def bpeVocab(df: DataFrame, textCol: String, vocabK: Int): Seq[(String, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(vocabK)
      .as[(String, Long)].collect().toSeq
  }

  /** The exact driver BPE loop over a (word, count) vocabulary —
    * pure function, equivalence-tested against the unrolled SQL oracle
    * via q_bpe_merges. Stops early when no adjacent pair remains. */
  def bpeTrain(vocab: Seq[(String, Long)],
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    var words: Vector[(Array[String], Long)] =
      vocab.map { case (w, c) => (w.toCharArray.map(_.toString), c) }.toVector
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var it = 0
    var done = false
    while (it < nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((it, l, r, c))
        words = words.map { case (syms, cnt) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += l + r; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, cnt)
        }
        it += 1
      }
    }
    merges.result()
  }

  /** Encode one word with a trained merge list: chars → fold the merges
    * in RANK order, each applied with the exact greedy left-to-right
    * scan of `bpeTrain`'s merge step. One rank-order pass is the full
    * encode (not an approximation): merges only FUSE tokens, so once a
    * pair (l, r) has been merged everywhere, no later merge can create
    * a new token equal to `l` or make existing `l`/`r` tokens newly
    * adjacent — the pair can never reappear, and the "repeat until no
    * merge applies" loop of the original subword-nmt `apply_bpe`
    * degenerates to exactly this replay of the training order. */
  def bpeApply(word: String, merges: Seq[(String, String)]): Array[String] = {
    var syms: Array[String] = word.toCharArray.map(_.toString)
    merges.foreach { case (l, r) =>
      if (syms.length > 1) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toArray
      }
    }
    syms
  }

  /** Apply a trained BPE merge list to the corpus — the tokenizer
    * APPLICATION half of the train/apply pair (q_bpe_merges trains;
    * this encodes): every document's words are segmented with the
    * merges and the per-document subword token count is reported,
    * the number a token-budget pipeline actually bills against.
    *
    * Scale shape: the merge list is model-sized (broadcast); encoding
    * is a single narrow mapPartitions scan — NO shuffle, NO join. A
    * per-partition word→count cache makes the Zipfian common case
    * (the same words repeating across documents) an O(1) hash probe,
    * so per-occurrence cost collapses toward the distinct-word count
    * per partition. Documents with no words emit no row (the oracle's
    * inner-join semantics). Returns (idCol, n_words, n_bpe_tokens). */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ms = bc.value.toSeq
        val cache = new java.util.HashMap[String, Integer]()
        it.flatMap { case (id, text0) =>
          val text = if (text0 == null) "" else text0
          var nWords = 0L
          var nTok = 0L
          text.split(" ").foreach { w =>
            if (w.nonEmpty) {
              nWords += 1
              var c = cache.get(w)
              if (c == null) {
                c = Integer.valueOf(bpeApply(w, ms).length)
                cache.put(w, c)
              }
              nTok += c.intValue()
            }
          }
          if (nWords == 0) Iterator.empty
          else Iterator.single((id, nWords, nTok))
        }
      }
      .toDF(idCol, "n_words", "n_bpe_tokens")
  }

  /** Corpus-trained bigram language-model scoring — the
    * perplexity-filter stage of CCNet/KenLM-style pipelines: train
    * add-one-smoothed bigram probabilities on the corpus itself, then
    * score every document by its MEAN bigram log-probability
    * P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V), with
    * a "<s>" start sentinel per document. A low score marks a document
    * whose word transitions are surprising relative to the corpus —
    * gibberish, boilerplate soup, wrong-language text — the standard
    * LM-quality gate before training-data inclusion.
    *
    * Shapes: the corpus is tokenized into the per-occurrence bigram
    * table exactly ONCE (eager checkpoint — it feeds four plan
    * branches, the CLAUDE.md multi-branch rule; at 100 TB four
    * redundant tokenization passes would dominate); bigram and context
    * counts are one hash aggregation each on vocabulary-sized keys; V
    * is a 1-row scalar agg (cross join), derived from the bigram table
    * too (every token is the `cur` of exactly one bigram); scoring is
    * two equi-joins + a doc-keyed aggregation. Model tables stay
    * vocabulary-sized (broadcastable by AQE); nothing is all-pairs or
    * global. Returns (idCol, n_bigrams, avg_logp rounded 4).
    *
    * The two bigram-table checkpoints live as long as the scores (see
    * `Bridge.releaseLocalCheckpoint`). */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // order-preserving tokenization (same idiom as tfidf: split on ' ',
    // drop empties — but via the higher-order filter so ADJACENCY for
    // bigrams survives)
    val toksArr = filter(split(col(textCol), " "), t => length(t) > 0)
    val docs = df.select(col(idCol), toksArr.as("toks"))
      .filter(size(col("toks")) > 0)
    val padded = concat(array(lit("<s>")), col("toks"))
    val bigrams = zip_with(
      slice(padded, lit(1), size(col("toks"))), col("toks"),
      (a, b) => concat_ws(" ", a, b))
    val ex = docs.select(col(idCol), explode(bigrams).as("bg"))
      .localCheckpoint(true)
    // context counts and the vocabulary FOLD FROM the bigram-count
    // table instead of two more passes over the exploded stream: a
    // context's count is the sum of its bigrams' counts, and the
    // distinct-token set equals the distinct set of bigram second
    // elements (guide §2.3 aggregate before you shuffle). bgCounts is
    // materialized once for its three consumers.
    val bgCounts = ex.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
      .localCheckpoint(true)
    val ctxCounts = bgCounts.select(substring_index(col("bg"), " ", 1).as("ctx"),
        col("c_bg"))
      .groupBy(col("ctx")).agg(sum(col("c_bg")).as("c_ctx"))
    // V = distinct tokens: every token occurs as the second element
    // (`cur`) of at least one bigram, so the bigram vocabulary covers it
    val vocab = bgCounts.select(substring_index(col("bg"), " ", -1).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    ex.join(bgCounts, Seq("bg"))
      .withColumn("ctx", substring_index(col("bg"), " ", 1))
      .join(ctxCounts, Seq("ctx"))
      .crossJoin(vocab)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c_bg") + 1).cast("double") / (col("c_ctx") + col("v")))), 4)
          .as("avg_logp"))
  }

  /** DSIR-shape data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): hashed-unigram
    * importance weights. Words hash into `buckets` feature buckets
    * (the md5→conv 60-bit toolbox, deterministic across engines);
    * add-one-smoothed bucket distributions are estimated for the
    * TARGET slice (rows satisfying `targetPred` — e.g. a trusted
    * domain, the DSIR "Wikipedia" role) and for the full SOURCE
    * corpus, and every document scores the sum/mean of per-token
    * log(p_target/p_source) — the log importance weight a
    * quality-resampling stage keeps/drops on.
    *
    * Scale shape: the model is ONE conditional aggregation to a
    * `buckets`-row table (both distributions from the same scan),
    * totals folded lazily via 1-row agg crossJoins (the lmScore V
    * pattern — constructing fires zero jobs); scoring re-joins the
    * token stream to the bucket table with an explicit broadcast and
    * rolls up per doc. The tokenize+hash lineage is recomputed once
    * per branch (counts, scoring) — kept cheap and narrow by design,
    * the documented bucket-cap pattern. Docs with no nonempty tokens
    * emit no row. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int): DataFrame = {
    val toks = df.select(col(idCol), targetPred.as("is_target"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .select(col(idCol), col("is_target"),
        pmod(Dedup.md5Long(col("word")), lit(buckets.toLong)).as("bucket"))
      // materialized once: the model lineage (counts → totals → model)
      // and the scoring join would otherwise each re-run the corpus
      // explode + per-token md5 (branch-recompute rule); the checkpoint
      // is the same size as the scoring join's probe side
      .localCheckpoint(true)
    val counts = toks.groupBy(col("bucket")).agg(
      count(lit(1)).as("c_src"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("c_tgt"))
      // bucket-bounded rows; totals and model both read it
      .localCheckpoint(true)
    val totals = counts.agg(sum(col("c_src")).as("t_src"),
      sum(col("c_tgt")).as("t_tgt"))
    val model = counts.crossJoin(totals).select(col("bucket"),
      (log((col("c_tgt") + 1).cast("double") / (col("t_tgt") + buckets)) -
        log((col("c_src") + 1).cast("double") / (col("t_src") + buckets)))
        .as("logratio"))
    toks.join(broadcast(model), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("logratio")), 4).as("dsir_sum"),
        round(avg(col("logratio")), 4).as("dsir_mean"))
  }

  /** Per-document top-k keywords by TF-IDF: tf = in-doc term count,
    * df = documents containing the term, idf = ln(N/df), ranked
    * (tfidf desc, token asc) per document. Shapes: explode + two hash
    * aggregations + a token-keyed join + per-doc window — all keyed by
    * token or document, no global step. N is a 1-row scalar agg folded
    * into the LAZY plan via crossJoin (the lmScore V pattern) —
    * constructing the operator fires zero jobs, and the plan pays one
    * doc-count over the tf table (already doc×token-keyed) instead of
    * an extra full-corpus scan at action time (VERDICT r05 #2). */
  /** Corpus snapshot diff — the crawl-over-crawl delta a dataset
    * release pipeline reports (and the input to incremental
    * re-processing: only `added`/`changed` rows re-enter the expensive
    * stages). Each side reduces to (id, md5 fingerprint) scan-side;
    * one id-keyed full outer join classifies every id as
    * added / removed / changed / unchanged. Returns (idCol, status). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol), md5(col(textCol)).as("fp_old"))
    val n = newDf.select(col(idCol), md5(col(textCol)).as("fp_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** word2vec negative-sampling distribution (Mikolov et al. 2013):
    * unigram counts raised to alpha (0.75 in the paper — flattens the
    * Zipf head so rare words get sampled), normalized over the FULL
    * vocabulary, top-k rows by exact count emitted. 0.75 is exactly
    * representable in binary, and the normalizer folds in lazily as a
    * 1-row agg crossJoin; the top-k cut keys on the exact BIGINT count
    * (ties to token asc), so the selected set is engine-independent —
    * only neg_prob is float, rounded to 8dp (sum-order and pow-ulp
    * effects sit at relative 1e-15, far below the grid).
    *
    * Scale shape: one token-keyed aggregation (vocabulary-bounded),
    * one 1-row scalar agg, TakeOrdered top-k. */
  def negativeSamplingTable(df: DataFrame, textCol: String, alpha: Double,
      k: Int): DataFrame = {
    val counts = df.select(explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("w", pow(col("cnt").cast("double"), lit(alpha)))
    counts.crossJoin(counts.agg(sum(col("w")).as("w_total")))
      .select(col("token"), col("cnt"),
        round(col("w") / col("w_total"), 8).as("neg_prob"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)
  }

  /** Collocation / phrase mining (Mikolov et al. 2013 word2phrase):
    * adjacent-bigram score = (c_ab − delta) · N / (c_a · c_b) — the
    * discounted PMI-ish ratio the word2vec preprocessing joins "new
    * york" on. Emits the top-k bigrams with c_ab ≥ minCount:
    * (w1, w2, c_ab, phrase_score).
    *
    * Scale shape: bigrams explode from the SAME empty-filtered token
    * array both engines derive (adjacency is judged after dropping
    * empty tokens); all model tables are vocabulary-bounded token-keyed
    * aggregations, N folds in lazily as a 1-row agg crossJoin (the
    * lmScore V pattern), the word-count table is recomputed once per
    * join side (cheap narrow agg — the documented bucket-cap pattern),
    * and the global top-k is orderBy+limit = TakeOrdered, never a
    * single-reducer sort. All double math is one shared-precedence
    * expression, bit-identical across engines. */
  def phraseMine(df: DataFrame, textCol: String, delta: Double,
      minCount: Long, k: Int): DataFrame = {
    val toksArr = filter(split(col(textCol), " "), x => length(x) > 0)
    val withToks = df.select(toksArr.as("toks"))
      .withColumn("n", size(col("toks")))
    val ex = withToks.filter(col("n") >= 2)
      .select(col("toks"), explode(sequence(lit(1), col("n") - 1)).as("i"))
      .select(element_at(col("toks"), col("i")).as("w1"),
        element_at(col("toks"), col("i") + 1).as("w2"))
    val cab = ex.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    // unigram counts computed ONCE and materialized (vocab-sized):
    // referencing the un-materialized count table from three plan
    // branches (c_a, c_b, n_tokens) re-runs the corpus tokenize per
    // branch (CLAUDE.md branch-recompute rule); localCheckpoint cuts
    // the lineage so the scan+shuffle happens exactly once, and the
    // total token count folds from the materialized table instead of a
    // fourth corpus pass (guide §2.4 remove shuffles outright).
    val wc = withToks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val n = wc.agg(sum(col("c")).as("n_tokens"))
    cab.filter(col("c_ab") >= minCount)
      .join(wc.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(wc.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(n)
      .select(col("w1"), col("w2"), col("c_ab"),
        round((col("c_ab").cast("double") - lit(delta)) * col("n_tokens").cast("double")
          / (col("c_a").cast("double") * col("c_b").cast("double")), 4)
          .as("phrase_score"))
      .orderBy(col("phrase_score").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val docs = df.filter(length(col(textCol)) > 0)
    val toks = docs.select(col(idCol),
        explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
    // materialize tf once: both the join's left side and dfreq derive
    // from it, and an unmaterialized tf re-runs the corpus explode +
    // (id, token) shuffle per branch (CLAUDE.md branch-recompute rule).
    // The checkpoint is the same size as the shuffle it replaces.
    val tf = toks.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // N = docs with non-empty text; derived from `docs` directly (a doc
    // whose tokens are all empty strings still counts, matching the old
    // docs.count() semantics and the oracle's count over d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token").asc)
    tf.join(dfreq, Seq("token"))
      .crossJoin(nDocs)
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** Gopher-style repetition features per document (the standard
    * web-text repetition filters): duplicate-sentence fraction
    * (1 − distinct/total over ". "-separated sentences) and
    * top-bigram fraction (occurrences of the most frequent word bigram
    * / total bigrams). Finding a per-row mode needs a hash map, so this
    * is a one-pass kernel (the sanctioned mapPartitions carve-out), one
    * narrow scan, no shuffle; the DuckDB oracle re-derives both via
    * unnest + group-by. Returns (idCol, n_sents, dup_sent_frac,
    * top_bigram_frac), fractions rounded to 4. */
  def repetitionFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sentSep = java.util.regex.Pattern.quote(". ")
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text0) =>
        val text = if (text0 == null) "" else text0
        val sents = text.split(sentSep, -1)
        val dupFrac = Toolbox.round4(1.0 - sents.distinct.length.toDouble / sents.length)
        val toks = text.split(" ", -1)
        val tbf =
          if (toks.length < 2) 0.0
          else {
            val counts = new java.util.HashMap[String, Int]()
            var maxC = 0
            var i = 0
            while (i < toks.length - 1) {
              val bg = toks(i) + " " + toks(i + 1)
              val c = counts.merge(bg, 1, (a, b) => a + b)
              if (c > maxC) maxC = c
              i += 1
            }
            Toolbox.round4(maxC.toDouble / (toks.length - 1))
          }
        (id, sents.length.toLong, dupFrac, tbf)
      })
      .toDF(idCol, "n_sents", "dup_sent_frac", "top_bigram_frac")
  }

  /** C4-style cross-document line (sentence) dedup: explode every
    * document into ". "-separated lines, normalize (lower + trim), keep
    * only the globally FIRST occurrence of each normalized line (by
    * (doc, position) order). ONE shuffle keyed by the normalized line —
    * exactly the C4 recipe, and the key space is line-sized, so Zipfian
    * boilerplate lines land as single hot groups handled by the
    * window's rank (no quadratic anywhere). */
  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("norm")).orderBy(col(idCol).asc, col("line_idx").asc)
    df.select(col(idCol), posexplode(split(col(textCol), "\\. ")).as(Seq("line_idx", "line")))
      .withColumn("norm", lower(trim(col("line"))))
      .filter(length(col("norm")) > 0)
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("line_idx"), col("norm"), col("keep"))
  }

  /** Sequence packing (concat-and-chunk, the LLM-training layout): lay
    * documents end to end in id order and cut fixed `budget`-token
    * sequences; each document gets (seq_id, offset_in_seq) of its first
    * token. Implemented as a SCALABLE two-pass prefix sum — a naive
    * global-order window collapses to one reducer, so instead: ids are
    * range-bucketed into `parts` deterministic contiguous spans, pass 1
    * aggregates per-span token totals (tiny), the driver prefix-scans
    * them into span base offsets, pass 2 windows WITHIN each span and
    * adds the broadcast base — both passes fully parallel. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Long, parts: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(idCol).as("id"),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val Array(minId, maxId) = toks.agg(min(col("id")), max(col("id")))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val span = math.max((maxId - minId) / parts + 1, 1L)
    // integral DIV, not double division: for ids near maxId in a huge id
    // range (>= 2^53) the double ratio can round UP to exactly `parts`,
    // and the bases inner join would silently drop those documents
    val withPart = toks.withColumn("part",
      expr(s"CAST((id - ${minId}L) DIV ${span}L AS INT)"))
    // pass 1: per-span totals (≤ `parts` rows) → driver prefix scan
    val totals = withPart.groupBy(col("part")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    var acc = 0L
    val bases = (0 until parts).map { p =>
      val b = (p, acc); acc += totals.getOrElse(p, 0L); b
    }.toDF("part", "base")
    // pass 2: window inside each span + broadcast base
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("part")).orderBy(col("id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    withPart.join(broadcast(bases), Seq("part"))
      .withColumn("offset", col("base") + sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("id").as(idCol), col("n_tokens"),
        expr(s"offset DIV $budget").as("seq_id"),
        pmod(col("offset"), lit(budget)).as("offset_in_seq"))
  }

  /** Winnowing-style fingerprint (kernel form): the minimum rolling
    * hash over all k-char windows of the normalized text — robust to
    * local edits outside the minimal window (standard MOSS/winnowing
    * building block; windows shorter than k hash the whole text).
    * O(n) via the rolling update acc' = (acc - c_out*B^(k-1))*B + c_in. */
  def winnowFingerprint(text: String, k: Int): Long = {
    val s = Toolbox.normalize(text)
    if (s.isEmpty) return 0L
    val n = s.length
    if (n <= k) {
      var acc = 0L
      var i = 0
      while (i < n) { acc = (acc * rollB + s.charAt(i)) % rollP; i += 1 }
      return acc
    }
    // B^(k-1) mod p
    var pow = 1L
    var e = 0
    while (e < k - 1) { pow = (pow * rollB) % rollP; e += 1 }
    var acc = 0L
    var i = 0
    while (i < k) { acc = (acc * rollB + s.charAt(i)) % rollP; i += 1 }
    var min = acc
    while (i < n) {
      acc = (acc - (s.charAt(i - k) * pow) % rollP + rollP * rollB) % rollP
      acc = (acc * rollB + s.charAt(i)) % rollP
      if (acc < min) min = acc
      i += 1
    }
    min
  }

  /** Corpus datasheet: the per-(lang, source) rollup every training-
    * data release publishes — document counts, char/estimated-token volumes,
    * empty-doc counts and exact-distinct text counts (duplication at a
    * glance). One hash aggregation, map-side partial. */
  def corpusStats(df: DataFrame, langCol: String, srcCol: String,
      textCol: String): DataFrame =
    df.groupBy(col(langCol), col(srcCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col(textCol))).as("n_chars"),
        sum((length(col(textCol)) / lit(4)).cast("long")).as("est_tokens"),
        sum(when(length(col(textCol)) === 0, 1L).otherwise(0L)).as("n_empty"),
        countDistinct(md5(col(textCol))).as("n_distinct_texts"))

  /** PII redaction (the C4-style scrub): emails, IPv4 addresses and
    * phone-shaped numbers replaced by typed placeholder tokens, with
    * per-kind match counts. Pure column expressions (regexp_count /
    * regexp_replace — codegen'd, scan speed); the patterns are kept in
    * the RE2-compatible subset so the DuckDB oracle runs the IDENTICAL
    * regexes. Replacement order (email → ip → phone) is part of the
    * spec: an email's digits must not be re-matched as a phone. */
  val piiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val piiIp = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val piiPhone = "[0-9]{3}-[0-9]{4}"

  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(t, piiEmail, "<EMAIL>"),
        piiIp, "<IP>"),
      piiPhone, "<PHONE>")
    // counts mirror the replacement cascade: each kind is counted on
    // the text with the EARLIER kinds already redacted, so a digit
    // run inside an email is never double-counted as a phone
    val afterEmail = regexp_replace(t, piiEmail, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, piiIp, "<IP>")
    df.select(col(idCol),
      regexp_count(t, lit(piiEmail)).as("n_emails"),
      regexp_count(afterEmail, lit(piiIp)).as("n_ips"),
      regexp_count(afterIp, lit(piiPhone)).as("n_phones"),
      md5(redacted).as("redacted_md5"))
  }

  /** Benchmark decontamination: flag documents sharing any n-token
    * shingle with a (small) benchmark set — the standard training-set
    * decontamination pass. Scale shape: the benchmark's distinct
    * shingles broadcast (eval sets are tiny next to the corpus); the
    * corpus side is a narrow shingle explode + one doc-keyed count —
    * never a corpus×corpus join. Returns every non-benchmark document
    * with its overlap count and flag. */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
      benchPred: Column, n: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val sh = Dedup.shingles(col(textCol), n)
    val bench = df.filter(benchPred)
      .select(explode(array_distinct(sh)).as("shingle")).distinct()
    val docSh = df.filter(!benchPred)
      .select(col(idCol), explode(array_distinct(sh)).as("shingle"))
    val hits = docSh.join(broadcast(bench), Seq("shingle"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
    df.filter(!benchPred).select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Training-mix sampling: per source, take documents in a
    * DETERMINISTIC pseudo-random order (md5 of the id — a seeded
    * shuffle both engines reproduce) until the per-source token budget
    * is exhausted (inclusive running total ≤ budget). This is the
    * data-mixture primitive — balance sources to quota without a
    * nondeterministic sample().
    *
    * Scale shape (VERDICT r05 #1 — the packSequences two-pass prefix
    * sum, applied per source): a single
    * `partitionBy(source).orderBy(md5)` running window would sort and
    * prefix-sum a Zipfian source's ENTIRE corpus slice on one reducer
    * before the budget filter drops it. Instead the md5 order key is
    * range-bucketed into 256 contiguous spans by its first two hex
    * chars (hex strings compare lexicographically == numerically, so
    * span order is md5 order); pass 1 aggregates per-(source, span)
    * row/token totals — a sources×256-row table — whose prefix sums
    * are computed by a window over THAT tiny table (each partition
    * ≤ 256 rows, never the corpus, and never a driver collect); pass 2
    * windows WITHIN each (source, span) and adds the broadcast bases.
    * Spans whose base offset already exceeds the budget are dropped
    * BEFORE the window shuffle (broadcast inner join), so the huge
    * source's beyond-budget rows are filtered scan-side and never
    * sorted at all. Returns every KEPT row with its shuffle rank and
    * running token total — result-identical to the single-window form
    * (OpsSpec pins the values; PlanSpec pins the plan shape). */
  def sampleByTokenBudget(df: DataFrame, srcCol: String, idCol: String,
      tokensCol: Column, budget: Long): DataFrame = {
    val base = df.select(col(srcCol), col(idCol), tokensCol.cast("long").as("__tok"))
      .withColumn("__key", md5(col(idCol).cast("string")))
      .withColumn("__span", conv(substring(col("__key"), 1, 2), 16, 10).cast("int"))
    // pass 1: per-(source, span) totals — sources×256 rows, map-side combine
    val totals = base.groupBy(col(srcCol), col("__span"))
      .agg(count(lit(1)).as("__n"), sum(col("__tok")).as("__t"))
    // exclusive prefix over the tiny totals table (partitions ≤ 256 rows)
    val wp = Window.partitionBy(col(srcCol)).orderBy(col("__span"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = totals
      .withColumn("__base_n", coalesce(sum(col("__n")).over(wp), lit(0L)))
      .withColumn("__base_t", coalesce(sum(col("__t")).over(wp), lit(0L)))
      // a span starting at or past the budget cannot contribute a kept
      // row (cum > base ≥ budget) — prune it before the big-side shuffle
      .filter(col("__base_t") < budget)
      .select(col(srcCol), col("__span"), col("__base_n"), col("__base_t"))
    // pass 2: window inside each (source, span) + broadcast bases
    val w = Window.partitionBy(col(srcCol), col("__span"))
      .orderBy(col("__key"), col(idCol))
    base.join(broadcast(bases), Seq(srcCol, "__span"))
      .withColumn("rank", (col("__base_n") + row_number().over(w)).cast("int"))
      .withColumn("cum_tokens", col("__base_t") +
        sum(col("__tok")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_tokens") <= budget)
      .select(col(srcCol), col(idCol), col("rank"), col("cum_tokens"))
  }

  /** Feature-hashing document embedding (hashing trick): token t adds
    * sign(t) at index md5_60(t) mod dim, with sign(t) = +1 when
    * (md5_60(t) ÷ dim) is even — INTEGER components, so the vector is
    * exact and cross-engine reproducible (no float formatting in the
    * oracle). This is the deterministic stand-in for a model embedding
    * that closes the text → vector → ANN loop; components ride out as
    * an md5 fingerprint + L1 norm because the driver compare cannot
    * hash array columns. One narrow kernel pass, no shuffle. */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = Toolbox.newMd5()
        it.map { case (id, text) =>
          val toks = Toolbox.tokens(if (text == null) "" else text)
          val vec = new Array[Long](dim)
          var i = 0
          while (i < toks.length) {
            val h = Toolbox.md5Long60(toks(i), md)
            val idx = (h % dim).toInt
            vec(idx) += (if ((h / dim) % 2 == 0) 1L else -1L)
            i += 1
          }
          var l1 = 0L
          var k = 0
          while (k < dim) { l1 += math.abs(vec(k)); k += 1 }
          (id, vec.mkString(","), l1)
        }
      }
      .toDF(idCol, "vec_csv", "l1")
      .select(col(idCol), md5(col("vec_csv")).as("emb_fp"), col("l1"))
  }
}
