package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Entity-linking constants and join shapes (Stage 3). The linker itself
  * is `Pipeline.linkSurfaces`: the reference's per-name lookup loop
  * (entity_linker.rs:486-499) has no document input, so it becomes ONE
  * join of the corpus's DISTINCT SURFACES against the KB (SURVEY.md §2.3
  * J1-J5).
  *
  * The graph build's size tier, decided once per build from the
  * vocabulary count (`Pipeline.surfaceIriReleasable`) and applied by
  * `tierJoin` to every join whose small side is vocabulary-sized (the
  * KB block join, both join-back sides):
  *  - broadcast tier (vocabulary ≤ `Pipeline.defaultBroadcastVocabLimit`
  *    rows): the vocabulary-sized side is broadcast and the big side
  *    (the KB, the triples) streams past it, unshuffled;
  *  - shuffle tier (an open-vocabulary crawl): both sides shuffle, and
  *    because the big side may carry a Zipfian-hot key it is split over
  *    `salts` salts by a stable hash of a row column while the small
  *    side is replicated across all of them, so one hot key lands on
  *    `salts` reducers instead of one (`saltedJoin`).
  *
  * Scoring replicates entity_linker.rs:367-401: exact (case-insensitive)
  * match ⇒ 0.95; fuzzy ⇒ JW similarity, kept if ≥ fuzzyThreshold (0.8);
  * retain ≥ confidenceThreshold (0.5, the EntityLinker config default,
  * entity_linker.rs:64 — currently inert because exact=0.95 and fuzzy
  * candidates are pre-filtered at ≥0.8). Exact matching emits one row
  * per KB entry whose label matches (the `kg_links` oracle's contract);
  * a surface with no exact match keeps the top-1 fuzzy candidate by
  * (confidence desc, uri asc) — the uri tie-break is our determinism
  * pin (the reference's sort leaves ties nondeterministic,
  * SURVEY.md §7.0).
  */
object Linking {

  val exactConfidence = 0.95 // entity_linker.rs:369
  val fuzzyThreshold = 0.8 // entity_linker.rs config default
  val confidenceThreshold = 0.5 // entity_linker.rs:64 EntityLinker default

  /** Salt count of the shuffle tier's salted joins (`saltedJoin`). */
  val salts = 16

  /** KB side of the blocked link join: one row per DISTINCT token of
    * each label (block = token). Joined against the surface side's FIRST
    * surface token, this admits every containing label that shares a
    * whole token with the surface — the scalable re-expression of the
    * reference's CONTAINS(LCASE(label), LCASE(name)) candidate query
    * (entity_linker.rs:296-312); the exact `contains` predicate runs
    * after the equi-join. Tokens are distinct per label, so a candidate
    * pair joins through exactly one block key — no dedup needed. */
  private[pipeline] def kbTokenBlocked(kb: DataFrame): DataFrame =
    kb.withColumn("block", explode(array_distinct(split(col("label_lc"), " "))))

  /** `big.join(small, on, how)` on the graph build's size tier (see the
    * header): `big.join(broadcast(small), on, how)` on the broadcast
    * tier, `saltedJoin(big, by, small, on, how)` on the shuffle tier.
    * `by` is read on the shuffle tier only. Both tiers give the rows of
    * the plain join. */
  def tierJoin(useBroadcast: Boolean, big: DataFrame, by: Column, small: DataFrame,
      on: Seq[String], how: String = "inner"): DataFrame =
    if (useBroadcast) big.join(broadcast(small), on, how)
    else saltedJoin(big, by, small, on, how)

  /** `big.join(small, on, how)` with the big side split across `salts`
    * by `pmod(by, salts)` and the small side replicated per salt: every
    * big row meets exactly the small rows of its key, so the rows are
    * those of the plain join, `inner` or `left`. A null `by` salts to 0:
    * a null salt would join nothing. */
  def saltedJoin(big: DataFrame, by: Column, small: DataFrame, on: Seq[String],
      how: String = "inner"): DataFrame =
    big.withColumn("salt", coalesce(pmod(by, lit(salts)), lit(0)).cast(IntegerType))
      .join(small.withColumn("salt", explode(sequence(lit(0), lit(salts - 1)))), on :+ "salt", how)
      .drop("salt")
}
