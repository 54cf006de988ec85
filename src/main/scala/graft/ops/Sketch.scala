package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.kernel.Toolbox

/** Probabilistic membership sketches — the seen-set primitive a crawl
  * pipeline consults before re-fetching/re-ingesting (Bloom 1970). The
  * filter is deterministic here (md5-derived positions, no seed state),
  * so two engines — and two cluster runs — build bit-identical sketches
  * from the same keyset.
  */
object Sketch {

  /** The k bit positions of a key: position i = the verified md5→60-bit
    * toolbox hash of "i:key", mod mBits. Pure columns, codegen'd; the
    * DuckDB oracle re-derives the identical positions. */
  def bloomPositions(key: Column, mBits: Int, kHashes: Int): Column =
    array((0 until kHashes).map { i =>
      pmod(Dedup.md5Long(concat(lit(s"$i:"), key)), lit(mBits.toLong))
    }: _*)

  /** Kernel twin of bloomPositions (equivalence-tested in OpsSpec):
    * the same 60-bit md5 key — used by the probe scan so the hot path is
    * one digest per hash, not a plan-side expression re-evaluated per
    * branch. */
  def bloomPositionsKernel(key: String, mBits: Int, kHashes: Int): Array[Long] = {
    val md = Toolbox.newMd5()
    Array.tabulate(kHashes)(i => Toolbox.md5Long60(s"$i:$key", md) % mBits)
  }

  /** Build the filter from a keyset: ONE distinct aggregation of bit
    * positions — never more than mBits rows regardless of corpus size,
    * the vocabulary/codebook driver tier — packed into a bitset the
    * probe side broadcasts. At 100 TB the build is a narrow scan + an
    * mBits-bounded shuffle; the artifact is mBits/8 bytes. */
  def bloomBuild(keys: DataFrame, keyCol: String, mBits: Int, kHashes: Int): Array[Long] = {
    val pos = keys
      .select(explode(bloomPositions(col(keyCol), mBits, kHashes)).as("p"))
      .distinct()
      .collect().map(_.getLong(0))
    val bits = new Array[Long]((mBits + 63) / 64)
    pos.foreach(p => bits((p >>> 6).toInt) |= (1L << (p & 63)))
    bits
  }

  /** Probe every row against a built filter: a narrow mapPartitions
    * scan with the broadcast bitset — k digests + k bit tests per row,
    * no join, no shuffle. maybe_seen = all k positions set (no false
    * negatives by construction; false-positive rate governed by the
    * build's fill factor). Returns (idCol, maybe_seen). */
  def bloomProbe(df: DataFrame, idCol: String, keyCol: String,
      bits: Array[Long], mBits: Int, kHashes: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bits)
    df.select(col(idCol).cast("long"), col(keyCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val bs = bc.value
        it.map { case (id, key) =>
          val pos = bloomPositionsKernel(key, mBits, kHashes)
          var ok = true
          var i = 0
          while (i < pos.length && ok) {
            ok = (bs((pos(i) >>> 6).toInt) & (1L << (pos(i) & 63))) != 0
            i += 1
          }
          (id, ok)
        }
      }
      .toDF(idCol, "maybe_seen")
  }

  /** Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    * d×w counters — each token increments counter (i, hash_i(token)
    * mod w) for i < d — and a token's frequency estimate is the MIN of
    * its d counters (always ≥ the true count; collisions only inflate).
    * Hashes ride the md5→60-bit toolbox with an 'i#' salt (a distinct
    * family from the Bloom filter's 'i:'), so the sketch is
    * deterministic and the oracle re-derives it exactly. Returns the
    * top-k tokens by (estimate desc, token asc) with the exact count
    * alongside — the overestimate is visible data, not hidden error.
    *
    * Scale shape: the counter table is ONE (i, pos)-keyed aggregation
    * bounded by d·w rows (map-side partials absorb the token stream),
    * estimates broadcast-join that tiny table back to the distinct-
    * token table, and the global top-k is orderBy+limit — Spark's
    * TakeOrdered, per-partition heaps merged on the driver, never a
    * single-reducer sort. */
  def cmsHeavyHitters(df: DataFrame, textCol: String, w: Int, d: Int,
      k: Int): DataFrame = {
    def pos(i: Int, token: Column): Column =
      pmod(Dedup.md5Long(concat(lit(s"$i#"), token)), lit(w.toLong))
    val toks = df.select(explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
    // ONE corpus-token aggregation: the counter cell (i, pos) holds the
    // number of stream occurrences hashing there, which equals the SUM
    // of exact counts over the tokens hashing there — so the counters
    // fold from the (already-needed) vocab-sized exact table instead of
    // a second corpus explode shuffling d rows per occurrence (guide
    // §2.3 aggregate before you shuffle). probes is materialized once:
    // counters and the probe join both read it (branch-recompute rule),
    // and the d md5s per distinct token are computed exactly once.
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
    val probes = exact.select(col("token"), col("exact_cnt"),
      posexplode(array((0 until d).map(i => pos(i, col("token"))): _*))
        .as(Seq("i", "pos")))
      .localCheckpoint(true)
    val counters = probes.groupBy(col("i"), col("pos"))
      .agg(sum(col("exact_cnt")).as("cnt"))
    probes.join(broadcast(counters), Seq("i", "pos"))
      .groupBy(col("token"), col("exact_cnt"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("token"), col("cms_est"), col("exact_cnt"))
      .orderBy(col("cms_est").desc, col("token").asc)
      .limit(k)
  }

  /** HyperLogLog cardinality (Flajolet et al. 2007, raw estimator):
    * the 60-bit md5 hash splits into a register index (low b bits) and
    * a (60-b)-bit suffix whose leading-zero rank each register maxes;
    * estimate = alpha·m² / Σ 2^(-M_j) over all m registers (empty
    * registers contribute 2^0). Raw estimator only — the small-range
    * linear-counting and large-range corrections are documented out,
    * since the point here is the mergeable fixed-size state, and the
    * raw number is what both engines can re-derive exactly. Returns
    * ONE row: (m_registers, registers_used, hll_est, exact_distinct) —
    * the exact distinct count sits next to the estimate so the error
    * is visible data.
    *
    * Scale shape: register state is ONE m-bounded aggregation (map-side
    * max-combine absorbs the stream — the reason HLL exists), the
    * estimate a 1-row scalar agg; exact_distinct is the expensive
    * distinct shuffle the sketch replaces, kept here as the oracle's
    * measuring stick. Register sums are rounded to 4dp: addition order
    * across m doubles is engine-dependent, a relative-1e-13 effect. */
  def hllDistinct(df: DataFrame, keyCol: String, b: Int): DataFrame = {
    val m = 1 << b
    val bigW = 60 - b
    val alpha = 0.7213 / (1 + 1.079 / m)
    val v = Dedup.md5Long(col(keyCol))
    val v2 = shiftright(v, b)
    val rank = when(v2 === 0, lit(bigW + 1))
      .otherwise(lit(bigW + 1) - length(bin(v2)))
    val regs = df.select(pmod(v, lit(m.toLong)).as("reg"), rank.as("rank"))
      .groupBy(col("reg")).agg(max(col("rank")).as("r"))
    val s = regs.agg(
      sum(pow(lit(2.0), -col("r").cast("double"))).as("s_ne"),
      count(lit(1)).as("n_ne"))
    val exact = df.agg(countDistinct(col(keyCol)).as("exact_distinct"))
    s.crossJoin(exact).select(
      lit(m.toLong).as("m_registers"),
      col("n_ne").as("registers_used"),
      round(lit(alpha * m * m) /
        (col("s_ne") + (lit(m.toLong) - col("n_ne")).cast("double")), 4)
        .as("hll_est"),
      col("exact_distinct"))
  }

  /** Columnar executable spec of build∘probe (equivalence-tested in
    * OpsSpec, and the shape a no-driver-collect variant would use):
    * probe positions exploded, broadcast-joined to the build's distinct
    * position table, maybe_seen = every one of the k rows matched. */
  def bloomProbeSpec(df: DataFrame, idCol: String, keyCol: String,
      keys: DataFrame, buildKeyCol: String, mBits: Int, kHashes: Int): DataFrame = {
    val built = keys
      .select(explode(bloomPositions(col(buildKeyCol), mBits, kHashes)).as("p"))
      .distinct()
      .withColumn("hit", lit(1))
    df.select(col(idCol).cast("long").as(idCol),
        explode(bloomPositions(col(keyCol), mBits, kHashes)).as("p"))
      .join(broadcast(built), Seq("p"), "left")
      .groupBy(col(idCol))
      .agg((count(col("hit")) === kHashes).as("maybe_seen"))
  }
}
