package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB path:
  *
  *  - exact: hash-groupBy on sha256(text) — one shuffle, min-id keeper;
  *  - MinHash+LSH: shingle → k minhashes (expression-only) → band/bucket →
  *    self-join within buckets only (candidate pairs ≪ n²) → exact
  *    Jaccard verify on candidates;
  *  - SimHash: 64-bit sign-sum fingerprint, near-dup = small Hamming
  *    distance within LSH-by-prefix buckets;
  *  - n-gram Jaccard: inverted-index pair generation (explode + join on
  *    shared ngrams), count-based Jaccard — no cross join anywhere;
  *  - embedding cosine near-dup: see `graft.simops.Similarity`.
  *
  * All hash functions are Spark's deterministic `xxhash64`/`hash` with
  * per-permutation affine transforms — seeded, reproducible, no RNG state.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per sha256(text) group.
    * One hash-shuffle; at 100 TB, partial aggregation (map-side combine on
    * the hash) bounds shuffle volume by the number of distinct documents.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol), sha2(col(textCol), 256).as("sha"))
      .groupBy(col("sha"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
  }

  /** Rows of `df` that survive exact dedup (keeper rows only). */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // -- shingling ---------------------------------------------------------------

  /** Word n-gram shingles as an array column (distinct). Runs as the
    * custom codegen'd [[graft.functions.WordShingles]] kernel — the
    * equivalent HOF chain ([[wordShinglesHof]], kept as the equivalence
    * reference) is interpreted per lambda element and was the dominant
    * per-row cost of every shingle-based operator.
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.WordShingles.wordShingles(text, n)

  /** The expression-only HOF formulation the custom kernel is
    * equivalence-tested against (ShinglesSpec).
    */
  def wordShinglesHof(text: Column, n: Int): Column = {
    val toks = filter(split(lower(text), "\\W+"), t => t =!= "")
    val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
    array_distinct(transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  // -- MinHash + LSH -----------------------------------------------------------

  /** Mersenne prime modulus for the affine permutation family. 2^31−1:
    * with 31-bit hash pieces and 31-bit coefficients the product stays
    * < 2^62, so the arithmetic is exact under Spark 4's default ANSI mode
    * (no i64 overflow).
    */
  private val P = 2147483647L // 2^31 - 1

  /** Deterministic 31-bit affine coefficients for permutation j (shared
    * with the [[graft.functions.MinhashBands]] kernel).
    */
  private[graft] def coefA(j: Int): Long =
    ((0x9e3779b97f4a7c15L * (2L * j + 1)) >>> 33) | 1L
  private[graft] def coefB(j: Int): Long =
    (0xc2b2ae3d27d4eb4fL * (j + 1)) >>> 33

  /** Choose `(bands, rowsPerBand)` for a `k`-permutation signature so the
    * banded-LSH S-curve's 50%-recall point `(1/bands)^(1/rowsPerBand)`
    * lands nearest the target Jaccard threshold — the standard MMDS ch.3
    * dial, solved over the divisors of k. More bands ⇒ catches lower
    * similarities (more candidates); more rows per band ⇒ steeper cutoff.
    * The driver-checked configuration (16×4 at threshold 0.6, curve
    * point 0.5) sits deliberately BELOW the verify threshold so exact
    * Jaccard filtering, not the probabilistic curve, decides membership.
    */
  def autoBands(k: Int, threshold: Double): (Int, Int) = {
    require(k > 0 && threshold > 0.0 && threshold < 1.0,
      s"autoBands: k=$k threshold=$threshold out of range")
    (1 to k).filter(k % _ == 0)
      .map(b => (b, k / b))
      .minBy { case (b, r) =>
        math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
      }
  }

  /** Candidate pairs from a precomputed (`__id`, `__sh` array) frame —
    * lets `minhashNearDups` share one materialized shingle pass between
    * the signature stage and the verify joins.
    *
    * Banding runs as the per-row [[graft.functions.MinhashBands]] codegen
    * kernel: the signature stage is a pure projection — ZERO shuffle —
    * where the previous shape exploded every (doc × shingle) into a
    * 64-min partial aggregate (guide §2.3: don't shuffle what a map can
    * compute). [[minhashBandedAgg]] keeps that shape as the equivalence
    * reference (MinhashBandsSpec asserts bit-identical buckets).
    */
  private def candidatesFromShingles(sh: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = sh.select(col("__id").as("id"),
        posexplode(graft.functions.MinhashBands
          .minhashBands(col("__sh"), bands, rowsPerBand)))
      .toDF("id", "band", "bucket")
    val l = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** The explode + 64-min-aggregate + multi-arg-xxhash64 banding the
    * kernel replaced — retained as the equivalence reference
    * (MinhashBandsSpec pins kernel buckets bit-identical to this).
    */
  private[graft] def minhashBandedAgg(sh: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    val exploded = sh
      .select(col("__id").as("id"), explode(col("__sh")).as("g"))
      .withColumn("h", pmod(xxhash64(col("g")), lit(P)))
    val sig = exploded.groupBy("id").agg(
      min(pmod(col("h") * coefA(0) + coefB(0), lit(P))).as("m0"),
      (1 until k).map(j =>
        min(pmod(col("h") * coefA(j) + coefB(j), lit(P))).as(s"m$j")): _*)
    sig.select(col("id"), posexplode(array(
      (0 until bands).map { b =>
        xxhash64((Seq(lit(b): Column) ++ (0 until rowsPerBand)
          .map(r => col(s"m${b * rowsPerBand + r}"))): _*)
      }: _*)))
      .toDF("id", "band", "bucket")
  }

  /** Full MinHash-LSH near-dup pipeline: candidates → exact Jaccard verify
    * (computed on the two shingle sets via a join back to the corpus) →
    * pairs above `threshold`.
    *
    * The shingle arrays are materialized ONCE ([[graft.util.Materialize]]
    * barrier) and shared by the signature stage AND both verify-join
    * sides — the HOF shingling is the dominant per-row cost, and the
    * un-materialized shape re-evaluated it three times per run (once for
    * the signatures, once per verify side).
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val sh = graft.util.Materialize.barrier(
      graft.util.Parallelism.ensure(df, col(idCol))
        .select(col(idCol).as("__id"),
          wordShingles(col(textCol), n).as("__sh")))
    val cands = candidatesFromShingles(sh, bands, rowsPerBand)
    cands
      .join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // -- SimHash -----------------------------------------------------------------

  /** SimHash bit width. 60 bits = two 30-bit md5-prefix halves; staying
    * below bit 62 keeps every shift/OR exact in signed i64 on both Spark
    * and any SQL oracle engine (no sign-bit or ANSI-overflow edge).
    */
  val SimhashBits = 60

  /** Token fingerprint halves: the numeric value of md5(token) hex chars
    * 1-15 (resp. 16-30) — a 60-bit Rabin-style token fingerprint (SimHash
    * over polynomial fingerprints is the classic Manku et al. setup).
    * md5 + conv are codegen'd Spark expressions AND bit-for-bit
    * reproducible in ANSI SQL (fold over hex chars), which makes the
    * whole operator oracle-checkable cross-engine.
    */
  private def tokHashLo(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")
  private def tokHashHi(t: Column): Column =
    conv(substring(md5(t), 16, 15), 16, 10).cast("long")

  /** SimHash fingerprints for a corpus: per bit b, sum of ±1 over token
    * occurrences' bit b; fingerprint bit = sign(sum) > 0. Runs as the
    * per-row [[graft.functions.SimhashFp]] codegen kernel — a pure
    * projection over the scan, ZERO shuffle (guide §2.3/§4); the
    * explode + 60-sum aggregation + join-back shape it replaced is kept
    * as [[simhashDfAgg]], the equivalence reference (SimhashFpSpec
    * asserts bit-identical fingerprints). Docs with zero tokens (and
    * NULL text) get fingerprint 0, exactly as the aggregation shape's
    * left join + coalesce produced.
    */
  def simhashDf(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      coalesce(graft.functions.SimhashFp.simhashFp(col(textCol)), lit(0L))
        .as("simhash"))

  /** The aggregation formulation the kernel replaced — retained as the
    * equivalence reference for SimhashFpSpec.
    */
  private[graft] def simhashDfAgg(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(filter(split(lower(col(textCol)), "\\W+"), t => t =!= "")).as("t"))
      .select(col("id"), tokHashLo(col("t")).as("lo"), tokHashHi(col("t")).as("hi"))
    val votes = toks.groupBy("id").agg(
      bitVote(col("lo"), 0).as("s0"),
      ((1 until 30).map(b => bitVote(col("lo"), b).as(s"s$b")) ++
       (30 until SimhashBits).map(b => bitVote(col("hi"), b - 30).as(s"s$b"))): _*)
    val fp = (0 until SimhashBits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    df.select(col(idCol).as("id"))
      .join(votes.select(col("id"), fp.as("__fp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__fp"), lit(0L)).as("simhash"))
  }

  private def bitVote(h: Column, b: Int): Column =
    sum(when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))

  /** Hamming distance between two fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Number of fingerprint blocks `k` for Manku-style block-permutation
    * bucketing at corpus size `n` (Manku, Jain & Das Sarma, WWW'07 §3):
    * the fingerprint is split into `k` blocks and a table is built for
    * every (k−d)-subset of blocks, keyed on those blocks' concatenated
    * bits. A pair within Hamming distance ≤ d differs in ≤ d blocks, so
    * it AGREES on some (k−d)-subset — candidate recall is 1 by
    * pigeonhole for ANY k > d.
    *
    * k is the scale dial: key width = 60·(k−d)/k bits, so expected
    * bucket occupancy is n / 2^(60(k−d)/k) — pick the smallest k whose
    * key width covers log₂(n), keeping expected occupancy ≤ 1 and the
    * within-bucket self-join linear in n:
    *
    *   k=4 → 15-bit keys, 4 tables   (n ≲ 3·10⁴)
    *   k=5 → 24-bit keys, 10 tables  (n ≲ 10⁷)
    *   k=6 → 30-bit keys, 20 tables  (n ≲ 10⁹)
    *   k=7 → 34-bit keys, 35 tables  (n ≲ 10¹⁰)
    *   k=8 → 37-bit keys, 56 tables  (n ≲ 10¹¹)
    *
    * The candidate-generation cost is n·C(k,d) exploded rows through one
    * bucketing shuffle — the classic recall-1 cost curve. (The previous
    * fixed 4-quarter scheme was this table's k=4 row applied at every n:
    * occupancy n/2^15 makes the bucket join quadratic past ~10^5 docs.)
    */
  def simhashBlocks(n: Long, maxDist: Int = 3): Int = {
    require(maxDist >= 1, s"maxDist $maxDist must be ≥ 1")
    val need = math.log(math.max(n, 2L).toDouble) / math.log(2.0)
    (maxDist + 1 to 8)
      .find(k => SimhashBits.toDouble * (k - maxDist) / k >= need)
      .getOrElse(8)
  }

  /** SimHash near-dup pairs, recall-complete for Hamming ≤ `maxDist`:
    * Manku block-permutation tables (see [[simhashBlocks]]) bucket the
    * corpus, candidates join within (table, key) buckets only, and exact
    * Hamming verifies. `corpusCount` sizes the table family; when absent
    * it is counted from `df` (one aggregate scan).
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, corpusCount: Option[Long] = None): DataFrame = {
    val k = simhashBlocks(corpusCount.getOrElse(df.count()), maxDist)
    // block b covers fingerprint bits [60b/k, 60(b+1)/k) — widths differ
    // by ≤1 bit; pigeonhole needs only that the blocks partition the bits
    val bounds: Seq[(Int, Int)] = (0 until k).map { b =>
      val off = SimhashBits * b / k
      val hi = SimhashBits * (b + 1) / k
      (off, hi - off)
    }
    // one key column per (k−d)-subset: the chosen blocks' bits packed
    // into a long (≤ 60 bits total, exact in i64)
    val tableKeys: Seq[Column] =
      (0 until k).combinations(k - maxDist).map { s =>
        s.foldLeft(lit(0L)) { (acc, b) =>
          val (off, w) = bounds(b)
          shiftleft(acc, w).bitwiseOR(
            shiftright(col("sh"), off).bitwiseAND(lit((1L << w) - 1)))
        }
      }.toSeq
    // materialized ONCE: both self-join sides read the pinned 8-byte
    // fingerprints instead of re-running the md5 kernel over the corpus
    val f = graft.util.Materialize.barrier(
      simhashDf(graft.util.Parallelism.ensure(df, col(idCol)),
        idCol, textCol).toDF("id", "sh"))
    val tables = f.select(col("id"), col("sh"),
        posexplode(array(tableKeys: _*)))
      .toDF("id", "sh", "t", "key")
    val l = tables.toDF("id_a", "sh_a", "t", "key")
    val r = tables.toDF("id_b", "sh_b", "t", "key")
    l.join(r, Seq("t", "key"))
      .filter(col("id_a") < col("id_b"))
      .filter(hamming(col("sh_a"), col("sh_b")) <= maxDist)
      .select("id_a", "id_b").distinct()
  }

  // -- n-gram Jaccard via inverted index ----------------------------------------

  /** Jaccard similarity for all pairs sharing ≥1 word n-gram, computed by
    * inverted index: explode ngrams → group by ngram (posting lists) →
    * pair counts per ngram → sum → |A∩B| / (|A|+|B|−|A∩B|).
    * Rare-ngram posting lists keep the pair blowup bounded; a df-cap
    * (`maxDocFreq`) drops stop-ngrams that would quadratically explode.
    *
    * The shingle arrays are materialized ONCE ([[graft.util.Materialize]]
    * barrier): the shingling kernel is the dominant per-row cost, and
    * without the barrier the heavy-hitter subquery and the pairing group
    * would each re-evaluate it — the pre-r6 shape measured 4 evaluations
    * per run and 53% of the whole sf0.1 query bench before barriers.
    * Pair generation is the single-exchange collect_list +
    * [[graft.functions.PostingPairs]] kernel shape (see below), not a
    * postings self-join.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxDocFreq: Int = 1000): DataFrame = {
    // materialize the per-doc SHINGLE ARRAYS (one row per doc), not the
    // exploded postings: both consumers below re-explode from the pinned
    // arrays (cheap generate, no shingling recompute) and the barrier
    // stores n_docs rows instead of n_postings
    val sh = graft.util.Materialize.barrier(
      graft.util.Parallelism.ensure(df, col(idCol))
        .select(col(idCol).as("id"), wordShingles(col(textCol), n).as("sh"))
        .withColumn("sz", size(col("sh"))))
    val posts = sh.select(col("id"), col("sz"), explode(col("sh")).as("g"))
    // doc-frequency cap via partial-aggregated groupBy + broadcast
    // anti-join, NOT a window: count().over(partitionBy(g)) would shuffle
    // every posting of a stop-ngram to ONE task before the cap can drop
    // it — the exact skew the cap exists to avoid (and the reason the
    // cap cannot simply ride the collect_list group below: a stop-gram's
    // postings would all land on one task before the size filter could
    // drop them). groupBy combines map-side; the heavy-hitter set is
    // ≤ postings/maxDocFreq keys, tiny, and now has ONE consumer — no
    // barrier needed.
    val heavy = posts.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select("g")
    val filtered = posts.join(broadcast(heavy), Seq("g"), "left_anti")
    // pair generation: ONE exchange on the gram (collect the df-capped
    // posting list, ≤ maxDocFreq entries by construction) + the
    // PostingPairs codegen kernel, instead of shuffling the postings
    // TWICE through a self-join (guide §2.3/§2.4). The emitted pair
    // multiset is identical to the join's `a.g = b.g AND a.id < b.id`.
    //
    // The grouping exchange carries an EXPLICIT partition count
    // (repartition-by-num; the groupBy below reuses the partitioning, so
    // it is still ONE exchange): AQE sizes a coalesced stage by its
    // shuffle-read bytes, but this stage's real cost is the pair kernel's
    // quadratic fan-out AFTER the read (measured ~20× at the bench dial),
    // so byte-based coalescing under-provisions it at every scale — at
    // sf0.1 it ran 3 tasks with 29 cores idle. The count follows the
    // upstream input's partitioning (max of fleet width and scan
    // parallelism), so it grows with data size rather than pinning a
    // local constant.
    val pairParts = math.max(
      df.sparkSession.sparkContext.defaultParallelism,
      sh.rdd.getNumPartitions)
    val pairs = filtered
      .repartition(pairParts, col("g"))
      .groupBy("g")
      .agg(collect_list(struct(col("id"), col("sz"))).as("ps"))
      .select(explode(graft.functions.PostingPairs.postingPairs(col("ps")))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.sz_a").as("sz_a"), col("p.sz_b").as("sz_b"))
    pairs
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
