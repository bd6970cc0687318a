package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash
  * group-by), MinHash+LSH banding (near-dup, never all-pairs), and SimHash
  * with chunk-banded candidate generation.
  *
  * Scale design (the 100 TB lens):
  *  - exact dedup is one hash-shuffled aggregation — Spark's partial/final
  *    agg dedups most rows map-side;
  *  - near-dup candidates come ONLY from LSH band-bucket equi-joins (the
  *    band table is a few ints per doc), so cost is O(candidates), not
  *    O(n²); the shingle arrays are re-joined just for the exact-Jaccard
  *    verify of candidate pairs;
  *  - degenerate buckets (boilerplate shingles shared by millions of docs)
  *    are capped by `maxBucket` to bound join skew — AQE skew-join splits
  *    what remains.
  */
object DedupOps {

  /** Exact dedup by normalized-content hash: one representative (min id)
    * and the duplicate count per distinct content.
    */
  def dedupExact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs
      .groupBy(md5(TextOps.normalize(text)).as("content_hash"))
      .agg(min(id).as("doc_id"), count(lit(1)).as("n_dups"))

  /** Token k-gram shingles of the normalized text (deduped). Documents
    * shorter than k tokens yield an empty set (excluded from near-dup).
    * The token array is let-bound (TextOps.bind) so tokenization runs once
    * per row, not once per shingle element.
    */
  def shingles(text: Column, k: Int = 3): Column =
    TextOps.bind(TextOps.tokens(text)) { ws =>
      when(size(ws) >= k,
        array_distinct(transform(sequence(lit(1), size(ws) - (k - 1)), i =>
          concat_ws(" ", (0 until k).map(o => element_at(ws, i + o)): _*))))
        .otherwise(array().cast("array<string>"))
    }

  /** 64-bit k-gram identities WITHOUT materializing the shingle strings:
    * tokens hash once, k-grams combine the k token hashes. Set identity
    * (and so Jaccard) matches the string shingles up to ~2⁻⁶⁴ collisions,
    * at a fraction of the per-row string-building cost — the concat_ws
    * form was the profile's hot spot at sf0.1.
    */
  def shingleHashes(text: Column, k: Int = 3): Column =
    TextOps.bind(TextOps.bind(TextOps.tokens(text)) { ws =>
      transform(ws, w => xxhash64(w))
    }) { th =>
      when(size(th) >= k,
        array_distinct(transform(sequence(lit(1), size(th) - (k - 1)), i =>
          xxhash64((0 until k).map(o => element_at(th, i + o)): _*))))
        .otherwise(array().cast("array<bigint>"))
    }

  /** (id, band, band_hash) rows: `bands` bands of `numHashes/bands` MinHash
    * rows each, each band collapsed to one 64-bit hash. This is the ONLY
    * table the candidate join touches — 2 longs + 1 int per doc per band.
    */
  def minhashBands(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    val r = numHashes / bands
    require(bands * r == numHashes, s"bands=$bands must divide numHashes=$numHashes")
    // shingle size + ALL band hashes computed inside ONE let-binding of the
    // shingle array: one shingle build per row, 64 cheap lambda-var
    // transforms — without the bind, projection splicing re-evaluated the
    // shingle pipeline per minhash (the r2 45 s profile on 5k docs)
    // shingle strings hash ONCE to 64-bit values; the 64 salted minhashes
    // then mix 8-byte longs instead of re-hashing ~25-byte strings — ~3×
    // less hash work per row, the dominant cost at scale
    val packed = TextOps.bind(shingleHashes(text, k)) { hs =>
      struct(
        size(hs).as("n"),
        array((0 until bands).map { b =>
          struct(
            lit(b).as("band"),
            xxhash64((lit(b): Column) +:
              (b * r until (b + 1) * r).map(h =>
                array_min(transform(hs, x => xxhash64(lit(h), x)))): _*).as("bh"))
        }: _*).as("bands"))
    }
    docs
      .select(id.as("__id"), packed.as("__p"))
      .filter(col("__p.n") > 0) // empty-shingle docs would all collide
      .select(col("__id"), explode(col("__p.bands")).as("bb"))
      .select(col("__id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Near-duplicate pairs: LSH-banded candidate generation + exact token
    * k-gram Jaccard verification. Output: (d1, d2, jaccard) with
    * jaccard >= threshold and d1 < d2.
    *
    * With 16 bands × 4 rows the probability of missing a pair at
    * Jaccard j is (1-j⁴)¹⁶: ≤2e-4 at j=0.8, ≤4e-8 at j=0.9 — and every
    * reported pair is exact (verified), so output is deterministic up to
    * that vanishing miss rate.
    */
  def nearDupPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Long = 100000L
  ): DataFrame = {
    // exact-verify join payload: 64-bit shingle hashes, not the shingle
    // strings — Jaccard is identical on the hashed sets (collision odds
    // ~2⁻⁶⁴) and the shuffled bytes drop ~10× at 100 TB
    val base = docs
      .select(id.as("doc_id"), shingleHashes(text, k).as("sh"))
      .filter(size(col("sh")) > 0)
      // joined from BOTH sides of the verify join — materialize once
      // (per-executor memory: one id + ~n_shingles longs per doc).
      // localCheckpoint, NOT Dataset.persist: persist registers in the SQL
      // CacheManager, which holds the entry strongly until an explicit
      // unpersist that no caller can issue (the action happens downstream),
      // so a long-lived session leaked storage per dedup query. The
      // checkpoint's RDD blocks are weak-referenced by the context cleaner
      // and freed once the query's RDDs are unreachable.
      .localCheckpoint(false)
    // banded feeds the bucket-size guard AND the self-join: without a
    // materialization the whole minhash pipeline re-runs three times
    val banded = minhashBands(docs, id, text, k, numHashes, bands)
      .localCheckpoint(false)
    // skew guard: drop buckets larger than maxBucket (boilerplate content);
    // at 100 TB an uncapped bucket is a quadratic blow-up in one task
    val keep = banded.groupBy("band", "bh").count()
      .filter(col("count") <= maxBucket).drop("count")
    val sized = banded.join(keep, Seq("band", "bh"))
    val cand = sized
      .select(col("band"), col("bh"), col("__id").as("d1"))
      .join(sized.select(col("band"), col("bh"), col("__id").as("d2")), Seq("band", "bh"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()
    verifyJaccard(cand, base, threshold)
  }

  /** EXACT n-gram Jaccard near-dup pairs via an inverted-index join — no
    * signatures, no probabilistic recall: any pair with jaccard > 0
    * shares a shingle, so joining the postings list with itself finds
    * every qualifying pair. Complements MinHash LSH (which trades a
    * recall bound for fewer candidates): at moderate corpus sizes or
    * high thresholds the exact index is both simpler and precise.
    *
    * Scale posture: the per-shingle posting cap bounds the quadratic
    * candidate blow-up of boilerplate shingles (a shingle shared by
    * millions of docs); near-dup pairs above a real threshold share MANY
    * shingles, so a capped one still surfaces through the others. The
    * verify join ships 64-bit hash sets, not shingle strings.
    */
  def jaccardPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int = 3,
      threshold: Double = 0.5,
      maxPosting: Long = 100000L
  ): DataFrame = {
    val base = docs
      .select(id.as("doc_id"), shingleHashes(text, k).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(false) // see nearDupPairs — no CacheManager leak
    val postings = base.select(col("doc_id"), explode(col("sh")).as("s"))
    val keep = postings.groupBy("s").count()
      .filter(col("count") <= maxPosting).drop("count")
    val sized = postings.join(keep, Seq("s"))
    val cand = sized.select(col("s"), col("doc_id").as("d1"))
      .join(sized.select(col("s"), col("doc_id").as("d2")), Seq("s"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()
    verifyJaccard(cand, base, threshold)
  }

  /** Exact-Jaccard verify join over candidate (d1,d2) pairs — shared by
    * the LSH and inverted-index front ends.
    */
  private def verifyJaccard(cand: DataFrame, base: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(base.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(base.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("__i", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("jaccard",
        col("__i") / (size(col("sh1")) + size(col("sh2")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))

  /** 64-bit SimHash over whitespace tokens: bit i of the signature is the
    * sign of Σ over tokens of ±1 by bit i of xxhash64(token). One exploded
    * group-by — fully distributed, partial-agg friendly.
    */
  /** SimHash bit width: 60 bits = 15 hex chars of md5, chosen so the
    * per-token hash is ENGINE-PORTABLE (md5 is identical everywhere, and
    * 60 bits stays positive in a signed int64) — the signatures and every
    * downstream pair are then exactly reproducible by a SQL oracle.
    */
  final val SimhashBits = 60

  def simhash(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val tok = docs
      .select(id.as("doc_id"), explode(TextOps.tokens(text)).as("t"))
      .withColumn("h", conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until SimhashBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"__b$i")
    }
    val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimhashBits)
      .map(i => when(col(s"__b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: band the 64-bit signature into four 16-bit
    * chunks (pigeonhole: any pair at Hamming distance ≤3 shares a chunk
    * exactly; most pairs ≤8 do), candidates from chunk-bucket equi-join,
    * verified by exact popcount of the XOR.
    */
  def simhashPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      maxHamming: Int = 8
  ): DataFrame = {
    val sh = simhash(docs, id, text)
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("ch"))
    }
    val banded = sh
      .select(col("doc_id"), col("simhash"), explode(array(chunks: _*)).as("cb"))
      .select(col("doc_id"), col("simhash"), col("cb.chunk").as("chunk"), col("cb.ch").as("ch"))
    val cand = banded
      .select(col("chunk"), col("ch"), col("doc_id").as("d1"), col("simhash").as("s1"))
      .join(banded.select(col("chunk"), col("ch"), col("doc_id").as("d2"), col("simhash").as("s2")),
        Seq("chunk", "ch"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2", "s1", "s2")
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
  }
}
