package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-similarity primitives built from codegen'd Spark SQL functions only
  * (no UDFs, no spark-ml): tokenization, character shingles, MinHash
  * signatures, LSH banding, TF-IDF weighting and sparse cosine via joins.
  * Shared by entity linking (graft.kg.EntityLinker) and near-duplicate
  * detection (graft.ops.Dedup).
  */
object TextSim {

  /** Lower-cased word tokens of `textCol` as an exploded (id, token) frame.
    * `minTokenLen` drops degenerate tokens (e.g. bare initials like "g" from
    * "G. Hopper" — nearly zero identity signal but rare enough to get a high
    * IDF weight, the classic false-merge trap in alias linking). */
  def tokens(df: DataFrame, idCol: String, textCol: String, minTokenLen: Int = 1): DataFrame =
    df.select(col(idCol).as("id"),
        explode(filter(split(lower(col(textCol)), "[^a-z0-9]+"), t => length(t) >= minTokenLen)).as("token"))
      .distinct()

  /** Character n-gram shingles (id, token) — for near-dup text hashing.
    * Shingles are hashed to 64-bit longs immediately: every downstream
    * operation (minhash, LSH, candidate-pair jaccard joins) then shuffles
    * and compares 8-byte integers instead of n-char strings. */
  def charShingles(df: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val norm = regexp_replace(lower(col(textCol)), "\\s+", " ")
    df.select(col(idCol).as("id"), norm.as("t"))
      .select(col("id"),
        explode(transform(
          sequence(lit(1), greatest(length(col("t")) - (n - 1), lit(1))),
          i => xxhash64(col("t").substr(i, lit(n))))).as("token"))
      .distinct()
  }

  /** Per-doc sorted distinct char-n-gram hash SET as one in-row array
    * `(id, sh: array<long>)` — the corpus-scale sibling of [[charShingles]]:
    * same gram positions, same xxhash64 values, but the set never explodes,
    * so neither signatures ([[minHashSignaturesFromSets]]) nor verification
    * ([[jaccardOnPairSets]]) shuffle the corpus token set at all.
    *
    * r06: built by the native `shingle_set` kernel — one fused loop per row.
    * The HOF formulation ([[charShingleArraysHof]], bit-identical output,
    * parity-asserted in TokenSetParitySpec) paid an interpreted lambda frame
    * per shingle: measured ~4 ms/doc at 300-char docs, 2.0 s of the 2.7 s
    * q_dedup_minhash_pairs bench entry in this ONE projection (JobProbe). */
  def charShingleArrays(df: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val norm = regexp_replace(lower(col(textCol)), "\\s+", " ")
    df.select(col(idCol).as("id"),
      call_function("shingle_set", norm, lit(n)).as("sh"))
  }

  /** Portable higher-order-function formulation of [[charShingleArrays]] —
    * kept as the kernel's parity oracle (TokenSetParitySpec). */
  def charShingleArraysHof(df: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val norm = regexp_replace(lower(col(textCol)), "\\s+", " ")
    df.select(col(idCol).as("id"), norm.as("t"))
      .select(col("id"),
        array_sort(array_distinct(transform(
          sequence(lit(1), greatest(length(col("t")) - (n - 1), lit(1))),
          i => xxhash64(col("t").substr(i, lit(n)))))).as("sh"))
  }

  /** MinHash signatures straight from per-doc token-set arrays via the native
    * `minhash_sig` kernel — NO explode, NO groupBy, no shuffle (the exploded
    * [[minHashSignatures]] aggregates the full corpus token set). Output
    * schema matches it exactly (`id, h0..h{k-1}`, bit-identical values), so
    * [[lshBands]] composes unchanged. */
  def minHashSignaturesFromSets(sets: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(sets.sparkSession)
    sets.select(col("id"), call_function("minhash_sig", col("sh"), lit(k)).as("s"))
      .select(col("id") +: (0 until k).map(i => element_at(col("s"), i + 1).as(s"h$i")): _*)
  }

  /** Exact Jaccard for candidate pairs over per-doc SORTED token-set arrays:
    * candidates join ONE row per doc (small side broadcast-able by AQE) and
    * the intersection is counted in-row by the native sorted-merge kernel.
    * Rows through the shuffle: O(docs + candidates) — the exploded
    * formulation ([[graft.ops.Dedup.jaccardOnPairs]]) streamed
    * O(candidates × tokens/doc) rows through a (b, token) join, the measured
    * super-linear point of the 10× corpus series. Zero-intersection pairs
    * come out with jaccard 0.0 (the exploded inner join dropped them);
    * callers filter on a positive threshold either way. */
  def jaccardOnPairSets(pairs: DataFrame, sets: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(sets.sparkSession)
    pairs
      .join(sets.select(col("id").as("a"), col("sh").as("ta")), Seq("a"))
      .join(sets.select(col("id").as("b"), col("sh").as("tb")), Seq("b"))
      .withColumn("both", call_function("sorted_intersect_count", col("ta"), col("tb")))
      .select(col("a"), col("b"),
        (col("both") / (size(col("ta")) + size(col("tb")) - col("both"))).as("jaccard"))
  }

  /** MinHash signature per id from an exploded (id, token) frame:
    * k independent hash functions h_i(t) = xxhash64(t, seed_i); the signature
    * is the per-id minimum of each — one aggregation, fully codegen'd. */
  def minHashSignatures(tok: DataFrame, k: Int): DataFrame = {
    val aggs: Seq[Column] = (0 until k).map(i => min(xxhash64(col("token"), lit(i))).as(s"h$i"))
    tok.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding over a MinHash signature frame: emits (id, band, key) where
    * `key` hashes `rowsPerBand` consecutive signature slots. Ids sharing a
    * (band, key) are candidate pairs. All bands come from ONE posexplode pass
    * (a per-band union would rescan the signatures b times). */
  def lshBands(sig: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val bands = k / rowsPerBand
    val keys = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      xxhash64(cols: _*)
    }
    sig.select(col("id"), posexplode(array(keys: _*)))
      .toDF("id", "band", "key")
  }

  /** Candidate pairs (a, b) with a < b from LSH buckets. `bucketCap` guards
    * against hub buckets (a token shared by millions of ids would otherwise
    * produce a quadratic pair explosion — the classic LSH skew problem):
    * oversized buckets are dropped, trading a little recall for bounded work. */
  def candidatePairs(bands: DataFrame, bucketCap: Int = 1000): DataFrame = {
    val capped = bands
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("key"))))
      .filter(col("sz") <= bucketCap)
      .drop("sz")
    // The cross-band dedup doubles as the PARALLELISM SPREAD for the
    // downstream exact verification: candidate rows are two ids (~16 bytes)
    // but each surviving pair pays an O(tokens/doc) verification merge, so
    // AQE's byte-based coalescing would collapse the whole verification
    // onto one task (measured: 125k-pair merge single-task, 0.64 s of the
    // 1.6 s q_dedup_simhash_pairs wall). An explicit defaultParallelism-
    // wide hash exchange on (a, b) is reused by dropDuplicates (same keys,
    // same partition count — no second shuffle) and keeps the CPU-heavy
    // stage at full width at any scale; at 16 bytes/row the exchange is
    // noise even for billions of candidates.
    val np = bands.sparkSession.sparkContext.defaultParallelism
    capped.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .repartition(np, col("a"), col("b"))
      .dropDuplicates("a", "b")
  }

  /** Cosine similarity for the given candidate pairs over TF-IDF weights:
    * dot products via a token-level join, norms via per-id aggregation.
    *
    * Deliberately stays in the exploded (id, token, w) shape, unlike the
    * near-dup family's in-row set arrays: TF-IDF requires a token-level
    * document-frequency aggregation anyway (the exploded frame must exist),
    * and linking surfaces are a few words each — the candidate×token join
    * fans out ~3-5 rows per candidate, not the hundreds-per-doc that made
    * the shingle families' exploded verification super-linear. */
  def cosineOnPairs(pairs: DataFrame, weights: DataFrame): DataFrame = {
    val norms = weights.groupBy(col("id")).agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val dots = pairs
      .join(weights.select(col("id").as("a"), col("token"), col("w").as("wa")), Seq("a"))
      .join(weights.select(col("id").as("b"), col("token"), col("w").as("wb")), Seq("b", "token"))
      .groupBy(col("a"), col("b")).agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(norms.select(col("id").as("a"), col("norm").as("na")), Seq("a"))
      .join(norms.select(col("id").as("b"), col("norm").as("nb")), Seq("b"))
      .select(col("a"), col("b"), (col("dot") / (col("na") * col("nb"))).as("cos"))
  }
}
