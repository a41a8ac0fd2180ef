package graft.kg

import graft.ops.{ConnectedComponents, TextSim}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity linking + canonicalization (north rule): MinHash-LSH blocking over
  * surface-form tokens, TF-IDF cosine scoring of the blocked candidate
  * pairs, then connected-components canonicalization to merge alias
  * clusters. Works on DISTINCT surface forms — the corpus-level dedup
  * happens first, so a surface appearing a billion times costs one node.
  *
  * The canonical representative of a component is its longest surface
  * (ties: lexicographically smallest) — alias variants are substrings or
  * abbreviations of the full form, so the longest surface is the full name.
  */
object EntityLinker {

  final case class LinkerParams(
      minHashFunctions: Int = 12,
      rowsPerBand: Int = 1,
      bucketCap: Int = 1000,
      cosineThreshold: Double = 0.5,
      minTokenLen: Int = 2,
      /** tokens present in more than this fraction of surfaces are dropped
        * from the linking signal (corpus-specific stopwords like "Corp":
        * near-zero identity, but they min-hash whole entity families into
        * the same LSH buckets and explode the candidate-pair count). */
      maxDfFraction: Double = 0.1)

  /** @param surfaces single-column DataFrame of surface strings (any name)
    * @param localThreshold distinct-surface count at or below which the
    *        whole linking chain runs as a driver-side computation instead
    *        of ~12 tiny Spark stages (opt r06; same rationale and gate
    *        shape as [[ConnectedComponents.run]]'s union-find fallback:
    *        broadcast-scale inputs pay pure scheduling latency on the
    *        distributed path). Output is IDENTICAL — the local path
    *        reproduces Spark's own hash chain (XXH64, seed 42) for
    *        minhash signatures and band keys, the same stopword/df
    *        arithmetic, the same cosine formula and the same min-id/
    *        longest-surface conventions; EntityLinkerParitySpec asserts
    *        bit-equality against the distributed path.
    * @param localThresholdBytes byte bound on the fallback (count alone is
    *        not a safe gate for fat surfaces) — measured char payload ×4
    *        must fit under it.
    * @return DataFrame(surface, canonical) covering every input surface
    *         (unlinked surfaces map to themselves). */
  def link(spark: SparkSession, surfaces: DataFrame,
           params: LinkerParams = LinkerParams(),
           localThreshold: Long = 10000L,
           localThresholdBytes: Long = 32L << 20): DataFrame = {
    import spark.implicits._
    val inCol = surfaces.columns(0)
    val distinctSurfaces = surfaces.select(col(inCol).as("surface")).distinct().cache()
    // count + payload estimate in the ONE aggregate the path needs anyway
    val (n, chars) = distinctSurfaces
      .agg(count(lit(1)), coalesce(sum(length(col("surface"))), lit(0L)))
      .as[(Long, Long)].first()
    if (n <= localThreshold && chars * 4 <= localThresholdBytes) {
      val all = distinctSurfaces.as[String].collect()
      distinctSurfaces.unpersist()
      return linkLocal(spark, all, params)
    }

    val maxDf = math.max(8L, (n * params.maxDfFraction).toLong)
    val rawTok = TextSim.tokens(
      distinctSurfaces.select(col("surface").as("id"), col("surface").as("text")),
      "id", "text", params.minTokenLen)
    // ONE document-frequency aggregation serves BOTH the stopword filter
    // and the TF-IDF weights (r06 — previously two full aggs over the
    // token frame: one for stopTokens, one for the weights). df per token is
    // identical computed before or after stopword removal (dropping other
    // tokens' rows cannot change a surviving token's document count), so
    // filtering AFTER the df join preserves the exact weights.
    val dfCounts = rawTok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val tok = rawTok.join(dfCounts, Seq("token"))
      .filter(col("df") <= maxDf)
      .cache()

    // MinHash-LSH blocking (bands of 1 row: candidate iff ANY min-hash
    // collides; with k=12 a Jaccard-1/3 alias pair is missed with p≈(2/3)^12)
    val sig = TextSim.minHashSignatures(tok, params.minHashFunctions)
    val cand = TextSim.candidatePairs(
      TextSim.lshBands(sig, params.minHashFunctions, params.rowsPerBand), params.bucketCap)

    // TF-IDF weights straight from the carried df column:
    // w = ln((n + 1) / (df + 1)) + 1 (set semantics, tf ∈ {0,1})
    val weights = tok
      .withColumn("w", log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0)
      .select(col("id"), col("token"), col("w"))
    val links = TextSim.cosineOnPairs(cand, weights)
      .filter(col("cos") >= params.cosineThreshold)
      .select(col("a"), col("b"))

    val comps = ConnectedComponents.run(spark, links)

    // representative per component: longest surface, ties lexicographically
    // smallest — struct(min(-length, surface)) keeps this a single agg
    val reps = comps
      .select(col("component"), col("node"))
      .groupBy(col("component"))
      .agg(min(struct((-length(col("node"))).as("negLen"), col("node").as("s"))).as("rep"))
      .select(col("component"), col("rep.s").as("canonical"))

    distinctSurfaces
      .join(comps.withColumnRenamed("node", "surface"), Seq("surface"), "left")
      .join(reps, Seq("component"), "left")
      .select(col("surface"), coalesce(col("canonical"), col("surface")).as("canonical"))
  }

  /** Driver-side replica of the distributed chain for broadcast-scale
    * surface sets. Every step reproduces the distributed semantics exactly:
    *  - tokens: Spark `lower` (UTF8String.toLowerCase) + `split(regex, -1)`
    *    + length filter + per-surface distinct;
    *  - df/stopwords/idf: identical integer and double arithmetic;
    *  - minhash: Spark's `xxhash64(token, lit(i))` fold — seed 42, UTF8
    *    bytes, then one hashInt step per seed (the same XXH64 chain the
    *    native kernels reproduce, SetSketchParitySpec);
    *  - band keys: `xxhash64(h_b…)` fold over the band's slots;
    *  - representative length: codepoints (Spark's `length`);
    *  - pair orientation and representative ties: UTF8 binary order (what
    *    Spark's string `<` and struct `min` compare);
    *  - components: min-id union-find, as [[ConnectedComponents]]' fallback.
    * EntityLinkerParitySpec asserts output equality against the distributed
    * path on generated alias corpora. */
  private[kg] def linkLocal(spark: SparkSession, all: Array[String],
                            params: LinkerParams): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    val n = all.length.toLong
    val maxDf = math.max(8L, (n * params.maxDfFraction).toLong)
    def binLt(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

    val tokensOf: Array[Array[String]] = all.map { s =>
      UTF8String.fromString(s).toLowerCase.toString
        .split("[^a-z0-9]+", -1)
        .filter(_.length >= params.minTokenLen).distinct
    }
    val df = scala.collection.mutable.HashMap.empty[String, Long]
    tokensOf.foreach(_.foreach(t => df.update(t, df.getOrElse(t, 0L) + 1L)))
    // surviving tokens, sorted for a deterministic summation order below
    val kept: Array[Array[String]] =
      tokensOf.map(_.filter(t => df(t) <= maxDf).sorted)

    val k = params.minHashFunctions
    val tokenBase = scala.collection.mutable.HashMap.empty[String, Long]
    def base(t: String): Long =
      tokenBase.getOrElseUpdate(t, XXH64.hashUTF8String(UTF8String.fromString(t), 42L))
    val bands = k / params.rowsPerBand
    val buckets = scala.collection.mutable.HashMap.empty[(Int, Long), scala.collection.mutable.ArrayBuffer[Int]]
    for (i <- all.indices if kept(i).nonEmpty) {
      val sig = Array.tabulate(k) { j =>
        var mn = Long.MaxValue
        kept(i).foreach { t => val h = XXH64.hashInt(j, base(t)); if (h < mn) mn = h }
        mn
      }
      for (b <- 0 until bands) {
        var key = 42L
        (b * params.rowsPerBand until (b + 1) * params.rowsPerBand)
          .foreach(slot => key = XXH64.hashLong(sig(slot), key))
        buckets.getOrElseUpdate((b, key), scala.collection.mutable.ArrayBuffer.empty) += i
      }
    }

    val cand = scala.collection.mutable.HashSet.empty[(Int, Int)]
    buckets.valuesIterator.filter(_.size <= params.bucketCap).foreach { ids =>
      val arr = ids.toArray
      for (x <- arr.indices; y <- x + 1 until arr.length) {
        val (i, j) = (arr(x), arr(y))
        if (i != j) cand += (if (binLt(all(i), all(j))) (i, j) else (j, i))
      }
    }

    def w(t: String): Double = math.log((n + 1.0) / (df(t) + 1.0)) + 1.0
    val norms: Array[Double] = kept.map(ts => math.sqrt(ts.map(t => { val x = w(t); x * x }).sum))
    val links = cand.iterator.filter { case (i, j) =>
      val shared = kept(i).toSet.intersect(kept(j).toSet).toSeq.sorted
      val dot = shared.map(t => w(t) * w(t)).sum
      norms(i) > 0 && norms(j) > 0 && dot / (norms(i) * norms(j)) >= params.cosineThreshold
    }.toSeq

    // min-id union-find (as ConnectedComponents.localUnionFind)
    val parent = scala.collection.mutable.HashMap.empty[Int, Int]
    def find(x: Int): Int = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    links.foreach { case (i, j) =>
      parent.getOrElseUpdate(i, i); parent.getOrElseUpdate(j, j)
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) { if (binLt(all(ri), all(rj))) parent(rj) = ri else parent(ri) = rj }
    }
    // representative per component: longest surface in codepoints (Spark's
    // `length`, not UTF-16 units), ties binary-smallest
    def len(i: Int): Int = all(i).codePointCount(0, all(i).length)
    val rep = scala.collection.mutable.HashMap.empty[Int, Int]
    parent.keysIterator.foreach { i =>
      val r = find(i)
      val cur = rep.get(r)
      if (cur.isEmpty || len(i) > len(cur.get) ||
          (len(i) == len(cur.get) && binLt(all(i), all(cur.get))))
        rep(r) = i
    }
    all.indices.map { i =>
      val canon = if (parent.contains(i)) all(rep(find(i))) else all(i)
      (all(i), canon)
    }.toDF("surface", "canonical")
  }
}
