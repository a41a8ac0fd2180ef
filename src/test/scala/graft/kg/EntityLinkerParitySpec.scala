package graft.kg

import graft.SparkTestBase

/** The r06 driver-local linker fallback must be BIT-IDENTICAL to the
  * distributed chain — same tokens, same df/stopword arithmetic, same
  * XXH64 minhash signatures and band keys, same candidate orientation,
  * same cosine decisions, same components and representatives. The
  * distributed path is forced with `localThreshold = 0`.
  */
class EntityLinkerParitySpec extends SparkTestBase {
  import spark.implicits._

  private def linkMap(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toMap

  test("local linker path is identical to the distributed path on alias corpora") {
    for (e <- Seq(30, 90, 210)) {
      val surfaces = (0 until e).flatMap(Universe.aliases).distinct.toDF("surface")
      val local = linkMap(EntityLinker.link(spark, surfaces))
      val dist = linkMap(EntityLinker.link(spark, surfaces, localThreshold = 0L))
      assert(local == dist, s"divergence at e=$e")
      // sanity: the local gate actually fired (aliases collapse to canonicals)
      assert(local.values.toSet.size < local.size)
    }
  }

  test("local linker path matches on messy surfaces (empties, punctuation, unicode)") {
    val messy = Seq(
      "", " ", "...", "A", "A.", "A. B. Corp!!", "a b corp", "A B CORP",
      "Ärna Corp", "ärna corp", "corp", "Corp", "x1", "X1 Corp", "X1-Corp",
      "The Very Long Surface Form Of Something", "very long surface")
    val surfaces = messy.toDF("surface")
    val local = linkMap(EntityLinker.link(spark, surfaces))
    val dist = linkMap(EntityLinker.link(spark, surfaces, localThreshold = 0L))
    assert(local == dist)
    assert(local.keySet == messy.toSet) // every input surface covered
  }

  test("representative length counts codepoints, as Spark's length does") {
    // the two surfaces link (shared tokens "acme", "widgets"); by UTF-16
    // units the emoji surface is longer (17 vs 16), by codepoints shorter
    // (15 vs 16), so the representative depends on the length measure
    val pair = Seq("acme widgets \uD83D\uDE00\uD83D\uDE00", "acme widgets abc")
    val surfaces = pair.toDF("surface")
    val local = linkMap(EntityLinker.link(spark, surfaces))
    val dist = linkMap(EntityLinker.link(spark, surfaces, localThreshold = 0L))
    assert(dist.values.toSet == Set("acme widgets abc"), dist)
    assert(local == dist)
  }

  test("byte gate refuses oversized payloads (distributed path taken)") {
    val surfaces = (0 until 30).flatMap(Universe.aliases).distinct.toDF("surface")
    // 0-byte budget: must fall through to the distributed path and still agree
    val forced = linkMap(EntityLinker.link(spark, surfaces, localThresholdBytes = 0L))
    val local = linkMap(EntityLinker.link(spark, surfaces))
    assert(forced == local)
  }
}
