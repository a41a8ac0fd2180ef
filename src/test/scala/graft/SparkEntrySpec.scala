package graft

import java.nio.file.Files

/** The parquet footer caches behind `SparkEntry`'s table reads. */
class SparkEntrySpec extends SparkTestBase {

  test("a rewritten parquet path is read with its new schema, not a cached one") {
    // a child session: `t` applies the engine's session defaults to its session
    val session = spark.newSession()
    import session.implicits._
    val dir = Files.createTempDirectory("graft-footer-cache")
    try {
      val path = dir.resolve("x.parquet").toString
      Seq((1L, "a")).toDF("id", "name").write.parquet(path)
      assert(SparkEntry.t(session, dir.toString, "x").columns.toSeq == Seq("id", "name"))
      Seq((2L, "b", 3.0)).toDF("id", "name", "score").write.mode("overwrite").parquet(path)
      val back = SparkEntry.t(session, dir.toString, "x")
      assert(back.columns.toSeq == Seq("id", "name", "score"))
      assert(back.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 3.0)))
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }
}
