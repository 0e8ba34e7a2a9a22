package graft.queries

import graft.SparkSpec

class BenchQueriesSpec extends SparkSpec {

  test("tridentWordcount equals wordcount on null and empty text: " +
      "neither contributes a word") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("trident-wc").toString
    Seq[(Long, String)]((1L, "a b  a"), (2L, null), (3L, ""), (4L, " b c "))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = counts(BenchQueries.wordcount(spark, dir))
    assert(want == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    assert(counts(BenchQueries.tridentWordcount(spark, dir)) == want)
  }
}
