package graft.model

import java.io.File

import graft.{JobCounts, SparkSpec}

/** [[Tables.parquet]] takes a single file's schema from its footer:
  * the same schema inference gives, without inference's Spark job. */
class TablesSpec extends SparkSpec {

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "perfbench/data/sf0.1")

  private def tables(dir: String): Seq[String] =
    Option(new File(dir).listFiles).toSeq.flatten
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted

  test("footer schema == inferred schema for every bundled table, with " +
      "nanosAsLong on (as Tables.events sets it) and off") {
    val files = dirs.flatMap(tables)
    assert(files.size >= 30, s"expected every table of ${dirs.size} dirs: $files")
    try {
      Seq("true", "false").foreach { nanos =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
        files.foreach { p =>
          val inferred = scala.util.Try(spark.read.parquet(p).schema)
          // events may be TIMESTAMP(NANOS), which reads only as long nanos
          if (inferred.isSuccess || !p.endsWith("events.parquet"))
            assert(Tables.footerSchema(spark, p) == Some(inferred.get),
              s"$p (nanosAsLong=$nanos)")
        }
      }
    } finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  test("building Tables.lineitem launches no Spark job") {
    val (df, jobs) = JobCounts.of(spark)(
      Tables.lineitem(spark, "/root/testdata/sf0.001"))
    assert(jobs == JobCounts(0, 0), s"$jobs")
    assert(df.schema == spark.read.parquet(
      "/root/testdata/sf0.001/lineitem.parquet").schema)
  }

  test("directories and Spark-written files keep schema inference") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toFile
    try {
      val out = new File(dir, "t.parquet").getPath
      spark.range(3).selectExpr("id", "cast(id as string) s")
        .coalesce(1).write.parquet(out)
      assert(Tables.footerSchema(spark, out).isEmpty)
      val part = tables(out).filter(new File(_).getName.startsWith("part-"))
      assert(part.size == 1)
      assert(Tables.footerSchema(spark, part.head).isEmpty)
      assert(Tables.parquet(spark, out).schema ==
        spark.read.parquet(out).schema)
    } finally {
      def rm(f: File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }
}
