package graft.queries

import graft.SparkSpec

/** Driver-side tokenizer learning loops ([[PipelineQueries.bpeLearnOf]] /
  * [[PipelineQueries.wordpieceLearnOf]] / [[PipelineQueries.unigramLearnOf]]
  * under [[PipelineQueries.TokenizerDriverVocab]]) == the distributed
  * loops, row-for-row including the wordpiece one-division scores. The cap
  * parameter forces each path: 0 → distributed (the 100 TB form),
  * Long.MaxValue → driver. Corpora are chosen so the loops exercise
  * ties, same-symbol runs, and early merge interactions — the exact
  * places an argmax-order or apply-order drift would show. */
class TokenizerDriverLoopSpec extends SparkSpec {
  import spark.implicits._

  private val corpora = Seq(
    // likelihood-ratio signature corpus (WordpieceSpec fixture 1)
    Seq("the that then quiz quay queen tall hat tin",
      "the that then toll ham tap hit hop"),
    // five-long same-symbol run: left-to-right fold order sensitive
    Seq("xxxxxx xa xb ya yb za zb wa wb"),
    // tie-heavy: every pair count 1 on round 1 → pure (a, b) tie-break
    Seq("ab cd ef gh ij kl mn op qr st uv wx yz"))

  private def df(lines: Seq[String]) =
    lines.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("bpeLearnOf: driver loop == distributed fold on every fixture " +
      "corpus and on sf0.001 documents (ranks and pairs, row-for-row)") {
    val frames = corpora.map(df) :+
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frames.zipWithIndex.foreach { case (docs, i) =>
      val drv = PipelineQueries.bpeLearnOf(docs, Long.MaxValue)
        .orderBy("rank").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      val dist = PipelineQueries.bpeLearnOf(docs, 0L)
        .orderBy("rank").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(drv == dist, s"corpus $i: first divergence " +
        s"${drv.zip(dist).find(p => p._1 != p._2)} " +
        s"(driver ${drv.size} rules, distributed ${dist.size})")
    }
  }

  test("wordpieceLearnOf: driver loop == distributed fold on every " +
      "fixture corpus and on sf0.001 documents, INCLUDING the rounded " +
      "likelihood-ratio scores bit-for-bit") {
    val frames = corpora.map(df) :+
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frames.zipWithIndex.foreach { case (docs, i) =>
      val drv = PipelineQueries.wordpieceLearnOf(docs, Long.MaxValue)
        .orderBy("rank").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
      val dist = PipelineQueries.wordpieceLearnOf(docs, 0L)
        .orderBy("rank").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
      assert(drv == dist, s"corpus $i: first divergence " +
        s"${drv.zip(dist).find(p => p._1 != p._2)} " +
        s"(driver ${drv.size} rules, distributed ${dist.size})")
    }
  }

  test("unigramLearnOf: driver arm == distributed arm on every fixture " +
      "corpus, on ties in UTF-8 order, non-ASCII and supplementary text, " +
      "and on sf0.001 documents (pieces, counts and costs, row-for-row)") {
    // 47 ASCII 2-char words + two that UTF-16 and UTF-8 order apart:
    // 49 multi-char pieces tied at count 1 for 48 seed slots, so the
    // seed cut is decided by the (cnt desc, piece) tie-break alone
    val ascii = (for (a <- 'a' to 'g'; b <- 'h' to 'z') yield s"$a$b").take(47)
    val ties = Seq((ascii :+ "\uff41\uff41" :+ "\ud83d\ude00\ud83d\ude00")
      .mkString(" "))
    val nonAscii = Seq("café naïve éé über straße ßß ñandú ñandú café",
      "δέλτα δέλτα αβγ βγ ωω жук жук")
    val supplementary = Seq("\ud835\udd18\ud835\udd2b\ud835\udd26 " +
      "a\ud835\udd18b a\ud835\udd18b \ud83d\ude00x\ud83d\ude00 xy")
    val frames = (corpora :+ ties :+ nonAscii :+ supplementary).map(df) :+
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frames.zipWithIndex.foreach { case (docs, i) =>
      def learn(cap: Long) = PipelineQueries.unigramLearnOf(docs, cap)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      val drv = learn(Long.MaxValue)
      val dist = learn(0L)
      assert(drv == dist, s"corpus $i: first divergence " +
        s"${drv.zip(dist).find(p => p._1 != p._2)} " +
        s"(driver ${drv.size} pieces, distributed ${dist.size})")
    }
  }

  test("driver gate takes the driver path at the default cap and the " +
      "schemas match the declared query contract on both paths") {
    val docs = df(corpora.head)
    val a = PipelineQueries.bpeLearnOf(docs, Long.MaxValue)
    val b = PipelineQueries.bpeLearnOf(docs, 0L)
    assert(a.schema == b.schema, s"bpe schema drift: ${a.schema} vs ${b.schema}")
    val c = PipelineQueries.wordpieceLearnOf(docs, Long.MaxValue)
    val d = PipelineQueries.wordpieceLearnOf(docs, 0L)
    assert(c.schema == d.schema,
      s"wordpiece schema drift: ${c.schema} vs ${d.schema}")
    assert(PipelineQueries.TokenizerDriverVocab >= 1000000L ||
      sys.env.contains("SPARK_GRAFT_TOKENIZER_DRIVER_VOCAB"),
      "default driver-vocab cap drifted below the documented 1M")
  }
}
