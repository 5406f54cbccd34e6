package graft

import graft.queries.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The flagship word count (`wordcount_topn`, `wordcount_full`) runs on the
  * native `graft_term_counts` kernel; it must equal the regex reference
  * form — `explode(TextOps.tokens(text))` + `count` — on the driver corpus
  * and on an edge corpus of unicode text, null / empty / delimiter-only
  * documents, in-document repeats and count ties at the top-N cut. */
class WordcountSpec extends SparkSpec {

  private val edgeTexts: Seq[String] = Seq(
    "hello 世界 world",
    "café naïve résumé words",
    "emoji 😀🚀 burst here",
    "WİTH İ and ı and Kelvin K signs",
    null, "", "   ", ",,, 123 !!! ---",
    "kiwi kiwi KIWI kiwi",
    // alpha/beta tie at rank 1, gamma/delta at rank 3
    "alpha beta gamma delta", "Alpha BETA gamma delta", "alpha-beta")

  private lazy val edgeDir: String = {
    import spark.implicits._
    val d = TempLayouts.tracked("graft-wordcount").toString
    edgeTexts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "xx", "web", Option(t).map(_.length.toLong).getOrElse(0L))
    }.toDF("doc_id", "text", "lang", "source", "length")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private val corpora = Seq("corpus" -> (() => "/root/testdata/sf0.001"),
    "edge" -> (() => edgeDir))

  private def reference(d: String): DataFrame =
    Tables.documents(spark, d)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  for ((name, dir) <- corpora) {
    test(s"wordcountTopN equals the regex reference at every cut ($name)") {
      for (n <- Seq(1, 2, 3, 4, 5, 20, 1000)) {
        val got = TextOps.wordcountTopN(spark, dir(), n)
        assert(got.schema("cnt").dataType == LongType)
        assert(got.collect().toSeq == reference(dir())
          .orderBy(col("cnt").desc, col("word").asc).limit(n)
          .collect().toSeq, s"top-$n diverges")
      }
    }

    test(s"wordcount_full equals the regex reference ($name)") {
      val got = SparkEntry.queries("wordcount_full")(spark, dir())
      assert(got.schema("cnt").dataType == LongType)
      assert(got.collect().toSeq ==
        reference(dir()).orderBy(col("word")).collect().toSeq)
    }
  }

  test("edge corpus exercises repeats and ties") {
    val top = TextOps.wordcountTopN(spark, edgeDir, 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(top == Seq("kiwi" -> 4L, "alpha" -> 3L, "beta" -> 3L,
      "and" -> 2L, "delta" -> 2L))
  }
}
