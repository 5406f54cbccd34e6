package graft

import graft.functions.GraftFunctions
import graft.queries.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The flagship word count (`wordcount_topn`, `wordcount_full`) runs on the
  * native `graft_term_counts` kernel, combined per partition by
  * [[graft.plans.PartitionTermCountsRule]]; it must equal the regex
  * reference form — `explode(TextOps.tokens(text))` + `count` — on the
  * fixture corpus, on an edge corpus of unicode text, null / empty /
  * delimiter-only documents, in-document repeats and count ties at the
  * top-N cut, and on both written as several files, so the scan has more
  * than one partition. The rule's scope is pinned here too: what it must
  * rewrite and what it must leave alone. */
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

  /** The fixture corpus and the edge corpus together, as three files. */
  private lazy val splitDir: String = {
    val d = TempLayouts.tracked("graft-wordcount-split").toString
    Tables.documents(spark, fixture)
      .select(col("doc_id"), col("text"))
      .unionByName(Tables.documents(spark, edgeDir)
        .select(col("doc_id") + 1000000L as "doc_id", col("text")))
      .repartition(3).write.parquet(s"$d/documents.parquet")
    d
  }

  private val fixture = "/root/testdata/sf0.001"

  private val corpora = Seq("corpus" -> (() => fixture),
    "edge" -> (() => edgeDir), "split" -> (() => splitDir))

  private def rewritten(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[graft.plans.PartitionTermCounts])

  /** (word, tf) rows of the native per-document term maps. */
  private def tf(d: String, generator: Column => Column = explode): DataFrame =
    Tables.documents(spark, d).select(col("doc_id"),
      generator(GraftFunctions.termCounts(col("text")))).toDF("doc_id", "word", "tf")

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

  test("the split corpus scans as several partitions, and the DataFrame " +
    "and SQL word counts are rewritten there") {
    assert(Tables.documents(spark, splitDir).rdd.getNumPartitions > 1)
    for (name <- Seq("wordcount_topn", "wordcount_full"))
      assert(rewritten(SparkEntry.queries(name)(spark, splitDir)), name)
    // sql_wordcount_topn's text over this corpus (SqlSurface registers
    // every fixture table, which this corpus does not have)
    GraftFunctions.ensureRegistered(spark)
    Tables.documents(spark, splitDir).createOrReplaceTempView("split_docs")
    try {
      val sqlForm = spark.sql("""
        SELECT word, sum(tf) AS cnt
        FROM split_docs LATERAL VIEW explode(graft_term_counts(text)) t AS word, tf
        GROUP BY word
        ORDER BY cnt DESC, word ASC
        LIMIT 20""")
      assert(rewritten(sqlForm))
      assert(sqlForm.collect().toSeq == reference(splitDir)
        .orderBy(col("cnt").desc, col("word").asc).limit(20).collect().toSeq)
    } finally spark.catalog.dropTempView("split_docs")
  }

  test("the rule leaves alone every aggregate that is not sum(tf) by word") {
    GraftFunctions.ensureRegistered(spark)
    val d = splitDir
    val untouched = Seq(
      "count(*) by word" -> tf(d).groupBy("word").agg(count(lit(1))),
      "sum(tf) by (doc_id, word)" ->
        tf(d).groupBy("doc_id", "word").agg(sum("tf")),
      "avg(tf) by word" -> tf(d).groupBy("word").agg(avg("tf")),
      "filter(tf > 1) before sum(tf) by word" ->
        tf(d).filter(col("tf") > 1).groupBy("word").agg(sum("tf")),
      "explode_outer" -> tf(d, explode_outer).groupBy("word").agg(sum("tf")))
    for ((what, df) <- untouched) {
      assert(!rewritten(df), s"$what was rewritten")
      assert(df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate]),
        s"$what lost its explode")
    }
    // and the control: the same frame summed by word alone is rewritten
    assert(rewritten(tf(d).groupBy("word").agg(sum("tf"))))
  }

  test("every other site summing tf by term is rewritten and equals its " +
    "unrewritten plan") {
    val d = fixture
    def run(name: String): (Boolean, Seq[org.apache.spark.sql.Row]) = {
      val df = SparkEntry.queries(name)(spark, d)
      (rewritten(df), df.collect().toSeq)
    }
    for (name <- Seq("text_bpe_encode_1k", "text_bpe_merges",
        "text_pmi_bigrams")) {
      val (on, got) = run(name)
      assert(on, s"$name: not rewritten")
      val key = "spark.sql.optimizer.excludedRules"
      spark.conf.set(key, graft.plans.PartitionTermCountsRule.ruleName)
      val (off, want) = try run(name) finally spark.conf.unset(key)
      assert(!off, s"$name: rewritten with the rule excluded")
      assert(got == want, s"$name diverges from its unrewritten plan")
    }
  }

  test("edge corpus exercises repeats and ties") {
    val top = TextOps.wordcountTopN(spark, edgeDir, 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(top == Seq("kiwi" -> 4L, "alpha" -> 3L, "beta" -> 3L,
      "and" -> 2L, "delta" -> 2L))
  }
}
