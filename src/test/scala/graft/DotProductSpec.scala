package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The native codegen'd dot product must be bit-identical to the
  * interpreted higher-order-function fold, and registrable both via
  * ensureRegistered and via SparkSessionExtensions. */
class DotProductSpec extends SparkSpec {

  private def hofDot = {
    (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
  }

  test("graft_dot is bit-identical to the interpreted fold") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq(
      (Seq(1.5f, -2.25f, 3.125f), Seq(0.5f, 4.0f, -1.0f)),
      (Seq.empty[Float], Seq.empty[Float]),
      (Seq(1e-8f, 2e8f), Seq(3e7f, -1e-7f)))
      .toDF("a", "b")
    val out = df.select(
      GraftFunctions.dot(col("a"), col("b")).as("native"),
      hofDot(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("graft_dot matches on the real embeddings fixture") {
    GraftFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = emb.select(
      GraftFunctions.dot(col("embedding"), col("embedding")).as("native"),
      hofDot(col("embedding"), col("embedding")).as("hof")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("GraftExtensions injects the function at session build time") {
    // ... and every other graft_* function, the optimizer rules and the
    // planner strategy, from the one list ensureRegistered reads too
    // getOrCreate() returns the existing default session (where earlier
    // tests may have called ensureRegistered) — clear it first so a truly
    // FRESH session is built with the extensions applied
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne spark) // a genuinely new session, fresh registry
      import s2.implicits._
      val v = Seq((Seq(2.0f, 3.0f), Seq(4.0f, 5.0f))).toDF("a", "b")
        .selectExpr("graft_dot(a, b)").as[Double].head()
      assert(v === 23.0)
      for (name <- Seq("graft_dot", "graft_dotl", "graft_cos_key",
          "graft_srp_bands", "graft_shingles", "graft_shingle_hashes",
          "graft_simhash", "graft_simhash_wide", "graft_minhash_sig",
          "graft_term_counts", "graft_winnow", "graft_bigram_counts",
          "graft_top_bigram", "graft_gram_hashes", "graft_bpe_encode",
          "graft_bpe_decode")) {
        assert(s2.catalog.functionExists(name), s"$name does not resolve")
      }
      // nothing went through the experimental hooks: the rule and the
      // strategy below come from the extension alone
      assert(s2.experimental.extraOptimizations.isEmpty)
      assert(s2.experimental.extraStrategies.isEmpty)
      assert(s2.sessionState.planner.strategies
        .contains(graft.plans.PartitionTermCountsStrategy))
      val docs = TempLayouts.tracked("graft-ext").toString + "/docs"
      Seq("a rose is a rose", "is it").toDF("text").write.parquet(docs)
      s2.read.parquet(docs).createOrReplaceTempView("documents")
      val wc = s2.sql("""SELECT word, sum(tf) AS cnt FROM documents
        LATERAL VIEW explode(graft_term_counts(text)) t AS word, tf
        GROUP BY word""")
      assert(wc.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[graft.plans.PartitionTermCounts]))
      assert(wc.queryExecution.executedPlan.toString
        .contains("PartitionTermCounts"))
    } finally {
      // the new session shares the JVM-wide SparkContext — do NOT stop it,
      // just restore the suite session as active/default
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("graft_cos_key is exact floor division of d·|d|·1e6 by n") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val cases = Seq( // (d, n) incl. negative dots and non-dividing n
      (7L, 3L), (-7L, 3L), (0L, 5L), (123456789L, 1L),
      (-123456789L, 987654321L), (64000000000000L, 7L),
      (-64000000000000L, 64000000000000L))
    val df = cases.toDF("d", "n")
    val out = df.select(col("d"), col("n"),
      GraftFunctions.cosKey(col("d"), col("n")).as("k")).collect()
    out.foreach { r =>
      val (d, n) = (r.getLong(0), r.getLong(1))
      val num = BigInt(d) * BigInt(d).abs * BigInt(1000000)
      // reference: mathematical floor of the exact rational num/n
      val expect = if (num.sign >= 0 || num % n == 0) num / n
                   else num / n - 1
      assert(BigInt(r.getDecimal(2).toBigInteger) === expect,
        s"d=$d n=$n")
    }
    // n <= 0 (undefined cosine) yields NULL
    val nulls = Seq((5L, 0L), (5L, -3L)).toDF("d", "n")
      .select(GraftFunctions.cosKey(col("d"), col("n"))).collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("ragged or null-element inputs yield NULL like the HOF fold") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(3.0f)), // length mismatch
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)))
      .toDF("a", "b")
      .union(Seq((Seq(Some(1.0f), None), Seq(Some(3.0f), Some(4.0f))))
        .toDF("a", "b")) // null element
    val out = df.select(
      GraftFunctions.dot(col("a"), col("b")).as("native"),
      hofDot(col("a"), col("b")).as("hof")).collect()
    assert(out.map(_.isNullAt(0)).toSeq === Seq(true, false, true))
    out.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1)) // same null semantics as HOF
      if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
    }
  }
}
