package graft

import org.apache.spark.sql.functions._

/** Pins for [[graft.Fixpoint]]: every job of a loop is named by its
  * round, an unconverged loop stops at exactly its cap (loudly or not, as
  * the call site chose), and the caller's job description survives. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def description: String =
    spark.sparkContext.getLocalProperty("spark.job.description")

  /** A loop whose measure grows every round, so `done` never holds. */
  private def climb(cap: Int, failAtCap: Boolean) = {
    var steps = 0
    val out = Fixpoint.iterate("climb", Seq(1L).toDF("n"), cap, failAtCap) {
      df => steps += 1; df.select((col("n") + 1).as("n"))
    }(sum(col("n")), (last, m) => m == last)
    (out, steps)
  }

  test("every job of the components loop carries its seed or round name") {
    // the 97-node chain from DedupSpec: 8 rounds of pointer doubling
    val n = 97
    val ids = (0 until n).map(_.toLong).toDF("doc_id")
    val pairs = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val ((_, rounds), jobs) = JobRecorder.record(spark)(
      graft.queries.Dedup.componentsWithRounds(ids, pairs))
    val round = """components round (\d+)""".r
    assert(jobs.nonEmpty)
    assert(jobs.forall(j => j == "components seed" ||
      round.matches(j)), s"unnamed loop jobs: $jobs")
    assert(jobs.filter(round.matches).distinct ==
      (1 to rounds).map(k => s"components round $k"))
    info(s"$rounds rounds, ${jobs.size} jobs")
    Caching.releaseAll()
  }

  test("an unconverged loop fails with NotConverged after exactly its cap " +
    "when it must converge, and returns normally when it need not") {
    val ex = intercept[IllegalArgumentException](climb(3, failAtCap = true))
    assert(ex.isInstanceOf[Fixpoint.NotConverged])
    assert(ex.getMessage == "climb did not converge within 3 rounds")
    val (((last, rounds), steps), jobs) =
      JobRecorder.record(spark)(climb(3, failAtCap = false))
    assert(rounds == 3 && steps == 3)
    assert(last.as[Long].collect().toSeq == Seq(4L))
    assert(jobs.distinct == Seq("climb seed", "climb round 1",
      "climb round 2", "climb round 3"))
  }

  test("a null measure (sum over no rows) reads as 0") {
    val (out, rounds) = Fixpoint.iterate("empty", Seq.empty[Long].toDF("n"),
      maxRounds = 3, failAtCap = true)(identity)(sum(col("n")),
      (_, m) => m == 0L)
    assert(rounds == 0 && out.isEmpty)
  }

  test("the caller's job description is restored, also when the loop " +
    "throws") {
    val sc = spark.sparkContext
    try {
      sc.setJobDescription("caller")
      climb(2, failAtCap = false)
      assert(description == "caller")
      intercept[Fixpoint.NotConverged](climb(2, failAtCap = true))
      assert(description == "caller")
      sc.setJobDescription(null)
      intercept[Fixpoint.NotConverged](climb(2, failAtCap = true))
      assert(description == null)
    } finally sc.setJobDescription(null)
  }

  test("the measure is exact on both snapshot kinds") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fixpoint")
      .toString
    for (dir <- Seq(None, Some(tmp))) {
      var seen = Seq.empty[Long]
      Fixpoint.iterate("exact", spark.range(0, 1000, 1, 4).toDF("n"),
        maxRounds = 2, failAtCap = false, checkpointDir = dir)(
        _.filter(col("n") % 2 === 0).select((col("n") / 2).cast("long")
          .as("n")))(count(lit(1)),
        (_, m) => { seen :+= m; false })
      assert(seen == Seq(1000L, 500L, 250L), s"checkpointDir $dir")
    }
  }
}
