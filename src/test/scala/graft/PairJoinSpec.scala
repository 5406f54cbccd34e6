package graft

import graft.operators.PairJoin
import org.apache.spark.sql.functions._

/** The shared band and postings self-join: the df cap's boundary, and the
  * lowest-agreeing-band rule that emits every colliding pair once. */
class PairJoinSpec extends SparkSpec {

  test("capDf keeps a key at df = cap and drops one at df = cap + 1") {
    import spark.implicits._
    val postings = Seq((1L, "at"), (2L, "at"), (3L, "at"),
      (1L, "over"), (2L, "over"), (3L, "over"), (4L, "over"),
      (5L, "rare")).toDF("doc_id", "h")
    val kept = PairJoin.capDf(postings, "h", 3)
      .select("h", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(kept === Seq(("at", 1L), ("at", 2L), ("at", 3L), ("rare", 5L)))
  }

  test("selfJoin with noLowerBandAgrees emits each colliding pair once, " +
    "from its lowest agreeing band") {
    import spark.implicits._
    val items = Seq(
      1L -> Seq(10L, 20L, 30L),
      2L -> Seq(10L, 21L, 30L), // agrees with 1 on bands 0 and 2
      3L -> Seq(11L, 21L, 30L), // with 1 on band 2; with 2 on bands 1, 2
      4L -> Seq(12L, 22L, 32L)) // with nobody
      .toDF("id", "bands")
    val table = items.select(col("id"), col("bands"),
      posexplode(col("bands")).as(Seq("band_id", "band_val")))
    val pairs = PairJoin.selfJoin(table, "id", Seq("band_id", "band_val"),
        PairJoin.noLowerBandAgrees("bands", 3))
      .select(col("l.id"), col("r.id"), col("l.band_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(pairs === Seq((1L, 2L, 0), (1L, 3L, 2), (2L, 3L, 1)))
    Caching.releaseAll(spark)
  }
}
