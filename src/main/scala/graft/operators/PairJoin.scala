package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The band and postings self-join behind every pair finder of the dedup
  * family (MinHash-LSH, SimHash, SRP, the shingle and winnow postings):
  * partition the table once by key, then pair the rows of each key inside
  * its partition — the map/shuffle/reduce shape of a similarity join.
  *
  * `text_cosine_pairs` does not use [[selfJoin]]: its postings cache comes
  * out of the idf join already hash-partitioned on `term`, so a
  * `repartition` there would add a shuffle rather than move one.
  */
private[graft] object PairJoin {

  /** The rows of `postings` whose `key` occurs in at most `cap` rows. The
    * document frequency is a map-side-combinable `groupBy(key).count()`
    * reduced to the over-cap blocklist, which is broadcast and anti-joined
    * against the postings. A `count over (partition by key)` window would
    * compute df in one shuffle too, but it colocates every posting of a
    * key in one window partition before the cap can drop it: at corpus
    * scale a boilerplate key (df ~1e9) funnels its whole posting list
    * through a single straggler task ahead of the very filter meant to
    * remove it. The groupBy shuffles one combined (key, count) row per map
    * partition, and the blocklist holds only the heavy hitters, so it
    * broadcasts. The cap is THE quadratic bound of the self-join: its
    * candidate volume is Σ min(df, cap)². */
  def capDf(postings: DataFrame, key: String, cap: Int): DataFrame = {
    val overCap = postings.groupBy(col(key))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select(col(key))
    postings.join(broadcast(overCap), Seq(key), "left_anti")
  }

  /** Every pair of rows of `table` that agree on all `keys`, with
    * `l.id < r.id` and `extra`: `table` is hash-partitioned on `keys`,
    * persisted, and joined with itself under the aliases `l` and `r`, so it
    * shuffles once, into the cache, and both join sides read the cache
    * with no exchange between either side and it. The join is pinned to
    * shuffle-hash: unhinted, the planner broadcasts the cached table at
    * fixture size (a serial build task plus a broadcast exchange), and at
    * corpus scale it never fits. Callers select their columns as
    * `l.<col>` / `r.<col>`. */
  def selfJoin(table: DataFrame, id: String, keys: Seq[String],
               extra: Column = lit(true)): DataFrame = {
    val cached = graft.Caching.persistTracked(
      table.repartition(keys.map(col): _*))
    cached.hint("shuffle_hash").as("l")
      .join(cached.as("r"), keys.map(k => col(s"l.$k") === col(s"r.$k"))
        .reduce(_ && _) && col(s"l.$id") < col(s"r.$id") && extra)
  }

  /** The [[selfJoin]] condition that emits a pair only from the LOWEST band
    * where the two rows agree, so a pair colliding on several bands
    * appears once — a `distinct` (or a per-pair `groupBy`) without its
    * shuffle. The band table has one row per (item, band) with the band's
    * index in `band_id` and all `n` band values of the item in the array
    * column `bands`. */
  def noLowerBandAgrees(bands: String, n: Int): Column = {
    val band = (side: String, j: Int) => element_at(col(s"$side.$bands"), j + 1)
    !(0 until n - 1).map(j =>
      col("l.band_id") > j && band("l", j) === band("r", j)).reduce(_ || _)
  }
}
