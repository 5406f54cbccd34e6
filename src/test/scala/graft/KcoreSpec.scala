package graft

/** Hand-graph pins for the iterative k-core peel
  * (`Relational.kcore` / `q36_kcore`). The DuckDB gate owns cross-engine
  * equality on the fixture; these pin the peel semantics — cascade,
  * fixpoint, empty core, and the loud non-convergence contract — on
  * graphs with known closed forms. */
class KcoreSpec extends SparkSpec {

  private def core(edges: Seq[(Long, Long)], k: Int,
                   maxRounds: Int = 10): Map[Long, Long] = {
    import spark.implicits._
    val rows = graft.queries.Relational
      .kcore(edges.toDF("a", "b"), k, maxRounds)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caching.releaseAll(); spark.catalog.clearCache()
    rows
  }

  test("K4 is its own 3-core: every node survives at within-core degree 3") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(core(k4, k = 3) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("a triangle has no 3-core: degree-2 nodes all peel in round one") {
    assert(core(Seq((0L, 1L), (0L, 2L), (1L, 2L)), k = 3).isEmpty)
  }

  test("pendant chain cascades: K4 + tail peels the tail node by node, " +
    "never the core") {
    // 4 hangs off {0,1}, 5 hangs off 4: round 1 drops 5 (deg 1), round 2
    // drops 4 (deg 2 after losing 5... deg(4)=3 initially: 0,1,5 — after
    // 5 peels deg(4)=2 < 3), K4 is the fixpoint
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val g = k4 ++ Seq((0L, 4L), (1L, 4L), (4L, 5L))
    assert(core(g, k = 3) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("2-core of a cycle plus tail keeps exactly the cycle") {
    val cycle = (0L to 5L).map(i => (math.min(i, (i + 1) % 6),
      math.max(i, (i + 1) % 6))).distinct
    val g = cycle ++ Seq((0L, 6L), (6L, 7L))
    assert(core(g, k = 2) == (0L to 5L).map(_ -> 2L).toMap)
  }

  test("still-peeling graph at the round cap fails loudly, never returns " +
    "a half-peeled set") {
    // an 8-path under k=2 peels one endpoint pair per round (3 rounds to
    // empty); capped at 1 round it is still shrinking — the require fires
    val path = (0L to 7L).map(i => (i, i + 1)).dropRight(1)
    val ex = intercept[IllegalArgumentException](
      core(path, k = 2, maxRounds = 1))
    assert(ex.getMessage.contains("kcore did not converge"))
    Caching.releaseAll(); spark.catalog.clearCache()
  }

  test("empty edge set short-circuits to an empty core") {
    assert(core(Seq.empty, k = 3).isEmpty)
  }

  test("cap headroom: sf0.01 peels well under the 20-round cap") {
    // The q36 cap is loud but data-dependent: pin the REALIZED peel depth
    // of the gated graphs so corpus growth approaching the cap fails here
    // first. sf0.01 cascades 11 rounds (incl. the confirmation round);
    // 14 leaves 6 rounds of headroom under the cap of 20. sf0.001 peels
    // nothing (2324 -> 2324 edges), so it converges in one round and
    // carries no headroom bound of its own.
    val (coreSmall, rSmall) = graft.queries.Relational.kcoreWithRounds(
      graft.queries.Relational.copurchaseEdges(spark, "/root/testdata/sf0.001"),
      k = 3, maxRounds = 20)
    assert(coreSmall.count() >= 0L)
    assert(rSmall == 1, s"sf0.001 peel depth $rSmall: no longer a fixpoint")
    val (coreMid, rMid) = graft.queries.Relational.kcoreWithRounds(
      graft.queries.Relational.copurchaseEdges(spark, "/root/testdata/sf0.01"),
      k = 3, maxRounds = 20)
    assert(coreMid.count() >= 0L)
    assert(rMid > 1, s"sf0.01 peel depth $rMid: the graph no longer peels")
    assert(rMid <= 14, s"sf0.01 peel depth $rMid erodes the cap")
    info(s"peel depth: sf0.001 = $rSmall rounds, sf0.01 = $rMid rounds " +
      "(cap 20)")
    Caching.releaseAll(); spark.catalog.clearCache()
  }
}
