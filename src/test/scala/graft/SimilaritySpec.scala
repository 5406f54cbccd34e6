package graft

import org.apache.spark.sql.functions._

/** Similarity-search checks on the real embeddings fixture: identity is
  * its own nearest neighbor, brute-force ranks are sane, and the IVF probe
  * path recovers most of the brute-force top-k (it is approximate by
  * design; nprobe=3 of 10 cells). */
class SimilaritySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("sim_topk rank 1 is the query vector itself") {
    val out = graft.queries.Similarity.queries("sim_topk")(spark, dir)
      .filter(col("rank") === 1).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(0) === r.getLong(2)))
  }

  test("IVF top-k recovers most of brute-force top-k") {
    val brute = graft.queries.Similarity.queries("sim_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfRows = graft.queries.Similarity
      .ivfTopK(spark, dir, k = 10, nprobe = 3).collect()
    val ivf = ivfRows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
    // rank 1 (the vector itself) must always survive probing
    ivfRows.filter(_.getLong(1) === 1L)
      .foreach(r => assert(r.getLong(0) === r.getLong(2)))
  }

  test("IVF recall@10 holds at sf0.1 (realistic cell sizes)") {
    // the smoke-scale recall test above runs on ~500 vectors where cells
    // are tiny; this pins the nprobe=3-of-10-cells recall claim at 32k
    // vectors, where cell populations are what a real corpus produces
    val sfDir = "/root/testdata/sf0.1"
    val brute = graft.queries.Similarity.queries("sim_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = graft.queries.Similarity
      .ivfTopK(spark, sfDir, k = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall@10 at sf0.1 is $recall — below 0.5")
  }

  test("SRP-LSH: identical vectors collide on every band and pass the gate") {
    import spark.implicits._
    val v = (0 until 64).map(i => math.sin(i + 1.0).toFloat).toArray
    val w = (0 until 64).map(i => math.cos(i * 2 + 1.0).toFloat).toArray
    val emb = Seq((1L, v), (2L, v), (3L, w)).toDF("vec_id", "embedding")
    val out = graft.queries.Similarity.srpCosinePairs(emb).collect()
    // identical signatures agree on all 8 bands and cos=1 passes any gate;
    // the near-orthogonal third vector must not pair with either
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(out.head.getLong(2) === 8L)
  }

  test("SRP candidates and bands_hit equal all-pairs band agreement of " +
    "graft_srp_bands") {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val xg = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x * 1e6 + 0.5).toLong))
      .toMap
    val bands = xg.toSeq.toDF("vec_id", "xg")
      .select(col("vec_id"),
        graft.functions.GraftFunctions.srpBands(col("xg")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val ids = bands.keys.toSeq.sorted
    // every pair agreeing on at least one band, with the agreeing count
    val cand = (for {
      a <- ids; b <- ids if a < b
      hits = bands(a).zip(bands(b)).count { case (x, y) => x == y }
      if hits > 0
    } yield (a, b, hits.toLong)).toSeq
    val verified = cand.filter { case (a, b, _) =>
      val dot = BigInt(xg(a).zip(xg(b)).map { case (x, y) => x * y }.sum)
      val na2 = BigInt(xg(a).map(x => x * x).sum)
      val nb2 = BigInt(xg(b).map(x => x * x).sum)
      dot > 0 && dot * dot * 10000 >= na2 * nb2 * 1225
    }
    val lsh = graft.queries.Similarity.queries("dedup_embed_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(lsh === verified)
    val prec = graft.queries.Similarity.queries("dedup_precision_embed")(
      spark, dir).collect().head
    assert((prec.getLong(0), prec.getLong(1)) ===
      (cand.size.toLong, verified.size.toLong))
    assert(verified.nonEmpty && cand.size > verified.size,
      "fixture lost its band collisions")
    Caching.releaseAll(spark)
  }

  test("SRP-LSH fixture pairs satisfy the exact integer cosine gate") {
    val sfDir = "/root/testdata/sf0.01"
    val out = graft.queries.Similarity.queries("dedup_embed_lsh")(
      spark, sfDir).collect()
    assert(out.nonEmpty)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x * 1e6 + 0.5).toLong))
      .toMap
    out.foreach { r =>
      val (a, b, hits) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(hits >= 1 && hits <= 8)
      val (xa, xb) = (emb(a), emb(b))
      val dot = BigInt(xa.zip(xb).map { case (x, y) => x * y }.sum)
      val na2 = BigInt(xa.map(x => x * x).sum)
      val nb2 = BigInt(xb.map(x => x * x).sum)
      assert(dot > 0 && dot * dot * 10000 >= na2 * nb2 * 1225,
        s"pair ($a,$b) fails the 0.35 integer cosine gate")
    }
  }

  test("recommendedK scales cells with corpus size and respects the " +
    "packed-argmin cap") {
    val S = graft.queries.Similarity
    assert(S.recommendedK(0) === 1)                  // floor
    assert(S.recommendedK(4096) === 1)
    assert(S.recommendedK(4097) === 2)               // ceiling division
    assert(S.recommendedK(40960000) === 10000)       // k grows linearly
    // expected cell size stays bounded by the target
    val n = 123456789L
    val k = S.recommendedK(n)
    assert(n.toDouble / k <= 4096.0)
    // cent_id must fit the 2^20 pack slot even at absurd corpus sizes
    assert(S.recommendedK(Long.MaxValue / 2, 1) === (1 << 20) - 1)
  }

  test("PQ with <= PqK distinct-subvector vectors degenerates to EXACT " +
    "squared-L2 ranking") {
    import spark.implicits._
    // with every vector an init code, training assigns each subvector to
    // itself (dist 0), the update reproduces it, and ADC sums the true
    // per-subspace distances — so the PQ ranking must equal brute-force
    // exact squared-L2, computable directly here
    val vecs = (0 until 10).map { i =>
      i.toLong -> (0 until 64).map(j =>
        math.sin(i * 64 + j + 1.0).toFloat).toArray
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val got = graft.queries.Similarity.pqTopKOf(emb, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def gridded(v: Array[Float]) =
      v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    val g = vecs.map { case (id, v) => id -> gridded(v) }.toMap
    def d2(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (qid <- 0L to 4L) {
      val want = g.keys.toSeq
        .sortBy(v => (d2(g(qid), g(v)), v))
      val have = got.filter(_._1 == qid).sortBy(_._2).map(_._3).toSeq
      assert(have == want, s"qid $qid: PQ ranking != exact L2 ranking")
    }
  }

  test("IVF+PQ only ranks vectors whose assigned cell a query probed") {
    val d = "/root/testdata/sf0.001"
    val sim = graft.queries.Similarity
    val g = sim.ivfGrid(spark, d)
    val cents = sim.ivfCents(g)
    val cellOf = sim.ivfAssign(g, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = sim.ivfProbes(g, cents, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = sim.ivfPqTopK(spark, d, k = 10, nprobe = 3).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (qid, vec) = (r.getLong(0), r.getLong(2))
      assert(probed(qid).contains(cellOf(vec)),
        s"qid $qid ranked vec $vec from an unprobed cell ${cellOf(vec)}")
    }
    // ranks contiguous from 1, bounded by k
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val rns = rows.map(_.getLong(1)).sorted.toSeq
      assert(rns == (1L to rns.length) && rns.length <= 10)
    }
  }

  test("rerank = exact-cosine order restricted to the ADC shortlist") {
    val d = "/root/testdata/sf0.001"
    val sim = graft.queries.Similarity
    // the stage-1 shortlist the gate uses (ADC top-50 per query)
    val shortlist = sim.ivfPqTopK(spark, d, k = 50, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact-key order over ALL probed candidates (k large = no cut)
    val exactOrder = sim.ivfTopK(spark, d, k = 1000000, nprobe = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val expected = exactOrder.map { case (qid, order) =>
      qid -> order.filter(shortlist(qid)).take(10)
    }
    val got = sim.queries("sim_ivf_rerank")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got.nonEmpty && got == expected.filter(_._2.nonEmpty))
  }

  test("PQ raises loudly on non-dense vec_ids (no silent empty codebook)") {
    import spark.implicits._
    val v = (0 until 64).map(i => math.sin(i + 1.0).toFloat).toArray
    val emb = Seq((1000L, v), (2000L, v)).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      graft.queries.Similarity.pqTopKOf(emb, k = 10).collect())
    assert(e.getMessage.contains("dense 0-based"))
  }

  test("ivfPqIngest cross-split equivalence: admitting the batch against " +
    "the stored index equals running the combined corpus through the " +
    "same index, restricted to batch ids") {
    val S = graft.queries.Similarity
    val all = Tables.embeddings(spark, dir)
    val old = all.filter(col("vec_id") % 10 =!= 0)
    // the STORED index: trained on the old slice only
    val cents = S.ivfCents(S.ivfGridOf(old))
    val books = S.pqTrain(S.pqSubspaces(old))
    // combined corpus pushed through the SAME stored index
    val combinedAssign = S.ivfAssign(
        S.ivfGridOf(all).filter(col("n2").isNotNull), cents)
      .filter(col("vec_id") % 10 === 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val combinedCodes = S.pqAssign(S.pqSubspaces(all), books)
      .filter(col("vec_id") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // the gated ingest path
    val ingest = S.ivfPqIngest(spark, dir).collect()
    assert(ingest.nonEmpty, "no batch rows ingested — vacuous")
    ingest.foreach { r =>
      val (vid, cid, word) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(combinedAssign(vid) == cid,
        s"vec $vid: ingest cell $cid != combined-corpus cell " +
          s"${combinedAssign(vid)}")
      val expWord = (0 until 8).map(s =>
        combinedCodes((vid, s.toLong)) << (4 * s)).sum
      assert(word == expWord,
        s"vec $vid: ingest code word $word != combined-corpus $expWord")
    }
    // and every batch id the combined run admitted is present
    assert(ingest.map(_.getLong(0)).toSet == combinedAssign.keySet)
    Caching.releaseAll(); spark.catalog.clearCache()
  }

  test("nn_per_label is symmetric-free and within-label") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val out = graft.queries.Similarity.queries("sim_nn_per_label")(spark, dir)
      .collect()
    out.foreach { r =>
      assert(r.getLong(1) !== r.getLong(2)) // never its own neighbor
      assert(emb(r.getLong(1)) === emb(r.getLong(2))) // same block
    }
  }
}
