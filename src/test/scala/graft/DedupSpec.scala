package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Behavioral checks of the dedup family on a controlled corpus: known
  * duplicates are found, non-duplicates are not, and exact dedup is
  * idempotent. The corpus is written as a documents.parquet under a temp
  * sfDir so the queries run exactly as the driver runs them. */
class DedupSpec extends SparkSpec {

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-dedup").toString
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again while the cat watches the bird in the tall green tree today"
    val docs = Seq(
      (0L, base, "en", "web", base.length.toLong),
      (1L, base, "en", "web", base.length.toLong), // exact dup of 0
      (2L, base.replace("today", "tonight"), "en", "web", 0L), // near-dup of 0
      (3L, "completely different content about spark engines and whales " +
        "swimming through oceans of data at scale", "en", "web", 0L),
      (4L, "short text", "en", "web", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("exact dedup groups byte-identical docs and keeps the min id") {
    val out = graft.queries.Dedup.queries("dedup_exact")(spark, dir).collect()
    assert(out.length === 4) // 5 docs, one exact-dup pair
    val grp = out.find(_.getLong(2) === 2L).get
    assert(grp.getLong(0) === 0L) // representative = min doc_id
  }

  test("exact dedup is idempotent") {
    import spark.implicits._
    val once = graft.queries.Dedup.queries("dedup_exact")(spark, dir)
    // dedup of the deduped corpus: every group has exactly one member
    val d2 = Files.createTempDirectory("graft-dedup2").toString
    Tables.documents(spark, dir)
      .join(once.select(col("keep_doc_id").as("doc_id")), "doc_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val twice = graft.queries.Dedup.queries("dedup_exact")(spark, d2)
    assert(twice.filter(col("n_copies") > 1).count() === 0L)
    assert(twice.count() === once.count())
  }

  test("jaccard near-dup finds the near pair and not the unrelated docs") {
    val pairs = graft.queries.Dedup.queries("dedup_neardup_jaccard")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // exact dups have J=1
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near-dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash-LSH finds the same high-similarity pairs") {
    val pairs = graft.queries.Dedup.queries("dedup_minhash_lsh")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incremental dedup keeps only unseen, batch-unique content") {
    import spark.implicits._
    val known = graft.queries.Dedup.queries("dedup_exact")(spark, dir)
      .select($"fp")
    val newDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and " +
        "again while the cat watches the bird in the tall green tree today"),
      (101L, "genuinely new content never seen before in this corpus"),
      (102L, "genuinely new content never seen before in this corpus"))
      .toDF("doc_id", "text")
    val kept = graft.queries.Dedup.incremental(newDocs, known)
      .collect().map(_.getLong(0)).toSeq
    // 100 duplicates an existing doc (doc 0); 101/102 dedup to min id 101
    assert(kept === Seq(101L))
  }

  test("public API works on arbitrary DataFrames with custom column names") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon zeta"),
      (12L, "totally unrelated words here now")).toDF("item_id", "body")
    val kept = graft.queries.Dedup.exact(corpus, "item_id", "body")
    assert(kept.count() === 2)
    val pairs = graft.queries.Dedup.jaccardPairs(corpus, 0.9, "item_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((10L, 11L)))
    val comp = graft.queries.Dedup.components(
      corpus.select($"item_id"),
      graft.queries.Dedup.jaccardPairs(corpus, 0.9, "item_id", "body")
        .select($"doc_a", $"doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp === Map(10L -> 10L, 11L -> 10L, 12L -> 12L))
  }

  test("connected components cluster the dup chain under one representative") {
    val comp = graft.queries.Dedup.queries("dedup_components")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // docs 0, 1, 2 form one near-dup component; 3 and 4 are singletons
    assert(comp(0L) === 0L && comp(1L) === 0L && comp(2L) === 0L)
    assert(comp(3L) === 3L && comp(4L) === 4L)
  }

  test("components converges on a long near-dup chain (pointer doubling)") {
    import spark.implicits._
    // sliding 22-word windows with stride 4 over a distinct-word stream:
    // adjacent docs share J≈0.67 (> 0.6), two-hop docs J≈0.43 (< 0.6) —
    // a pure chain of diameter n-1
    val wordsPool = for (a <- 'a' to 'e'; b <- 'a' to 'z'; c <- 'a' to 'z')
      yield s"$a$b$c"
    val docs = (0 until 12).map { i =>
      (i.toLong, wordsPool.slice(4 * i, 4 * i + 22).mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = graft.queries.Dedup.jaccardPairs(docs, 0.6)
      .select($"doc_a", $"doc_b")
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      (0 until 11).map(i => (i.toLong, i + 1L)).toSet)
    val comp = graft.queries.Dedup.components(docs.select($"doc_id"), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp.values.toSet === Set(0L)) // one cluster, min representative
  }

  test("pointer doubling bounds rounds at O(log diameter) on a chain") {
    import spark.implicits._
    // pure chain 0-1-2-...-96: diameter 96. Linear propagation would need
    // ~96 rounds (and trip the 32-round guard); pointer doubling must close
    // it within ceil(log2 96) + 2 = 9.
    val n = 97
    val ids = (0 until n).map(_.toLong).toDF("doc_id")
    val pairs = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val (out, rounds) =
      graft.queries.Dedup.componentsWithRounds(ids, pairs)
    val comp = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp.size === n && comp.values.toSet === Set(0L))
    val bound = math.ceil(math.log(n - 1.0) / math.log(2.0)).toInt + 2
    assert(rounds <= bound, s"$rounds rounds > bound $bound")
  }

  test("components with a reliable checkpoint dir matches localCheckpoint") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt")
      .toString
    val ids = (0 until 20).map(_.toLong).toDF("doc_id")
    val pairs = (0 until 19).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val viaDir = graft.queries.Dedup
      .components(ids, pairs, checkpointDir = Some(tmp))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaLocal = graft.queries.Dedup.components(ids, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaDir === viaLocal)
    // the rounds really went to reliable storage
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      .anyMatch(p => java.nio.file.Files.isRegularFile(p))
    assert(wrote)
  }

  test("the full dedup_components pipeline with a reliable checkpoint dir " +
    "matches the oracled localCheckpoint query") {
    // end-to-end cluster-scale path: the same jaccard candidate pipeline
    // the oracled query runs, but with every round snapshotted to a
    // reliable checkpoint dir (df.checkpoint) instead of executor-local
    // block storage — output must be identical
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt-full")
      .toString
    val viaQuery = graft.queries.Dedup.queries("dedup_components")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val pairs = graft.queries.Dedup
      .jaccardPairsUnsorted(Tables.documents(spark, dir), 0.6)
      .select(col("doc_a"), col("doc_b"))
    val viaDir = graft.queries.Dedup
      .components(docs, pairs, checkpointDir = Some(tmp))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaDir === viaQuery)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      .anyMatch(p => java.nio.file.Files.isRegularFile(p))
    assert(wrote, "no checkpoint files written to the reliable dir")
  }

  test("simhash of identical docs is identical; hamming pairs include dups") {
    val sims = graft.queries.Dedup.queries("dedup_simhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sims(0L) === sims(1L))
    val pairs = graft.queries.Dedup.queries("dedup_simhash_pairs")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0L))
  }

  test("threshold sweep bands partition the >=0.5 pairs and cumulate " +
    "to the neardup threshold's count") {
    val sw = graft.queries.Dedup.queries("dedup_threshold_sweep")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sw.nonEmpty)
    assert(sw.forall(b => b._1 >= 5 && b._1 <= 10), s"band out of range: $sw")
    assert(sw.map(_._1) === sw.map(_._1).sorted, "bands must be ordered")
    // cumulative-from-top: non-increasing as band rises, and the lowest
    // band's cumulative equals the total pair count
    assert(sw.map(_._3).reverse === sw.map(_._3).reverse.sorted)
    assert(sw.head._3 === sw.map(_._2).sum)
    // cross-check against the gated 0.6-threshold pair query: its count
    // must equal the sweep's mass at band >= 6
    val atPoint6 = graft.queries.Dedup.queries("dedup_neardup_jaccard")(
      spark, dir).count()
    assert(sw.filter(_._1 >= 6).map(_._2).sum === atPoint6)
  }

  test("incremental LSH equals the self-join pairs restricted to the " +
    "cross-split, and surfaces the exact-dup batch/corpus pair") {
    // same signatures, same banding, same verification — so the
    // batch-vs-corpus form must agree exactly with the self-join form on
    // every pair that crosses the doc_id % 10 split
    val all = graft.queries.Dedup.queries("dedup_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cross = all.filter { case (a, b, _) =>
        (a % 10 == 0) != (b % 10 == 0) }
      .map { case (a, b, c) =>
        if (a % 10 == 0) (b, a, c) else (a, b, c) }.toSet
    val inc = graft.queries.Dedup.queries("dedup_incremental_lsh")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === cross)
    // doc 1 (batch) is byte-identical to doc 0 (corpus): identical
    // signatures share every band, so the pair MUST surface
    assert(inc.exists(p => p._1 == 1L && p._2 == 0L))
  }

  /** A corpus for the LSH banding edge cases, written like [[dir]]. X and
    * Y are two 3-word shingles whose first MinHash permutations pick X and
    * whose last eight pick Y (their h1 values are close and Y's h2 is
    * smaller), so a document with both shares bands 0-1 with a document
    * holding only X and bands 2-3 with one holding only Y. */
  private lazy val lshDir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-dedup-lsh").toString
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again while the cat watches the bird in the tall green tree today"
    val (x, y) = ("dvvrpb zvgaef qhsy", "ctnp eyedz fmgh")
    val docs: Seq[(Long, String)] = Seq(
      (0L, s"$base $x $y"),
      (1L, s"$base $x $y"), // exact dup of 0: all 4 bands
      (2L, s"$base $x"), // bands 0-1 with 0 and 1
      (3L, s"$base $y"), // bands 2-3 with 0 and 1
      (4L, null), // no shingles: NULL signature, in no bucket
      (5L, ""),
      (6L, "two words"),
      (7L, "three"),
      (8L, "completely different content about spark engines and whales " +
        "swimming through oceans of data at scale"))
    docs.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("minhash-LSH equals its brute-force definition over the kernels' " +
    "outputs, and the precision readout counts the same candidates") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val kern = Tables.documents(spark, lshDir)
      .selectExpr("doc_id", "graft_shingle_hashes(text) AS hs",
        "graft_minhash_sig(graft_shingles(text)) AS ms")
      .collect().map { r =>
        val hs = if (r.isNullAt(1)) Set.empty[Long]
          else r.getSeq[Long](1).toSet
        val ms = if (r.isNullAt(2)) None else Some(r.getSeq[Long](2))
        (r.getLong(0), (hs, ms))
      }.toMap
    // md5 over each band's comma-joined signature rows, as hex
    def bands(ms: Seq[Long]): Seq[String] = ms.grouped(4).map { rows =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(rows.mkString(",").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    }.toSeq
    val banded = kern.collect { case (id, (hs, Some(ms))) =>
      id -> (hs, bands(ms)) }
    val shared = (a: Long, b: Long) => (0 until 4).filter(i =>
      banded(a)._2(i) == banded(b)._2(i))
    // the corpus has what it claims
    assert(banded.keySet === Set(0L, 1L, 2L, 3L, 8L))
    assert(kern.filter(_._2._2.isEmpty).forall(_._2._1.isEmpty))
    assert(shared(0, 1) === (0 until 4))
    assert(shared(0, 2) === Seq(0, 1) && shared(1, 2) === Seq(0, 1))
    assert(shared(0, 3) === Seq(2, 3) && shared(2, 3).isEmpty)
    // the definition: a < b sharing a band hash, each pair once
    val ids = banded.keys.toSeq.sorted
    val cand = for (a <- ids; b <- ids if a < b && shared(a, b).nonEmpty)
      yield (a, b)
    val verified = cand.flatMap { case (a, b) =>
      val (ha, hb) = (banded(a)._1, banded(b)._1)
      val common = (ha & hb).size.toLong
      val j = common * 1.0 / (ha.size + hb.size - common)
      if (j >= 0.7) Some((a, b, common, j)) else None
    }
    assert(verified.map(p => (p._1, p._2)) ===
      Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L)))
    val lsh = graft.queries.Dedup.queries("dedup_minhash_lsh")(spark, lshDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(lsh === verified)
    val prec = graft.queries.Dedup.queries("dedup_precision_lsh")(
      spark, lshDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(prec === Seq((cand.size.toLong, verified.size.toLong)))
    Caching.releaseAll(spark)
  }

  test("dedup_minhash_lsh + dedup_components at sf0.001 run 26 jobs") {
    // the job budget of the dedup_lsh benchmark pair: the LSH query's
    // cache stage, its range-sort stages and result, and the components
    // builder's pair pipeline and rounds. The table is read once first,
    // so its schema job is not counted, and no earlier cache is reused.
    val sf = SparkEntry.smokeDir
    Tables.documents(spark, sf).schema
    Caching.releaseAll(spark)
    val (_, jobs) = JobRecorder.record(spark) {
      graft.queries.Dedup.queries("dedup_minhash_lsh")(spark, sf).collect()
      graft.queries.Dedup.queries("dedup_components")(spark, sf).collect()
    }
    Caching.releaseAll(spark)
    assert(jobs.size === 26, jobs.mkString("jobs: ", " | ", ""))
  }

  // the job budgets of the other pair finders on the shared band and
  // postings self-join (graft.operators.PairJoin), counted the same way
  for ((name, budget) <- Seq("dedup_simhash_pairs" -> 6,
    "dedup_winnow_pairs" -> 11, "dedup_embed_lsh" -> 9)) {
    test(s"$name at sf0.001 runs $budget jobs") {
      val sf = SparkEntry.smokeDir
      Tables.documents(spark, sf).schema
      Tables.embeddings(spark, sf).schema
      Caching.releaseAll(spark)
      val (_, jobs) = JobRecorder.record(spark) {
        SparkEntry.queries(name)(spark, sf).collect()
      }
      Caching.releaseAll(spark)
      assert(jobs.size === budget, jobs.mkString("jobs: ", " | ", ""))
    }
  }
}
