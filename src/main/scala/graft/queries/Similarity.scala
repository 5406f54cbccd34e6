package graft.queries

import graft.Tables
import graft.operators.PairJoin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search and embedding analytics over the `embeddings` table
  * (`embedding: array<float>`, dim 64) — the multimodal/vector surface of
  * the LLM-training-pipeline operators (SURVEY.md §2.12).
  *
  * Determinism: cosine VALUES are floating point and engine-precision-
  * sensitive, so oracle-checked outputs carry only *ranks and ids*, never
  * the raw similarity — the observed minimum top-k rank gap in this corpus
  * is ~2e-4, orders of magnitude above any float32/float64 accumulation
  * difference, so rankings are bit-stable across engines. Centroids ride
  * the exact integer grid ([[graft.queries.grid]]).
  *
  * Scale notes (100 TB discipline):
  *  - brute-force top-k broadcasts the (small) query set over the corpus —
  *    one pass, no corpus self-join, per-partition bounded heaps via
  *    row_number window on (qid) — the corpus is never shuffled by value;
  *  - the blocked NN join partitions by a metadata key (label) so each
  *    block is bounded — the generic blocked-similarity-join pattern;
  *  - the IVF path (centroid assignment + probe) bounds the scanned
  *    fraction to nprobe/k of the corpus — the standard ANN scale-out; it
  *    is approximate as a neighbor algorithm but deterministic as a
  *    computation: every cosine comparison runs on the exact integer grid
  *    ([[graft.functions.CosRatioKey]]), so the oracle replays it exactly.
  */
object Similarity {

  /** k for the oracled k-means queries (`emb_kmeans`, `dedup_semantic`).
    * Interpolated into [[kmeansCtes]] AND passed to the Scala call sites,
    * so the two engines cannot drift when k changes. */
  private[graft] val KmeansK = 8

  /** The 1e-6 exact-integer grid scale used by every gridded embedding
    * path. Interpolated into [[kmeansCtes]] and used by [[kmeansAssignOf]]
    * — again one constant for both engines. */
  private[graft] val EmbGridScale = 1000000.0

  /** Product-quantization geometry for [[pqTopKOf]]: 64-dim embeddings
    * split into PqM=8 subspaces of PqDsub=8 dims, PqK=16 codes per
    * subspace (an 8-byte code per vector — the 32× memory compression
    * that makes billion-vector indexes RAM-resident). Interpolated into
    * the oracle SQL AND used by the Scala call sites — one constant set
    * for both engines. */
  private[graft] val PqM = 8
  private[graft] val PqDsub = 8
  private[graft] val PqK = 16

  /** Loud-failure guard for packed-key domains: values a packed decimal
    * argmin/argmax would SILENTLY corrupt (null, negative, or ≥ the pack
    * base) instead raise a runtime error naming the site and the repair.
    * Evaluated per row inside the existing projection — a conditional on
    * the already-loaded column, no extra pass, codegen-friendly, and the
    * error branch is only computed when it fires. */
  private[graft] def requirePackable(c: Column, hiExcl: Long,
                                     site: String): Column =
    when(c.isNull || c < 0 || c >= hiExcl,
      raise_error(concat(
        lit(s"$site: value outside the packed-key domain [0, $hiExcl) — " +
          "re-key the column into the domain first: "),
        coalesce(c.cast("string"), lit("NULL")))).cast("long"))
      .otherwise(c)

  /** The SemDeDup operating rule "k grows with N" as a function: the
    * number of k-means cells that bounds the EXPECTED cell population at
    * `targetCellSize`, so the within-cell candidate pair join in
    * `dedup_semantic` stays O(N · targetCellSize) instead of O(N²/k) with
    * a stale k. Capped at 2²⁰ − 1 because cent_id must fit the packed
    * argmin's 2²⁰ tie-break slot ([[kmeansAssignOf]]); floored at 1.
    * The oracled queries pin k = [[KmeansK]] (the fixture is tiny); a
    * production caller sizes k from its corpus count:
    * `kmeansAssignOf(emb, recommendedK(n))`. */
  def recommendedK(corpusSize: Long, targetCellSize: Long = 4096L): Int = {
    require(targetCellSize > 0, "targetCellSize must be positive")
    val k = (corpusSize + targetCellSize - 1) / targetCellSize
    math.max(1L, math.min(k, (1L << 20) - 1)).toInt
  }

  /** Left-to-right double-precision dot product of two float vectors —
    * the native codegen'd expression ([[graft.functions.DotProductFloat]]);
    * bit-identical to the interpreted `aggregate(zip_with(...))` fold but
    * a tight Java loop inside whole-stage codegen. */
  private def dotd(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot(a, b)

  private def cosine(a: Column, b: Column): Column =
    dotd(a, b) / (sqrt(dotd(a, a)) * sqrt(dotd(b, b)))

  /** Brute-force top-k: all corpus vectors scored against each query.
    * Norms are precomputed per side so the per-pair work is a single dot
    * product rather than three array folds. Zero-norm vectors have no
    * cosine and are filtered on BOTH sides (mirrored in the oracle) —
    * also keeps ANSI mode from raising DIVIDE_BY_ZERO on the dead/padded
    * embedding rows any real corpus contains. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.withColumn("cnorm", sqrt(dotd(col("embedding"), col("embedding"))))
      .filter(col("cnorm") > 0)
    val q = queries.withColumn("qnorm", sqrt(dotd(col("qe"), col("qe"))))
      .filter(col("qnorm") > 0)
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos",
        dotd(col("qe"), col("embedding")) / (col("qnorm") * col("cnorm")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"))
  }

  val queries: Map[String, Q] = Map(
    // ---- top-10 cosine neighbors for a fixed query set (vec_id 0..4):
    // broadcast nested-loop over the corpus, per-query bounded rank window
    "sim_topk" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      bruteTopK(emb, q, 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // ---- recall@10 of the IVF index vs brute-force ground truth — the
    // ANN quality readout that pairs with the ANN family: both legs are
    // the gated plans verbatim, the metric is the per-query intersection
    // of their top-10 id sets. The denominator is the brute leg's actual
    // row count (= min(k, corpus)), so the metric stays defined on tiny
    // corpora. Set-membership only — no cosine value ever surfaces — so
    // the metric inherits both legs' cross-engine rank determinism.
    "sim_recall_ivf" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val brute = bruteTopK(emb, q, 10).select(col("qid"), col("vec_id"))
      val ivf = ivfTopK(s, d, k = 10, nprobe = 3)
        .select(col("qid").as("iqid"), col("vec_id").as("ivf_vec_id"))
      brute
        .join(ivf, col("qid") === col("iqid") &&
          col("vec_id") === col("ivf_vec_id"), "left_outer")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_brute"),
          count(col("ivf_vec_id")).as("n_hits"))
        .select(col("qid"), col("n_brute"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_brute")).as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- recall@10 of int8-quantized cosine ranking vs the float brute
    // — the quality readout for the 4× memory compression
    // emb_quantize_int8 gates (completing the per-index-quality family:
    // IVF, PQ, LSH banding, and now scalar quantization). Codes follow
    // the gated quantization rule exactly (per-vector symmetric scale,
    // q = floor(x·127/m + 0.5); zero/null vectors off the index — the
    // same exclusion as the brute leg's norm guard, so the legs see one
    // corpus); ranking is the exact-integer cosine-ratio key over the
    // int8 grid (the IVF convention — no float ever ranks), truth is the
    // shared brute leg, and the metric is pure set intersection.
    "sim_recall_int8" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val gf = graft.functions.GraftFunctions
      val emb = Tables.embeddings(s, d)
      val q8 = emb
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("xs"))
        .withColumn("m", array_max(transform(col("xs"), x => abs(x))))
        .filter(col("m") > 0)
        .select(col("vec_id"), transform(col("xs"),
          x => floor(x * (lit(127.0) / col("m")) + lit(0.5)).cast("long"))
          .as("qv"))
      val qq = q8.filter(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("qv").as("qq"))
      val wR = Window.partitionBy(col("qid"))
        .orderBy(col("key").desc, col("vec_id").asc)
      val i8 = q8.crossJoin(broadcast(qq))
        .withColumn("key", gf.cosKey(gf.dotl(col("qv"), col("qq")),
          gf.dotl(col("qv"), col("qv"))))
        .withColumn("rank", row_number().over(wR).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("qid").as("iqid"), col("vec_id").as("i8_vec_id"))
      val q = emb.filter(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      bruteTopK(emb, q, 10).select(col("qid"), col("vec_id"))
        .join(i8, col("qid") === col("iqid") &&
          col("vec_id") === col("i8_vec_id"), "left_outer")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_brute"),
          count(col("i8_vec_id")).as("n_hits"))
        .select(col("qid"), col("n_brute"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_brute")).as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- recall@10 of the PQ-ADC index against EXACT squared-L2 ground
    // truth (PQ ranks by L2, so its truth leg is the exact-integer d2 =
    // qn2 − 2·q·v + n2 brute scan, not the cosine brute of
    // sim_recall_ivf) — the compression-quality readout that tells you
    // what the 32× memory saving costs in neighbor fidelity. Both legs
    // exact-integer; the metric is pure set intersection.
    "sim_recall_pq" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val gf = graft.functions.GraftFunctions
      val corpus = ivfGrid(s, d).filter(col("n2").isNotNull)
        .select(col("vec_id"), col("xg"), col("n2"))
      val q = corpus.filter(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("xg").as("qg"),
          col("n2").as("qn2"))
      val wR = Window.partitionBy(col("qid"))
        .orderBy(col("d2").asc, col("vec_id").asc)
      val brute = corpus.crossJoin(broadcast(q))
        .withColumn("d2",
          col("qn2") - lit(2L) * gf.dotl(col("qg"), col("xg")) + col("n2"))
        .withColumn("rank", row_number().over(wR))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("vec_id"))
      val pq = pqTopK(s, d, 10)
        .select(col("qid").as("pqid"), col("vec_id").as("pq_vec_id"))
      brute
        .join(pq, col("qid") === col("pqid") &&
          col("vec_id") === col("pq_vec_id"), "left_outer")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_brute"),
          count(col("pq_vec_id")).as("n_hits"))
        .select(col("qid"), col("n_brute"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_brute")).as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- embedding-quality outliers: the 20 vectors farthest (squared
    // L2, exact integer grid) from their OWN label's centroid — the
    // mislabeled/corrupted-embedding triage list every curation pass
    // runs before trusting labels for blocking or training. Entirely
    // factored from the gated IVF pieces: same grid, same rounded-
    // average centroids; d2 = n2 − 2·x·c + nc2 via the codegen'd integer
    // dot against the BROADCAST centroid table (no explode, no shuffle
    // beyond the final bounded top-k heap).
    "emb_outliers" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val gf = graft.functions.GraftFunctions
      val g = ivfGrid(s, d).filter(col("n2").isNotNull)
      val cents = ivfCents(g)
      g.join(broadcast(cents), col("label").cast("long") === col("cent_id"))
        .withColumn("d2",
          col("n2") - lit(2L) * gf.dotl(col("xg"), col("cent"))
            + col("nc2"))
        .orderBy(col("d2").desc, col("vec_id").asc)
        .limit(20)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("d2").cast("long").as("d2"))
    }),

    // ---- nearest neighbor within each metadata block (label): the blocked
    // similarity-join pattern — block size bounded, no all-pairs product.
    // The per-vector argmax is a PACKED single-decimal max, not a
    // row_number window and not a max(struct): a struct aggregation buffer
    // falls off HashAggregate onto SortAggregate, which sorts the entire
    // block-join output per partition. Packing `floor(cos·10¹⁵)·2²⁰ − nn`
    // keeps the identical winner (cos desc, then nn_vec_id asc — the key
    // merges only cosines closer than 1e-15, five trillion times finer
    // than this corpus's ~2e-4 minimum rank gap) while the aggregation
    // hash-combines map-side with no sort anywhere. Room: |key| ≤ 10¹⁵,
    // ×2²⁰ ≈ 10²¹ — inside Decimal(38,0); vec_id < 2²⁰ by the pack
    // convention (same as the IVF path).
    "sim_nn_per_label" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val emb = Tables.embeddings(s, d)
      val a = emb.select(col("label"), col("vec_id"), col("embedding"))
        .withColumn("anorm", sqrt(dotd(col("embedding"), col("embedding"))))
      val b = emb.select(col("label"), col("vec_id").as("nn_vec_id"),
        col("embedding").as("nn_e"))
        .withColumn("bnorm", sqrt(dotd(col("nn_e"), col("nn_e"))))
      a.join(b, "label")
        .filter(col("vec_id") =!= col("nn_vec_id"))
        // zero-norm guard: cos would be NaN; no such vector exists in the
        // corpus (emb_quantize_int8's m>0 filter drops none), the filter
        // just keeps the packed key total-ordered if one ever appears
        .filter(col("anorm") > 0 && col("bnorm") > 0)
        .withColumn("cos",
          dotd(col("embedding"), col("nn_e")) / (col("anorm") * col("bnorm")))
        .groupBy(col("label"), col("vec_id"))
        .agg(max(floor(col("cos") * lit(1e15)).cast(DecimalType(38, 0))
          * lit(1 << 20) - col("nn_vec_id")).as("pk"))
        .select(col("label").cast("long").as("label"), col("vec_id"),
          pmod(-col("pk"), lit(1 << 20)).cast("long").as("nn_vec_id"))
        .orderBy(col("vec_id"))
    }),

    // ---- embedding-cosine near-dup: pairs above a similarity threshold,
    // blocked by the metadata key so no all-pairs product exists. The
    // threshold sits >4e-4 from every pair's cosine in this corpus, far
    // above any cross-engine float noise, so membership is deterministic.
    "dedup_embed_cosine" -> ((s, d) =>
      labelCosinePairs(Tables.embeddings(s, d))
        .orderBy(col("vec_a"), col("vec_b"))),

    // ---- SRP banding recall vs the label-blocked cosine leg — the
    // embedding-family analog of dedup_recall_lsh, completing the recall
    // readout for the LAST candidate generator without one. Truth = the
    // gated dedup_embed_cosine pair set (label-blocked float cosine >=
    // 0.35); candidate leg = the gated dedup_embed_lsh pair set (global
    // SRP banding, gridded cosine gate). The metric reads what the
    // banding loses against the blocked scan — INCLUDING the grid/float
    // boundary effects, which is exactly the number a rollout needs
    // before swapping the blocked scan for the banded one. Both legs ARE
    // the gated plans; one semi-join; the 1-row aggregates broadcast.
    "dedup_recall_embed" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val emb = Tables.embeddings(s, d)
      val truth = graft.Caching.persistTracked(
        labelCosinePairs(emb).select(col("vec_a"), col("vec_b")))
      val lsh = graft.Caching.persistTracked(
        srpCosinePairs(emb).select(col("vec_a"), col("vec_b")))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val nLsh = lsh.agg(count(lit(1)).as("n_lsh"))
      val nHit = truth.join(lsh, Seq("vec_a", "vec_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      nTrue.crossJoin(broadcast(nLsh)).crossJoin(broadcast(nHit))
        .select(col("n_true"), col("n_lsh"), col("n_hit"),
          expr("CAST(n_hit AS DOUBLE) / nullif(n_true, 0)").as("recall"))
    }),

    // ---- SRP banding PRECISION — the waste axis of the embedding
    // banding (the `dedup_precision_lsh` convention on the embedding
    // family, completing the recall+precision readout pair for BOTH
    // candidate generators): of the raw band-collision pairs, the
    // fraction surviving the exact gridded-cosine gate — i.e. how much
    // of the per-pair dot-product verification is spent on false
    // candidates. Candidate and verified sets ARE the gated
    // `dedup_embed_lsh` plan's own stages (shared [[srpStages]] /
    // [[srpVerified]]); two 1-row aggregates, broadcast cross-join.
    "dedup_precision_embed" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val (g, cand0) = srpStages(Tables.embeddings(s, d))
      val cand = graft.Caching.persistTracked(cand0)
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val nVer = srpVerified(g, cand).agg(count(lit(1)).as("n_true_dup"))
      nCand.crossJoin(broadcast(nVer))
        .select(col("n_cand"), col("n_true_dup"),
          expr("CAST(n_true_dup AS DOUBLE) / nullif(n_cand, 0)")
            .as("precision"))
    }),

    // ---- per-label elementwise centroids on the exact 1e-6 grid (the
    // IVF coarse-quantizer training step, made hash-stable)
    "emb_centroids" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("long").as("j"),
          col("col").cast("double").as("x"))
        .groupBy(col("label"), col("j"))
        .agg((sum(grid(col("x"), 1000000.0).cast(DecimalType(38, 0)))
          .cast("double") / lit(1000000.0) / count(lit(1))).as("centroid"))
        .orderBy(col("label"), col("j"))
    }),

    // ---- int8 embedding quantization (training-pipeline compression):
    // per-vector symmetric scale 127/max|x|, values snapped with the
    // deterministic floor(x*scale + 0.5) grid — exact in both engines.
    // Elementwise via posexplode + one per-vector max — no UDF.
    "emb_quantize_int8" -> ((s, d) => {
      val elems = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("j"),
          col("col").cast("double").as("x"))
      val scales = elems.groupBy(col("vec_id"))
        .agg(max(abs(col("x"))).as("m"))
        .filter(col("m") > 0)
      elems.join(scales, "vec_id")
        .select(col("vec_id"), col("j"),
          floor(col("x") * (lit(127.0) / col("m")) + lit(0.5))
            .as("q"))
        .orderBy(col("vec_id"), col("j"))
    }),

    // ---- Gram-matrix sufficient statistics (the distributive aggregate
    // behind PCA/whitening/covariance: S_jk = Σ_v x_j·x_k over the
    // corpus, upper triangle). Elements snap to the 1e-6 grid BEFORE the
    // product, so every term is an exact int64 product summed in
    // decimal(38) (HUGEINT oracle-side) — bit-stable at any corpus size
    // where float dot-product accumulation is not; the d×d eigensolve
    // that follows is a driver-side O(d³) on this tiny output, never a
    // cluster op. Plan shape: the pair expansion is generate-on-generate
    // (a projection — both explodes inherit the scan partition, no
    // shuffle before the d² groupBy, whose input is already collapsed to
    // d²·n_partitions partials by the map-side combine). d is the
    // embedding width (small, fixed); n scales freely.
    "emb_covariance" -> ((s, d) => {
      val e1 = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          posexplode(col("embedding")))
        .select(col("vec_id"), col("embedding"),
          (col("pos") + 1).cast("long").as("j"),
          grid(col("col").cast("double"), 1000000.0)
            .cast("long").as("xj"))
      e1.select(col("vec_id"), col("j"), col("xj"),
          posexplode(col("embedding")))
        .select(col("j"), col("xj"),
          (col("pos") + 1).cast("long").as("k"),
          grid(col("col").cast("double"), 1000000.0)
            .cast("long").as("xk"))
        .filter(col("k") >= col("j"))
        .groupBy(col("j"), col("k"))
        .agg(count(lit(1)).as("n_vecs"),
          (sum((col("xj") * col("xk")).cast(DecimalType(38, 0)))
            .cast("double") / lit(1e12)).as("gram"))
        .orderBy(col("j"), col("k"))
    }),

    // ---- PCA projection apply ([[pcaComponents]]): the follow-on a
    // whitening/dim-reduction pipeline runs on `emb_covariance`'s Gram —
    // top-2 integer principal directions broadcast as compiled constants,
    // every embedding projected through the codegen'd dot kernel. Exact
    // integers end to end, so the driver-side eigensolve replays
    // bit-for-bit in the oracle's CTE chain. Scale shape: one Gram
    // aggregation (d²-bounded output), one projection pass — the corpus
    // is never shuffled, and the d×d solve is O(d²·iters) driver work.
    "emb_pca_project" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val gf = graft.functions.GraftFunctions
      val (v1, v2) = pcaComponents(s, d)
      def vcol(v: Array[Long]) =
        if (v.isEmpty) array().cast("array<bigint>")
        else array(v.map(lit(_)): _*)
      // null embeddings are off the projection exactly as the oracle's
      // unnest drops them (nulls-corpus lesson)
      ivfGrid(s, d).filter(col("n2").isNotNull)
        .select(col("vec_id"),
          gf.dotl(col("xg"), vcol(v1)).as("p1"),
          gf.dotl(col("xg"), vcol(v2)).as("p2"))
        .orderBy(col("vec_id"))
    }),

    // ---- whitening apply — the step PCA projection feeds: each
    // projected coordinate divided by the integer sqrt of its direction's
    // Rayleigh quotient on the ORIGINAL Gram (the eigenvalue estimate),
    // equalizing variance across the two principal axes — the
    // decorrelate-and-rescale preprocessing of classic whitening, on
    // exact integers end to end. The divide is floorDiv via the pmod
    // trick (sign-safe in both engines); the isqrt is float-seeded +
    // integer-adjusted ([[isqrtSeeded]] — identical in both engines
    // below the loud 1e30 guard). Scale shape: identical to
    // emb_pca_project — the d²-row Gram aggregate, the driver-side
    // solve on d² rows, and one broadcast-constants projection pass;
    // the two extra Rayleigh reductions are d-length driver loops.
    "emb_whiten_project" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val gf = graft.functions.GraftFunctions
      val (v1, v2, u1, u2) = pcaSolve(s, d)
      val r1 = isqrtSeeded(u1).toLong
      val r2 = isqrtSeeded(u2).toLong
      def vcol(v: Array[Long]) =
        if (v.isEmpty) array().cast("array<bigint>")
        else array(v.map(lit(_)): _*)
      ivfGrid(s, d).filter(col("n2").isNotNull)
        .select(col("vec_id"),
          gf.dotl(col("xg"), vcol(v1)).as("p1"),
          gf.dotl(col("xg"), vcol(v2)).as("p2"))
        .select(col("vec_id"),
          expr(s"(p1 - pmod(p1, ${r1}L)) div ${r1}L").as("w1"),
          expr(s"(p2 - pmod(p2, ${r2}L)) div ${r2}L").as("w2"))
        .orderBy(col("vec_id"))
    }),

    // ---- IVF-style ANN top-k: assign corpus to nearest centroid, probe the
    // 3 centroids nearest each query, brute-force only within probed cells.
    // Approximate as a NEIGHBOR ALGORITHM, yet fully oracle-checkable: the
    // whole path (centroids, assignment, probing, final ranking) runs in
    // exact integer arithmetic — gridded vectors, integer rounded-average
    // centroids, and the floorDiv(d·|d|·10⁶, ‖·‖²) cosine ranking key
    // ([[graft.functions.CosRatioKey]]) — so DuckDB replays it bit-for-bit.
    "sim_ivf_topk" -> ((s, d) => ivfTopK(s, d, k = 10, nprobe = 3)),

    // ---- IVF index-health readout: per-cell population + corpus share
    // (ppm grid) of the coarse index — the report that decides nprobe and
    // flags a degenerate quantizer (one hot cell = the index scans like
    // brute force; many empty cells = wasted probes). Reuses the gated
    // ivfCents/ivfAssign pieces verbatim, so the readout cannot drift
    // from the index it grades. Scale shape: assignment is the usual
    // broadcast-centroids corpus pass; everything after runs on the
    // k-row cell dimension (the unpartitioned share window is
    // deliberate, the budget_sample discipline). Null-embedding vectors
    // are excluded exactly as the oracle's unnest drops them; zero-norm
    // vectors assign to their key-tie cell identically in both engines.
    "sim_cell_histogram" -> ((s, d) => {
      val g = ivfGrid(s, d).filter(col("n2").isNotNull)
      val assign = ivfAssign(g, ivfCents(g))
      val all = Window.partitionBy(lit(1))
      assign.groupBy(col("cent_id")).agg(count(lit(1)).as("cell_size"))
        .withColumn("tot", sum(col("cell_size")).over(all))
        .withColumn("share_ppm", expr("(1000000 * cell_size) div tot"))
        .select(col("cent_id"), col("cell_size"), col("share_ppm"))
        .orderBy(col("cent_id"))
    }),

    // ---- product-quantization ADC top-10: per-subspace codebooks trained
    // on the exact grid, corpus encoded to 8 nibbles, queries ranked by
    // table-lookup distances — see [[pqTopK]] for the memory story
    "sim_pq_topk" -> ((s, d) => pqTopK(s, d, k = 10)),

    // ---- PQ index-health readout (the memory-side sibling of
    // sim_cell_histogram): per-subspace quantization distortion — count,
    // total, and average of each vector's squared-L2 distance to its
    // ASSIGNED code. The number that decides whether 16 codes per
    // subspace suffice (a subspace whose avg distortion dwarfs the rest
    // is under-coded and poisons every ADC ranking through it). The
    // assigned distance IS the min over the trained codebook, so no
    // argmin/code join is needed: one broadcast-codebook pass, a
    // map-side-combinable min per (vector, subspace), then the tiny
    // per-subspace rollup — all exact integers, trained by the gated
    // pqTrain pieces (the readout cannot drift from the index it
    // grades; oracle aggregates the shared d1 block).
    "sim_pq_distortion" -> ((s, d) =>
      pqDistortionOf(Tables.embeddings(s, d))),

    // ---- IVF+PQ: probed cells bound WHAT is scanned, codes bound the
    // BYTES per scanned vector — the production ANN layout, composed
    // from the two gated halves (see [[ivfPqTopK]])
    "sim_ivfpq_topk" -> ((s, d) => ivfPqTopK(s, d, k = 10, nprobe = 3)),

    // ---- incremental ANN ingest: a new batch admitted against the
    // STORED centroids + codebooks, the old corpus never rescanned (see
    // [[ivfPqIngest]]) — the embedding analog of dedup_incremental_lsh
    "sim_ivfpq_ingest" -> ((s, d) => ivfPqIngest(s, d)),

    // ---- two-stage retrieve: ADC shortlist → EXACT re-rank — the
    // production serving pattern the single-stage gates stop short of
    // (FAISS's refine step / every vector-DB's "rerank=true"). Stage 1
    // is the gated IVF+PQ pipeline verbatim ([[ivfPqTopK]], k=50): cells
    // bound WHAT is scanned, codes bound BYTES per scanned vector, and
    // 50 ≫ 10 absorbs PQ's quantization error. Stage 2 re-ranks ONLY
    // those ≤50 rows per query by the exact gridded cosine key
    // ([[ivfTopK]]'s fkey) — full-precision vectors are touched for
    // 50/N of the corpus, which is the entire point: at 100 TB the
    // exact-distance pass costs #queries·50 dot products regardless of
    // corpus size, while accuracy recovers to exact-over-shortlist.
    // Plan shape: the narrow shortlist broadcast-joins the query
    // vectors (≤5 rows) and hash-joins the corpus grid on vec_id; the
    // rank window is per-query bounded. Oracle: the ivfpq CTE chain
    // re-ranked by the shared fkey arithmetic — stage 1 cannot drift
    // from `sim_ivfpq_topk` (same text) nor stage 2 from `sim_ivf_topk`.
    "sim_ivf_rerank" -> ((s, d) => ivfRerankTopK(s, d, k = 10)
      .orderBy(col("qid"), col("rank"))),

    // ---- recall@10 of the two-stage pipeline vs brute truth — the
    // number that JUSTIFIES the rerank stage: `sim_recall_pq` measures
    // what ADC alone costs in neighbor fidelity, this measures what the
    // exact re-rank buys back (candidates the probes never saw remain
    // the only loss). Both legs are the gated plans verbatim; pure set
    // intersection, the recall-family convention.
    "sim_recall_rerank" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val brute = bruteTopK(emb, q, 10).select(col("qid"), col("vec_id"))
      val rr = ivfRerankTopK(s, d, k = 10)
        .select(col("qid").as("rqid"), col("vec_id").as("r_vec_id"))
      brute
        .join(rr, col("qid") === col("rqid") &&
          col("vec_id") === col("r_vec_id"), "left_outer")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_brute"),
          count(col("r_vec_id")).as("n_hits"))
        .select(col("qid"), col("n_brute"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_brute")).as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- recall@10 of PREFIX-dimension cosine vs the full-dimension
    // brute — the Matryoshka/MRL readout (how much neighbor fidelity a
    // 4× dimension truncation keeps): the index leg ranks by cosine
    // over only the FIRST 16 of 64 coordinates (at 100 TB, a prefix
    // index is 1/4 the bytes and 1/4 the dot-product FLOPs of the full
    // one — the cheapest ANN "compression" there is, zero training).
    // Legs share the brute machinery ([[bruteTopK]] over the sliced
    // frame — the norm guard excludes zero-PREFIX vectors from the
    // index leg exactly as zero-norm vectors are excluded from the
    // brute leg); metric is pure set intersection.
    "sim_recall_prefix" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val brute = bruteTopK(emb, q, 10).select(col("qid"), col("vec_id"))
      val embP = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val qP = q.select(col("qid"), slice(col("qe"), 1, 16).as("qe"))
      val pfx = bruteTopK(embP, qP, 10)
        .select(col("qid").as("pqid"), col("vec_id").as("p_vec_id"))
      brute
        .join(pfx, col("qid") === col("pqid") &&
          col("vec_id") === col("p_vec_id"), "left_outer")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_brute"),
          count(col("p_vec_id")).as("n_hits"))
        .select(col("qid"), col("n_brute"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_brute")).as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- Lloyd's k-means over the embedding corpus — the unsupervised
    // companion to the label-keyed `emb_centroids` (data-curation clustering:
    // SemDeDup cells, domain discovery, diversity sampling). Two unrolled
    // assignment rounds on the exact integer grid: init = the k smallest
    // vec_ids' gridded vectors, squared-L2 distances in int64, rounded-
    // average integer centroid update — every step replayed bit-for-bit by
    // the DuckDB oracle, so an ITERATIVE ML loop rides the same hash gate
    // as the relational queries.
    "emb_kmeans" -> ((s, d) => {
      val (asg, _) = kmeansAssign(s, d, k = KmeansK)
      asg.select(col("vec_id"), col("cluster"), col("dist2"))
        .orderBy(col("vec_id"))
    }),

    // ---- SemDeDup-style semantic dedup: cluster with k-means (above),
    // then drop any vector with a more-senior (smaller vec_id) neighbor in
    // the SAME cell at gridded cosine >= 0.35 — the integer gate proven in
    // dedup_embed_lsh, so membership is exact. Keep-list output: every
    // vector with its cell and keep flag. Scale shape: the candidate join
    // is blocked by the k-means cell (k grows with N, cells stay bounded —
    // the SemDeDup recipe), never all-pairs; the keep flag is one anti-join.
    "dedup_semantic" -> ((s, d) => {
      val (asg0, g) = kmeansAssign(s, d, k = KmeansK)
      // the assignment feeds BOTH the candidate join and the final
      // keep-list join — persist it (N narrow rows) so the two-round
      // k-means plan executes once, not twice; tracked so an embedding
      // session can release it via graft.Caching.releaseAll()
      val asg = graft.Caching.persistTracked(asg0)
      val dec = DecimalType(38, 0)
      val gv = g.join(asg.select(col("vec_id"), col("cluster")), "vec_id")
      val a = gv.select(col("cluster"), col("vec_id").as("a"),
        col("xg").as("xa"), col("n2").as("na2"))
      val b = gv.select(col("cluster"), col("vec_id").as("b"),
        col("xg").as("xb"), col("n2").as("nb2"))
      val gf = graft.functions.GraftFunctions
      val dropped = a.join(b, "cluster")
        .filter(col("a") < col("b"))
        .withColumn("dot", gf.dotl(col("xa"), col("xb")))
        .filter(col("dot") > 0 &&
          col("dot").cast(dec) * col("dot").cast(dec) * lit(10000) >=
            col("na2").cast(dec) * col("nb2").cast(dec) * lit(1225))
        .select(col("b").as("vec_id")).distinct()
        .withColumn("is_dup", lit(1L))
      asg.select(col("vec_id"), col("cluster"))
        .join(dropped, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("cluster"),
          when(col("is_dup").isNull, lit(1L)).otherwise(lit(0L)).as("keep"))
        .orderBy(col("vec_id"))
    }),

    // ---- k-NN label propagation (weak supervision): each held-out query
    // vector (vec_id < 50) takes the majority label of its 10 nearest
    // TRAIN neighbors (vec_id >= 50) — nearest by the exact integer cosine
    // key, majority by a packed-decimal argmax (ties -> smallest label),
    // so the whole classifier replays bit-for-bit in DuckDB. Scale shape:
    // the query set broadcasts over the corpus (one pass, corpus never
    // shuffled by value), the per-query top-k is a bounded rank window on
    // qid, and the vote argmax hash-aggregates map-side.
    //
    // Packed-vote contract (same style as CosRatioKey's overflow note):
    // `max(votes·2²⁰ − label)` + `pmod(−pk, 2²⁰)` recover (max votes,
    // smallest label) ONLY for labels in [0, 2²⁰) and non-null — enforced
    // by requirePackable at the pack site, so a negative, null, or ≥2²⁰
    // label raises instead of silently corrupting pred_label (re-key such
    // labels into [0, 2²⁰) first; PackGuardSpec pins the guard).
    "sim_knn_label" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val gf = graft.functions.GraftFunctions
      val dec = DecimalType(38, 0)
      val packBase = 1 << 20
      val g = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          transform(col("embedding"),
            x => grid(x.cast("double"), 1000000.0).cast("long")).as("xg"))
        .withColumn("n2", gf.dotl(col("xg"), col("xg")))
      // null-embedding queries (null n2) have no gridded vector and no
      // prediction — the oracle's unnest emits no rows for them, so they
      // are excluded here too. Zero-NORM queries stay: floorDiv(0, n2) = 0
      // keys rank train purely by vec_id, identically in both engines.
      val q = g.filter(col("vec_id") < 50 && col("n2").isNotNull)
        .select(col("vec_id").as("qid"), col("xg").as("qg"))
      val train = g.filter(col("vec_id") >= 50 && col("n2") > 0)
      val wRank = Window.partitionBy(col("qid"))
        .orderBy(col("key").desc, col("vec_id").asc)
      train.crossJoin(broadcast(q))
        .withColumn("key", gf.cosKey(gf.dotl(col("qg"), col("xg")), col("n2")))
        .withColumn("rn", row_number().over(wRank))
        .filter(col("rn") <= 10)
        .groupBy(col("qid"),
          requirePackable(col("label"), packBase, "sim_knn_label")
            .as("label"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("qid"))
        .agg(max(col("votes").cast(dec) * lit(packBase) - col("label"))
          .as("pk"))
        .select(col("qid"),
          pmod(-col("pk"), lit(packBase)).cast("long").as("pred_label"),
          ((col("pk") + pmod(-col("pk"), lit(packBase))) / lit(packBase))
            .cast("long").as("votes"))
        .orderBy(col("qid"))
    }),

    // ---- SRP (random-hyperplane) LSH cosine near-dup: the second ANN
    // family next to IVF — and unlike IVF it IS oracle-checkable, because
    // every step is exact-integer: hyperplane signs are md5-derived
    // (cross-engine reproducible), signature bits are sign-of-sum votes
    // over the 1e-6 grid, band blocking bounds candidates, and the final
    // cosine-threshold gate is evaluated in integer arithmetic
    // (10000·dot² ≥ 1225·‖a‖²·‖b‖² over gridded vectors) — bit-identical
    // in both engines at ANY margin. (The raw-float margin at 0.35 over
    // cross-label pairs is ~1e-6 in this corpus — far too thin to hash;
    // the integer gate makes the margin irrelevant.)
    "dedup_embed_lsh" -> ((s, d) => {
      srpCosinePairs(Tables.embeddings(s, d))
    })
  )

  /** The label-blocked float-cosine near-dup pairs behind
    * `dedup_embed_cosine` (unsorted core; columns label, vec_a, vec_b) —
    * shared with the `dedup_recall_embed` truth leg. */
  private def labelCosinePairs(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val a = emb.select(col("label"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
      .withColumn("na", sqrt(dotd(col("ea"), col("ea"))))
    val b = emb.select(col("label"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
      .withColumn("nb", sqrt(dotd(col("eb"), col("eb"))))
    a.join(b, "label")
      .filter(col("vec_a") < col("vec_b"))
      // zero-norm guard, same contract as sim_nn_per_label: no cosine
      // exists for a zero vector, and ANSI mode raises DIVIDE_BY_ZERO on
      // the bare division. The guard lives INSIDE a when(): conjuncts in
      // a filter chain may be reordered by the optimizer, but when()'s
      // branch is conditionally evaluated — the division can never see a
      // zero norm. The no-branch sentinel must be NULL, not NaN: Spark's
      // total ordering puts NaN ABOVE every value, so NaN >= 0.35 is
      // true, while null >= 0.35 is null and the filter drops the row.
      .filter(when(col("na") > 0 && col("nb") > 0,
        dotd(col("ea"), col("eb")) / (col("na") * col("nb")))
        >= 0.35)
      .select(col("label").cast("long").as("label"), col("vec_a"),
        col("vec_b"))
  }

  /** SRP-LSH near-dup pairs at (gridded) cosine >= 0.35: 64 md5-derived
    * Rademacher hyperplanes, 8 bands × 8 bits, verification on candidate
    * pairs only.
    *
    * Scale shape: signature cost is O(N·d·P) rows, linear and hash-
    * partitioned; the band self-join is bounded by the band width (at
    * larger N widen the bands, bandBits ≈ log2 N + margin, exactly like
    * the SimHash note); verification touches only band-colliding pairs.
    * Recall at a 0.35 threshold (≈70° — close to random's 90°) is
    * intrinsically modest for SRP; the operator's value grows with the
    * tightness of the near-dup threshold. */
  def srpCosinePairs(emb: DataFrame): DataFrame = {
    val (g, cand) = srpStages(emb)
    srpVerified(g, cand)
      .select(col("a").as("vec_a"), col("b").as("vec_b"), col("bands_hit"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The SRP candidate stages shared by [[srpCosinePairs]] and the
    * precision readout: (g, cand) where g is the persisted gridded
    * representation and cand the band-collision pairs (a, b, bands_hit).
    * The band table carries each vector's 8 band values through
    * [[PairJoin.selfJoin]] on (band_id, band_val); a pair is emitted from
    * its lowest agreeing band only, and `bands_hit` — the number of bands
    * on which the two vectors agree — is counted in the joined row, so no
    * per-pair aggregation follows the join. */
  private def srpStages(emb: DataFrame): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val gf = graft.functions.GraftFunctions
    // exact-integer representation: gridded elements, squared norm, and all
    // 8 band values — ONE codegen'd projection over the corpus (the
    // declarative explode-and-reaggregate form shuffled N·dims·planes rows
    // and hashed an md5 per cell; the sign matrix only depends on
    // (plane, dim), so graft_srp_bands bakes it in — see
    // [[graft.functions.SrpBands]])
    val g = graft.Caching.persistTracked(emb.select(col("vec_id"),
        transform(col("embedding"),
          x => grid(x.cast("double"), 1000000.0).cast("long")).as("xg"))
      .withColumn("n2", gf.dotl(col("xg"), col("xg")))
      .withColumn("bands", gf.srpBands(col("xg"))))
    val banded = g.select(col("vec_id"), col("bands"),
      posexplode(col("bands")).as(Seq("band_id", "band_val")))
    val nBands = graft.functions.SrpBands.NumBands
    val bandsHit = (1 to nBands).map(j =>
      when(element_at(col("l.bands"), j) === element_at(col("r.bands"), j),
        1L).otherwise(0L)).reduce(_ + _)
    val cand = PairJoin.selfJoin(banded, "vec_id",
        Seq("band_id", "band_val"),
        PairJoin.noLowerBandAgrees("bands", nBands))
      .select(col("l.vec_id").as("a"), col("r.vec_id").as("b"),
        bandsHit.as("bands_hit"))
    (g, cand)
  }

  /** The exact-integer cosine verification of [[srpCosinePairs]] over a
    * candidate pair set — (a, b, bands_hit) pairs passing the gridded
    * cosine ≥ 0.35 gate (dot² · 10⁴ ≥ n2·n2 · 1225, dot > 0). */
  private def srpVerified(g: DataFrame, cand: DataFrame): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val dec = DecimalType(38, 0)
    cand
      .join(g.select(col("vec_id").as("a"), col("xg").as("xa"),
        col("n2").as("na2")), "a")
      .join(g.select(col("vec_id").as("b"), col("xg").as("xb"),
        col("n2").as("nb2")), "b")
      .withColumn("dot", gf.dotl(col("xa"), col("xb")))
      .filter(col("dot") > 0 &&
        col("dot").cast(dec) * col("dot").cast(dec) * lit(10000) >=
          col("na2").cast(dec) * col("nb2").cast(dec) * lit(1225))
      .select(col("a"), col("b"), col("bands_hit"))
  }

  /** IVF probe path shared by the query above and the test suite.
    *
    * Exact-integer formulation (the same discipline as [[srpCosinePairs]]):
    * vectors ride the 1e-6 grid; each label's centroid is the elementwise
    * ROUNDED-AVERAGE integer vector `floorDiv(2·Σxg + m, 2m)` (cosine is
    * scale-invariant, so snapping the centroid to the grid only perturbs
    * its direction — identically in both engines); every cosine comparison
    * is the [[graft.functions.CosRatioKey]] integer key, so assignment,
    * probing, and the final ranking are bit-reproducible in DuckDB.
    *
    * Scale shape: centroids are a broadcast table (k cells), assignment is
    * one pass with a map-side-combinable max(struct) argmax, and the probe
    * join scans only nprobe/k of the corpus — the standard ANN scale-out.
    * Centroid elements stay grid-bounded (≤ max|x|·10⁶) regardless of
    * cluster size, so the int64 dot products never grow with N. */
  /** Gridded (vec_id, label, xg, n2) corpus frame shared by the IVF
    * paths. */
  /** Power-iteration rounds for [[pcaComponents]] — interpolated into the
    * oracle CTE chain AND used by the Scala solver, one constant for both
    * engines. 20 rounds pins the iterate exactly (the gate compares the
    * ITERATE, not a convergence limit — both engines run the identical
    * integer recurrence, so the output is bit-stable regardless of how
    * close 20 rounds gets to the true eigenvector). */
  private[graft] val PcaIters = 20

  /** Top-2 principal directions of the corpus Gram matrix (the uncentered
    * second-moment matrix `emb_covariance` gates), by integer power
    * iteration with Hotelling deflation — every step exact BigInt
    * arithmetic with truncation division (Scala `BigInt./` == DuckDB `//`,
    * toward zero), so the DuckDB oracle replays the solver bit-for-bit:
    *
    *   v⁰_j = 10⁶;  wᵗ = G·vᵗ⁻¹;  vᵗ_j = (wᵗ_j·10⁶) quot max(max_i|wᵗ_i|, 1)
    *   sign-pinned so the first nonzero component is positive;
    *   λ̂ = (vᵀGv) quot (vᵀv);  G₂ = G − (v vᵀ λ̂) quot (vᵀv);  repeat.
    *
    * Deliberate design: the eigensolve runs DRIVER-SIDE on the collected
    * d×d Gram (d² = 4096 rows — the documented placement for d-sized
    * artifacts, same as `emb_covariance`'s scaladoc promises); the
    * cluster-side work is only the Gram aggregation (shared shape with
    * emb_covariance) and the final projection. Magnitude safety: every
    * intermediate is bounded by ~n·10¹²·d·10⁶ ≪ 2¹²⁷, inside HUGEINT on
    * the oracle side and unbounded BigInt here. */
  private[graft] def pcaComponents(s: SparkSession,
                                   d: String): (Array[Long], Array[Long]) = {
    val (v1, v2, _, _) = pcaSolve(s, d)
    (v1, v2)
  }

  /** Float-seeded exact integer sqrt (max'd at 1 for divisor use): the
    * double seed is within ±1 of truth for u < 2¹⁰⁸ (√u·2⁻⁵⁴ < 1) and
    * the integer compare-adjust pins it — both engines convert to DOUBLE
    * with round-to-nearest and take the correctly-rounded IEEE sqrt, so
    * the seed (and therefore the result) is identical. Guarded loudly at
    * 10³⁰, far below the 2¹⁰⁸ breakdown, matching the whiten scaladoc's
    * magnitude bound. */
  private[graft] def isqrtSeeded(u: BigInt): BigInt = {
    require(u >= 0 && u < BigInt(10).pow(30),
      s"isqrtSeeded: $u outside the float-seeded bound [0, 1e30) — " +
        "re-grid the embeddings coarser")
    val r0 = BigInt(math.sqrt(u.toDouble).toLong)
    val r = if ((r0 + 1) * (r0 + 1) <= u) r0 + 1
            else if (r0 * r0 > u) r0 - 1 else r0
    r.max(1)
  }

  /** The PCA power-iteration solve behind `emb_pca_project` and
    * `emb_whiten_project`: top-2 sign-pinned integer directions PLUS the
    * two Rayleigh quotients u_i = ⌊(v_iᵀ G v_i) / (v_iᵀ v_i)⌋ on the
    * ORIGINAL Gram (the integer eigenvalue estimates whitening divides
    * by). All BigInt; truncation ≡ floor throughout because a Gram is
    * PSD (both numerators non-negative — the `//` parity precondition). */
  private[graft] def pcaSolve(s: SparkSession, d: String)
      : (Array[Long], Array[Long], BigInt, BigInt) = {
    val dec = DecimalType(38, 0)
    val e1 = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), posexplode(col("embedding")))
      .select(col("embedding"), (col("pos") + 1).cast("int").as("j"),
        grid(col("col").cast("double"), EmbGridScale).cast("long").as("xj"))
    // upper triangle only (emb_covariance's aggregation shape — halves
    // the pair-explode volume); the symmetric mirror is a driver-side
    // array fill on the d² collect, exact by G_jk = G_kj
    val rows = e1.select(col("j"), col("xj"), posexplode(col("embedding")))
      .select(col("j"), col("xj"), (col("pos") + 1).cast("int").as("k"),
        grid(col("col").cast("double"), EmbGridScale).cast("long").as("xk"))
      .filter(col("k") >= col("j"))
      .groupBy(col("j"), col("k"))
      .agg(sum((col("xj") * col("xk")).cast(dec)).as("g"))
      .collect()
    if (rows.isEmpty) return (Array.empty, Array.empty, BigInt(0), BigInt(0))
    val dim = rows.iterator.map(_.getInt(1)).max
    val g = Array.fill(dim, dim)(BigInt(0))
    rows.foreach { r =>
      val v = BigInt(r.getDecimal(2).toBigInteger)
      g(r.getInt(0) - 1)(r.getInt(1) - 1) = v
      g(r.getInt(1) - 1)(r.getInt(0) - 1) = v
    }
    val gridL = EmbGridScale.toLong
    def mul(m: Array[Array[BigInt]], v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(dim)(j =>
        (0 until dim).foldLeft(BigInt(0))((acc, k) => acc + m(j)(k) * v(k)))
    def power(m: Array[Array[BigInt]]): Array[BigInt] = {
      var v = Array.fill(dim)(BigInt(gridL))
      for (_ <- 1 to PcaIters) {
        val w = mul(m, v)
        val mx = w.iterator.map(_.abs).foldLeft(BigInt(1))(_ max _)
        v = w.map(_ * gridL / mx)
      }
      if (v.find(_ != 0).exists(_ < 0)) v.map(x => -x) else v
    }
    val v1 = power(g)
    val w1 = mul(g, v1)
    val den = v1.foldLeft(BigInt(0))((a, x) => a + x * x).max(BigInt(1))
    val num = (0 until dim).foldLeft(BigInt(0))((a, j) => a + v1(j) * w1(j))
    val u = num / den
    val g2 = Array.tabulate(dim, dim)((j, k) =>
      g(j)(k) - v1(j) * v1(k) * u / den)
    val v2 = power(g2)
    // leg-2 Rayleigh on the ORIGINAL Gram (the variance whitening needs,
    // not the deflated matrix's)
    val w2 = mul(g, v2)
    val den2 = v2.foldLeft(BigInt(0))((a, x) => a + x * x).max(BigInt(1))
    val num2 = (0 until dim).foldLeft(BigInt(0))((a, j) => a + v2(j) * w2(j))
    (v1.map(_.toLong), v2.map(_.toLong), u, num2 / den2)
  }

  /** One integer power-iteration leg as a DuckDB CTE chain over gram CTE
    * `gram` (cols j, k, g: HUGEINT), names prefixed `tag`: `{tag}0` must
    * already exist (the all-10⁶ start); produces sign-pinned `{tag}f`.
    * MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    * level here is referenced twice (the renormalizer reads its own w),
    * which would expand the 20-level chain exponentially. */
  private def pcaPowerSql(tag: String, gram: String): String = {
    val steps = (1 to PcaIters).map { t =>
      s"""w$tag$t AS MATERIALIZED (SELECT g.j AS j, sum(g.g * v.v) AS w
        FROM $gram g JOIN $tag${t - 1} v ON v.j = g.k GROUP BY g.j),
      $tag$t AS MATERIALIZED (SELECT j, (w * 1000000) //
        greatest((SELECT max(abs(w)) FROM w$tag$t), 1) AS v
        FROM w$tag$t)"""
    }
    val last = s"$tag$PcaIters"
    (steps :+ s"""sg$tag AS (SELECT CASE WHEN coalesce((SELECT v FROM $last
        WHERE j = (SELECT min(j) FROM $last WHERE v <> 0)), 0) < 0
        THEN -1 ELSE 1 END AS sg),
      ${tag}f AS MATERIALIZED (SELECT j, v * sg AS v
        FROM $last, sg$tag)""").mkString(",\n      ")
  }

  /** The full `emb_pca_project` oracle: gridded elements → HUGEINT Gram →
    * 20-round leg 1 → integer Hotelling deflation → 20-round leg 2 →
    * exact integer projections. Validated bit-identical against the
    * BigInt solver on the driver fixtures. */
  /** The shared PCA CTE chain (gridded elements → HUGEINT Gram →
    * 20-round leg 1 → integer Hotelling deflation → 20-round leg 2);
    * yields `ex`, `gm`, `pf`, `qf`, `uu(u)`, `dn(den)` for the
    * projection and whitening oracles to build on. */
  private lazy val pcaChainCtes: String = s"""ex AS MATERIALIZED (SELECT vec_id,
          CAST(generate_subscripts(embedding, 1) AS INT) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) AS x
        FROM embeddings),
      gm AS MATERIALIZED (SELECT a.j AS j, b.j AS k,
          CAST(sum(CAST(a.x AS HUGEINT) * b.x) AS HUGEINT) AS g
        FROM ex a JOIN ex b ON b.vec_id = a.vec_id GROUP BY a.j, b.j),
      p0 AS (SELECT DISTINCT j, CAST(1000000 AS HUGEINT) AS v FROM gm),
      ${pcaPowerSql("p", "gm")},
      wd1 AS (SELECT g.j AS j, sum(g.g * v.v) AS w
        FROM gm g JOIN pf v ON v.j = g.k GROUP BY g.j),
      dn AS (SELECT greatest(CAST(sum(v * v) AS HUGEINT), 1) AS den
        FROM pf),
      nu AS (SELECT CAST(sum(v.v * w.w) AS HUGEINT) AS num
        FROM pf v JOIN wd1 w ON w.j = v.j),
      uu AS (SELECT num // den AS u FROM nu, dn),
      g2 AS MATERIALIZED (SELECT g.j AS j, g.k AS k,
          g.g - (va.v * vb.v * uu.u) // dn.den AS g
        FROM gm g JOIN pf va ON va.j = g.j JOIN pf vb ON vb.j = g.k, uu, dn),
      q0 AS (SELECT DISTINCT j, CAST(1000000 AS HUGEINT) AS v FROM g2),
      ${pcaPowerSql("q", "g2")}"""

  private[graft] lazy val pcaOracleSql: String = s"""
      WITH $pcaChainCtes
      SELECT e.vec_id,
        CAST(sum(CAST(e.x AS HUGEINT) * a.v) AS BIGINT) AS p1,
        CAST(sum(CAST(e.x AS HUGEINT) * b.v) AS BIGINT) AS p2
      FROM ex e JOIN pf a ON a.j = e.j JOIN qf b ON b.j = e.j
      GROUP BY e.vec_id ORDER BY e.vec_id"""

  /** The `emb_whiten_project` oracle: the shared chain + leg-2's Rayleigh
    * quotient on the ORIGINAL Gram + the float-seeded isqrt (identical to
    * [[isqrtSeeded]]) + the floorDiv'd whitened coordinates. */
  private[graft] lazy val whitenOracleSql: String = s"""
      WITH $pcaChainCtes,
      wd2 AS (SELECT g.j AS j, sum(g.g * v.v) AS w
        FROM gm g JOIN qf v ON v.j = g.k GROUP BY g.j),
      dn2 AS (SELECT greatest(CAST(sum(v * v) AS HUGEINT), 1) AS den
        FROM qf),
      nu2 AS (SELECT CAST(sum(v.v * w.w) AS HUGEINT) AS num
        FROM qf v JOIN wd2 w ON w.j = v.j),
      uu2 AS (SELECT num // den AS u FROM nu2, dn2),
      r1 AS (SELECT greatest(CASE
          WHEN (r0 + 1) * (r0 + 1) <= u THEN r0 + 1
          WHEN r0 * r0 > u THEN r0 - 1 ELSE r0 END, 1) AS r
        FROM (SELECT u, CAST(floor(sqrt(CAST(u AS DOUBLE))) AS HUGEINT)
          AS r0 FROM uu) t),
      r2 AS (SELECT greatest(CASE
          WHEN (r0 + 1) * (r0 + 1) <= u THEN r0 + 1
          WHEN r0 * r0 > u THEN r0 - 1 ELSE r0 END, 1) AS r
        FROM (SELECT u, CAST(floor(sqrt(CAST(u AS DOUBLE))) AS HUGEINT)
          AS r0 FROM uu2) t),
      proj AS (SELECT e.vec_id,
          CAST(sum(CAST(e.x AS HUGEINT) * a.v) AS HUGEINT) AS p1,
          CAST(sum(CAST(e.x AS HUGEINT) * b.v) AS HUGEINT) AS p2
        FROM ex e JOIN pf a ON a.j = e.j JOIN qf b ON b.j = e.j
        GROUP BY e.vec_id)
      SELECT vec_id,
        CAST((p1 - ((p1 % r1.r + r1.r) % r1.r)) // r1.r AS BIGINT) AS w1,
        CAST((p2 - ((p2 % r2.r + r2.r) % r2.r)) // r2.r AS BIGINT) AS w2
      FROM proj, r1, r2 ORDER BY vec_id"""

  private[graft] def ivfGrid(s: SparkSession, d: String): DataFrame =
    ivfGridOf(Tables.embeddings(s, d))

  /** [[ivfGrid]] over any (vec_id, label, embedding) frame — factored so
    * the ingest query can grid the stored corpus and the new batch
    * separately. */
  private[graft] def ivfGridOf(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val gf = graft.functions.GraftFunctions
    emb
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => grid(x.cast("double"), 1000000.0).cast("long")).as("xg"))
      .withColumn("n2", gf.dotl(col("xg"), col("xg")))
  }

  /** Coarse quantizer: per-label rounded-average integer centroid.
    * floorDiv via the pmod trick (the numerator becomes exactly divisible,
    * so `div`'s truncation semantics don't matter) — same recipe as the
    * DuckDB oracle, exact for any sign of the sum. */
  private[graft] def ivfCents(g: DataFrame): DataFrame = {
    val gf = graft.functions.GraftFunctions
    g.select(col("label"), posexplode(col("xg")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("sj"), count(lit(1)).as("m"))
      .withColumn("cj",
        expr("(2*sj + m - pmod(2*sj + m, 2*m)) div (2*m)"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cj")))).as("pc"))
      .select(col("label").cast("long").as("cent_id"),
        transform(col("pc"), p => p.getField("cj")).as("cent"))
      .withColumn("nc2", gf.dotl(col("cent"), col("cent")))
      .filter(col("nc2") > 0)
  }

  /** Cell assignment: nearest centroid per corpus vector — the argmax is a
    * single decimal max over a PACKED key `ckey·2²⁰ − cent_id`: max picks
    * the largest ckey and breaks ties toward the SMALLEST cent_id (the
    * row_number convention), and `pmod(−packed, 2²⁰)` recovers the winning
    * cent_id for any sign of ckey. Packing matters for the plan: a
    * max(struct(...)) argmax — with or without the xg array inside — has a
    * struct aggregation buffer, which HashAggregate cannot hold, so Spark
    * falls back to SortAggregate and sorts all N×k scored rows per
    * partition. The packed form is a plain decimal max: hash-aggregated,
    * map-side combined, no sort anywhere. Room check: ckey ≤ ‖x‖²·10⁶
    * (≤ ~10³⁰ even at 1024 dims of |x| ≤ 30 on the 1e-6 grid), ×2²⁰ stays
    * inside Decimal(38,0); cent_id < 2²⁰ is asserted by the pack. */
  private[graft] def ivfAssign(g: DataFrame, cents: DataFrame): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val packBase = 1 << 20
    g.crossJoin(broadcast(cents))
      .withColumn("ckey",
        gf.cosKey(gf.dotl(col("xg"), col("cent")), col("nc2")))
      .groupBy(col("vec_id"))
      .agg(max(col("ckey") * lit(packBase) - col("cent_id")).as("pk"))
      .select(col("vec_id"),
        pmod(-col("pk"), lit(packBase)).cast("long").as("cent_id"))
  }

  /** Probe: nprobe nearest centroids per query. The n2 > 0 guard drops
    * null-embedding (null n2) and zero-norm queries: neither has a
    * cosine, and without it a null query would rank ALL centroids with a
    * null key and emit garbage probes (the oracle excludes such queries
    * structurally — unnest of a null list emits no rows). */
  private[graft] def ivfProbes(g: DataFrame, cents: DataFrame,
                        nprobe: Int): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val q = g.filter(col("vec_id") <= 4 && col("n2") > 0)
      .select(col("vec_id").as("qid"), col("xg").as("qg"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("qkey").desc, col("cent_id").asc)
    q.crossJoin(broadcast(cents))
      .withColumn("qkey",
        gf.cosKey(gf.dotl(col("qg"), col("cent")), col("nc2")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("qg"), col("cent_id"))
  }

  def ivfTopK(s: SparkSession, d: String, k: Int, nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val gf = graft.functions.GraftFunctions
    val g = ivfGrid(s, d)
    // cents is referenced by both the assignment and probe cross joins,
    // but the two broadcast exchanges share an identical child plan, so
    // ReuseExchange computes the aggregation once — measured: an explicit
    // persist adds nothing
    val cents = ivfCents(g)
    val assignedIds = ivfAssign(g, cents)
    val probes = ivfProbes(g, cents, nprobe)
    // search only probed cells; rank by the exact key (zero-norm corpus
    // vectors have no cosine — filtered identically in the oracle).
    // Join order: ids ⋈ probes first (narrow rows, broadcast), THEN pull
    // the vectors for the surviving nprobe/k fraction from g — a
    // shuffle-hash join on vec_id with the narrow probed-id side as the
    // build (no sort of the array-carrying side)
    val probedIds = assignedIds.join(broadcast(probes), "cent_id")
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("fkey").desc, col("vec_id").asc)
    g.filter(col("n2") > 0)
      .join(probedIds.hint("shuffle_hash"), "vec_id")
      .withColumn("fkey", gf.cosKey(gf.dotl(col("qg"), col("xg")), col("n2")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Product-quantization ADC top-k — the memory-side leg of the ANN
    * family ([[bruteTopK]] exact, [[ivfTopK]] scan-bounding, SRP-LSH
    * candidate-bounding; PQ bounds BYTES: an 8-nibble code replaces 256
    * bytes of float32, so a 10⁹-vector index fits executor RAM and the
    * scan is table lookups instead of float dots).
    *
    * Pipeline, exact-integer end to end (the [[kmeansAssignOf]]
    * discipline per subspace): gridded vectors split into [[PqM]]
    * subvectors; per-subspace codebooks trained by one full Lloyd round
    * (init = the subvectors of `vec_id < PqK` — the same dense-0-based-id
    * PRECONDITION as k-means, loudly enforced; squared-L2 packed-decimal
    * argmin; rounded-average integer update), corpus encoded against the
    * trained books, and each query ranked by the ASYMMETRIC distance:
    * adc2(q, v) = Σ_s ‖q_s − c_{s,code_s(v)}‖², computed by summing
    * [[PqM]] entries of a per-query lookup table. Everything — training,
    * codes, LUT, ranking — is int64/decimal-exact, so the DuckDB oracle
    * replays it bit-for-bit: PQ is approximate as a NEIGHBOR algorithm
    * but deterministic as a computation, exactly like [[ivfTopK]].
    *
    * Scale shape: codebooks are PqM·PqK = 128 tiny rows — always
    * broadcast (training argmins are map-side-combinable packed decimal
    * mins; the corpus is never shuffled by value); the LUT is
    * #queries·PqM·PqK rows — broadcast; the ADC scan is one pass over the
    * narrow code table with a per-query bounded rank window. Encoding
    * costs O(N·PqM·PqK) integer dots with no shuffle wider than the
    * (vec_id, s) partial — the standard distributed PQ build. */
  def pqTopK(s: SparkSession, d: String, k: Int): DataFrame =
    pqTopKOf(Tables.embeddings(s, d), k)

  /** [[pqTopK]] over any (vec_id, embedding: array<float>) frame — the
    * unit-testable core. With ≤ [[PqK]] distinct-subvector vectors, every
    * vector is its own code and ADC degenerates to EXACT squared-L2
    * ranking (the property `SimilaritySpec` pins). */
  private[graft] def pqTopKOf(emb: DataFrame, k: Int): DataFrame = {
    val sub = pqSubspaces(emb)
    val c1 = pqTrain(sub)
    val codes = pqAssign(sub, c1)
    val lut = pqLut(sub, c1)
    val wR = Window.partitionBy(col("qid"))
      .orderBy(col("adc2").asc, col("vec_id").asc)
    codes.join(broadcast(lut), Seq("s", "code_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d2")).as("adc2"))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("adc2"))
      .orderBy(col("qid"), col("rank"))
  }

  /** [[queries]]' `sim_pq_distortion` over any (vec_id, embedding) frame
    * — the unit-testable core. With ≤ [[PqK]] vectors every subvector is
    * its own code, so every distortion is exactly 0 (the degenerate
    * property `SimilaritySpec` pins for the ranking; `IndexHealthSpec`
    * pins it here). */
  private[graft] def pqDistortionOf(emb: DataFrame): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val sub = pqSubspaces(emb)
    val cb = pqTrain(sub)
    sub.join(broadcast(cb), "s")
      .withColumn("dist2", col("ns2") + col("nc2") -
        lit(2L) * gf.dotl(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("dist2")).as("d2"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sum_d2"))
      .withColumn("avg_d2", expr("sum_d2 div n_vecs"))
      .orderBy(col("s"))
  }

  /** The persisted (vec_id, s, sv, ns2) subspace frame: gridded vectors
    * split into [[PqM]] subvectors. Persisted because training, encoding,
    * and the LUT all re-read it. Null embeddings (failed encode) are off
    * the index and off the query set, as everywhere in the vector family
    * (oracle: unnest emits none). */
  private[graft] def pqSubspaces(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val gf = graft.functions.GraftFunctions
    graft.Caching.persistTracked(emb
      .select(col("vec_id"),
        transform(col("embedding"),
          x => grid(x.cast("double"), EmbGridScale).cast("long")).as("xg"))
      .filter(gf.dotl(col("xg"), col("xg")).isNotNull)
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), " +
          s"m -> struct(cast(m as bigint) AS s, " +
          s"slice(xg, m*$PqDsub+1, $PqDsub) AS sv))")).as("e"))
      .select(col("vec_id"), col("e.s").as("s"), col("e.sv").as("sv"))
      .withColumn("ns2", gf.dotl(col("sv"), col("sv"))))
  }

  private def pqWithNorm(cb: DataFrame): DataFrame =
    cb.withColumn("nc2", graft.functions.GraftFunctions
      .dotl(col("cv"), col("cv")))

  /** Nearest code per (vector, subspace): packed-decimal min —
    * hash-aggregated with map-side partials, ties toward the smallest
    * code_id (dist2 ≥ 0, so the pack needs no sign handling). */
  private[graft] def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val dec = DecimalType(38, 0)
    val packBase = 1 << 20
    sub.join(broadcast(cb), "s")
      .withColumn("dist2", col("ns2") + col("nc2") -
        lit(2L) * gf.dotl(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("dist2").cast(dec) * lit(packBase) + col("code_id"))
        .as("pk"))
      .select(col("vec_id"), col("s"),
        pmod(col("pk"), lit(packBase)).cast("long").as("code_id"))
  }

  /** One full Lloyd round per subspace: init books from `vec_id < PqK`
    * (dense-0-based-id PRECONDITION, loudly enforced — the
    * [[kmeansAssignOf]] convention; limit-1 probes over the persisted
    * frame), then the rounded-average integer update (the kmeans pmod
    * recipe, exact for any sign); empty cells vanish in both engines. */
  private[graft] def pqTrain(sub: DataFrame): DataFrame = {
    val c0 = pqWithNorm(sub.filter(col("vec_id") < PqK)
      .select(col("s"), col("vec_id").as("code_id"), col("sv").as("cv")))
    if (c0.isEmpty && !sub.isEmpty)
      throw new IllegalArgumentException(
        s"pqTrain: no init code has vec_id < PqK=$PqK — vec_ids are not " +
          "dense 0-based; re-key them first (e.g. " +
          "graft.queries.Pipeline.canonicalizeIds, or a row_number re-key)")
    pqWithNorm(sub
      .join(pqAssign(sub, c0), Seq("vec_id", "s"))
      .select(col("s"), col("code_id"), posexplode(col("sv")))
      .groupBy(col("s"), col("code_id"), col("pos"))
      .agg(sum(col("col")).as("sj"), count(lit(1)).as("m"))
      .withColumn("cj",
        expr("(2*sj + m - pmod(2*sj + m, 2*m)) div (2*m)"))
      .groupBy(col("s"), col("code_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cj")))).as("pc"))
      .select(col("s"), col("code_id"),
        transform(col("pc"), p => p.getField("cj")).as("cv")))
  }

  /** Per-query distance lookup table: #queries × PqM × PqK tiny rows. */
  private def pqLut(sub: DataFrame, cb: DataFrame): DataFrame = {
    val gf = graft.functions.GraftFunctions
    sub.filter(col("vec_id") <= 4)
      .join(broadcast(cb), "s")
      .select(col("vec_id").as("qid"), col("s"), col("code_id"),
        (col("ns2") + col("nc2") -
          lit(2L) * gf.dotl(col("sv"), col("cv"))).as("d2"))
  }

  /** IVF+PQ — the production ANN layout, composed from the two gated
    * halves: the coarse quantizer bounds WHAT is scanned (only vectors
    * assigned to the nprobe cells nearest each query), the codes bound
    * the BYTES per scanned vector (8 nibbles + a LUT sum instead of a
    * float dot). The candidate set is [[ivfTopK]]'s exactly; the ranking
    * distance is [[pqTopKOf]]'s exactly — so the oracle is the two
    * existing CTE blocks joined. Zero-norm corpus vectors stay rankable
    * (squared-L2 needs no norm guard; their cosine-keyed cell assignment
    * ties to the smallest cell id identically in both engines).
    *
    * Scale shape: both index structures are broadcast-sized (cells,
    * codebooks, LUT); the only corpus-wide exchanges are the hash
    * partials behind assignment/encoding and the narrow candidate join —
    * the code table never carries vectors, which is the point. */
  def ivfPqTopK(s: SparkSession, d: String, k: Int,
                nprobe: Int): DataFrame = {
    val g = ivfGrid(s, d)
    val cents = ivfCents(g)
    val cand = ivfAssign(g, cents)
      .join(broadcast(ivfProbes(g, cents, nprobe)
        .select(col("qid"), col("cent_id"))), "cent_id")
      .select(col("qid"), col("vec_id"))
    val sub = pqSubspaces(Tables.embeddings(s, d))
    val c1 = pqTrain(sub)
    val codes = pqAssign(sub, c1)
    val lut = pqLut(sub, c1)
    val wR = Window.partitionBy(col("qid"))
      .orderBy(col("adc2").asc, col("vec_id").asc)
    codes.join(cand.hint("shuffle_hash"), "vec_id")
      .join(broadcast(lut), Seq("qid", "s", "code_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d2")).as("adc2"))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("adc2"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Incremental ANN ingest behind `sim_ivfpq_ingest` — the embedding
    * analog of `dedup_incremental_lsh`: a NEW batch (vec_id % 10 = 0,
    * the corpus-split convention of the dedup ingest gates) is admitted
    * to the index by assigning it to the STORED coarse centroids and
    * encoding it against the STORED codebooks — both trained on the old
    * corpus only (vec_id % 10 ≠ 0), which is NEVER rescanned: ingest
    * cost is O(batch · index), the property that makes a 100 TB vector
    * index maintainable (retraining would be O(corpus) per drop and,
    * worse, would re-code every stored vector). No retrain drift is
    * possible by construction — the centroid/codebook plans are the
    * gated [[ivfCents]]/[[pqTrain]] applied to the old slice, the
    * assignment/encoding the gated [[ivfAssign]]/pqAssign applied to the
    * batch, and `SimilaritySpec` pins cross-split equivalence (ingesting
    * the batch equals running the combined corpus through the SAME
    * stored index and restricting to batch ids — assignment is a pure
    * per-row function of (vector, index), so admission order can never
    * change codes). Output per batch vector: its cell and its packed
    * 8-nibble code word (Σ code_id·16^s — the actual index payload). */
  def ivfPqIngest(s: SparkSession, d: String): DataFrame = {
    val all = Tables.embeddings(s, d)
    val old = all.filter(col("vec_id") % 10 =!= 0)
    val batch = all.filter(col("vec_id") % 10 === 0)
    val cents = ivfCents(ivfGridOf(old))
    val books = pqTrain(pqSubspaces(old))
    val assigned = ivfAssign(
      ivfGridOf(batch).filter(col("n2").isNotNull), cents)
    val codeWords = pqAssign(pqSubspaces(batch), books)
      .groupBy(col("vec_id"))
      .agg(sum(expr(
        "code_id * shiftleft(cast(1 as bigint), cast(4 * s as int))"))
        .as("code_key"))
    assigned.join(codeWords, "vec_id")
      .select(col("vec_id"), col("cent_id"), col("code_key"))
      .orderBy(col("vec_id"))
  }

  /** Two-stage retrieve behind `sim_ivf_rerank`: [[ivfPqTopK]]'s ADC
    * shortlist at k=50, exact-cosine ([[ivfTopK]]'s fkey) re-rank of only
    * those rows, top-`k` per query. Plan shape documented at the query
    * entry. */
  private[graft] def ivfRerankTopK(s: SparkSession, d: String,
                                   k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val gf = graft.functions.GraftFunctions
    val shortlist = ivfPqTopK(s, d, k = 50, nprobe = 3)
      .select(col("qid"), col("vec_id"))
    val g = ivfGrid(s, d)
    val q = g.filter(col("vec_id") <= 4 && col("n2") > 0)
      .select(col("vec_id").as("qid"), col("xg").as("qg"))
    val wR = Window.partitionBy(col("qid"))
      .orderBy(col("fkey").desc, col("vec_id").asc)
    shortlist
      .join(broadcast(q), "qid")
      .join(g.filter(col("n2") > 0).hint("shuffle_hash"), "vec_id")
      .withColumn("fkey",
        gf.cosKey(gf.dotl(col("qg"), col("xg")), col("n2")))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"))
  }

  /** Two Lloyd assignment rounds over the gridded corpus, exact-integer
    * end to end. Returns (assignments, gridded corpus): assignments carry
    * (vec_id, cluster, dist2) from the SECOND assignment — i.e. against the
    * centroids produced by one full assign+update round — and the gridded
    * frame is persisted because assignment, update, and the caller's reuse
    * all re-read it.
    *
    * Determinism: init centroids are the gridded vectors with
    * `vec_id < k` — which equals "the k smallest vec_ids" ONLY for dense
    * 0-based ids. That is a PRECONDITION of this operator: the driver's
    * embeddings fixture satisfies it, but an arbitrary frame passed to
    * [[kmeansAssignOf]] with sparse or non-zero-based vec_ids may select
    * fewer than k (or zero) init centroids — re-key such inputs first
    * (both engines apply the same `vec_id < k` rule, so oracle parity
    * holds either way; the contract is about getting k real centroids).
    * ENFORCED for the corrupt end of the spectrum: zero init centroids on
    * a non-empty corpus (the signature of non-dense ids) raises an
    * `IllegalArgumentException` naming `canonicalizeIds` as the repair,
    * instead of silently returning an empty assignment (PackGuardSpec).
    * A PARTIAL under-seed from null embeddings among the first k ids is
    * sanctioned — both engines exclude those rows identically — and an
    * empty corpus stays a legal no-op (EmptyCorpusSpec).
    * Squared L2 `‖x‖² + ‖c‖² − 2·x·c` is int64-exact (bound
    * ~4·‖x‖²_max ≈ 10¹⁴ on this corpus — re-grid coarser past ~10¹⁷);
    * the argmin is a single hash-aggregated decimal min over the packed key
    * `dist2·2²⁰ + cent_id` (ties → smallest cent_id, the row_number
    * convention; dist2 ≥ 0 so the pack needs no sign handling), and the
    * update is the rounded-average integer centroid from the IVF recipe.
    * Empty cells simply vanish (both engines aggregate over members).
    *
    * Scale shape: centroids are always a broadcast table (k rows); each
    * round is one corpus pass with a map-side-combinable argmin plus one
    * posexplode aggregation, so rounds cost O(N·k) with no corpus shuffle
    * by value — the standard distributed-Lloyd layout. */
  private[graft] def kmeansAssign(s: SparkSession, d: String,
                                  k: Int): (DataFrame, DataFrame) =
    kmeansAssignOf(Tables.embeddings(s, d), k)

  /** [[kmeansAssign]] over any (vec_id, embedding: array<float>) frame —
    * the unit-testable core. */
  private[graft] def kmeansAssignOf(emb: DataFrame,
                                    k: Int): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val gf = graft.functions.GraftFunctions
    val dec = DecimalType(38, 0)
    val packBase = 1 << 20
    val g = graft.Caching.persistTracked(emb
      .select(col("vec_id"),
        transform(col("embedding"),
          x => grid(x.cast("double"), EmbGridScale).cast("long")).as("xg"))
      .withColumn("n2", gf.dotl(col("xg"), col("xg")))
      // null embeddings (failed encode) have no gridded vector: excluded
      // from clustering entirely, exactly as the oracle's unnest emits no
      // rows for them (zero-norm vectors REMAIN — squared-L2 k-means is
      // well-defined at the origin, unlike cosine)
      .filter(col("n2").isNotNull))
    def assign(cents: DataFrame): DataFrame =
      g.crossJoin(broadcast(cents))
        .withColumn("dist2",
          col("n2") + col("nc2") - lit(2L) * gf.dotl(col("xg"), col("cent")))
        .groupBy(col("vec_id"))
        .agg(min(col("dist2").cast(dec) * lit(packBase) + col("cent_id"))
          .as("pk"))
        .select(col("vec_id"),
          pmod(col("pk"), lit(packBase)).cast("long").as("cluster"),
          ((col("pk") - pmod(col("pk"), lit(packBase))) / lit(packBase))
            .cast("long").as("dist2"))
    def update(asg: DataFrame): DataFrame =
      g.join(asg.select(col("vec_id"), col("cluster")), "vec_id")
        .select(col("cluster"), posexplode(col("xg")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col")).as("sj"), count(lit(1)).as("m"))
        .withColumn("cj",
          expr("(2*sj + m - pmod(2*sj + m, 2*m)) div (2*m)"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cj")))).as("pc"))
        .select(col("cluster").as("cent_id"),
          transform(col("pc"), p => p.getField("cj")).as("cent"))
        .withColumn("nc2", gf.dotl(col("cent"), col("cent")))
    val init = g.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("xg").as("cent"),
        col("n2").as("nc2"))
    // loud-failure guard on the dense-0-based-id precondition: the two
    // isEmpty probes are limit-1 jobs over the persisted gridded frame
    // (the second only runs when the first finds no centroid)
    if (init.isEmpty && !g.isEmpty)
      throw new IllegalArgumentException(
        s"kmeansAssignOf: no init centroid has vec_id < k=$k — vec_ids " +
          "are not dense 0-based; re-key them first (e.g. " +
          "graft.queries.Pipeline.canonicalizeIds, or a row_number re-key)")
    (assign(update(assign(init))), g)
  }

  /** Shared oracle CTEs replaying [[kmeansAssign]] step for step: gridded
    * elements, init centroids = vec_id < [[KmeansK]], exact-int squared-L2
    * argmin (ties → smallest cent_id), rounded-average integer centroid
    * update (pmod trick), second assignment with its exact dist2.
    * k and the grid scale are interpolated from the SAME constants the
    * Scala call sites use, so changing either cannot desynchronize the
    * engines. */
  private val kmeansCtes = s"""
      e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $EmbGridScale + 0.5)
            AS BIGINT) AS xg
        FROM embeddings),
      n2 AS (SELECT vec_id, sum(CAST(xg AS HUGEINT) * xg) AS n2
             FROM e GROUP BY vec_id),
      c0 AS (SELECT vec_id AS cent_id, j, xg AS cj FROM e
             WHERE vec_id < $KmeansK),
      nc0 AS (SELECT cent_id, sum(CAST(cj AS HUGEINT) * cj) AS nc2
              FROM c0 GROUP BY cent_id),
      d1 AS (SELECT e.vec_id, c.cent_id, sum(CAST(e.xg AS HUGEINT) * c.cj) AS dot
             FROM e JOIN c0 c ON c.j = e.j GROUP BY e.vec_id, c.cent_id),
      a1 AS (SELECT vec_id, cent_id AS cluster FROM (
               SELECT d.vec_id, d.cent_id, row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY n2.n2 + nc0.nc2 - 2*d.dot ASC, d.cent_id ASC) AS rn
               FROM d1 d JOIN n2 ON n2.vec_id = d.vec_id
               JOIN nc0 ON nc0.cent_id = d.cent_id) t WHERE rn = 1),
      c1 AS (SELECT a1.cluster AS cent_id, e.j,
               (2*sum(e.xg) + count(*)
                  - (((2*sum(e.xg) + count(*)) % (2*count(*)) + 2*count(*))
                     % (2*count(*)))) // (2*count(*)) AS cj
             FROM e JOIN a1 ON a1.vec_id = e.vec_id GROUP BY a1.cluster, e.j),
      nc1 AS (SELECT cent_id, sum(CAST(cj AS HUGEINT) * cj) AS nc2
              FROM c1 GROUP BY cent_id),
      d2 AS (SELECT e.vec_id, c.cent_id, sum(CAST(e.xg AS HUGEINT) * c.cj) AS dot
             FROM e JOIN c1 c ON c.j = e.j GROUP BY e.vec_id, c.cent_id),
      a2 AS (SELECT vec_id, cent_id AS cluster, dist2 FROM (
               SELECT d.vec_id, d.cent_id, n2.n2 + nc1.nc2 - 2*d.dot AS dist2,
                 row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY n2.n2 + nc1.nc2 - 2*d.dot ASC, d.cent_id ASC) AS rn
               FROM d2 d JOIN n2 ON n2.vec_id = d.vec_id
               JOIN nc1 ON nc1.cent_id = d.cent_id) t WHERE rn = 1)"""

  /** PQ oracle CTE block replaying [[pqSubspaces]]/[[pqTrain]]/
    * [[pqAssign]]/[[pqLut]] step for step — subspace split on (j-1)
    * div/mod, init books = subvectors of vec_id < PqK, squared-L2 argmin
    * (ties → smallest code_id), rounded-average integer update (pmod
    * trick), re-encode, per-query LUT. Distances are direct Σ(x−c)² in
    * HUGEINT — integer-equal to the Spark side's ns2 + nc2 − 2·dot in
    * int64. Expects a prior CTE `e(vec_id, j, xg)` (extra columns
    * harmless); shared by `sim_pq_topk` and `sim_ivfpq_topk` so the two
    * oracles cannot drift. */
  private val pqCtes = s"""
      sub AS (SELECT vec_id, (j-1) // $PqDsub AS s, (j-1) % $PqDsub AS jj,
                xg
              FROM e),
      c0 AS (SELECT s, vec_id AS code_id, jj, xg AS cj FROM sub
             WHERE vec_id < $PqK),
      d0 AS (SELECT v.vec_id, v.s, c.code_id,
               sum(CAST(v.xg - c.cj AS HUGEINT) * (v.xg - c.cj)) AS dist2
             FROM sub v JOIN c0 c ON c.s = v.s AND c.jj = v.jj
             GROUP BY v.vec_id, v.s, c.code_id),
      a0 AS (SELECT vec_id, s, code_id FROM (
               SELECT vec_id, s, code_id, row_number() OVER (
                 PARTITION BY vec_id, s
                 ORDER BY dist2 ASC, code_id ASC) AS rn
               FROM d0) t WHERE rn = 1),
      c1 AS (SELECT a.s, a.code_id, v.jj,
               (2*sum(v.xg) + count(*)
                  - (((2*sum(v.xg) + count(*)) % (2*count(*)) + 2*count(*))
                     % (2*count(*)))) // (2*count(*)) AS cj
             FROM sub v JOIN a0 a ON a.vec_id = v.vec_id AND a.s = v.s
             GROUP BY a.s, a.code_id, v.jj),
      d1 AS (SELECT v.vec_id, v.s, c.code_id,
               sum(CAST(v.xg - c.cj AS HUGEINT) * (v.xg - c.cj)) AS dist2
             FROM sub v JOIN c1 c ON c.s = v.s AND c.jj = v.jj
             GROUP BY v.vec_id, v.s, c.code_id),
      codes AS (SELECT vec_id, s, code_id FROM (
                  SELECT vec_id, s, code_id, row_number() OVER (
                    PARTITION BY vec_id, s
                    ORDER BY dist2 ASC, code_id ASC) AS rn
                  FROM d1) t WHERE rn = 1),
      lut AS (SELECT q.vec_id AS qid, c.s, c.code_id,
                sum(CAST(q.xg - c.cj AS HUGEINT) * (q.xg - c.cj)) AS d2
              FROM sub q JOIN c1 c ON c.s = q.s AND c.jj = q.jj
              WHERE q.vec_id <= 4
              GROUP BY q.vec_id, c.s, c.code_id)"""

  /** Per-vector norms + per-label rounded-average integer centroids with
    * their norms — the statistics half of the IVF coarse index, replaying
    * [[ivfCents]] exactly. Expects a prior CTE `e(vec_id, label, j, xg)`;
    * shared by [[ivfCoarseCtes]] and the `emb_outliers` oracle. */
  private val ivfStatsCtes = """
      n2 AS (SELECT vec_id, sum(CAST(xg AS HUGEINT) * xg) AS n2
             FROM e GROUP BY vec_id),
      c AS (SELECT label, j,
              (2*sum(xg) + count(*)
                 - (((2*sum(xg) + count(*)) % (2*count(*)) + 2*count(*))
                    % (2*count(*)))) // (2*count(*)) AS cj
            FROM e GROUP BY label, j),
      nc2 AS (SELECT label, sum(CAST(cj AS HUGEINT) * cj) AS nc2
              FROM c GROUP BY label
              HAVING sum(CAST(cj AS HUGEINT) * cj) > 0)"""

  /** IVF coarse-index oracle CTE block replaying [[ivfCents]]/
    * [[ivfAssign]]/[[ivfProbes]] (per-label rounded-average centroids,
    * cosine-ratio-key assignment, nprobe=3 probes for queries
    * vec_id ≤ 4). Expects a prior CTE `e(vec_id, label, j, xg)`; shared
    * by `sim_ivf_topk` and `sim_ivfpq_topk`. */
  private val ivfCoarseCtes = s"""$ivfStatsCtes,
      ad AS (SELECT e.vec_id, c.label,
               sum(CAST(e.xg AS HUGEINT) * c.cj) AS d
             FROM e JOIN c ON e.j = c.j
             GROUP BY e.vec_id, c.label),
      akey AS (SELECT ad.vec_id, ad.label,
                 (ad.d * abs(ad.d) * 1000000
                    - ((ad.d * abs(ad.d) * 1000000) % nc2.nc2 + nc2.nc2)
                      % nc2.nc2) // nc2.nc2 AS key
               FROM ad JOIN nc2 ON ad.label = nc2.label),
      assign AS (SELECT vec_id, label FROM (
                   SELECT vec_id, label, row_number() OVER (
                     PARTITION BY vec_id ORDER BY key DESC, label ASC) AS rn
                   FROM akey) t WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, label FROM (
                   SELECT vec_id, label, row_number() OVER (
                     PARTITION BY vec_id ORDER BY key DESC, label ASC) AS rn
                   FROM akey WHERE vec_id <= 4) t WHERE rn <= 3)"""

  /** Brute-force cosine top-k oracle CTE block replaying [[bruteTopK]] for
    * queries vec_id ≤ 4 (null/zero-norm guard in two MATERIALIZED stages —
    * see the `sim_topk` comment); yields `bruteranks(qid, vec_id, rank)`.
    * Shared by `sim_topk` and `sim_recall_ivf`. */
  private val bruteNnCtes = """
      nn0 AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL),
      nn AS MATERIALIZED (
        SELECT vec_id, embedding FROM nn0
        WHERE list_inner_product(embedding, embedding) > 0),
      bruteranks AS (
        SELECT q.vec_id AS qid, e.vec_id,
          CAST(row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                     e.vec_id ASC) AS BIGINT) AS rank
        FROM nn q CROSS JOIN nn e
        WHERE q.vec_id <= 4)"""

  /** IVF fine-ranking oracle CTE block replaying the probed-cell exact-key
    * scan of [[ivfTopK]] on top of [[ivfCoarseCtes]]; yields
    * `ivfranks(qid, vec_id, rank)`. Shared by `sim_ivf_topk` and
    * `sim_recall_ivf`. */
  private val ivfFineCtes = """
      fd AS (SELECT p.qid, a.vec_id,
               sum(CAST(eq.xg AS HUGEINT) * ec.xg) AS d
             FROM probes p
             JOIN assign a ON a.label = p.label
             JOIN e eq ON eq.vec_id = p.qid
             JOIN e ec ON ec.vec_id = a.vec_id AND ec.j = eq.j
             GROUP BY p.qid, a.vec_id),
      fkey AS (SELECT fd.qid, fd.vec_id,
                 (fd.d * abs(fd.d) * 1000000
                    - ((fd.d * abs(fd.d) * 1000000) % n2.n2 + n2.n2)
                      % n2.n2) // n2.n2 AS key
               FROM fd JOIN n2 ON n2.vec_id = fd.vec_id
               WHERE n2.n2 > 0),
      ivfranks AS (
        SELECT qid, vec_id, CAST(row_number() OVER (
          PARTITION BY qid ORDER BY key DESC, vec_id ASC) AS BIGINT) AS rank
        FROM fkey)"""

  /** Two-stage-retrieve oracle CTE block replaying [[ivfRerankTopK]] on
    * top of `e` + [[ivfCoarseCtes]] + [[pqCtes]]: the sim_ivfpq_topk ADC
    * chain cut at 50, then the sim_ivf_topk fkey arithmetic over only
    * the shortlist pairs; yields `rerankranks(qid, vec_id, rank)`.
    * Shared by `sim_ivf_rerank` and `sim_recall_rerank`. */
  private val ivfRerankCtes = """
      cand AS (SELECT p.qid, a.vec_id
               FROM probes p JOIN assign a ON a.label = p.label),
      adc AS (SELECT cand.qid, cand.vec_id, sum(l.d2) AS adc2
              FROM cand
              JOIN codes k ON k.vec_id = cand.vec_id
              JOIN lut l ON l.qid = cand.qid AND l.s = k.s
                        AND l.code_id = k.code_id
              GROUP BY cand.qid, cand.vec_id),
      short AS (SELECT qid, vec_id FROM (
                  SELECT qid, vec_id, row_number() OVER (
                    PARTITION BY qid ORDER BY adc2 ASC, vec_id ASC) AS rn
                  FROM adc) t WHERE rn <= 50),
      fd AS (SELECT sh.qid, sh.vec_id,
               sum(CAST(eq.xg AS HUGEINT) * ec.xg) AS d
             FROM short sh
             JOIN e eq ON eq.vec_id = sh.qid
             JOIN e ec ON ec.vec_id = sh.vec_id AND ec.j = eq.j
             GROUP BY sh.qid, sh.vec_id),
      fkey AS (SELECT fd.qid, fd.vec_id,
                 (fd.d * abs(fd.d) * 1000000
                    - ((fd.d * abs(fd.d) * 1000000) % n2.n2 + n2.n2)
                      % n2.n2) // n2.n2 AS key
               FROM fd JOIN n2 ON n2.vec_id = fd.vec_id
               WHERE n2.n2 > 0),
      rerankranks AS (
        SELECT qid, vec_id, row_number() OVER (
          PARTITION BY qid ORDER BY key DESC, vec_id ASC) AS rank
        FROM fkey)"""

  /** The dedup_embed_cosine pair set as oracle CTEs (yields
    * `cpairs(label, vec_a, vec_b)`) — shared with the
    * `dedup_recall_embed` truth leg. */
  private val embedCosinePairSql = """nnc0 AS MATERIALIZED (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE embedding IS NOT NULL),
      nnc AS MATERIALIZED (
        SELECT * FROM nnc0
        WHERE list_inner_product(embedding, embedding) > 0),
      cpairs AS (
        SELECT CAST(a.label AS BIGINT) AS label,
          a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM nnc a
        JOIN nnc b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35)"""

  /** The dedup_embed_lsh pair set as oracle CTEs (yields
    * `lpairs(vec_a, vec_b, bands_hit)`) — shared with the
    * `dedup_recall_embed` candidate leg. */
  private val embedLshPairSql = """e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) AS xg
        FROM embeddings),
      sgn AS (
        SELECT vec_id, p.range AS p, j,
          CASE WHEN CAST(('0x' || substr(md5('srp|' || p.range || '|' || j),
                 1, 1)) AS INT) >= 8
               THEN xg ELSE -xg END AS s
        FROM e CROSS JOIN range(0, 64) p),
      bits AS (SELECT vec_id, p,
                 CASE WHEN sum(s) > 0 THEN 1 ELSE 0 END AS bit
               FROM sgn GROUP BY vec_id, p),
      bands AS (SELECT vec_id, p // 8 AS band_id,
                  CAST(sum(bit << CAST(p % 8 AS INT)) AS BIGINT) AS band_val
                FROM bits GROUP BY vec_id, p // 8),
      cand AS (SELECT a.vec_id AS a, b.vec_id AS b, count(*) AS bands_hit
               FROM bands a JOIN bands b ON a.band_id = b.band_id
                 AND a.band_val = b.band_val AND a.vec_id < b.vec_id
               GROUP BY a.vec_id, b.vec_id),
      n2 AS (SELECT vec_id, sum(CAST(xg AS HUGEINT) * xg) AS n2
             FROM e GROUP BY vec_id),
      dots AS (SELECT c.a, c.b, c.bands_hit,
                 sum(CAST(ea.xg AS HUGEINT) * eb.xg) AS dot
               FROM cand c
               JOIN e ea ON ea.vec_id = c.a
               JOIN e eb ON eb.vec_id = c.b AND eb.j = ea.j
               GROUP BY c.a, c.b, c.bands_hit),
      lpairs AS (
        SELECT d.a AS vec_a, d.b AS vec_b,
          CAST(d.bands_hit AS BIGINT) AS bands_hit
        FROM dots d
        JOIN n2 na ON na.vec_id = d.a
        JOIN n2 nb ON nb.vec_id = d.b
        WHERE d.dot > 0 AND 10000 * d.dot * d.dot >= 1225 * na.n2 * nb.n2)"""

  val oracles: Map[String, String] = Map(
    "sim_knn_label" -> """
      WITH e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) AS xg
        FROM embeddings),
      lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
      n2 AS (SELECT vec_id, sum(CAST(xg AS HUGEINT) * xg) AS n2
             FROM e GROUP BY vec_id),
      d AS (SELECT eq.vec_id AS qid, et.vec_id AS vec_id,
              sum(CAST(eq.xg AS HUGEINT) * et.xg) AS dot
            FROM e eq JOIN e et ON et.j = eq.j
            WHERE eq.vec_id < 50 AND et.vec_id >= 50
            GROUP BY eq.vec_id, et.vec_id),
      k AS (SELECT d.qid, d.vec_id,
              (d.dot * abs(d.dot) * 1000000
                 - ((d.dot * abs(d.dot) * 1000000) % n2.n2 + n2.n2) % n2.n2)
                // n2.n2 AS key
            FROM d JOIN n2 ON n2.vec_id = d.vec_id WHERE n2.n2 > 0),
      nn AS (SELECT qid, vec_id FROM (
               SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                 ORDER BY key DESC, vec_id ASC) AS rn
               FROM k) t WHERE rn <= 10),
      votes AS (SELECT nn.qid, l.label, count(*) AS votes
                FROM nn JOIN lab l ON l.vec_id = nn.vec_id
                GROUP BY nn.qid, l.label)
      SELECT qid, label AS pred_label, CAST(votes AS BIGINT) AS votes FROM (
        SELECT qid, label, votes, row_number() OVER (PARTITION BY qid
          ORDER BY votes DESC, label ASC) AS rn
        FROM votes) t WHERE rn = 1
      ORDER BY qid""",

    "emb_kmeans" -> s"""
      WITH $kmeansCtes
      SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
        CAST(dist2 AS BIGINT) AS dist2
      FROM a2 ORDER BY vec_id""",

    "dedup_semantic" -> s"""
      WITH $kmeansCtes,
      pdot AS (SELECT ga.vec_id AS a, gb.vec_id AS b,
                 sum(CAST(ea.xg AS HUGEINT) * eb.xg) AS dot
               FROM a2 ga JOIN a2 gb ON ga.cluster = gb.cluster
                 AND ga.vec_id < gb.vec_id
               JOIN e ea ON ea.vec_id = ga.vec_id
               JOIN e eb ON eb.vec_id = gb.vec_id AND eb.j = ea.j
               GROUP BY ga.vec_id, gb.vec_id),
      dropped AS (SELECT DISTINCT p.b AS vec_id FROM pdot p
                  JOIN n2 na ON na.vec_id = p.a
                  JOIN n2 nb ON nb.vec_id = p.b
                  WHERE p.dot > 0
                    AND 10000 * p.dot * p.dot >= 1225 * na.n2 * nb.n2)
      SELECT a2.vec_id, CAST(a2.cluster AS BIGINT) AS cluster,
        CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM a2 LEFT JOIN dropped dr ON dr.vec_id = a2.vec_id
      ORDER BY a2.vec_id""",

    // null/zero-norm guard in TWO materialized stages: DuckDB's list
    // kernels reject a column VECTOR containing null rows even when a
    // same-query predicate excludes them (eager vectorized evaluation),
    // so the null filter must materialize BEFORE any list_* call sees the
    // column — mirroring Spark's cnorm/qnorm > 0 filters
    "sim_topk" -> s"""
      WITH $bruteNnCtes
      SELECT qid, rank, vec_id FROM bruteranks
      WHERE rank <= 10
      ORDER BY qid, rank""",

    // recall@10 of the IVF probe path against brute-force ground truth —
    // the ANN quality readout (measure, don't guess: an index whose probes
    // miss real neighbors should say so in the gate, not in production).
    // Both legs are the two already-gated plans verbatim (shared CTE
    // blocks, so the three oracles cannot drift); the metric is pure set
    // intersection of their top-10 id sets, so it inherits their
    // cross-engine rank determinism
    // the gated int8 rule replayed elementwise, the IVF cosine-ratio
    // key over the int8 grid, truth = the shared brute block
    "sim_recall_int8" -> s"""
      WITH $bruteNnCtes,
      el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS j,
               CAST(unnest(embedding) AS DOUBLE) AS x
             FROM embeddings),
      mx AS (SELECT vec_id, max(abs(x)) AS m FROM el GROUP BY vec_id
             HAVING max(abs(x)) > 0),
      q8 AS MATERIALIZED (SELECT el.vec_id, el.j,
               CAST(floor(el.x * (127.0 / mx.m) + 0.5) AS BIGINT) AS q
             FROM el JOIN mx ON mx.vec_id = el.vec_id),
      n8 AS (SELECT vec_id, sum(CAST(q AS HUGEINT) * q) AS n2
             FROM q8 GROUP BY vec_id),
      dq AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id,
               sum(CAST(a.q AS HUGEINT) * b.q) AS dd
             FROM q8 a JOIN q8 b ON b.j = a.j
             WHERE a.vec_id <= 4 GROUP BY a.vec_id, b.vec_id),
      i8key AS (SELECT dq.qid, dq.vec_id,
                 (dq.dd * abs(dq.dd) * 1000000
                    - ((dq.dd * abs(dq.dd) * 1000000) % n8.n2 + n8.n2)
                      % n8.n2) // n8.n2 AS key
               FROM dq JOIN n8 ON n8.vec_id = dq.vec_id),
      i8top AS (SELECT qid, vec_id FROM (
                  SELECT qid, vec_id, row_number() OVER (
                    PARTITION BY qid ORDER BY key DESC, vec_id ASC) AS rn
                  FROM i8key) t WHERE rn <= 10),
      brute8 AS (SELECT qid, vec_id FROM bruteranks WHERE rank <= 10)
      SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
        CAST(count(i.vec_id) AS BIGINT) AS n_hits,
        CAST(count(i.vec_id) AS DOUBLE) / count(*) AS recall
      FROM brute8 b
      LEFT JOIN i8top i ON i.qid = b.qid AND i.vec_id = b.vec_id
      GROUP BY b.qid
      ORDER BY b.qid""",

    "sim_recall_ivf" -> s"""
      WITH $bruteNnCtes,
      e AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) AS xg
        FROM embeddings),
      $ivfCoarseCtes,
      $ivfFineCtes,
      brute AS (SELECT qid, vec_id FROM bruteranks WHERE rank <= 10),
      ivf AS (SELECT qid, vec_id FROM ivfranks WHERE rank <= 10)
      SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
        CAST(count(i.vec_id) AS BIGINT) AS n_hits,
        CAST(count(i.vec_id) AS DOUBLE) / count(*) AS recall
      FROM brute b
      LEFT JOIN ivf i ON i.qid = b.qid AND i.vec_id = b.vec_id
      GROUP BY b.qid
      ORDER BY b.qid""",

    "sim_nn_per_label" -> """
      WITH nn0 AS MATERIALIZED (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE embedding IS NOT NULL),
      nn AS MATERIALIZED (
        SELECT * FROM nn0
        WHERE list_inner_product(embedding, embedding) > 0)
      SELECT label, vec_id, nn_vec_id FROM (
        SELECT CAST(a.label AS BIGINT) AS label, a.vec_id,
          b.vec_id AS nn_vec_id,
          row_number() OVER (
            PARTITION BY a.vec_id
            ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                     b.vec_id ASC) AS rn
        FROM nn a
        JOIN nn b ON a.label = b.label AND a.vec_id <> b.vec_id) t
      WHERE rn = 1
      ORDER BY vec_id""",

    "dedup_embed_cosine" -> s"""
      WITH $embedCosinePairSql
      SELECT label, vec_a, vec_b FROM cpairs
      ORDER BY vec_a, vec_b""",

    "emb_quantize_int8" -> """
      WITH e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS j,
          CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      s AS (SELECT vec_id, max(abs(x)) AS m FROM e GROUP BY vec_id)
      SELECT e.vec_id, e.j,
        CAST(floor(e.x * (127.0 / s.m) + 0.5) AS BIGINT) AS q
      FROM e JOIN s ON e.vec_id = s.vec_id
      WHERE s.m > 0
      ORDER BY e.vec_id, e.j""",

    "dedup_embed_lsh" -> s"""
      WITH $embedLshPairSql
      SELECT vec_a, vec_b, bands_hit FROM lpairs
      ORDER BY vec_a, vec_b""",

    // both legs' CTE chains verbatim, hit = their join — one source with
    // the leg oracles, so the metric cannot drift (the dedup_recall_lsh
    // shape)
    "dedup_recall_embed" -> s"""
      WITH $embedCosinePairSql,
      $embedLshPairSql,
      st AS (SELECT
        (SELECT count(*) FROM cpairs) AS n_true,
        (SELECT count(*) FROM lpairs) AS n_lsh,
        (SELECT count(*) FROM cpairs c
         JOIN lpairs l ON l.vec_a = c.vec_a AND l.vec_b = c.vec_b)
          AS n_hit)
      SELECT n_true, n_lsh, n_hit,
        CAST(n_hit AS DOUBLE) / nullif(n_true, 0) AS recall
      FROM st""",

    // the SRP chain read at both stages: raw band collisions (cand) vs
    // the exact-cosine-verified subset (lpairs) — same CTEs as the LSH
    // and recall oracles, so the three readouts share one definition
    "dedup_precision_embed" -> s"""
      WITH $embedLshPairSql,
      st AS (SELECT
        (SELECT count(*) FROM cand) AS n_cand,
        (SELECT count(*) FROM lpairs) AS n_true_dup)
      SELECT n_cand, n_true_dup,
        CAST(n_true_dup AS DOUBLE) / nullif(n_cand, 0) AS "precision"
      FROM st""",

    // replays the integer IVF path step for step: gridded vectors, rounded-
    // average integer centroids (floorDiv via the pmod trick), and the
    // floorDiv(d·|d|·1e6, n) cosine key — every value bit-equal to Spark's,
    // so even though IVF is an approximate ANN algorithm the oracle check
    // is an exact hash compare
    // e + the shared pqCtes block + ADC sum + rank
    // PQ ranks by L2, so the recall truth leg is the exact-integer
    // squared-L2 brute scan (n2b/bd/bruteL2) — both legs exact, the
    // metric a pure per-query set intersection (pq block shared with
    // sim_pq_topk via pqCtes, so the legs cannot drift)
    "sim_recall_pq" -> s"""
      WITH e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $EmbGridScale
            + 0.5) AS BIGINT) AS xg
        FROM embeddings),
      $pqCtes,
      adc AS (SELECT l.qid, k.vec_id, sum(l.d2) AS adc2
              FROM codes k JOIN lut l ON l.s = k.s AND l.code_id = k.code_id
              GROUP BY l.qid, k.vec_id),
      pqtop AS (SELECT qid, vec_id FROM (
                  SELECT qid, vec_id, row_number() OVER (
                    PARTITION BY qid ORDER BY adc2 ASC, vec_id ASC) AS rank
                  FROM adc) t WHERE rank <= 10),
      n2b AS (SELECT vec_id, sum(CAST(xg AS HUGEINT) * xg) AS n2
              FROM e GROUP BY vec_id),
      bd AS (SELECT q.vec_id AS qid, v.vec_id,
               sum(CAST(q.xg AS HUGEINT) * v.xg) AS dot
             FROM e q JOIN e v ON v.j = q.j
             WHERE q.vec_id <= 4
             GROUP BY q.vec_id, v.vec_id),
      bruteL2 AS (SELECT qid, vec_id FROM (
                    SELECT bd.qid, bd.vec_id, row_number() OVER (
                      PARTITION BY bd.qid
                      ORDER BY (nq.n2 - 2 * bd.dot + nv.n2) ASC,
                               bd.vec_id ASC) AS rank
                    FROM bd
                    JOIN n2b nq ON nq.vec_id = bd.qid
                    JOIN n2b nv ON nv.vec_id = bd.vec_id) t
                  WHERE rank <= 10)
      SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
        CAST(count(p.vec_id) AS BIGINT) AS n_hits,
        CAST(count(p.vec_id) AS DOUBLE) / count(*) AS recall
      FROM bruteL2 b
      LEFT JOIN pqtop p ON p.qid = b.qid AND p.vec_id = b.vec_id
      GROUP BY b.qid
      ORDER BY b.qid""",

    // the shared d1 block's min per (vector, subspace) IS the assigned
    // distortion; tiny per-subspace rollup with HUGEINT cast back
    "sim_pq_distortion" -> s"""
      WITH e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $EmbGridScale
            + 0.5) AS BIGINT) AS xg
        FROM embeddings),
      $pqCtes,
      md AS (SELECT vec_id, s, min(dist2) AS d2 FROM d1 GROUP BY vec_id, s)
      SELECT s, CAST(count(*) AS BIGINT) AS n_vecs,
        CAST(sum(d2) AS BIGINT) AS sum_d2,
        CAST(sum(d2) // count(*) AS BIGINT) AS avg_d2
      FROM md GROUP BY s ORDER BY s""",

    "sim_pq_topk" -> s"""
      WITH e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $EmbGridScale
            + 0.5) AS BIGINT) AS xg
        FROM embeddings),
      $pqCtes,
      adc AS (SELECT l.qid, k.vec_id, sum(l.d2) AS adc2
              FROM codes k JOIN lut l ON l.s = k.s AND l.code_id = k.code_id
              GROUP BY l.qid, k.vec_id),
      r AS (SELECT qid, vec_id, adc2, row_number() OVER (
              PARTITION BY qid ORDER BY adc2 ASC, vec_id ASC) AS rank
            FROM adc)
      SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        CAST(adc2 AS BIGINT) AS adc2
      FROM r WHERE rank <= 10
      ORDER BY qid, rank""",

    // the composition: coarse candidates (shared ivfCoarseCtes) ranked by
    // code distances (shared pqCtes) — a candidate pair is a probed
    // (query, cell) meeting the cell's assigned vectors, and its rank key
    // is the ADC sum over the vector's codes
    "sim_ivfpq_topk" -> s"""
      WITH e AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $EmbGridScale
            + 0.5) AS BIGINT) AS xg
        FROM embeddings),
      $ivfCoarseCtes,
      $pqCtes,
      cand AS (SELECT p.qid, a.vec_id
               FROM probes p JOIN assign a ON a.label = p.label),
      adc AS (SELECT cand.qid, cand.vec_id, sum(l.d2) AS adc2
              FROM cand
              JOIN codes k ON k.vec_id = cand.vec_id
              JOIN lut l ON l.qid = cand.qid AND l.s = k.s
                        AND l.code_id = k.code_id
              GROUP BY cand.qid, cand.vec_id),
      r AS (SELECT qid, vec_id, adc2, row_number() OVER (
              PARTITION BY qid ORDER BY adc2 ASC, vec_id ASC) AS rank
            FROM adc)
      SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        CAST(adc2 AS BIGINT) AS adc2
      FROM r WHERE rank <= 10
      ORDER BY qid, rank""",

    // the stored index (centroids + codebooks) is trained on `e` = the
    // OLD slice via the SHARED CTE blocks (no drift possible from the
    // gated index arithmetic); the batch CTEs replay assignment/encoding
    // of only the % 10 = 0 rows against it — akey/argmax and
    // dist2/argmin text copied verbatim from ivfCoarseCtes/pqCtes with
    // `e`→`eb`
    "sim_ivfpq_ingest" -> s"""
      WITH e AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $EmbGridScale
            + 0.5) AS BIGINT) AS xg
        FROM embeddings WHERE vec_id % 10 <> 0),
      $ivfStatsCtes,
      $pqCtes,
      eb AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $EmbGridScale
            + 0.5) AS BIGINT) AS xg
        FROM embeddings WHERE vec_id % 10 = 0),
      bd AS (SELECT b.vec_id, c.label,
               sum(CAST(b.xg AS HUGEINT) * c.cj) AS d
             FROM eb b JOIN c ON b.j = c.j
             GROUP BY b.vec_id, c.label),
      bkey AS (SELECT bd.vec_id, bd.label,
                 (bd.d * abs(bd.d) * 1000000
                    - ((bd.d * abs(bd.d) * 1000000) % nc2.nc2 + nc2.nc2)
                      % nc2.nc2) // nc2.nc2 AS key
               FROM bd JOIN nc2 ON bd.label = nc2.label),
      bassign AS (SELECT vec_id, label FROM (
                    SELECT vec_id, label, row_number() OVER (
                      PARTITION BY vec_id
                      ORDER BY key DESC, label ASC) AS rn
                    FROM bkey) t WHERE rn = 1),
      bsub AS (SELECT vec_id, (j-1) // $PqDsub AS s, (j-1) % $PqDsub AS jj,
                 xg
               FROM eb),
      bd1 AS (SELECT v.vec_id, v.s, c.code_id,
                sum(CAST(v.xg - c.cj AS HUGEINT) * (v.xg - c.cj)) AS dist2
              FROM bsub v JOIN c1 c ON c.s = v.s AND c.jj = v.jj
              GROUP BY v.vec_id, v.s, c.code_id),
      bcodes AS (SELECT vec_id, s, code_id FROM (
                   SELECT vec_id, s, code_id, row_number() OVER (
                     PARTITION BY vec_id, s
                     ORDER BY dist2 ASC, code_id ASC) AS rn
                   FROM bd1) t WHERE rn = 1),
      bwords AS (SELECT vec_id,
                   CAST(sum(code_id * (CAST(1 AS BIGINT) << (4 * s)))
                     AS BIGINT) AS code_key
                 FROM bcodes GROUP BY vec_id)
      SELECT a.vec_id, CAST(a.label AS BIGINT) AS cent_id, w.code_key
      FROM bassign a JOIN bwords w ON w.vec_id = a.vec_id
      ORDER BY a.vec_id""",

    // stage 1 = the sim_ivfpq_topk chain at k=50 (identical CTE text —
    // the shortlist cannot drift from the gated index); stage 2 = the
    // sim_ivf_topk fkey arithmetic over ONLY the shortlist pairs
    // (shared block: [[ivfRerankCtes]], also the recall readout's leg)
    "sim_ivf_rerank" -> s"""
      WITH e AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $EmbGridScale
            + 0.5) AS BIGINT) AS xg
        FROM embeddings),
      $ivfCoarseCtes,
      $pqCtes,
      $ivfRerankCtes
      SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id FROM rerankranks
      WHERE rank <= 10
      ORDER BY qid, rank""",

    // brute truth ∩ the shared rerank block — the recall-family shape
    "sim_recall_rerank" -> s"""
      WITH $bruteNnCtes,
      e AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $EmbGridScale
            + 0.5) AS BIGINT) AS xg
        FROM embeddings),
      $ivfCoarseCtes,
      $pqCtes,
      $ivfRerankCtes,
      brute AS (SELECT qid, vec_id FROM bruteranks WHERE rank <= 10),
      rr AS (SELECT qid, vec_id FROM rerankranks WHERE rank <= 10)
      SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
        CAST(count(r.vec_id) AS BIGINT) AS n_hits,
        CAST(count(r.vec_id) AS DOUBLE) / count(*) AS recall
      FROM brute b
      LEFT JOIN rr r ON r.qid = b.qid AND r.vec_id = b.vec_id
      GROUP BY b.qid
      ORDER BY b.qid""",

    // brute truth ∩ the prefix-cosine leg — the prefix leg repeats the
    // brute CTE shape over embedding[1:16] with its own norm guard
    "sim_recall_prefix" -> """
      WITH nn0 AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL),
      nn AS MATERIALIZED (
        SELECT vec_id, embedding FROM nn0
        WHERE list_inner_product(embedding, embedding) > 0),
      bruteranks AS (
        SELECT q.vec_id AS qid, e.vec_id,
          CAST(row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                     e.vec_id ASC) AS BIGINT) AS rank
        FROM nn q CROSS JOIN nn e
        WHERE q.vec_id <= 4),
      pf0 AS MATERIALIZED (
        SELECT vec_id, embedding[1:16] AS pe FROM embeddings
        WHERE embedding IS NOT NULL),
      pf AS MATERIALIZED (
        SELECT vec_id, pe FROM pf0
        WHERE list_inner_product(pe, pe) > 0),
      pranks AS (
        SELECT q.vec_id AS qid, e.vec_id,
          CAST(row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.pe, e.pe) DESC,
                     e.vec_id ASC) AS BIGINT) AS rank
        FROM pf q CROSS JOIN pf e
        WHERE q.vec_id <= 4),
      brute AS (SELECT qid, vec_id FROM bruteranks WHERE rank <= 10),
      pfx AS (SELECT qid, vec_id FROM pranks WHERE rank <= 10)
      SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
        CAST(count(p.vec_id) AS BIGINT) AS n_hits,
        CAST(count(p.vec_id) AS DOUBLE) / count(*) AS recall
      FROM brute b
      LEFT JOIN pfx p ON p.qid = b.qid AND p.vec_id = b.vec_id
      GROUP BY b.qid
      ORDER BY b.qid""",

    "sim_ivf_topk" -> s"""
      WITH e AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) AS xg
        FROM embeddings),
      $ivfCoarseCtes,
      $ivfFineCtes
      SELECT qid, rank, vec_id FROM ivfranks
      WHERE rank <= 10
      ORDER BY qid, rank""",

    // the shared coarse-index CTEs aggregated per cell; `label` IS the
    // engine's cent_id (per-label centroids)
    "sim_cell_histogram" -> s"""
      WITH e AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) AS xg
        FROM embeddings),
      $ivfCoarseCtes,
      cells AS (SELECT CAST(label AS BIGINT) AS cent_id,
                  count(*) AS cell_size
                FROM assign GROUP BY label)
      SELECT cent_id, cell_size,
        CAST((1000000 * cell_size) // sum(cell_size) OVER () AS BIGINT)
          AS share_ppm
      FROM cells
      ORDER BY cent_id""",

    // own-label dot only (unlike ivfCoarseCtes' all-labels `ad`); the
    // final ORDER BY d2 DESC, vec_id ASC LIMIT 20 mirrors the engine's
    // bounded top-k heap
    "emb_outliers" -> s"""
      WITH e AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) AS xg
        FROM embeddings),
      $ivfStatsCtes,
      od AS (SELECT e.vec_id, e.label,
               sum(CAST(e.xg AS HUGEINT) * c.cj) AS dot
             FROM e JOIN c ON c.label = e.label AND c.j = e.j
             GROUP BY e.vec_id, e.label)
      SELECT od.vec_id, CAST(od.label AS BIGINT) AS label,
        CAST(n2.n2 - 2 * od.dot + nc2.nc2 AS BIGINT) AS d2
      FROM od
      JOIN n2 ON n2.vec_id = od.vec_id
      JOIN nc2 ON nc2.label = od.label
      ORDER BY d2 DESC, od.vec_id ASC
      LIMIT 20""",

    "emb_centroids" -> """
      SELECT CAST(label AS BIGINT) AS label, j,
        CAST(sum(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
          / 1000000.0 / count(*) AS centroid
      FROM (
        SELECT label, generate_subscripts(embedding, 1) AS j,
          CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings)
      GROUP BY label, j
      ORDER BY label, j""",

    // grid-then-multiply replayed exactly: xg are BIGINT, products sum
    // into HUGEINT (Spark: decimal(38)), surfaced as DOUBLE/1e12
    "emb_pca_project" -> pcaOracleSql,
    "emb_whiten_project" -> whitenOracleSql,

    "emb_covariance" -> """
      WITH e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS j,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) AS xg
        FROM embeddings)
      SELECT a.j, b.j AS k, count(*) AS n_vecs,
        CAST(sum(a.xg * b.xg) AS DOUBLE) / 1e12 AS gram
      FROM e a
      JOIN e b ON b.vec_id = a.vec_id AND b.j >= a.j
      GROUP BY a.j, b.j
      ORDER BY a.j, k"""
  )
}
