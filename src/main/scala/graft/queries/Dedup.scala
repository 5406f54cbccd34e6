package graft.queries

import graft.Tables
import graft.operators.PairJoin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deduplication operators — the LLM-training-pipeline surface
  * (SURVEY.md §2.12): exact dedup, n-gram-Jaccard near-dup, MinHash+LSH
  * near-dup, SimHash, and duplicate-cluster connected components.
  *
  * The public functions operate on ANY corpus DataFrame with an id column
  * and a text column; the `queries` map instantiates them over the driver's
  * `documents` table. Everything is expressed as declarative DataFrame
  * plans over built-in, codegen'd functions (md5/conv/substring/bit ops) —
  * no UDFs — and every hash primitive is chosen to be *cross-engine
  * reproducible* so the DuckDB oracle can replicate the full pipeline
  * bit-for-bit: `hashHex(c, i, n) = int(md5(c)[i, n hex])` is the same
  * value in Spark (`conv(substring(md5(..), i, n), 16, 10)`) and DuckDB
  * (`CAST('0x' || substr(md5(..), i, n) AS BIGINT)`).
  *
  * Scale notes (100 TB discipline):
  *  - exact dedup is one hash-partitioned groupBy on a 128-bit fingerprint —
  *    the canonical shuffle-once pattern;
  *  - near-dup candidate generation is *inverted-index* based (explode
  *    shingles → self-join on shingle) with a document-frequency cap so a
  *    boilerplate shingle can never produce an O(df²) pair explosion; no
  *    all-pairs cross join exists anywhere;
  *  - MinHash-LSH reduces candidates further: 16 permutations banded 4×4,
  *    so only pairs agreeing on a full band (J ≈ 0.7+) collide;
  *  - pair verification (exact Jaccard) touches only candidate pairs;
  *  - every band or postings self-join (capped postings, LSH buckets,
  *    simhash bands) goes through [[graft.operators.PairJoin]]: its input
  *    is hash-partitioned on the join key, then persisted, so it shuffles
  *    once and both join sides read the cache with no exchange (the
  *    local-mode analog of staging a partitioned inverted index to
  *    storage between cluster jobs); a band table emits each pair from
  *    its lowest agreeing band, so no `distinct` follows the join.
  */
object Dedup {

  private val NumPerm = 16
  private val Bands = 4 // 4 bands × 4 rows
  private val SimBands = 4 // simhash bands: Hamming ≤ 3 leaves one intact
  private val DfCap = 1000

  /** Canonical (doc_id, text) view of an arbitrary corpus. */
  private def normalize(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))

  /** Keep the candidate pairs (a, b, common, na, nb) of [[cappedCommon]]
    * with Jaccard >= minJ. Unsorted — callers that surface the pairs add
    * the total sort; graph consumers (components) skip it. */
  private def jaccardFilter(common: DataFrame, minJ: Double): DataFrame =
    common
      .withColumn("jaccard",
        col("common") * lit(1.0) / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= minJ)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("common"),
        col("jaccard"))

  // ------------------------------------------------------------ public API

  /** Normalized-content 128-bit fingerprint — THE cross-engine dedup
    * identity (the DuckDB oracle replicates it bit-for-bit); null text
    * fingerprints as empty text so the fp key is total and join-safe.
    * `private[graft]`: the corpus-cleaning pipeline composes on it. */
  private[graft] def fingerprint: Column = fingerprintOf(col("text"))

  /** [[fingerprint]] over an arbitrary text expression (the upsert batch
    * fingerprints a DERIVED text column, not the scan's). */
  private[graft] def fingerprintOf(text: Column): Column =
    md5(coalesce(regexp_replace(asciiLower(text), "\\s+", " "), lit(""))
      .cast("binary"))

  /** Exact dedup: one row per distinct normalized content with its kept
    * representative (min id) and multiplicity. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    normalize(docs, idCol, textCol)
      .select(col("doc_id"), fingerprint.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_doc_id"), col("fp"), col("n_copies"))
      .orderBy(col("keep_doc_id"))
  }

  /** Verified near-dup pairs at Jaccard >= minJ via df-capped inverted-
    * index candidate generation, intersection counted directly in the
    * self-join's aggregation — one shuffle join + one groupBy, never a
    * candidates×postings re-join. */
  def jaccardPairs(docs: DataFrame, minJ: Double, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    jaccardPairsUnsorted(docs, minJ, idCol, textCol)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[jaccardPairs]] without the final total sort — for graph consumers
    * (components) whose edge builder doesn't need ordered pairs; skipping
    * it saves a range-partition + sort stage.
    *
    * Postings carry the 60-bit md5 shingle hash (`graft_shingle_hashes`),
    * not the shingle string: the self-join's shuffle/join key drops from a
    * ~20-byte string to 8 bytes, and set sizes / intersections are counted
    * over the hashed sets in BOTH engines, so the (astronomically rare)
    * collision shrinks them identically. Measured trade at sf0.1/local:
    * the per-shingle md5 adds ~5% query time vs raw-string postings; the
    * ~60% shuffle-byte reduction is what matters once the exchange is a
    * real network shuffle. */
  private[graft] def jaccardPairsUnsorted(docs: DataFrame, minJ: Double,
                                          idCol: String = "doc_id",
                                          textCol: String = "text"): DataFrame = {
    jaccardFilter(cappedCommon(docs, idCol, textCol), minJ)
  }

  /** The shared candidate machinery of the pairwise near-dup family:
    * df-capped hashed-shingle postings self-joined into per-pair
    * intersection counts, (a, b, common, na, nb) with a < b, where na and
    * nb are the two documents' distinct-shingle-set sizes. Consumers apply
    * their own similarity filter (symmetric Jaccard or asymmetric
    * containment) — the candidate cost is identical.
    *
    * Each posting carries its document's set size, (doc_id, n, h), so the
    * pair aggregation reads both sizes off the joined rows and no consumer
    * joins a size table back. The df-capped postings go through
    * [[PairJoin.selfJoin]]: they shuffle once, into its cache, and the
    * only exchange after it is the pair aggregation's. */
  private def cappedCommon(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // the per-doc shingle-hash kernel is the expensive projection and is
    // read by TWO consumers (df count, capped postings) — persist it once
    // so the kernel runs one corpus pass, not two
    val sh = graft.Caching.persistTracked(
      normalize(docs, idCol, textCol).select(col("doc_id"),
        graft.functions.GraftFunctions.shingleHashes(col("text")).as("hs")))
    val inv = sh.select(col("doc_id"), size(col("hs")).as("n"),
      explode(col("hs")).as("h"))
    // (A collect_list + local-pair-expansion formulation skips the
    // self-join, but its per-shingle pair loop runs as interpreted HOFs —
    // measured 35% slower at sf0.1.)
    PairJoin.selfJoin(PairJoin.capDf(inv, "h", DfCap), "doc_id", Seq("h"))
      .groupBy(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .agg(count(lit(1)).as("common"), max(col("l.n")).as("na"),
        max(col("r.n")).as("nb"))
  }

  /** Containment near-dup pairs (asymmetric Jaccard |A∩B|/|A|): catches
    * quote-inclusion / near-superset duplication that symmetric Jaccard
    * structurally misses — a short doc fully embedded in a long one
    * scores |A|/|B| ≪ 1 on Jaccard but 1.0 on its own containment. A
    * pair surfaces when EITHER side's containment clears `minC`; the
    * threshold compares on the 10⁶ integer grid ((common·10⁶) div n —
    * bit-stable), the surfaced ratios are correctly-rounded long/long
    * doubles. Same df-capped candidate cost as [[jaccardPairs]]. */
  def containmentPairs(docs: DataFrame, minC: Double,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val gridC = math.round(minC * 1e6)
    cappedCommon(docs, idCol, textCol)
      .filter(expr(s"(common * 1000000) div na >= $gridC OR " +
        s"(common * 1000000) div nb >= $gridC"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("common"),
        (col("common") * lit(1.0) / col("na")).as("cont_a"),
        (col("common") * lit(1.0) / col("nb")).as("cont_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash (16 perms) + LSH (4 bands × 4 rows) near-dup pairs, verified
    * by exact Jaccard >= minJ. Permutations are the classic linear family
    * h_i = h1 + i*h2 over ONE md5 per shingle (h1: 60 bits, h2: 32 bits →
    * no 64-bit overflow), computed per document by the native
    * `graft_minhash_sig` kernel — no posting explode, no signature
    * groupBy.
    *
    * Partition once by bucket, then work inside each partition: the
    * bucket table ([[lshBuckets]]) is built in one pass over the
    * documents, hash-partitioned on (band_id, h) and persisted, and the
    * band self-join ([[lshCandidates]]) reads the cache on both sides
    * with no exchange between either side and the cache. Each bucket row
    * carries its document's hashed shingle set, so verification
    * (`array_intersect` over the distinct 60-bit `graft_shingle_hashes`
    * arrays — the same hashed-set convention as [[jaccardPairsUnsorted]],
    * counted identically in the oracle) happens in the joined row: no
    * verification join, no broadcast. A pair is emitted only from the
    * lowest band where the two documents agree, so no `distinct` shuffle
    * is needed either; the only exchange after the cache is the final
    * sort's. The trade: the hashed set is copied once per band, in the
    * shuffle and in the cache. */
  def minhashLshPairs(docs: DataFrame, minJ: Double,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    withJaccard(lshCandidates(normalize(docs, idCol, textCol)))
      .filter(col("jaccard") >= minJ)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("common"),
        col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The LSH candidate pairs (a, b, hs_a, hs_b) of a corpus, a < b, each
    * once: the band self-join ([[PairJoin.selfJoin]] on (band_id, h)) of
    * [[minhashLshPairs]], shared with the `dedup_precision_lsh` readout so
    * it grades exactly this plan. A pair is emitted only from the lowest
    * band where the two documents' band hashes agree
    * ([[PairJoin.noLowerBandAgrees]]). */
  private def lshCandidates(norm: DataFrame): DataFrame =
    PairJoin.selfJoin(lshBuckets(norm), "doc_id", Seq("band_id", "h"),
        PairJoin.noLowerBandAgrees("bh", Bands))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        col("l.hs").as("hs_a"), col("r.hs").as("hs_b"))

  /** (doc_id, hs, bh, band_id, h): the LSH bucket table, one row per
    * (document, band). `hs` is the hashed shingle set, `bh` the 4 band
    * hashes (md5 over each band's comma-joined signature rows) and `h` =
    * `bh[band_id]`, the bucket key. One projection runs the two kernels
    * once per document; the band explode reads their outputs through
    * attributes, never re-evaluating a kernel. Documents with an empty
    * shingle set are in no bucket: their signature is NULL (and every
    * NULL signature would hash to the same band value), so `bh` is NULL
    * and the explode yields nothing. No Filter is used for that: a filter
    * on a kernel's output is pushed below the projection and re-runs the
    * kernel. */
  private def lshBuckets(norm: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(norm.sparkSession)
    val rowsPerBand = NumPerm / Bands
    val bandHashes = array((0 until Bands).map(b =>
      md5(concat_ws(",", (0 until rowsPerBand).map(r =>
        element_at(col("ms"), b * rowsPerBand + r + 1).cast("string")): _*)
        .cast("binary"))): _*)
    val bands = array((0 until Bands).map(b =>
      struct(lit(b).as("band_id"), element_at(col("bh"), b + 1).as("h"))): _*)
    norm.select(col("doc_id"),
        graft.functions.GraftFunctions.shingleHashes(col("text")).as("hs"),
        graft.functions.GraftFunctions.minhashSig(
          graft.functions.GraftFunctions.shingles(col("text"))).as("ms"))
      .select(col("doc_id"), col("hs"),
        when(col("ms").isNotNull, bandHashes).as("bh"))
      .select(col("doc_id"), col("hs"), col("bh"),
        explode(when(col("bh").isNotNull, bands)).as("band"))
      .select(col("doc_id"), col("hs"), col("bh"), col("band.band_id"),
        col("band.h"))
  }

  /** Candidate pairs (.., hs_a, hs_b) plus the verified measures `common`
    * (hashed-set intersection) and `jaccard`. */
  private def withJaccard(cand: DataFrame): DataFrame =
    cand
      .withColumn("common",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jaccard", col("common") * lit(1.0) /
        (size(col("hs_a")) + size(col("hs_b")) - col("common")))

  /** Incremental NEAR-dup detection — the LSH sibling of [[incremental]]
    * (which only catches byte-identical content): every (batch doc,
    * corpus doc) pair whose exact Jaccard over hashed shingle sets is
    * >= `minJ`, found by joining the BATCH's LSH band keys against the
    * CORPUS's band keys instead of a corpus self-join.
    *
    * The continuous-ingest scale shape: a 100 TB corpus is represented
    * by two narrow stored tables — (doc_id, 4 band hashes) and (doc_id,
    * hashed shingle set) — built once at ingest (here derived from the
    * corpus slice, which is exactly that ingest pass). A new batch never
    * rescans corpus text: batch bands hash-join corpus bands (the only
    * corpus-wide shuffle, on the band bucket key), and verification
    * joins the candidate ids back to the two sides' shingle-set tables —
    * candidates only, never the corpus cross batch. Both sides' kernels
    * run exactly once; nothing is persisted because no frame is consumed
    * twice (the self-join pressure that forces [[minhashLshPairs]] to
    * persist does not exist here). Unlike the self-join, the band keys
    * do not carry the hashed sets: that would shuffle every corpus
    * document's set once per band, where the candidates' sets are joined
    * back once. Recall is the banding family's
    * 1−(1−j⁴)⁴ (read out by `dedup_recall_lsh`); precision is exact by
    * the verification join. */
  def minhashLshIncremental(batch: DataFrame, corpus: DataFrame,
                            minJ: Double, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(batch.sparkSession)
    val nb = normalize(batch, idCol, textCol)
    val nc = normalize(corpus, idCol, textCol)
    val cand = bandTable(nb).select(col("doc_id").as("a"), col("band_id"),
        col("h"))
      .join(bandTable(nc).select(col("doc_id").as("b"), col("band_id"),
        col("h")), Seq("band_id", "h"))
      .select(col("a"), col("b")).distinct()
    withJaccard(cand
        .join(hashedSetTable(nb).select(col("doc_id").as("a"),
          col("hs").as("hs_a")), "a")
        .join(hashedSetTable(nc).select(col("doc_id").as("b"),
          col("hs").as("hs_b")), "b"))
      .filter(col("jaccard") >= minJ)
      .select(col("a").as("batch_doc_id"), col("b").as("corpus_doc_id"),
        col("common"), col("jaccard"))
      .orderBy(col("batch_doc_id"), col("corpus_doc_id"))
  }

  /** (doc_id, band_id, h): the bucket keys of [[lshBuckets]] alone — the
    * column pruning drops the hashed set and its kernel. */
  private def bandTable(norm: DataFrame): DataFrame =
    lshBuckets(norm).select(col("doc_id"), col("band_id"), col("h"))

  /** (doc_id, hs): the distinct 60-bit hashed shingle set per document —
    * the verification side of [[minhashLshIncremental]]. Empty sets are
    * not filtered out: such documents are in no bucket, so no candidate
    * reaches them. */
  private def hashedSetTable(norm: DataFrame): DataFrame =
    norm.select(col("doc_id"),
      graft.functions.GraftFunctions.shingleHashes(col("text")).as("hs"))

  /** 60-bit SimHash signature per document: bitwise majority vote of token
    * hashes (h = first 60 bits of md5("99|" || token)), token multiplicity
    * = weight. Computed per document by the native `graft_simhash` kernel —
    * a pure projection, where the aggregation form exploded every token
    * ×60 bits through two shuffles. Documents with no tokens are absent
    * (the kernel yields NULL), exactly as they had no aggregation rows. */
  def simhashSignatures(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    normalize(docs, idCol, textCol)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash(col("text")).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Executable band-width rule for simhash banding, mirroring
    * [[Similarity.recommendedK]]: the band width (bits) that keeps a band
    * bucket's EXPECTED population at or below `targetBucketSize` for a
    * corpus of `corpusSize` documents — expected population is
    * n / 2^bits, so bits = ceil(log₂(n / target)). Floored at 15 (the
    * pinned fixture width of [[simhashPairs]]) and capped at 32 (4 bands
    * × 32 bits exhausts md5's 128 bits — beyond ~4×10⁹ expected docs per
    * target unit, widen the hash family itself, not the bands). Without
    * this rule the 15-bit band-value domain (2¹⁵ values) is a quadratic
    * cliff: at N = 10⁹ docs each bucket holds ~30k docs → ~4.6×10⁸
    * intra-bucket candidate pairs per bucket BEFORE the Hamming filter.
    * At 10⁹ docs the rule yields 30-bit bands → expected bucket
    * population 10⁹/2³⁰ ≈ 0.93 ≤ 1, candidate volume linear in N. A
    * production caller sizes the banding from its corpus count:
    * `simhashPairsWide(docs, recommendedBandBits(n))`. */
  def recommendedBandBits(corpusSize: Long,
                          targetBucketSize: Long = 1L): Int = {
    require(corpusSize > 0, "corpusSize must be positive")
    require(targetBucketSize > 0, "targetBucketSize must be positive")
    val perBucket = (corpusSize + targetBucketSize - 1) / targetBucketSize
    // ceil(log2(perBucket)): smallest b with 2^b >= perBucket
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(perBucket - 1)
    math.min(32, math.max(15, bits))
  }

  /** Band value `bits` wide at bit offset `lo` of an array<long> signature
    * (word w holds signature bits [64w, 64w+64), low-to-high) — plain
    * shift/mask column arithmetic, codegen'd, handling bands that straddle
    * a word boundary. */
  private def bandValue(sig: Column, lo: Int, bits: Int): Column = {
    val w0 = lo / 64
    val off = lo % 64
    val first = shiftrightunsigned(element_at(sig, w0 + 1), off)
    val have = 64 - off
    val v =
      if (have >= bits) first
      else first.bitwiseOR(shiftleft(element_at(sig, w0 + 2), have))
    v.bitwiseAND(lit((1L << bits) - 1))
  }

  /** [[simhashPairs]] with the band width an explicit parameter — the
    * scale path: 4 bands × `bandBits` bits over the `graft_simhash_wide`
    * signature (ceil(4·bandBits/64) words of md5-derived SimHash), so a
    * caller at corpus size n keeps candidate volume linear with
    * `simhashPairsWide(docs, recommendedBandBits(n))`. Same pigeonhole
    * guarantee as the fixture form: Hamming ≤ 3 over the WIDE signature
    * leaves at least one of the 4 bands intact (completeness pinned
    * against brute force in `SimhashBandSpec`, including a
    * word-straddling band width). Not oracle-gated — the 128-bit
    * signature needs two md5-half extractions per token that the pinned
    * 60-bit oracle recipe does not express; the oracled queries stay on
    * [[simhashPairs]]' fixed 60-bit/15-bit form. */
  def simhashPairsWide(docs: DataFrame, bandBits: Int,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(bandBits >= 1 && bandBits <= 32,
      s"bandBits must be in [1, 32], got $bandBits")
    simhashBandPairs(docs, idCol, textCol, bandBits)(words =>
      graft.functions.GraftFunctions.simhashWide(col("text"), words))
  }

  /** SimHash near-dup pairs at Hamming distance <= 3, found via 15-bit
    * band blocking (4 bands). Pigeonhole: <= 3 differing bits leave at
    * least one of the 4 bands intact, so blocking loses no qualifying
    * pair. This fixed 60-bit/15-bit form is what the DuckDB oracle
    * replays; it is [[simhashPairsWide]]' core over the one-word signature
    * `array(graft_simhash(text))`, where the 15-bit band at offset 15b is
    * `shiftright(simhash, 15b) & 32767` and the Hamming distance is one
    * `bit_count`. At larger corpus sizes the band-value domain must grow
    * with the corpus — use [[simhashPairsWide]] with
    * [[recommendedBandBits]], the executable form of the "band bits ~
    * log₂ N + margin" rule. */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    simhashBandPairs(docs, idCol, textCol, 15)(_ =>
      array(graft.functions.GraftFunctions.simhash(col("text"))))

  /** The pair core of both simhash forms: (doc_a, doc_b, hamming) at
    * Hamming ≤ 3 over the signature `sig(words)` (an array<long>
    * expression over `text`, `words` = ceil(4·bandBits/64)), blocked on
    * [[SimBands]] bands of `bandBits` bits. The band table carries the
    * signature and all band values, one row per (document, band), through
    * [[PairJoin.selfJoin]] on (band_id, band_val); a pair is emitted from
    * its lowest agreeing band only, so no `distinct` is needed, and the
    * Hamming distance is computed in the joined row. A document with no
    * tokens has a NULL signature or a NULL first word and is in no band;
    * the explode skips it, not a Filter, which would be pushed below the
    * projection and re-run the kernel. */
  private def simhashBandPairs(docs: DataFrame, idCol: String,
                               textCol: String, bandBits: Int)(
      sig: Int => Column): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val words = (SimBands * bandBits + 63) / 64
    val bands = array((0 until SimBands).map(b =>
      bandValue(col("sig"), b * bandBits, bandBits)): _*)
    val banded = normalize(docs, idCol, textCol)
      .select(col("doc_id"), sig(words).as("sig"))
      .select(col("doc_id"), col("sig"), bands.as("bands"))
      .select(col("doc_id"), col("sig"), col("bands"),
        posexplode(when(element_at(col("sig"), 1).isNotNull, col("bands")))
          .as(Seq("band_id", "band_val")))
    val hamming = (1 to words).map(i =>
      bit_count(element_at(col("l.sig"), i)
        .bitwiseXOR(element_at(col("r.sig"), i))).cast("long")).reduce(_ + _)
    PairJoin.selfJoin(banded, "doc_id", Seq("band_id", "band_val"),
        PairJoin.noLowerBandAgrees("bands", SimBands))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Duplicate-cluster assignment: connected components over an undirected
    * pair graph, by iterative min-label propagation to convergence. Every
    * id in `ids` gets its cluster representative (minimum id in its
    * component; itself when unique).
    *
    * Iterates only over nodes that appear in the pair graph (duplicates
    * are rare by definition — the label frontier is tiny relative to the
    * corpus); singletons get their identity label in one final join.
    *
    * Scale shape: labels keep their natural hash partitioning end to end —
    * no stage funnels the frontier through one task — and every join is
    * un-hinted, so AQE broadcasts the frontier while it is small and falls
    * back to a shuffle join when it is not (nothing is forced through the
    * driver). The rounds run through [[graft.Fixpoint]], which snapshots
    * each one; pass `checkpointDir` for reliable snapshots (the
    * cluster-scale setting). [[componentsStep]] carries each node's
    * previous label through the min-agg, so the count of changed labels
    * is observed on the round's own snapshot job and the loop stops when
    * it reads 0 — no second job per round. */
  def components(ids: DataFrame, pairs: DataFrame,
                 checkpointDir: Option[String] = None): DataFrame =
    componentsWithRounds(ids, pairs, checkpointDir)._1

  /** [[components]] plus the number of propagation rounds executed —
    * exposed so the pointer-doubling claim (rounds = O(log diameter)) is a
    * pinned, testable property rather than a comment. */
  private[graft] def componentsWithRounds(
      ids: DataFrame, pairs: DataFrame,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    // both edge directions from a single pass over the pair pipeline
    // (a union of two `pairs` references would execute it twice).
    // Hash-partitioned by src BEFORE the persist: every round joins the
    // edge list on src and the seed aggregates on src, so establishing
    // that partitioning once lets the cached frame serve them all with
    // zero further exchanges of the big side (guide §2.4 — the same
    // move as labelCommunities' pre-partitioned orientation table).
    val edges = graft.Caching.persistTracked(pairs.toDF("a", "b")
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src")))
    // seed = min(self, neighbors): the same aggregation that extracts the
    // node set performs the first propagation round for free (identical
    // fixpoint — min-label propagation is monotone from any state between
    // identity and the fixpoint); its `prev` is the identity label
    val seed = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("mindst"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("mindst")).as("component"),
        col("src").as("prev"))
    // an unconverged exit would silently split clusters (and diverge from
    // the fixpoint the oracle computes) — fail loudly at the cap instead
    val (labels, rounds) = graft.Fixpoint.iterate("components", seed,
      maxRounds = 32, failAtCap = true, checkpointDir)(
      componentsStep(edges, _))(
      count(when(col("component") =!= col("prev"), 1)),
      (_, changed) => changed == 0)
    val out = ids.toDF("doc_id")
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy(col("doc_id"))
    (out, rounds)
  }

  /** One label-propagation round: each node takes the minimum of its own
    * label, its neighbors' labels, and its label's label (pointer doubling
    * — long chains converge in O(log diameter) rounds rather than
    * O(diameter)). Returns (doc_id, component, prev) where `prev` is the
    * node's label before the round, so convergence is read off the same
    * materialized frame (`prev` is carried through the min-agg: exactly
    * one input row per node has it set, and min skips nulls). Exposed for
    * the plan audit: no stage here may be single-partition. */
  private[graft] def componentsStep(edges: DataFrame,
                                    labels: DataFrame): DataFrame = {
    val nullPrev =
      lit(null).cast(labels.schema("component").dataType).as("prev")
    // Join strategies pinned to shuffle-hash with the LABEL side as the
    // build (guide §3.1): the frontier is node-sized — too big to
    // broadcast at corpus scale, and locally the auto-broadcast builds
    // it in one serial task per round. With the edge list persisted
    // hash(src) and the label frame emerging from its groupBy(doc_id)
    // hash-partitioned (renames preserve it), both joins are
    // exchange-free on their big side.
    val propagated = edges
      .join(labels.select(col("doc_id").as("src"), col("component"))
        .hint("shuffle_hash"), "src")
      .select(col("dst").as("doc_id"), col("component"), nullPrev)
    val doubled = labels
      .join(labels.select(col("doc_id").as("component"),
        col("component").as("component2")).hint("shuffle_hash"),
        "component")
      .select(col("doc_id"), col("component2").as("component"), nullPrev)
    labels
      .select(col("doc_id"), col("component"), col("component").as("prev"))
      .union(propagated).union(doubled)
      .groupBy(col("doc_id"))
      .agg(min(col("component")).as("component"), min(col("prev")).as("prev"))
  }

  /** Incremental dedup for corpus ingest: of a batch of new documents,
    * keep only those whose normalized-content fingerprint is neither
    * already in the known set nor duplicated within the batch (batch-
    * internal ties keep the minimum id). One anti join against the known
    * fingerprints + one fingerprint groupBy — both hash-partitioned on the
    * 128-bit fingerprint, the same shuffle-once shape as [[exact]]. */
  def incremental(newDocs: DataFrame, knownFps: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  fpCol: String = "fp"): DataFrame = {
    normalize(newDocs, idCol, textCol)
      .select(col("doc_id"), fingerprint.as("fp"))
      .join(knownFps.select(col(fpCol).as("fp")), Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"))
      .select(col("keep_doc_id"), col("fp"))
      .orderBy(col("keep_doc_id"))
  }

  /** MERGE/upsert corpus maintenance — the step beyond [[incremental]]
    * (which only DETECTS novelty): fold a new batch into the corpus
    * snapshot and emit the NEXT snapshot with a per-row action audit.
    * Inputs are fingerprint tables — (id, fp) — not full documents, so at
    * 100 TB the operation touches id+16 bytes per corpus row, never the
    * text. Semantics per canonical id (the MERGE INTO shape):
    *
    *  - id only in batch              → `insert` (row enters the corpus)
    *  - id only in snapshot           → `keep`   (untouched corpus row)
    *  - in both, fingerprints equal   → `noop`   (re-delivered content)
    *  - in both, fingerprints differ  → `update` (content revision; the
    *                                    batch fingerprint wins)
    *
    * Exactly one output row per id — project (doc_id, fp) and the result
    * IS the next snapshot, which makes the operation idempotent:
    * re-upserting the same batch yields only `keep`/`noop` actions
    * (pinned by UpsertSpec). One full-outer hash join on the id — the
    * only shuffle — so the plan scales with the snapshot like [[exact]].
    * A null batch fingerprint would corrupt the `insert`-detection
    * null-sentinel; [[fingerprintOf]] never produces one (null text
    * fingerprints as empty). */
  def upsert(snapshot: DataFrame, batch: DataFrame): DataFrame =
    snapshot.toDF("doc_id", "fp")
      .join(batch.toDF("doc_id", "bfp"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("bfp"), col("fp")).as("fp"),
        when(col("fp").isNull, "insert")
          .when(col("bfp").isNull, "keep")
          .when(col("bfp") === col("fp"), "noop")
          .otherwise("update").as("action"))
      .orderBy(col("doc_id"))

  /** The `dedup_upsert_snapshot` demo batch, derived from the corpus so
    * every MERGE arm is exercised deterministically: doc_id % 3 == 0
    * re-delivers unchanged content (noop), % 3 == 1 revises the text
    * (update), % 3 == 2 arrives under a fresh id (insert; the +10⁷ shift
    * keeps synthetic ids disjoint from real ones at every fixture
    * scale). Shared with UpsertSpec's idempotence replay. */
  private[graft] def upsertDemoBatch(docs: DataFrame): DataFrame =
    docs.withColumn("m", col("doc_id") % 3)
      .select(
        when(col("m") === 2, col("doc_id") + 10000000L)
          .otherwise(col("doc_id")).as("doc_id"),
        fingerprintOf(
          when(col("m") === 1, concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))).as("fp"))

  /** Exact-substring duplication profile (the Lee et al. "Deduplicating
    * Training Data" metric, arXiv:2107.06499, reduced to its reporting
    * form): for every document, the fraction of its positional `k`-token
    * grams whose content also occurs in at least one OTHER document —
    * i.e. how much of the doc is verbatim-shared text. Unlike the
    * winnowing pairs (a SAMPLED span detector) this counts EVERY gram
    * position, and unlike Jaccard it is positional (multiplicity counts).
    *
    * Scale shape — strictly linear, with NO per-gram join at all: the dup
    * classification needs only each doc's UNIQUE-gram (df = 1) position
    * count, and a df-1 gram's single (doc, multiplicity) posting IS the
    * min of its one-row group — so `groupBy(h).agg(count, min(doc_id),
    * min(c))` extracts every unique gram's holder in one map-side-
    * combinable aggregation (a boilerplate gram shared by 10⁹ docs is one
    * combiner row per map partition and is simply filtered by nd > 1 —
    * it never rides a join or window partition), and
    * n_dup = n_grams − n_uniq. (An earlier formulation LEFT-JOINED the
    * posting table against the df-1 set; the join keys were unique on
    * the build side but the probe side still shuffled every posting of a
    * hot gram into one partition — the aggregation form has no such
    * residual straggler.) Gram
    * hashes are the 60-bit md5 convention of [[jaccardPairsUnsorted]],
    * computed by the native `graft_gram_hashes` kernel — one compiled
    * tokenize+hash pass per document (the declarative
    * `transform(sequence, i -> md5(concat_ws(slice(ws, i, k))))` form
    * re-evaluates the outer tokenizer expression per gram index — the
    * CSE-defeating-lambda trap — measured 7.2 s vs ~1 s at sf0.1) and
    * replayed bit-for-bit by the oracle. Null/short docs yield an empty
    * gram array, exactly like the oracle's range() over a null/short
    * token list. */
  def spanGramProfile(docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val norm = normalize(docs, idCol, textCol)
    val grams = coalesce(
      graft.functions.GraftFunctions.gramHashes(col("text"), k),
      array().cast("array<long>"))
    val gc = norm.select(col("doc_id"), explode(grams).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
    // a df-1 group has exactly one row, so min(doc_id)/min(c) ARE that
    // row — the holder extraction is pure aggregation, never a join
    val uniqCounts = gc.groupBy(col("h"))
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("doc_id"),
        min(col("c")).as("c"))
      .filter(col("nd") === 1)
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_uniq"))
    val per = gc.groupBy(col("doc_id")).agg(sum(col("c")).as("n_grams"))
    norm.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .join(uniqCounts, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_grams") - coalesce(col("n_uniq"), lit(0L)), lit(0L))
          .as("n_dup_grams"),
        // pre-coalesce n_grams: a gram-less doc has NULL dup_frac (there
        // is no fraction of zero grams), never a divide-by-zero
        ((col("n_grams") - coalesce(col("n_uniq"), lit(0L))).cast("double")
          / col("n_grams")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Novelty attribution over the positional-gram table: for every
    * document, how many of its k-gram positions carry content the corpus
    * had NOT seen in any smaller-id document — the ingest-order novelty
    * profile (which documents introduce content vs. repeat it; the
    * data-mixing/ordering readout that complements [[spanGramProfile]]'s
    * symmetric duplication fraction — a verbatim copy scores dup_frac 1
    * on both sides but novelty 0 only on the later one).
    *
    * Strictly linear with NO per-gram join at all: the novel holder of a
    * gram is by definition unique (the min doc_id over its postings), so
    * its (doc, multiplicity) pair is extracted by a packed-decimal min —
    * `min(doc_id·2²⁰ + c)` — in one map-side-combinable aggregation, and
    * per-doc novel counts are a second groupBy over those one-row-per-gram
    * results. A gram in 10⁹ documents contributes one combiner row per
    * map partition, never a join or window straggler. Decode uses the
    * floorMod recipe (exact for any doc_id sign, identical in both
    * engines); the pack requires c < 2²⁰ gram positions per document,
    * enforced loudly. Carried in decimal(38,0) so 64-bit doc ids cannot
    * overflow the pack. */
  def gramNoveltyProfile(docs: DataFrame, k: Int = 8,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val P = 1L << 20
    val norm = normalize(docs, idCol, textCol)
    val grams = coalesce(
      graft.functions.GraftFunctions.gramHashes(col("text"), k),
      array().cast("array<long>"))
    val gc = norm.select(col("doc_id"), explode(grams).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
    val cGuarded = when(col("c") >= P,
      raise_error(concat(lit(s"gramNoveltyProfile: more than ${P - 1} " +
        "positions of one gram in one document — widen the pack: "),
        col("c").cast("string"))).cast("long"))
      .otherwise(col("c"))
    val nv = gc
      .withColumn("pk",
        col("doc_id").cast(DecimalType(38, 0)) * lit(P) + cGuarded)
      .groupBy(col("h")).agg(min(col("pk")).as("pk"))
    val nov = nv.select(
        ((col("pk") - pmod(col("pk"), lit(P))) / lit(P)).cast("long")
          .as("doc_id"),
        pmod(col("pk"), lit(P)).cast("long").as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_novel"))
    val per = gc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"))
    norm.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .join(nov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        // NULL for gram-less docs; 0.0 for docs whose every gram was
        // already introduced by a smaller id (coalesce only the numerator)
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_grams"))
          .as("novelty_frac"))
      .orderBy(col("doc_id"))
  }

  /** Path-based convenience used by queries and tests. */
  def neardupPairs(s: SparkSession, d: String, minJ: Double): DataFrame =
    jaccardPairs(Tables.documents(s, d), minJ)

  // ---------------------------------------------------------------- queries

  val queries: Map[String, Q] = Map(
    "dedup_exact" -> ((s, d) => exact(Tables.documents(s, d))),

    "dedup_neardup_jaccard" -> ((s, d) =>
      jaccardPairs(Tables.documents(s, d), 0.6)),

    "dedup_minhash_lsh" -> ((s, d) =>
      minhashLshPairs(Tables.documents(s, d), 0.7)),

    // ---- LSH banding recall (the quality readout that decides the
    // band/row configuration in production, the dedup analog of
    // `sim_recall_ivf`): of the exact-Jaccard-≥0.7 pair set, what
    // fraction does the 4×4 MinHash banding surface? Both legs ARE the
    // gated plans (the df-capped exact pairs and the verified LSH
    // pairs), the hit set one semi-join between them — so the metric
    // cannot drift from the queries it grades. n_lsh can exceed n_hit:
    // the LSH verify intersects FULL hashed sets while the exact leg's
    // candidate intersection is df-capped (borderline pairs can clear
    // one and not the other — both definitions replayed exactly in the
    // oracle). Probabilistic as a DESIGN (1−(1−j⁴)⁴ collision curve),
    // deterministic as a computation: signatures are md5-derived, so
    // recall is bit-stable cross-engine.
    "dedup_recall_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val truth = graft.Caching.persistTracked(
        jaccardPairsUnsorted(docs, 0.7).select(col("doc_a"), col("doc_b")))
      val lsh = graft.Caching.persistTracked(
        minhashLshPairs(docs, 0.7).select(col("doc_a"), col("doc_b")))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val nLsh = lsh.agg(count(lit(1)).as("n_lsh"))
      val nHit = truth.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      nTrue.crossJoin(broadcast(nLsh)).crossJoin(broadcast(nHit))
        .select(col("n_true"), col("n_lsh"), col("n_hit"),
          expr("CAST(n_hit AS DOUBLE) / nullif(n_true, 0)").as("recall"))
    }),

    // ---- LSH banding PRECISION (the other axis of the band/row design
    // trade: `dedup_recall_lsh` reads what the banding MISSES, this
    // reads what it WASTES — the fraction of raw band-collision
    // candidates that survive exact verification, i.e. how much of the
    // verification join's cost is spent on false candidates; low
    // precision means fewer rows per band, high precision with low
    // recall means more). Same machinery as the gated LSH plan: the
    // candidate set IS `dedup_minhash_lsh`'s pre-verification band
    // self-join (`lshCandidates`, md5 signatures, so bit-stable
    // cross-engine), the verified set the same full-hashed-set Jaccard
    // ≥ 0.7 test — so the metric cannot drift from the plan it grades.
    // The readout is one global aggregate counting all candidates and
    // the verified ones; candidates stay bucketed by the banding bound
    // at any corpus size.
    "dedup_precision_lsh" -> ((s, d) =>
      withJaccard(lshCandidates(
          normalize(Tables.documents(s, d), "doc_id", "text")))
        .agg(count(lit(1)).as("n_cand"),
          count(when(col("jaccard") >= 0.7, 1)).as("n_true_dup"))
        .select(col("n_cand"), col("n_true_dup"),
          expr("CAST(n_true_dup AS DOUBLE) / nullif(n_cand, 0)")
            .as("precision"))),

    "dedup_components" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val pairs = jaccardPairsUnsorted(Tables.documents(s, d), 0.6)
        .select(col("doc_a"), col("doc_b"))
      components(docs, pairs)
    }),

    "dedup_containment" -> ((s, d) =>
      containmentPairs(Tables.documents(s, d), 0.8)),

    // ---- duplicate-cluster size histogram (the dedup REPORT: how much
    // of the corpus sits in 2-clusters vs giant components — the number
    // that decides whether near-dup pruning is a trim or a rewrite; a
    // heavy tail here is also the classic symptom of a too-loose
    // threshold). Two map-side-combinable aggregations on top of the
    // converged component labels.
    "dedup_cluster_sizes" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val pairs = jaccardPairsUnsorted(Tables.documents(s, d), 0.6)
        .select(col("doc_a"), col("doc_b"))
      components(docs, pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    // ---- threshold-tuning sweep: verified pair counts per 0.1-wide
    // Jaccard band from 0.5 up, with the cumulative count at-or-above
    // each band — the readout that decides WHERE to set the near-dup
    // threshold before a dedup rollout commits to one (a fat 0.5-0.6
    // band means the threshold choice moves a lot of mass; an empty one
    // means it's insensitive). One pair computation at the family's
    // df-capped candidate bound serves every band; the band is one IEEE
    // multiply+floor on the bit-stable jaccard (the review-sample
    // convention), and the cumulative window runs on the ≤6-row band
    // dimension.
    "dedup_threshold_sweep" -> ((s, d) => {
      jaccardPairsUnsorted(Tables.documents(s, d), 0.5)
        .withColumn("band", floor(col("jaccard") * 10).cast("long"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
        .withColumn("n_at_or_above", sum(col("n_pairs")).over(
          Window.orderBy(col("band").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("band"))
    }),

    "dedup_simhash" -> ((s, d) =>
      simhashSignatures(Tables.documents(s, d)).orderBy(col("doc_id"))),

    "dedup_simhash_pairs" -> ((s, d) =>
      simhashPairs(Tables.documents(s, d))),

    // ---- incremental ingest dedup ([[incremental]]): the batch of "new"
    // documents (doc_id % 10 != 0) against the known fingerprint set of
    // the already-ingested corpus slice (doc_id % 10 == 0) — the
    // continuous-ingest shape: one anti join + one groupBy, both
    // hash-partitioned on the 128-bit fingerprint, never a rescan of the
    // ingested corpus (only its fingerprint table)
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val known = docs.filter(col("doc_id") % 10 === 0)
        .select(fingerprint.as("fp")).distinct()
      incremental(docs.filter(col("doc_id") % 10 =!= 0), known)
    }),

    // ---- incremental NEAR-dup ([[minhashLshIncremental]]): the same
    // batch/corpus split as dedup_incremental, but at near-dup
    // granularity — batch bands joined against the corpus's stored band
    // index, candidates verified by exact Jaccard >= 0.7
    "dedup_incremental_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      minhashLshIncremental(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), minJ = 0.7)
    }),

    // ---- MERGE/upsert snapshot maintenance ([[upsert]]): the corpus
    // snapshot full-outer-joined with a derived batch exercising all
    // four actions — doc_id % 3 == 0 re-delivers unchanged content
    // (noop), % 3 == 1 revises the text (update), % 3 == 2 arrives
    // under a fresh id (insert); ids absent from the batch are kept.
    // The id shift (+10⁷) keeps synthetic inserts disjoint from real
    // ids at every fixture scale.
    "dedup_upsert_snapshot" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      upsert(docs.select(col("doc_id"), fingerprint.as("fp")),
        upsertDemoBatch(docs))
    }),

    "dedup_span_grams" -> ((s, d) =>
      spanGramProfile(Tables.documents(s, d), k = 8)),

    "dedup_gram_novelty" -> ((s, d) =>
      gramNoveltyProfile(Tables.documents(s, d), k = 8))
  )

  // ---------------------------------------------------------------- oracles

  /** Hashed-posting oracle CTEs replicating [[jaccardPairsUnsorted]]:
    * postings and set sizes over the DISTINCT 60-bit md5 shingle hashes —
    * bit-identical to `graft_shingle_hashes`. */
  private[queries] val hashedShingleCtes = """
      w AS (SELECT doc_id,
              list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
                          x -> len(x) > 0) AS w
            FROM documents),
      sh AS (SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in range(1, len(w)-1)]) AS shingles
             FROM w),
      hinv AS (SELECT DISTINCT doc_id,
                 CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
               FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) t),
      hsz AS (SELECT doc_id, count(*) AS n FROM hinv GROUP BY doc_id)"""

  /** Candidate verification over the DISTINCT hashed shingle sets
    * (hinv/hsz from [[hashedShingleCtes]]) — replays the Spark side's
    * `array_intersect` over `graft_shingle_hashes` arrays exactly. */
  private def verifySql(minJ: String, aName: String = "doc_a",
                        bName: String = "doc_b") = s"""
      common AS (
        SELECT c.a, c.b, count(*) AS common
        FROM cand c
        JOIN hinv ia ON ia.doc_id = c.a
        JOIN hinv ib ON ib.doc_id = c.b AND ib.h = ia.h
        GROUP BY c.a, c.b)
      SELECT c.a AS $aName, c.b AS $bName, CAST(c.common AS BIGINT) AS common,
        c.common * 1.0 / (sa.n + sb.n - c.common) AS jaccard
      FROM common c
      JOIN hsz sa ON sa.doc_id = c.a
      JOIN hsz sb ON sb.doc_id = c.b
      WHERE c.common * 1.0 / (sa.n + sb.n - c.common) >= $minJ
      ORDER BY $aName, $bName"""

  /** Positional 8-gram (doc_id, hash, multiplicity) oracle CTEs replaying
    * `graft_gram_hashes(text, 8)` + the per-(doc, gram) count — one shared
    * source for the span-duplication and novelty oracles. */
  private val gramCtes = s"""w AS (SELECT doc_id,
              list_filter(string_split_regex($asciiLowerTextSql, '[^a-z]+'),
                          x -> len(x) > 0) AS w
            FROM documents),
      gc AS (SELECT doc_id, h, count(*) AS c FROM (
               SELECT doc_id,
                 CAST(('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' ||
                   w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' ||
                   w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]), 1, 15))
                   AS BIGINT) AS h
               FROM w, unnest(range(1, len(w) - 6)) u(i)) t
             GROUP BY doc_id, h)"""

  /** The content-fingerprint expression as oracle SQL — THE one
    * definition of the normalized-content identity on the DuckDB side
    * (escaped for s-interpolated oracle strings: `\\t` etc. yield the
    * literal regex escapes). Spark twin: [[fingerprint]]. */
  private[queries] def fpExprSqlOf(text: String): String =
    s"md5(coalesce(regexp_replace(translate($text, " +
      "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), " +
      "'[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ''))"

  private[queries] val fpExprSql = fpExprSqlOf("text")

  /** The full Jaccard-0.6 pair graph + reachability closure as oracle
    * CTEs (body of the dedup_components oracle, shared with the
    * cluster-size histogram). Must be opened with `WITH RECURSIVE`. */
  private[queries] val componentsCtes = s"""$hashedShingleCtes,
      df AS (SELECT h, count(*) AS df FROM hinv GROUP BY h),
      invc AS (SELECT hinv.doc_id, hinv.h FROM hinv
               JOIN df ON df.h = hinv.h WHERE df.df <= 1000),
      common AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
                 FROM invc a JOIN invc b ON a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id),
      pairs AS (SELECT c.a, c.b FROM common c
                JOIN hsz sa ON sa.doc_id = c.a
                JOIN hsz sb ON sb.doc_id = c.b
                WHERE c.common * 1.0 / (sa.n + sb.n - c.common) >= 0.6),
      sym AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
      reach(n, m) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, r.m FROM reach r JOIN sym e ON e.a = r.n)"""

  private val minhashSigSql = {
    val mins = (0 until NumPerm).map(i => s"min(h1 + $i * h2) AS m$i")
      .mkString(",\n               ")
    s"""hs AS (SELECT doc_id,
               CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
               CAST(('0x' || substr(md5(s), 16, 8)) AS BIGINT) AS h2
             FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) si),
      sig AS (SELECT doc_id,
               $mins
             FROM hs GROUP BY doc_id)"""
  }

  private val minhashBandsSql = (0 until Bands).map { b =>
    val cols = (0 until NumPerm / Bands)
      .map(r => s"m${b * (NumPerm / Bands) + r}").mkString(", ")
    s"SELECT doc_id, $b AS band_id, md5(concat_ws(',', $cols)) AS h FROM sig"
  }.mkString("\n        UNION ALL ")

  private val simhashCtes = """
      w AS (SELECT doc_id,
              list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
                          x -> len(x) > 0) AS w
            FROM documents),
      tok AS (SELECT doc_id,
                CAST(('0x' || substr(md5('99|' || t.t), 1, 15)) AS BIGINT) AS h
              FROM (SELECT doc_id, unnest(w) AS t FROM w) t),
      bits AS (SELECT doc_id, r.range AS j,
                 sum(CASE WHEN (h >> CAST(r.range AS INT)) % 2 = 1
                          THEN 1 ELSE -1 END) AS sgn
               FROM tok CROSS JOIN range(0, 60) r
               GROUP BY doc_id, r.range),
      sims AS (SELECT doc_id,
                 CAST(sum(CASE WHEN sgn > 0
                               THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                               ELSE 0 END) AS BIGINT) AS simhash
               FROM bits GROUP BY doc_id)"""

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> s"""
      SELECT min(doc_id) AS keep_doc_id,
        $fpExprSql AS fp,
        count(*) AS n_copies
      FROM documents
      GROUP BY fp
      ORDER BY keep_doc_id""",

    "dedup_neardup_jaccard" -> s"""
      WITH $hashedShingleCtes,
      df AS (SELECT h, count(*) AS df FROM hinv GROUP BY h),
      invc AS (SELECT hinv.doc_id, hinv.h FROM hinv
               JOIN df ON df.h = hinv.h WHERE df.df <= 1000),
      common AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
                 FROM invc a JOIN invc b ON a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)
      SELECT c.a AS doc_a, c.b AS doc_b, CAST(c.common AS BIGINT) AS common,
        c.common * 1.0 / (sa.n + sb.n - c.common) AS jaccard
      FROM common c
      JOIN hsz sa ON sa.doc_id = c.a
      JOIN hsz sb ON sb.doc_id = c.b
      WHERE c.common * 1.0 / (sa.n + sb.n - c.common) >= 0.6
      ORDER BY doc_a, doc_b""",

    // same candidate CTEs; the filter is the 10^6-grid containment on
    // EITHER side, ratios surfaced as long/long doubles
    "dedup_containment" -> s"""
      WITH $hashedShingleCtes,
      df AS (SELECT h, count(*) AS df FROM hinv GROUP BY h),
      invc AS (SELECT hinv.doc_id, hinv.h FROM hinv
               JOIN df ON df.h = hinv.h WHERE df.df <= 1000),
      common AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
                 FROM invc a JOIN invc b ON a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)
      SELECT c.a AS doc_a, c.b AS doc_b, CAST(c.common AS BIGINT) AS common,
        c.common * 1.0 / sa.n AS cont_a,
        c.common * 1.0 / sb.n AS cont_b
      FROM common c
      JOIN hsz sa ON sa.doc_id = c.a
      JOIN hsz sb ON sb.doc_id = c.b
      WHERE (c.common * 1000000) // sa.n >= 800000
         OR (c.common * 1000000) // sb.n >= 800000
      ORDER BY doc_a, doc_b""",

    "dedup_minhash_lsh" -> s"""
      WITH $hashedShingleCtes,
      $minhashSigSql,
      bands AS (
        $minhashBandsSql),
      cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
               FROM bands a
               JOIN bands b ON a.band_id = b.band_id AND a.h = b.h
                           AND a.doc_id < b.doc_id),
      ${verifySql("0.7")}""",

    // the batch-vs-corpus band join over the SAME signature/band CTEs:
    // a = batch side (doc_id % 10 <> 0), b = corpus side (% 10 = 0) —
    // the engine's two-frame split replayed as predicates on the one
    // shared band table, so the oracle cannot drift from the self-join
    // family's signature definition
    "dedup_incremental_lsh" -> s"""
      WITH $hashedShingleCtes,
      $minhashSigSql,
      bands AS (
        $minhashBandsSql),
      cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
               FROM bands a
               JOIN bands b ON a.band_id = b.band_id AND a.h = b.h
               WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
      ${verifySql("0.7", "batch_doc_id", "corpus_doc_id")}""",

    // both legs' CTE chains verbatim (capped exact pairs; banded+verified
    // LSH pairs over FULL sets), hit = their join — one source with the
    // leg oracles, so the metric cannot drift
    "dedup_recall_lsh" -> s"""
      WITH $hashedShingleCtes,
      $minhashSigSql,
      bands AS (
        $minhashBandsSql),
      cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
               FROM bands a
               JOIN bands b ON a.band_id = b.band_id AND a.h = b.h
                           AND a.doc_id < b.doc_id),
      lshcommon AS (
        SELECT c.a, c.b, count(*) AS common
        FROM cand c
        JOIN hinv ia ON ia.doc_id = c.a
        JOIN hinv ib ON ib.doc_id = c.b AND ib.h = ia.h
        GROUP BY c.a, c.b),
      lsh AS (
        SELECT c.a, c.b FROM lshcommon c
        JOIN hsz sa ON sa.doc_id = c.a
        JOIN hsz sb ON sb.doc_id = c.b
        WHERE c.common * 1.0 / (sa.n + sb.n - c.common) >= 0.7),
      tdf AS (SELECT h, count(*) AS df FROM hinv GROUP BY h),
      tinvc AS (SELECT hinv.doc_id, hinv.h FROM hinv
                JOIN tdf ON tdf.h = hinv.h WHERE tdf.df <= 1000),
      tcommon AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
                  FROM tinvc a
                  JOIN tinvc b ON a.h = b.h AND a.doc_id < b.doc_id
                  GROUP BY a.doc_id, b.doc_id),
      truth AS (
        SELECT c.a, c.b FROM tcommon c
        JOIN hsz sa ON sa.doc_id = c.a
        JOIN hsz sb ON sb.doc_id = c.b
        WHERE c.common * 1.0 / (sa.n + sb.n - c.common) >= 0.7),
      st AS (SELECT
        (SELECT count(*) FROM truth) AS n_true,
        (SELECT count(*) FROM lsh) AS n_lsh,
        (SELECT count(*) FROM truth t
         JOIN lsh l ON l.a = t.a AND l.b = t.b) AS n_hit)
      SELECT n_true, n_lsh, n_hit,
        CAST(n_hit AS DOUBLE) / nullif(n_true, 0) AS recall
      FROM st""",

    // the recall oracle's LSH leg, read at both stages: raw band
    // candidates vs the verified subset
    "dedup_precision_lsh" -> s"""
      WITH $hashedShingleCtes,
      $minhashSigSql,
      bands AS (
        $minhashBandsSql),
      cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
               FROM bands a
               JOIN bands b ON a.band_id = b.band_id AND a.h = b.h
                           AND a.doc_id < b.doc_id),
      lshcommon AS (
        SELECT c.a, c.b, count(*) AS common
        FROM cand c
        JOIN hinv ia ON ia.doc_id = c.a
        JOIN hinv ib ON ib.doc_id = c.b AND ib.h = ia.h
        GROUP BY c.a, c.b),
      ver AS (
        SELECT c.a, c.b FROM lshcommon c
        JOIN hsz sa ON sa.doc_id = c.a
        JOIN hsz sb ON sb.doc_id = c.b
        WHERE c.common * 1.0 / (sa.n + sb.n - c.common) >= 0.7),
      st AS (SELECT
        (SELECT count(*) FROM cand) AS n_cand,
        (SELECT count(*) FROM ver) AS n_true_dup)
      SELECT n_cand, n_true_dup,
        CAST(n_true_dup AS DOUBLE) / nullif(n_cand, 0) AS "precision"
      FROM st""",

    "dedup_components" -> s"""
      WITH RECURSIVE $componentsCtes
      SELECT n AS doc_id, min(m) AS component
      FROM reach GROUP BY n ORDER BY doc_id""",

    // the same reachability closure, aggregated twice: component sizes,
    // then the size histogram
    "dedup_cluster_sizes" -> s"""
      WITH RECURSIVE $componentsCtes,
      comp AS (SELECT n AS doc_id, min(m) AS component
               FROM reach GROUP BY n),
      sizes AS (SELECT component, count(*) AS cluster_size
                FROM comp GROUP BY component)
      SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        count(*) AS n_clusters
      FROM sizes GROUP BY cluster_size
      ORDER BY cluster_size""",

    // the neardup candidate/verify chain at 0.5, banded by the same IEEE
    // multiply+floor, cumulated over the tiny band dimension
    "dedup_threshold_sweep" -> s"""
      WITH $hashedShingleCtes,
      df AS (SELECT h, count(*) AS df FROM hinv GROUP BY h),
      invc AS (SELECT hinv.doc_id, hinv.h FROM hinv
               JOIN df ON df.h = hinv.h WHERE df.df <= 1000),
      common AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
                 FROM invc a JOIN invc b ON a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id),
      j AS (SELECT c.common * 1.0 / (sa.n + sb.n - c.common) AS jaccard
            FROM common c
            JOIN hsz sa ON sa.doc_id = c.a
            JOIN hsz sb ON sb.doc_id = c.b
            WHERE c.common * 1.0 / (sa.n + sb.n - c.common) >= 0.5),
      bands AS (SELECT CAST(floor(jaccard * 10) AS BIGINT) AS band,
                  count(*) AS n_pairs
                FROM j GROUP BY band)
      SELECT band, n_pairs,
        CAST(sum(n_pairs) OVER (ORDER BY band DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS n_at_or_above
      FROM bands
      ORDER BY band""",

    "dedup_simhash" -> s"""
      WITH $simhashCtes
      SELECT doc_id, simhash FROM sims ORDER BY doc_id""",

    // fp expression identical to dedup_exact's; fp is never NULL (null
    // text fingerprints as ''), so NOT IN is a safe anti-join
    "dedup_incremental" -> s"""
      WITH fp AS (
        SELECT doc_id,
          $fpExprSql AS fp
        FROM documents),
      known AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 = 0)
      SELECT min(doc_id) AS keep_doc_id, fp
      FROM fp
      WHERE doc_id % 10 <> 0 AND fp NOT IN (SELECT fp FROM known)
      GROUP BY fp
      ORDER BY keep_doc_id""",

    // snapshot/batch derivations replayed verbatim (same fp expression
    // as dedup_exact's, applied to the revised text for the update arm);
    // NULL || ' rev2' is NULL in both engines, so null-text revisions
    // fingerprint as empty on both sides
    "dedup_upsert_snapshot" -> s"""
      WITH snap AS (SELECT doc_id, $fpExprSql AS fp FROM documents),
      b0 AS (SELECT doc_id % 3 AS m, doc_id, text FROM documents),
      batch AS (SELECT
          CASE WHEN m = 2 THEN doc_id + 10000000 ELSE doc_id END AS doc_id,
          ${fpExprSqlOf(
            "CASE WHEN m = 1 THEN text || ' rev2' ELSE text END")} AS bfp
        FROM b0)
      SELECT coalesce(s.doc_id, b.doc_id) AS doc_id,
        coalesce(b.bfp, s.fp) AS fp,
        CASE WHEN s.doc_id IS NULL THEN 'insert'
             WHEN b.doc_id IS NULL THEN 'keep'
             WHEN b.bfp = s.fp THEN 'noop'
             ELSE 'update' END AS action
      FROM snap s FULL OUTER JOIN batch b ON b.doc_id = s.doc_id
      ORDER BY doc_id""",

    // positional 8-gram hashes via a lateral range over the token list;
    // the dup classification recomputed from the df table directly (the
    // oracle needs no skew-proofing) — identical result to the engine's
    // unique-set anti-join formulation
    "dedup_span_grams" -> s"""
      WITH $gramCtes,
      dfx AS (SELECT h, count(*) AS nd FROM gc GROUP BY h),
      per AS (SELECT gc.doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT)
                  AS n_dup_grams
              FROM gc JOIN dfx ON dfx.h = gc.h
              GROUP BY gc.doc_id)
      SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
        coalesce(per.n_dup_grams, 0) AS n_dup_grams,
        CAST(per.n_dup_grams AS DOUBLE) / per.n_grams AS dup_frac
      FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
      ORDER BY d.doc_id""",

    // the packed-min replayed in HUGEINT with the floorMod decode (exact
    // for any doc_id sign; the quotient is exactly divisible so //'s
    // rounding mode is irrelevant — the ivf akey recipe)
    "dedup_gram_novelty" -> s"""
      WITH $gramCtes,
      nv AS (SELECT h, min(CAST(doc_id AS HUGEINT) * 1048576 + c) AS pk
             FROM gc GROUP BY h),
      nov AS (SELECT CAST((pk - ((pk % 1048576 + 1048576) % 1048576))
                       // 1048576 AS BIGINT) AS doc_id,
                CAST(sum((pk % 1048576 + 1048576) % 1048576) AS BIGINT)
                  AS n_novel
              FROM nv
              GROUP BY 1),
      per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams
              FROM gc GROUP BY doc_id)
      SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
        coalesce(nov.n_novel, 0) AS n_novel,
        CAST(coalesce(nov.n_novel, 0) AS DOUBLE) / per.n_grams
          AS novelty_frac
      FROM documents d
      LEFT JOIN per ON per.doc_id = d.doc_id
      LEFT JOIN nov ON nov.doc_id = d.doc_id
      ORDER BY d.doc_id""",

    "dedup_simhash_pairs" -> s"""
      WITH $simhashCtes,
      banded AS (SELECT doc_id, simhash, r.range AS band_id,
                   (simhash >> CAST(15 * r.range AS INT)) & 32767 AS band_val
                 FROM sims CROSS JOIN range(0, 4) r),
      cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
                 a.simhash AS sh_a, b.simhash AS sh_b
               FROM banded a
               JOIN banded b ON a.band_id = b.band_id
                            AND a.band_val = b.band_val
                            AND a.doc_id < b.doc_id)
      SELECT a AS doc_a, b AS doc_b,
        CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
      FROM cand
      WHERE bit_count(xor(sh_a, sh_b)) <= 3
      ORDER BY doc_a, doc_b"""
  )
}
