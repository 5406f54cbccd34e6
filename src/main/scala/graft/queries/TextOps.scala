package graft.queries

import graft.Tables
import graft.operators.PairJoin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis over the `documents` corpus.
  *
  * `wordcount_topn` is the flagship: it reproduces the reference's entire
  * observable query — scan → tokenize (maximal alpha runs,
  * `/root/reference/slave.cc:77-98`) → count-by-word
  * (`/root/reference/slave.cc:101-152`) → global top-N by count
  * (the reference's `master.cc:585-669`) — as one plan: scan →
  * PartitionTermCounts (the explode of the native `graft_term_counts`
  * per-doc term map, rewritten by `graft.plans.PartitionTermCountsRule`
  * to count every document of a partition into one table, as the
  * reference's map side does) → partial agg → shuffle → final agg →
  * TakeOrderedAndProject, with the reference's bounded-heap top-k.
  *
  * The rest are the training-data-pipeline text operators: token counting,
  * quality scoring, a deterministic language-ID heuristic, and document
  * fingerprinting. Everything is built from codegen'd built-in functions —
  * no UDFs in the hot path — and aggregates are map-side combinable.
  */
object TextOps {

  /** THE tokenizer (SURVEY.md §1 observable semantics): a word is a
    * maximal run of [a-z] after ASCII lowercasing (A–Z → a–z; every other
    * character delimits, [[graft.queries.asciiLower]]); empty tokens never
    * surface. Engine-portable by construction — byte-level kernels, the
    * declarative form, and the DuckDB oracle agree on ALL inputs, unicode
    * included (pinned by TokenizerSpec + UnicodeTextSpec). Shared by every
    * text/dedup operator. */
  def tokens(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(asciiLower(c), "[^a-z]+"), w => length(w) > 0)

  /** The Gopher rule measures (Rae et al. 2021, table A1) as one per-row
    * projection on the exact integer grid — doc_id plus n_words,
    * n_chars_nospace, mean_word_len_grid, alpha_word_pct,
    * symbol_word_pct, n_stop. THE one engine-side source for the filter
    * panel (`docs_gopher_quality`) and the rule-ablation report
    * (`docs_quality_ablation`); SQL twin: `gopherMeasureCtes`. */
  private def gopherMeasures(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", filter(split(col("text"), "\\s+"),
        w => length(w) > 0))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_chars_nospace",
        length(regexp_replace(col("text"), "\\s", "")).cast("long"))
      .withColumn("n_alpha_words",
        size(filter(col("ws"), w => w.rlike("[a-zA-Z]"))).cast("long"))
      .withColumn("n_symbol",
        regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long"))
      .withColumn("n_stop", size(filter(tokens(col("text")),
        w => w === "the" || w === "a" || w === "of")).cast("long"))
      .withColumn("mean_word_len_grid",
        expr("(n_chars_nospace * 100) div greatest(n_words, 1)"))
      .withColumn("alpha_word_pct",
        expr("(n_alpha_words * 100) div greatest(n_words, 1)"))
      .withColumn("symbol_word_pct",
        expr("(n_symbol * 100) div greatest(n_words, 1)"))
      .select(col("doc_id"), col("n_words"), col("n_chars_nospace"),
        col("mean_word_len_grid"), col("alpha_word_pct"),
        col("symbol_word_pct"), col("n_stop"))

  /** The sparse TF-IDF cosine pair frame behind `text_cosine_pairs` and
    * `text_nearest_dup` (unsorted; columns doc_a, doc_b, n_shared,
    * cosine — see the query's scaladoc for the grid/threshold
    * contract). */
  private[graft] def cosinePairs(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val tf = graft.Caching.persistTracked(Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.termCounts(col("text"))))
      .toDF("doc_id", "term", "tf"))
    val nDocs = tf.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val overCap = df.filter(col("df") > 1000).select(col("term"))
    val wc = graft.Caching.persistTracked(tf
      .join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("idf3",
        expr("((2 * (n_docs - df) + 1) * 1000) div (2 * df + 1)"))
      .withColumn("w", expr("(tf * idf3) div 1000"))
      .filter(col("w") >= 1)
      .join(broadcast(overCap), Seq("term"), "left_anti")
      .select(col("doc_id"), col("term"), col("w")))
    val norms = wc.groupBy(col("doc_id")).agg(sum(expr("w * w")).as("n2"))
    // shuffle-hash SELF-join of the cached weighted postings: the cache
    // comes out of the join on term, so it is already hash-partitioned
    // on term, and the final sf0.001 plan reads it on both sides with no
    // exchange; the hint only keeps the planner from broadcasting the
    // cached table (PairJoin.selfJoin would repartition it again)
    wc.select(col("doc_id").as("a"), col("term"), col("w").as("wa"))
      .hint("shuffle_hash")
      .join(wc.select(col("doc_id").as("b"), col("term"),
        col("w").as("wb")), "term")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(expr("wa * wb")).as("dot"), count(lit(1)).as("n_shared"))
      .join(norms.select(col("doc_id").as("a"), col("n2").as("na2")), "a")
      .join(norms.select(col("doc_id").as("b"), col("n2").as("nb2")), "b")
      // decimal(38) overflow in Spark yields NULL (the pair would be
      // SILENTLY dropped) while DuckDB's HUGEINT raises — so a corpus
      // exceeding the documented magnitude bound would surface as quiet
      // cross-engine drift. Convert the divergent failure mode into a
      // loud one: a NULL comparison can only mean overflow (dot/na2/nb2
      // are non-null by construction), so raise instead of filtering.
      .withColumn("pass",
        expr("CAST(dot AS DECIMAL(38,0)) * dot * 1000000 >= " +
          "CAST(250000 AS DECIMAL(38,0)) * na2 * nb2"))
      .withColumn("pass", when(col("pass").isNull,
          raise_error(format_string("cosinePairs: decimal(38) overflow " +
            "in cosine threshold (docs %d, %d) — corpus exceeds the " +
            "documented weight-magnitude bound", col("a"), col("b")))
            .cast("boolean"))
        .otherwise(col("pass")))
      .filter(col("pass")).drop("pass")
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("n_shared"),
        (col("dot").cast("double") /
          sqrt((col("na2").cast("decimal(38,0)") * col("nb2"))
            .cast("double"))).as("cosine"))
  }

  /** Corpus-weighted adjacent character-pair counts over the word
    * vocabulary — the statistic a byte-pair-encoding tokenizer's first
    * merge epoch ranks (Sennrich et al., arXiv:1508.07909 §3). Weights
    * are word OCCURRENCES (Σ per-doc tf), matching classic BPE training,
    * and the pair alphabet is the tokenizer's [a-z], so the count table
    * is bounded by 26² rows after a map-side-combinable aggregation —
    * corpus size only affects the scan. */
  private[graft] def bpePairCounts(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val wd = Tables.documents(s, d)
      .select(explode(graft.functions.GraftFunctions.termCounts(col("text"))))
      .toDF("word", "tf")
      .groupBy(col("word")).agg(sum(col("tf")).as("n"))
    wd.filter(length(col("word")) >= 2)
      .select(col("word"), col("n"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("word").substr(col("i"), lit(1)).as("a"),
        col("word").substr(col("i") + 1, lit(1)).as("b"), col("n"))
      .groupBy(col("a"), col("b")).agg(sum(col("n")).as("cnt"))
  }

  /** The merge-rank table: top-`nMerges` pairs by (count desc, pair asc)
    * — a deterministic total order, so the table is bit-identical
    * cross-engine. Collected to the driver because it IS the
    * broadcast-sized artifact (≤ 26² candidate rows before the limit):
    * the encoder compiles it into a codegen'd expression chain, the SQL
    * oracle replays the same ranking relationally. */
  private[graft] def bpeMerges(s: SparkSession, d: String,
                               nMerges: Int): Seq[(String, String)] =
    bpePairCounts(s, d)
      .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
      .limit(nMerges)
      .collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** Deterministic synthetic merge table for the production-table-size
    * encode gate (`text_bpe_encode_1k`): rule i (1-based) merges the pair
    * (chr(97 + hex(md5("bpe1k:"+i))[1,2] % 26),
    *  chr(97 + hex(md5("bpe1k:"+i))[3,2] % 26)) — the first two md5 hex
    * byte values mapped onto [a-z], exactly replayable in DuckDB as
    * `chr(97 + ('0x' || substr(md5('bpe1k:' || i), 1, 2))::BIGINT % 26)`.
    * Synthetic because the fixture vocabulary (31 words) cannot yield
    * 1,000 learned rules; duplicates are inert re-applications in both
    * engines, so the table needs no dedup. */
  private[graft] def syntheticMerges(n: Int): Seq[(String, String)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to n).map { i =>
      md.reset()
      val d = md.digest(
        s"bpe1k:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (('a' + (d(0) & 0xff) % 26).toChar.toString,
        ('a' + (d(1) & 0xff) % 26).toChar.toString)
    }
  }

  /** Merge-table-driven BPE ENCODE of a word column, as one compiled
    * expression: the word is split to space-separated characters, then
    * each merge rule (a,b) in rank order rewrites every `"a b"` boundary
    * to `"ab"` — `replace` is left-to-right non-overlapping in BOTH
    * engines, which is exactly BPE's greedy-left application of a rule
    * within a word. The fold compiles the whole table into one
    * whole-stage-codegen projection (no UDF, no per-row loop object);
    * space is a safe piece separator because the tokenizer's words are
    * [a-z]+ only. Decode is `replace(s, ' ', '')` — the encode∘decode
    * identity is pinned by BpeSpec. */
  private[graft] def bpeEncodeCol(word: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val init = array_join(filter(split(word, ""), c => length(c) > 0), " ")
    merges.foldLeft(init) { case (acc, (a, b)) =>
      replace(acc, lit(a + " " + b), lit(a + b))
    }
  }

  /** Per-doc nearest-duplicate frame behind `text_nearest_dup` and
    * `text_dup_review_sample` (unsorted; columns doc_id, nbr, cosine):
    * both directions of the thresholded pair set, rank-1 per doc —
    * planned as WindowGroupLimit, so each partition keeps one row per
    * doc BEFORE the exchange. Ordering by the float cosine is bit-stable
    * cross-engine (identical exact integers → identical doubles);
    * neighbor id breaks exact-double ties. */
  private[graft] def nearestDup(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("cosine").desc, col("nbr").asc)
    val pairs = cosinePairs(s, d)
    pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("nbr"),
        col("cosine"))
      .union(pairs.select(col("doc_b").as("doc_id"),
        col("doc_a").as("nbr"), col("cosine")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("nbr"), col("cosine"))
  }

  /** Corpus word counts `(word, cnt bigint)`, unordered. Written as the
    * sum of per-document term frequencies; the optimizer plans it as
    * scan → PartitionTermCounts (one term table per partition,
    * [[graft.plans.PartitionTermCountsRule]]) → partial agg → shuffle →
    * final agg, so the partial aggregate sees each term once per
    * partition. */
  private def wordCounts(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    Tables.documents(s, d)
      .select(explode(graft.functions.GraftFunctions.termCounts(col("text"))))
      .toDF("word", "tf")
      .groupBy(col("word"))
      .agg(sum(col("tf")).as("cnt"))
  }

  /** Flagship word-count + top-N as a reusable plan. */
  def wordcountTopN(s: SparkSession, d: String, n: Int): DataFrame =
    wordCounts(s, d).orderBy(col("cnt").desc, col("word").asc).limit(n)

  val queries: Map[String, Q] = Map(
    // ---- the reference's query: word count + global top-N
    "wordcount_topn" -> ((s, d) => wordcountTopN(s, d, 20)),

    // ---- full word count (no limit): complete agg output, totally ordered
    "wordcount_full" -> ((s, d) => wordCounts(s, d).orderBy(col("word"))),

    // ---- token counting: whitespace tokens + BPE-ish subword pieces
    // (alpha runs / digit runs / single punctuation, the GPT-2 pre-tokenizer
    // family) + distinct words, per document
    "text_tokens" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), "\\s+")).cast("long").as("n_ws_tokens"),
          regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))
            .cast("long").as("n_bpe_tokens"),
          size(array_distinct(filter(split(asciiLower(col("text")), "[^a-z]+"),
            w => length(w) > 0))).cast("long").as("n_distinct_words"))
        .orderBy(col("doc_id"))
    }),

    // ---- BPE merge-table learning ([[bpePairCounts]]): the ranked
    // merge rules themselves, gated so the LEARNING step (not just the
    // encode) is oracle-checked. The global rank window runs on ≤ 26²
    // rows that survive a map-side-combined aggregation — bounded by the
    // pair alphabet, not the corpus.
    "text_bpe_merges" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
      bpePairCounts(s, d)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 50)
        .select(col("rank"), col("a"), col("b"), col("cnt"))
        .orderBy(col("rank"))
    }),

    // ---- real merge-table-driven BPE token counts ([[bpeEncodeCol]]):
    // where `text_tokens.n_bpe_tokens` counts GPT-2-family PRE-tokenizer
    // pieces by regex, this runs the actual byte-pair-encoding loop —
    // learn the top-50 merge ranks from corpus pair counts, encode every
    // vocabulary word by applying the merges in rank order, and surface
    // exact per-document token counts. Scale shape: the encode is a
    // codegen'd projection over the DISTINCT-WORD dictionary (vocabulary-
    // bounded, not corpus-bounded), joined back to the per-doc tf frame
    // by word — the per-occurrence work is one hash join, and the merge
    // table is a driver/broadcast-sized constant (≤ 50 rules compiled
    // into the expression). The FOLD shape is right at this table size
    // only: each rule adds an expression-tree level, so a production
    // table (GPT-2's 50k merges) would breach Janino's 64 KB method /
    // constant-pool limits long before it was exhausted — the scale path
    // is the native `graft_bpe_encode` kernel (same semantics, table as
    // a constant reference object, runtime loop; gated at 1,024 rules by
    // `text_bpe_encode_1k`, pinned ≡ this fold and exercised at 50k
    // rules in BpeSpec). Docs with no [a-z] words have no token rows on
    // either engine and are absent, like every tf-derived query.
    "text_bpe_tokens" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val merges = bpeMerges(s, d, 50)
      val tf = graft.Caching.persistTracked(Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.termCounts(col("text"))))
        .toDF("doc_id", "word", "tf"))
      val vocab = tf.select(col("word")).distinct()
        .withColumn("n_pieces",
          size(split(bpeEncodeCol(col("word"), merges), " ")).cast("long"))
      tf.join(vocab, "word")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).cast("long").as("n_words"),
          sum(col("tf") * col("n_pieces")).cast("long").as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- production-table-size BPE encode (the scale proof for the
    // encoder): the fixture vocabulary is 31 words / 107 mergeable
    // positions, so a >=1,000-rule table cannot be LEARNED from this
    // corpus at any SF — instead a deterministic 1,024-rule synthetic
    // table ([[syntheticMerges]]: rule i's pair chars are md5-derived,
    // replayed exactly by the oracle's chr(97 + md5 % 26) arithmetic)
    // drives the native `graft_bpe_encode` kernel, and the gate hashes
    // the FULL encoded string of every vocabulary word after all 1,024
    // rules. What this pins cross-engine: 1,024 sequential left-to-right
    // non-overlapping replace applications (the recursive-CTE oracle
    // applies them one level per rank) — the depth at which the fold
    // encoder's nested-replace expression tree would breach Janino
    // codegen limits, executed here as a constant-size codegen'd loop
    // (table rides as a reference object; BpeSpec asserts the projection
    // stays inside WholeStageCodegen and exercises a 50,000-rule table).
    // Scale shape: one vocabulary-bounded projection — corpus size only
    // affects the tf scan feeding the weights column.
    "text_bpe_encode_1k" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables.documents(s, d)
        .select(explode(graft.functions.GraftFunctions.termCounts(col("text"))))
        .toDF("word", "tf")
        .groupBy(col("word")).agg(sum(col("tf")).cast("long").as("n"))
        .withColumn("enc", graft.functions.GraftFunctions.bpeEncode(
          col("word"), syntheticMerges(1024)))
        .withColumn("n_pieces", size(split(col("enc"), " ")).cast("long"))
        .select(col("word"), col("n"), col("enc"), col("n_pieces"))
        .orderBy(col("word"))
    }),

    // ---- BPE round-trip (the decode kernel as the encode kernel's
    // inverse): every vocabulary word encoded with BOTH gated tables —
    // the 50-rule learned table and the 1,024-rule synthetic one — then
    // decoded by the table-free native `graft_bpe_decode` (merges only
    // remove piece boundaries, so decode is separator-drop under ANY
    // table). The gate emits the decoded strings themselves next to the
    // word plus the mismatch count, and the oracle asserts identity by
    // construction (dec_* = word, n_mismatch = 0 — the within_bound
    // constant-contract convention): a single non-identity row anywhere
    // in the vocabulary hash-fails the gate. Property coverage at other
    // table sizes (0 rules, 50k rules, random tables) lives in BpeSpec.
    // Scale shape: one vocabulary-bounded codegen'd projection.
    "text_bpe_roundtrip" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val fns = graft.functions.GraftFunctions
      Tables.documents(s, d)
        .select(explode(fns.termCounts(col("text"))))
        .toDF("word", "tf")
        .select(col("word")).distinct()
        .withColumn("dec_learned",
          fns.bpeDecode(fns.bpeEncode(col("word"), bpeMerges(s, d, 50))))
        .withColumn("dec_synth",
          fns.bpeDecode(fns.bpeEncode(col("word"), syntheticMerges(1024))))
        .withColumn("n_mismatch",
          (when(col("dec_learned") =!= col("word"), 1L).otherwise(0L) +
            when(col("dec_synth") =!= col("word"), 1L).otherwise(0L))
            .cast("long"))
        .select(col("word"), col("dec_learned"), col("dec_synth"),
          col("n_mismatch"))
        .orderBy(col("word"))
    }),

    // ---- quality scoring: length, alpha ratio, stopword ratio, mean word len
    "text_quality" -> ((s, d) => {
      val words = filter(split(asciiLower(col("text")), "[^a-z]+"),
        w => length(w) > 0)
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("n_words", size(words).cast("long"))
        .withColumn("n_stop", size(filter(words,
          w => w === "the" || w === "a" || w === "of")).cast("long"))
        // empty/whitespace-only documents have zero chars/words: their
        // ratios are NULL (nullif guard — ANSI mode raises DIVIDE_BY_ZERO
        // on the bare division; DuckDB's x/0 is natively NULL, and the
        // oracle carries the same nullif for expression-shape parity)
        .withColumn("alpha_ratio",
          length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
            / nullif(col("n_chars"), lit(0L)))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / nullif(col("n_words"), lit(0L)))
        .withColumn("mean_word_len",
          length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
            / nullif(col("n_words"), lit(0L)))
        .withColumn("quality",
          when(col("n_words") >= 20 && col("stop_ratio") < 0.4, 1.0)
            .otherwise(0.0))
        .select(col("doc_id"), col("n_chars"), col("n_words"), col("n_stop"),
          col("alpha_ratio"), col("stop_ratio"), col("mean_word_len"),
          col("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---- language-ID heuristic: deterministic n-gram/stopword scoring.
    // Scores each language by marker-token hits; argmax with a fixed
    // priority tie-break. (The corpus vocabulary is synthetic, so the
    // markers are drawn from its actual high-frequency tokens per lang.)
    "text_langid" -> ((s, d) => {
      langidScored(Tables.documents(s, d))
        // nullif: empty text has no vowel ratio (ANSI divide-by-zero guard,
        // mirrored in the oracle)
        .withColumn("vowel_ratio",
          length(regexp_replace(asciiLower(col("text")), "[^aeiou]", ""))
            .cast("double") / nullif(length(col("text")), lit(0)))
        .select(col("doc_id"), col("lang").as("lang_label"),
          col("score_en"), col("score_zh"), col("vowel_ratio"),
          col("lang_guess"))
        .orderBy(col("doc_id"))
    }),

    // ---- vocabulary growth curve (Heaps' law readout — the
    // tokenizer/vocab-planning profile: how the distinct-term count
    // grows as the corpus is ingested in id order; sub-linear growth
    // flattening early = a vocabulary cap is safe, a still-steep tail =
    // unbounded vocab pressure). Ten ingest-order deciles by doc_id
    // (bucket = (doc_id·10) div (max_id+1) against one broadcast 1-row
    // max — no corpus-wide window), each with CUMULATIVE docs, tokens,
    // and vocabulary. The vocabulary leg never counts distinct per
    // prefix (10 distinct passes): a term's first-appearance bucket is
    // one map-side-combinable min per term, and the per-bucket
    // new-term counts cumulate on the 10-row bucket dimension — one
    // postings pass total, linear at any corpus size.
    "text_vocab_growth" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val db = docs.crossJoin(broadcast(mx))
        .select(col("doc_id"), col("text"),
          expr("(doc_id * 10) div (mx + 1)").as("bucket"))
      val tb = db.select(col("bucket"), explode(tokens(col("text")))
        .as("term"))
      val nDocs = db.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      val nTok = tb.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
      val vNew = tb.groupBy(col("term"))
        .agg(min(col("bucket")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("vocab_new"))
      val cum = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      nDocs
        .join(nTok, Seq("bucket"), "left_outer")
        .join(vNew, Seq("bucket"), "left_outer")
        .select(col("bucket"),
          sum(col("n_docs")).over(cum).as("n_docs_cum"),
          sum(coalesce(col("n_tokens"), lit(0L))).over(cum)
            .as("n_tokens_cum"),
          sum(coalesce(col("vocab_new"), lit(0L))).over(cum)
            .as("vocab_cum"))
        .orderBy(col("bucket"))
    }),

    // ---- language-ID confusion matrix (the classifier-EVAL readout
    // behind text_langid): (labeled lang × guessed lang) cell counts plus
    // each label's total and the cell's recall on the ppm grid — the
    // table that decides whether the n-gram heuristic is good enough to
    // route documents, and where it fails. Built on the SAME scoring
    // projection as text_langid (shared langidScored/langidScoreSql — the
    // eval cannot drift from the classifier it grades). Scale shape: one
    // map-side-combinable (label, guess) count; everything after runs on
    // the #langs² cell dimension.
    "text_langid_confusion" -> ((s, d) => {
      val w = Window.partitionBy(col("lang_label"))
      langidScored(Tables.documents(s, d))
        .select(col("lang").as("lang_label"), col("lang_guess"))
        .groupBy(col("lang_label"), col("lang_guess"))
        .agg(count(lit(1)).as("n"))
        .withColumn("label_total", sum(col("n")).over(w))
        .withColumn("recall_ppm", expr("(1000000 * n) div label_total"))
        // nulls LAST: a salted-null lang label must land where DuckDB's
        // ASC default puts it (Spark's ASC default is nulls first)
        .orderBy(col("lang_label").asc_nulls_last,
          col("lang_guess").asc_nulls_last)
    }),

    // ---- sequence packing for training batches: assign documents (in
    // doc_id order) to fixed token-budget batches — batch_id is the
    // running token count before the document, integer-divided by the
    // budget. A three-level distributed prefix sum, every level bounded
    // and partitioned: per-shard window cumsums (≤256 docs/task), shard
    // offsets within each super-shard (window partitioned by super, ≤256
    // shards/task), and super-shard offsets via a broadcast triangular
    // join over the super totals (corpus/65536 rows — each extra level
    // divides the top frame by 256; add one when this outgrows broadcast).
    // No window anywhere runs unpartitioned; no task sees the corpus.
    // Token counting here is the whitespace proxy; a tokenizer-exact
    // budget swaps in `text_bpe_tokens`' per-doc n_bpe_tokens (the real
    // merge-table BPE counts) — same packing plan, different count
    // column.
    "docs_pack_batches" -> ((s, d) => {
      val budget = 512
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
          expr("doc_id DIV 256").as("shard"),
          expr("doc_id DIV 65536").as("super"))
      val wIn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Long.MinValue, -1)
      val within = toks.withColumn("within_before",
        coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      val shardTots = toks.groupBy(col("super"), col("shard"))
        .agg(sum(col("n_tokens")).as("tot"))
      val wSh = org.apache.spark.sql.expressions.Window
        .partitionBy(col("super")).orderBy(col("shard"))
        .rowsBetween(Long.MinValue, -1)
      // shard determines super, so downstream joins key on shard alone —
      // `within` is already hash-partitioned by shard from its window, and
      // AQE picks broadcast vs shuffle for the (corpus/256-row) offset side
      val shardOffsets = shardTots
        .withColumn("shard_off", coalesce(sum(col("tot")).over(wSh), lit(0L)))
        .select(col("shard"), col("super").as("ssuper"), col("shard_off"))
      val superTots = shardTots.groupBy(col("super"))
        .agg(sum(col("tot")).as("stot"))
      val superOffsets = superTots.as("a")
        .join(broadcast(superTots.as("b")),
          col("b.super") < col("a.super"), "left_outer")
        .groupBy(col("a.super").as("ssuper"))
        .agg(coalesce(sum(col("b.stot")), lit(0L)).as("super_off"))
      within.drop("super")
        .join(shardOffsets, "shard")
        .join(broadcast(superOffsets), "ssuper")
        .withColumn("cum_before",
          col("super_off") + col("shard_off") + col("within_before"))
        .select(col("doc_id"), col("n_tokens"),
          expr(s"cum_before DIV $budget").as("batch_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- winnowing fingerprints (Schleimer et al., SIGMOD 2003): hash
    // every 8-char gram, slide a 4-hash window, keep each window's minimum
    // — the classic local document fingerprint for plagiarism/near-dup
    // detection. Output is the distinct fingerprint set per document.
    //
    // One native codegen'd kernel per document (`graft_winnow`; the r2
    // array-HOF doubling formulation ran interpreted per element, and the
    // r1 char-explode + window form shuffled O(total chars) rows) — still
    // no shuffle before the final sort and no cross-document state, but
    // the gram-hash loop is compiled. Equivalence to the declarative form
    // is pinned in TextHashSpec.
    "text_winnow_fingerprint" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.winnow(col("text"))).as("fp"))
        .orderBy(col("doc_id"), col("fp"))
    }),

    // ---- bigram-LM quality score (the perplexity-filter shape): each
    // document scored by its bigrams' corpus-level conditional frequency,
    // P(w2|w1) ≈ count(w1 w2)/count(w1), on the exact integer grid
    // (count*1e6 div count — sums of integer divisions are bit-stable
    // cross-engine where float log-likelihoods are not). Per-doc bigram
    // counts come from the native `graft_bigram_counts` kernel — a pure
    // projection, so the bigram-instance explode + groupBy shuffle never
    // happens; the collapsed (doc, bigram, n) rows are persisted because
    // both corpus LM tables derive from them (a bare branch would
    // re-tokenize the corpus per reference). The unigram table folds from
    // the bigram table (c1 = Σ_w2 c2) and scoring is n·p over collapsed
    // rows. The probability table is broadcast here (toy vocab); at
    // open-vocab scale drop the hint and the identical plan hash-joins by
    // bigram — still linear, never a second corpus pass.
    "docs_lm_bigram_score" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val dtf = graft.Caching.persistTracked(Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.bigramCounts(col("text"))))
        .toDF("doc_id", "bigram", "n"))
      val bi = dtf.groupBy(col("bigram")).agg(sum(col("n")).as("c2"))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
      val uni = bi.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      val p = bi.join(uni, Seq("w1"))
        .withColumn("p_grid", expr("(c2 * 1000000) div c1"))
        .select(col("bigram"), col("p_grid"))
      dtf.join(broadcast(p), Seq("bigram"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_bigrams"),
          sum(col("n") * col("p_grid")).as("score_sum"))
        .withColumn("score_avg",
          col("score_sum").cast("double") / col("n_bigrams") / lit(1000000.0))
        .orderBy(col("doc_id"))
    }),

    // ---- document fingerprinting: md5 + sha256 over normalized text
    "text_fingerprint" -> ((s, d) => {
      val norm = regexp_replace(asciiLower(col("text")), "\\s+", " ")
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(norm.cast("binary")).as("fp_md5"),
          sha2(norm.cast("binary"), 256).as("fp_sha256"))
        .orderBy(col("doc_id"))
    }),

    // ---- repetition-ratio quality signal (the Gopher-style "fraction of
    // bigrams taken by the most frequent bigram" filter): high ratios mark
    // boilerplate / TOC-like documents. Per-doc bigram counting is the
    // native `graft_bigram_counts` kernel — a projection, so the only
    // shuffle left is the per-doc argmax aggregate (map-side combinable).
    // The ratio is one long/long → double division (correctly rounded,
    // engine-identical); the top bigram tie-breaks by the
    // lexicographically largest string via max(struct) — an argmax
    // aggregation, not a rank window.
    "docs_repetition" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      // the argmax is PER-DOCUMENT, so no explode+groupBy is needed at
      // all: the graft_top_bigram kernel counts bigrams AND arg-maxes them
      // (max count, ties → byte-wise largest bigram — the oracle's
      // `ORDER BY cnt DESC, bigram DESC`) in one compiled pass per row.
      // The old explode+max(struct) form shuffled every distinct bigram
      // and fell onto SortAggregate (struct buffers don't hash-aggregate);
      // this is a pure projection — the 100 TB shape. The bigram-instance
      // total is just tokens−1 (every adjacent pair counts once — exactly
      // the oracle's sum over grouped counts), so the filter and the
      // denominator ride the cheap codegen'd tokenizer and the kernel runs
      // once, after the filter. Docs with no bigrams had no exploded rows
      // before — the filter reproduces that.
      Tables.documents(s, d)
        .withColumn("n_bigrams",
          (size(tokens(col("text"))) - 1).cast("long"))
        .filter(col("n_bigrams") >= 1)
        .withColumn("top",
          graft.functions.GraftFunctions.topBigram(col("text")))
        .select(col("doc_id"), col("top.bigram").as("top_bigram"),
          col("top.cnt").as("top_cnt"), col("n_bigrams"),
          (col("top.cnt").cast("double") /
            col("n_bigrams").cast("double")).as("rep_ratio"))
        .orderBy(col("doc_id"))
    }),

    // ---- Gopher-style quality filter rules (Rae et al. 2021, "Scaling
    // Language Models", table A1): word-count bounds, mean word length
    // 3–10, symbol-to-word ratio < 0.1, ≥80% words alphabetic, ≥2
    // stopwords. Every measure lives on the exact integer grid (×100 div)
    // so the rule outcomes hash bit-equal cross-engine; the whole thing
    // is a per-row projection — no shuffle before the final sort, which
    // is exactly why this filter family is tractable on a 100 TB corpus.
    "docs_gopher_quality" -> ((s, d) => {
      gopherMeasures(Tables.documents(s, d))
        .withColumn("pass",
          col("n_words").between(50, 100000) &&
            col("mean_word_len_grid").between(300, 1000) &&
            col("alpha_word_pct") >= 80 &&
            col("symbol_word_pct") < 10 &&
            col("n_stop") >= 2)
        .orderBy(col("doc_id"))
    }),

    // ---- quality-rule ablation (the filter-TUNING report behind the
    // gopher panel): for each of the five rules, how many documents fail
    // it at all, and how many fail ONLY it — i.e. exactly the documents
    // that dropping (or loosening) that one rule would recover. The
    // marginal-attrition table is what a filtering rollout reads before
    // committing a threshold; a rule whose n_fail is large but whose
    // n_fail_only is ~0 is redundant with the rest of the panel. Built on
    // the SAME measure projection as docs_gopher_quality (shared
    // gopherMeasures / gopherMeasureCtes — the two cannot drift). Scale
    // shape: one per-row projection + ONE map-side-combinable global
    // aggregation to a single 10-sum row, unpivoted by stack into 5
    // rows — nothing after the projection scales with the corpus.
    "docs_quality_ablation" -> ((s, d) => {
      // positive-test form (rule-holds → 0, ELSE → 1) so a NULL measure
      // (null text) counts as a FAILURE in both engines — the negated
      // form's when(NULL) would fall through to "pass" while the
      // oracle's CASE ELSE 1 marks it failed (nulls-corpus lesson)
      val f = gopherMeasures(Tables.documents(s, d))
        .select(
          when(col("n_words").between(50, 100000), 0L).otherwise(1L)
            .as("f1"),
          when(col("mean_word_len_grid").between(300, 1000), 0L)
            .otherwise(1L).as("f2"),
          when(col("alpha_word_pct") >= 80, 0L).otherwise(1L).as("f3"),
          when(col("symbol_word_pct") < 10, 0L).otherwise(1L).as("f4"),
          when(col("n_stop") >= 2, 0L).otherwise(1L).as("f5"))
        .withColumn("nf",
          col("f1") + col("f2") + col("f3") + col("f4") + col("f5"))
      def only(c: String) =
        sum(when(col(c) === 1 && col("nf") === 1, 1L).otherwise(0L))
      f.agg(sum("f1").as("a1"), only("f1").as("o1"),
          sum("f2").as("a2"), only("f2").as("o2"),
          sum("f3").as("a3"), only("f3").as("o3"),
          sum("f4").as("a4"), only("f4").as("o4"),
          sum("f5").as("a5"), only("f5").as("o5"))
        .select(expr("stack(5, " +
          "'word_count', a1, o1, 'mean_word_len', a2, o2, " +
          "'alpha_words', a3, o3, 'symbol_ratio', a4, o4, " +
          "'stopwords', a5, o5) AS (rule, n_fail, n_fail_only)"))
        .orderBy(col("rule"))
    }),

    // ---- blocklist term scrubbing (the redaction/PII-masking shape:
    // same regexp machinery a real pipeline points at emails/phones/IPs;
    // the synthetic corpus has no PII, so the blocklist is domain terms
    // with observable hit counts). Pure projection — replacement and
    // match-count are per-row, codegen'd, shuffle-free. Boundaries are
    // ASCII-word lookarounds, NOT `\b`: Java's `\b` is Unicode-aware by
    // default (a term touching 'ş' or '日' has no boundary) while RE2's
    // is ASCII — the lookaround form is Java's spelling of RE2's `\b`,
    // so the oracle keeps `\b` and both engines agree on ALL text.
    "docs_redact_terms" -> ((s, d) => {
      val pat = "(?<![a-zA-Z0-9_])(customer|supplier|order|value)" +
        "(?![a-zA-Z0-9_])"
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_count(col("text"), lit(pat)).cast("long").as("n_redacted"),
          regexp_replace(col("text"), pat, "[REDACTED]").as("text_redacted"))
        .orderBy(col("doc_id"))
    }),

    // ---- structured PII audit (the pre-release scan a corpus ships
    // through before extracts leave the pipeline): per-document counts of
    // four PII classes — emails, IPv4 addresses, phone numbers, SSN-shaped
    // ids — via one codegen'd regexp_count per class. Pure projection,
    // shuffle-free, applies to 100 TB exactly as to 100 MB. The synthetic
    // corpus carries no PII, so the scan runs on a derived demo corpus
    // with deterministic per-arm injections (doc_id % 5 picks the class,
    // the upsert-demo convention) — every detector has live hits at every
    // fixture scale. Digit-class boundaries use the ASCII-word lookaround
    // spelling of RE2's `\b` (the docs_redact_terms parity rule); the
    // email pattern needs no boundary (the '@' anchor cannot occur inside
    // another match class), and greedy-quantifier matches of these
    // patterns are identical under Java's leftmost-first and RE2's
    // leftmost-longest (no alternation in any of them).
    "docs_pii_scan" -> ((s, d) => {
      val m = col("doc_id") % 5
      piiScan(Tables.documents(s, d).select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(m === 1, concat(lit(" contact agent"), col("doc_id"),
            lit("@example.com now")))
          .when(m === 2, concat(lit(" node at 10.0."), col("doc_id") % 256,
            lit(".17 port")))
          .when(m === 3, concat(lit(" call 555-01"), col("doc_id") % 10,
            lit("-4412 today")))
          .when(m === 4, concat(lit(" ssn 123-45-678"), col("doc_id") % 10,
            lit(" file")))
          .otherwise(lit(""))).as("text")))
    }),

    // ---- corpus-boilerplate fraction: the share of each document's
    // distinct 3-gram shingles that are corpus-common (document frequency
    // >= 4) — the CCNet/RefinedWeb-style boilerplate signal that feeds
    // span-removal or doc-level filtering decisions. Inverted-index shape:
    // one hash exchange on the 60-bit shingle hash (the same df window as
    // the near-dup candidate cap — postings stay partitioned by h), one
    // per-doc aggregation; no pair join anywhere, so cost is linear in
    // postings at any corpus size.
    "docs_boilerplate_ngrams" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val hinv = Tables.documents(s, d).select(col("doc_id"),
        explode(graft.functions.GraftFunctions.shingleHashes(col("text")))
          .as("h"))
      hinv
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") >= 4, 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("boiler_frac",
          col("n_boiler") * lit(1.0) / col("n_shingles"))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus-level bigram statistics: per-doc counts from the native
    // `graft_bigram_counts` kernel (projection — the shuffle input is
    // per-doc-distinct bigram partials, not raw instances), summed in one
    // count-by-bigram exchange, top-30 via TakeOrderedAndProject.
    "text_bigrams_top" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables.documents(s, d)
        .select(explode(
          graft.functions.GraftFunctions.bigramCounts(col("text"))))
        .toDF("bigram", "n")
        .groupBy(col("bigram"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc)
        .limit(30)
    }),

    // ---- PMI-ranked collocations (the phrase-mining readout raw bigram
    // counts cannot give: "kennedy airport" scores above "of the"
    // because PMI normalizes by the parts' own frequencies). The log is
    // irrational, but log is MONOTONE — so the gate ranks by the exact
    // integer ratio inside it: pmi_grid = (c_xy·N₁²·10⁶) div (N₂·c_x·c_y)
    // (c_xy ≥ 3 min-support cut — PMI's known pathology is rare pairs),
    // decimal(38)/HUGEINT products so nothing overflows at corpus scale
    // (c_xy·N₁²·10⁶ ≈ 10²⁶ at sf1), `div` floors identically in both
    // engines, (pmi_grid, bigram) a total order so the top-20 cut is
    // deterministic. Shape: the tokenize pass feeds two map-side-
    // combinable counts (unigrams, bigrams via the native kernels), two
    // scalar totals broadcast back, one hash join of the bigram table
    // against the unigram table on each side — no corpus-wide window.
    "text_pmi_bigrams" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val docs = Tables.documents(s, d)
      val uni = docs.select(explode(
          graft.functions.GraftFunctions.termCounts(col("text"))))
        .toDF("word", "n")
        .groupBy(col("word")).agg(sum(col("n")).cast(dec).as("cw"))
      val bi = docs.select(explode(
          graft.functions.GraftFunctions.bigramCounts(col("text"))))
        .toDF("bigram", "n")
        .groupBy(col("bigram")).agg(sum(col("n")).cast(dec).as("cxy"))
      val n1 = uni.agg(sum(col("cw")).cast(dec).as("n1"))
      val n2 = bi.agg(sum(col("cxy")).cast(dec).as("n2"))
      bi.filter(col("cxy") >= 3)
        .withColumn("x", split(col("bigram"), " ").getItem(0))
        .withColumn("y", split(col("bigram"), " ").getItem(1))
        .join(uni.select(col("word").as("x"), col("cw").as("cx")), "x")
        .join(uni.select(col("word").as("y"), col("cw").as("cy")), "y")
        .crossJoin(broadcast(n1))
        .crossJoin(broadcast(n2))
        .withColumn("pmi_grid",
          expr("(cxy * n1 * n1 * 1000000) div (n2 * cx * cy)")
            .cast("long"))
        .select(col("bigram"), col("cxy").cast("long").as("cnt"),
          col("pmi_grid"))
        .orderBy(col("pmi_grid").desc, col("bigram").asc)
        .limit(20)
    }),

    // ---- exact heavy hitters (tokens at >= 0.1% of the stream) via the
    // bounded-memory two-pass plan: Misra-Gries candidate sketch (k=2000
    // counters per partition, merged as k-bounded buffers) + exact recount
    // restricted to candidates by a broadcast semi-join. The full-count
    // form shuffles the entire vocabulary; this shuffles k-bounded sketch
    // buffers plus candidate-token counts only — the shape that survives a
    // 10^9-key vocabulary. Output is EXACT (the sketch only proposes;
    // superset guarantee + equivalence pinned in HeavyHittersSpec).
    "text_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word")).as[String]
      graft.operators.HeavyHitters.heavyHitters(toks, support = 1000L,
        sketchK = 2000)
    }),

    // ---- winnow-fingerprint shared-span pairs (Schleimer et al.'s
    // original use: plagiarism-style LOCAL overlap detection): documents
    // sharing >= 20 winnowing fingerprints (window density ~1 fp per 4
    // positions, so 20 shared fps ≈ an 80+-char verbatim span). The fifth
    // near-dup modality — winnow samples positional character-gram
    // minima, so shared spans surface even when token-level Jaccard is
    // diluted by unrelated text (complementing dedup_containment's
    // set-ratio view). Same df-capped inverted-index recipe as the
    // Jaccard family, but with the cap at 100, NOT the shingle family's
    // 1000: a character-gram fingerprint present in >100 documents is
    // boilerplate, not span evidence (MOSS-style systems cull far lower),
    // and the cap is THE quadratic bound — candidate volume is
    // Σ min(df, cap)², which the 1000 cap left at 144M pair increments on
    // the repetitive sf0.1 corpus (measured 39 s) vs 3.5M at 100 (~40×
    // less work for a strictly more span-faithful result).
    "dedup_winnow_pairs" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val fps = graft.Caching.persistTracked(Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.winnow(col("text")))
            .as("fp")))
      PairJoin.selfJoin(PairJoin.capDf(fps, "fp", 100), "doc_id", Seq("fp"))
        .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 20)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ---- inverted-index build (the materialization step a deployed
    // BM25/keyword retrieval system runs once per corpus snapshot): per
    // term, its document frequency and the FIRST 20 postings by doc id.
    // The scale-honest shape: the posting cap happens via a rank filter
    // BEFORE any list materializes (WindowGroupLimit bounds each term's
    // rows to 20 inside the exchange) — a bare collect_list-then-slice
    // would buffer a hot term's millions of postings in one aggregation
    // state. df comes from the same postings frame's count aggregate
    // (map-side combined), joined back on term; the array_sort on ≤ 20
    // elements makes collect_list's arrival order irrelevant. The head is
    // string-serialized (house convention: the driver's flat-column
    // comparator can't hash array cells — see GateSchemaSpec).
    "text_inverted_index" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("term")).orderBy(col("doc_id"))
      val postings = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("term"))
      val df = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      postings
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .groupBy(col("term"))
        .agg(array_join(array_sort(collect_list(col("doc_id"))), ",")
          .as("postings_head"))
        .join(df, "term")
        .select(col("term"), col("df"), col("postings_head"))
        .orderBy(col("term"))
    }),

    // ---- sparse TF-IDF cosine similarity join (the all-pairs similarity
    // join of Bayardo et al., WWW'07 — the LEXICAL-vector sibling of the
    // dense `dedup_embed_cosine`/LSH family): pairs of documents whose
    // TF-IDF vectors have cosine ≥ 0.5. Everything rides exact integers
    // until the final presentation column: idf3 is BM25's pre-log idf
    // ratio on the 10³ grid, w = (tf·idf3) div 10³ (zero-weight rows
    // dropped — they add join work, not signal), dot and the squared
    // norms are exact integer sums, and the threshold compares
    // CROSS-MULTIPLIED in decimal(38)/HUGEINT — dot²·10⁶ ≥ τ·‖a‖²·‖b‖²
    // with τ = cos²·10⁶ = 250000 — so no float touches a boundary
    // decision. The surfaced cosine IS cross-engine-bit-stable float:
    // int→double conversion, sqrt, and division are each correctly
    // rounded in IEEE-754, and both engines start from identical exact
    // integers. Magnitude bound: w ≤ tf·2N, so dot²·10⁶ ≤ (Σw²)²·10⁶
    // stays inside decimal(38) to N ≈ 10⁵ docs at fixture term counts;
    // beyond that drop idf to the 10¹ grid (a constant, not a shape
    // change — BM25's documented scaling note applies verbatim).
    // Plan shape is the near-dup family's: df computed by a
    // map-side-combinable groupBy, the over-cap blocklist (df > 1000,
    // the family's shared Σ min(df, cap)² bound; a FRACTIONAL cap or a
    // tighter absolute one silently erases large duplicate clusters —
    // at sf0.1 the fixture's dup clusters exceed 100 members, so their
    // terms' df does too, and a cap of 100 blocklisted exactly the
    // terms carrying the duplicate signal) BROADCAST
    // anti-joined onto the postings so a boilerplate term never funnels
    // one partition, candidate volume bounded by Σ min(df, cap)², and
    // norms/df/postings all read one persisted tf frame (one tokenize
    // pass). Oracle replays the grid term-for-term.
    "text_cosine_pairs" -> ((s, d) =>
      cosinePairs(s, d).orderBy(col("doc_a"), col("doc_b"))),

    // ---- nearest-duplicate report: each document's single best cosine
    // neighbor from the thresholded pair set — the form a 100 TB dedup
    // review actually materializes (the full pair list grows with
    // Σ cluster²; the per-doc argmax is one row per involved doc). Pairs
    // expand to both directions, then a rank-1 filter per doc — planned
    // as WindowGroupLimit, so each partition keeps one row per doc
    // BEFORE the exchange. Ordering by the float cosine is bit-stable
    // cross-engine (identical exact integers → identical doubles);
    // neighbor id breaks exact-double ties.
    "text_nearest_dup" -> ((s, d) =>
      nearestDup(s, d).orderBy(col("doc_id"))),

    // ---- stratified nearest-dup review sample: the audit queue a 100 TB
    // dedup rollout actually ships to human review — up to 5 docs per
    // cosine band (width 0.05; bands 10–20 cover the ≥0.5 threshold
    // range), chosen by id-hash rank so the sample is deterministic,
    // uniform within band, and stable under corpus growth. The band is
    // floor(cosine·20): one IEEE double multiply + floor on the already
    // bit-stable cosine, so band assignment is cross-engine exact. Plan:
    // the gated nearest-dup frame + one bounded rank window per band —
    // band count is a constant, so the window groups are bounded
    // regardless of corpus size.
    "text_dup_review_sample" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band")).orderBy(col("h"), col("doc_id"))
      nearestDup(s, d)
        .withColumn("band", floor(col("cosine") * 20).cast("long"))
        .withColumn("h",
          conv(substring(md5(col("doc_id").cast("string").cast("binary")),
            1, 15), 16, 10).cast("long"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("band"), col("rn"), col("doc_id"), col("nbr"),
          col("cosine"))
        .orderBy(col("band"), col("rn"))
    }),

    // ---- corpus-common segment removal with document REWRITE — the
    // C4/CCNet line-dedup rule (Raffel et al. 2020 §2.2 drop any line
    // occurring ≥3 times in the corpus; CCNet dedups on normalized
    // paragraph hashes) re-expressed for a corpus whose documents are
    // token streams without line structure: the unit is a fixed 3-token
    // non-overlapping segment (the fixture's ~50-word vocabulary makes 3
    // the discriminating width — 8-token segments never repeat on random
    // token soup; a production corpus swaps in the line/sentence splitter,
    // nothing else changes). A segment is boilerplate when its content
    // appears in ≥3 DISTINCT documents; the query emits each document's
    // segment count, dropped count, and the REASSEMBLED kept text — the
    // rewrite itself, not just a report. Scale shape: inverted-index, no
    // pair join — one distinct + groupBy on 60-bit segment hashes (the
    // corpus-frequency table), one hash join back to flag segments, one
    // per-doc regroup to reassemble (collect_list bounded by the per-doc
    // segment count — the same per-record bound as any text rewrite).
    // Docs with no tokens (null/empty text) surface as nulls via the
    // left-join spine in both engines.
    "text_segment_dedup" -> ((s, d) => {
      val segW = 3
      val segs = graft.Caching.persistTracked(Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
        .withColumn("nseg",
          expr(s"(CAST(size(ws) AS BIGINT) - 1) div $segW + 1"))
        .select(col("doc_id"), col("ws"),
          explode(expr("sequence(CAST(0 AS BIGINT), nseg - 1)")).as("i"))
        .select(col("doc_id"), col("i"),
          array_join(slice(col("ws"),
            (col("i") * segW + 1).cast("int"), lit(segW)), " ").as("seg"))
        .withColumn("h",
          conv(substring(md5(col("seg")), 1, 15), 16, 10).cast("long")))
      val boiler = segs.select(col("doc_id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("seg_df"))
        .filter(col("seg_df") >= 3)
        .select(col("h"), lit(1L).as("b"))
      val perDoc = segs.join(boiler, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segments"),
          sum(when(col("b") === 1L, 1L).otherwise(0L)).as("n_dropped"),
          array_join(transform(array_sort(collect_list(
            when(col("b").isNull, struct(col("i"), col("seg"))))),
            x => x.getField("seg")), " ").as("kept_text"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segments"), col("n_dropped"),
          col("kept_text"))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // ---- corpus n-gram diversity (distinct-n, Li et al. 2016; the
    // repetition/mode-collapse readout run over generated or curated
    // corpora): for n = 1, 2, 3, the total n-gram occurrences, the
    // distinct n-gram count, and their ratio on the ppm grid. One
    // tokenize pass persisted and shared by the three legs; each leg is
    // a projection (gram content hashed to 60 bits — the shuffle carries
    // fixed-width longs, not gram strings) into one count + exact
    // count-distinct aggregate. The exact distinct is the honest corpus
    // profile at fixture scale; the 100 TB estimate swaps in HLL
    // (`q20_agg_approx_distinct`'s operator) — same plan, sketch
    // aggregate, no distinct expand.
    "text_ngram_diversity" -> ((s, d) => {
      val toks = graft.Caching.persistTracked(Tables.documents(s, d)
        .select(tokens(col("text")).as("ws"))
        .filter(size(col("ws")) > 0))
      def leg(n: Int) = toks
        .filter(size(col("ws")) >= n)
        .select(explode(expr(
          s"transform(sequence(0, size(ws) - $n), " +
            s"i -> array_join(slice(ws, i + 1, $n), ' '))")).as("g"))
        .select(conv(substring(md5(col("g")), 1, 15), 16, 10)
          .cast("long").as("h"))
        .agg(count(lit(1)).as("total_grams"),
          count_distinct(col("h")).as("distinct_grams"))
        .select(lit(n.toLong).as("n"), col("total_grams"),
          col("distinct_grams"),
          expr("(distinct_grams * 1000000) div greatest(total_grams, 1)")
            .as("distinct_ppm"))
      leg(1).union(leg(2)).union(leg(3)).orderBy(col("n"))
    }),

    // ---- count-min sketch (Cormode & Muthukrishnan 2005) — the THIRD
    // mergeable-sketch family member (after the GK quantile sketch and
    // the Misra–Gries heavy-hitter sketch): d = 4 rows × w = 16
    // counters, bucket = md5-derived hash per (row, token). The counter
    // table is ONE map-side-combinable aggregation onto ≤ d·w = 64
    // keys — no vocabulary shuffle, mergeable across partitions/batches
    // by plain addition (the property `CmsSpec` pins) — built from the
    // per-doc `graft_term_counts` projection so the explode carries
    // per-doc-distinct terms, not raw token instances. The readout joins
    // the top-20 true-count tokens (the truth leg — the vocabulary
    // groupBy the sketch AVOIDS, present here only to grade it, like
    // every `*_recall_*` readout) against the broadcast counter table:
    // est = min over rows, and the deterministic one-sided guarantee
    // est ≥ true surfaces as a non-negative overcount column. All
    // integer; the oracle replays hashes, counters, and mins exactly.
    "text_cms_counts" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val tf = graft.Caching.persistTracked(cmsTermCounts(
        Tables.documents(s, d)))
      val counters = cmsCounters(tf)
      val top = tf.groupBy(col("term"))
        .agg(sum(col("tf")).cast("long").as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("term").asc)
        .limit(20)
      top.select(col("term"), col("true_cnt"),
          explode(expr("sequence(0, 3)")).as("r"))
        .withColumn("bucket", cmsBucket(col("r"), col("term")))
        .join(broadcast(counters), Seq("r", "bucket"))
        .groupBy(col("term"), col("true_cnt"))
        .agg(min(col("c")).as("cms_est"))
        .select(col("term").as("word"), col("true_cnt"), col("cms_est"),
          (col("cms_est") - col("true_cnt")).as("overcount"))
        .orderBy(col("true_cnt").desc, col("word").asc)
    }),

    // ---- BM25 retrieval top-k (Robertson/Spärck Jones; the ranking
    // function behind every lexical retrieval stage of a RAG/eval
    // pipeline), on the exact integer grid. Contract (documented, like
    // text_tfidf_top's): k1 = 6/5, b = 3/4 folded into exact rational
    // arithmetic —
    //   tfn6  = (44·tf·Ā·10⁶) div (20·tf·Ā + 6·Ā + 18·dl)   [Ā = avgdl div]
    //   idf3  = ((2(N−df)+1)·10³) div (2df+1)               [(N−df+½)/(df+½)]
    //   score = Σ_terms (idf3·tfn6) div 10³                  [10⁶ grid]
    // tfn6 is exactly tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)) with avgdl
    // floored to whole tokens (multiply through by 20·Ā); idf3 is the
    // BM25+ idf ratio before the log — the log is monotone, so per-term
    // ranking is order-identical and the grid keeps every comparison
    // bit-stable cross-engine where float log/division are not. Magnitude
    // bound: idf3 < 2N·10³, tfn6 ≤ 2.2·10⁶ → the product stays inside
    // int64 up to N ≈ 2·10⁹ docs; beyond that drop idf to a 10² grid (a
    // constant, not a shape change). Plan shape is the 100 TB retrieval
    // shape: the query-term table BROADCASTS onto the (doc,term,tf)
    // postings — only postings of query terms ever reach scoring — df/dl
    // join hash-partitioned, per-query top-10 plans as WindowGroupLimit.
    // One corpus tokenize pass (the postings frame is persisted and
    // reused for dl, the corpus stats, df, and scoring); a production
    // index would materialize that frame once and serve every query from
    // it.
    "text_bm25_topk" -> ((s, d) =>
      bm25TopK(s, d).orderBy(col("query_id"), col("rn"))),

    // ---- retrieval evaluation: MRR@10 over the BM25 ranking (the
    // metric an eval harness reports for any lexical/ANN retrieval
    // stage). Ranking leg = the GATED `text_bm25_topk` plan verbatim
    // (shared [[bm25TopK]] — the metric cannot drift from the query it
    // grades, the recall-readout convention); relevance truth is
    // deterministic boolean-AND containment (a doc is relevant to a
    // query iff it matches ALL the query's terms — n_terms_matched at
    // the query's own arity, no labels needed); per query, the rank of
    // the first relevant doc in the top-10 and the reciprocal rank on
    // the exact ppm grid (10⁶ div rank — 1/rank is rational, so the
    // grid is exact, never a float log like nDCG's). A query with no
    // relevant doc in its top-10 scores 0 (standard MRR@k), and the
    // static query spine left-joins so it still appears. Cost: the
    // bm25 plan + two tiny aggregates on the #queries dimension.
    "text_mrr_eval" -> ((s, d) => {
      val arity = bm25Queries(s).groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_qterms"))
      val rel = bm25TopK(s, d)
        .join(broadcast(arity), "query_id")
        .filter(col("n_terms_matched") === col("n_qterms"))
        .groupBy(col("query_id")).agg(min(col("rn")).as("fr"))
      arity.select(col("query_id"))
        .join(rel, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          coalesce(col("fr"), lit(0L)).as("first_rel_rank"),
          coalesce(expr("1000000 div fr"), lit(0L)).as("rr_ppm"))
        .orderBy(col("query_id"))
    }),

    // ---- retrieval evaluation, graded: nDCG@10 beside MRR@10 — the
    // second metric a retrieval rollout reports, distinguished by GRADED
    // relevance (gain = n_terms_matched, 0..arity, where MRR's truth is
    // the boolean all-terms cut). DCG@10 = Σ gain(rank)·w(rank) with
    // w(rank) = 1/log2(rank+1); the log is IRRATIONAL, so no float log
    // may reach the hash — instead w rides a PRECOMPUTED 10-row
    // rank-weight dimension ([[ndcgWeights]]: round(10⁶/log2(r+1)),
    // identical literals in the oracle's VALUES CTE — the fixed-
    // denominator-grid trick of events_conversion_lag). Ranking leg =
    // the gated `text_bm25_topk` cut ([[bm25RankTop]]); ideal leg ranks
    // the SAME [[bm25Matched]] frame by (gain desc, doc_id asc) — the
    // corpus-ideal top-10, not the retrieved list's re-sort — so both
    // legs share one source and the metric cannot drift from the
    // ranking it grades. ndcg_ppm = dcg·10⁶ div idcg (integer-exact); a
    // query with no matched doc anywhere scores 0 and stays on the
    // static query spine. Cost: the bm25 plan + one extra
    // WindowGroupLimit over the matched frame + two tiny aggregates on
    // the #queries dimension.
    "text_ndcg_eval" -> ((s, d) => {
      val matched = bm25Matched(s, d)
      val wts = broadcast(ndcgWeights(s))
      val dcg = bm25RankTop(matched)
        .join(wts, col("rn") === col("r"))
        .groupBy(col("query_id"))
        .agg(sum(col("n_terms_matched") * col("w")).as("dcg_grid"))
      val iw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("n_terms_matched").desc, col("doc_id").asc)
      val idcg = matched
        .withColumn("irn", row_number().over(iw).cast("long"))
        .filter(col("irn") <= 10)
        .join(wts, col("irn") === col("r"))
        .groupBy(col("query_id"))
        .agg(sum(col("n_terms_matched") * col("w")).as("idcg_grid"))
      bm25Queries(s).select(col("query_id")).distinct()
        .join(dcg, Seq("query_id"), "left_outer")
        .join(idcg, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          coalesce(col("dcg_grid"), lit(0L)).as("dcg_grid"),
          coalesce(col("idcg_grid"), lit(0L)).as("idcg_grid"),
          coalesce(expr("dcg_grid * 1000000 div idcg_grid"), lit(0L))
            .as("ndcg_ppm"))
        .orderBy(col("query_id"))
    }),

    // ---- tokenizer fertility per language (the multilingual-budget
    // readout: fertility = sub-word pieces per whitespace word; a
    // tokenizer trained on English typically fragments other languages
    // into 2-4× the pieces, so a shared token budget silently
    // under-trains them — this panel is how a mixture run SEES that
    // before committing the budget). Language = the gated `text_langid`
    // heuristic (shared [[langidScored]]); piece count = the GPT-2-family
    // pre-tokenizer regex of `text_tokens`; fertility on the exact ppm
    // grid (Σ pieces · 10⁶ div Σ words — never a float ratio). One
    // projection + one map-side-combinable aggregate onto the ≤3-row
    // language dimension; a null-text document has null counts (sums
    // skip it, n_docs keeps it — its language is 'und' by the shared
    // guess); an all-null group surfaces a null fertility rather than a
    // divide-by-zero.
    "text_token_fertility" -> ((s, d) => {
      langidScored(Tables.documents(s, d))
        .select(col("lang_guess"),
          size(split(col("text"), "\\s+")).cast("long").as("ws"),
          regexp_count(col("text"),
            lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).cast("long")
            .as("bpe"))
        .groupBy(col("lang_guess"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("n_ws_tokens"),
          sum(col("bpe")).as("n_bpe_tokens"))
        .withColumn("fertility_ppm",
          when(col("n_ws_tokens") > 0,
            expr("n_bpe_tokens * 1000000 div n_ws_tokens")))
        .orderBy(col("lang_guess"))
    })
  )

  /** The static retrieval query set shared by `text_bm25_topk` and
    * `text_mrr_eval` (SQL twin: the `qt` VALUES CTE in
    * [[bm25RankedSql]]). */
  private def bm25Queries(s: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    import s.implicits._
    Seq(
      0L -> "scan", 0L -> "column",
      1L -> "window", 1L -> "order",
      2L -> "hash", 2L -> "join",
      3L -> "stream", 3L -> "filter",
      4L -> "spark", 4L -> "merge").toDF("query_id", "qterm")
  }

  /** The nDCG rank-weight dimension: w(r) = round(10⁶ / log2(r+1)) for
    * r = 1..10, PINNED as literals (the log is irrational — computing it
    * at runtime would put a float log on the hash path; these constants
    * are the one-time rounding, identical in the oracle's VALUES CTE). */
  private def ndcgWeights(s: org.apache.spark.sql.SparkSession): DataFrame = {
    import s.implicits._
    Seq(1L -> 1000000L, 2L -> 630930L, 3L -> 500000L, 4L -> 430677L,
      5L -> 386853L, 6L -> 356207L, 7L -> 333333L, 8L -> 315465L,
      9L -> 301030L, 10L -> 289065L).toDF("r", "w")
  }

  /** The BM25 top-10 ranking behind `text_bm25_topk`, factored so
    * `text_mrr_eval` grades EXACTLY the gated plan: (query_id, rn,
    * doc_id, score_grid, n_terms_matched), rn ≤ 10 per query, unsorted
    * (each caller owns its presentation order). Grid arithmetic and plan
    * shape documented at the `text_bm25_topk` entry. */
  private[graft] def bm25TopK(s: org.apache.spark.sql.SparkSession,
                              d: String): DataFrame =
    bm25RankTop(bm25Matched(s, d))

  /** The per-(query, doc) BM25 score/match aggregate BEFORE the top-10
    * cut — factored out of [[bm25TopK]] so `text_ndcg_eval`'s ideal-DCG
    * leg ranks the SAME matched frame the retrieval leg ranks (one
    * source, the metric-cannot-drift convention; SQL twin: the `agg` CTE
    * of [[bm25RankedSql]]). */
  private[graft] def bm25Matched(s: org.apache.spark.sql.SparkSession,
                                 d: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val qterms = bm25Queries(s)
    val tf = graft.Caching.persistTracked(Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.termCounts(col("text"))))
      .toDF("doc_id", "term", "tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(dl) div count(1)").as("avgdl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(qterms), col("term") === col("qterm"))
      .join(df, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf3",
        expr("((2 * (n_docs - df) + 1) * 1000) div (2 * df + 1)"))
      .withColumn("tfn6", expr(
        "(44 * tf * avgdl * 1000000) div " +
          "(20 * tf * avgdl + 6 * avgdl + 18 * dl)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr("(idf3 * tfn6) div 1000")).as("score_grid"),
        count(lit(1)).as("n_terms_matched"))
  }

  /** The top-10 cut over a [[bm25Matched]] frame (WindowGroupLimit under
    * the (score desc, doc asc) total order). */
  private def bm25RankTop(matched: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_grid").desc, col("doc_id").asc)
    matched
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("rn"), col("doc_id"),
        col("score_grid"), col("n_terms_matched"))
  }

  /** Per-doc (term, tf) pairs from the native `graft_term_counts` kernel
    * — the CMS build input (the explode carries per-doc-distinct terms,
    * not raw token instances). Requires `ensureRegistered`. */
  private[graft] def cmsTermCounts(docs: DataFrame): DataFrame =
    docs.select(explode(
      graft.functions.GraftFunctions.termCounts(col("text"))))
      .toDF("term", "tf")

  /** The count-min bucket hash: row-salted 60-bit md5 prefix mod w = 16.
    * Cross-engine: `('0x' || substr(md5('cms' || r || ':' || term), 1,
    * 15))::BIGINT % 16` in DuckDB. */
  private[graft] def cmsBucket(r: Column, t: Column): Column =
    conv(substring(md5(concat(lit("cms"), r.cast("string"), lit(":"),
      t)), 1, 15), 16, 10).cast("long") % 16

  /** The CMS counter table (r, bucket, c) from a (term, tf) frame: one
    * map-side-combinable aggregation onto ≤ 4·16 keys. Mergeable by
    * plain addition across corpus splits — pinned in CmsSpec. */
  private[graft] def cmsCounters(tf: DataFrame): DataFrame =
    tf.select(col("term"), col("tf"),
        explode(expr("sequence(0, 3)")).as("r"))
      .select(col("r"), cmsBucket(col("r"), col("term")).as("bucket"),
        col("tf"))
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("tf")).cast("long").as("c"))

  /** The language-ID scoring projection behind `text_langid` and
    * `text_langid_confusion` — stopword-hit scores per language family
    * and the argmax guess, keeping every input column. SQL twin:
    * [[langidScoreSql]]. */
  private def langidScored(docs: DataFrame): DataFrame = {
    val words = filter(split(asciiLower(col("text")), "[^a-z]+"),
      w => length(w) > 0)
    docs
      .withColumn("ws", words)
      .withColumn("score_en", size(filter(col("ws"),
        w => w === "the" || w === "a")).cast("long"))
      .withColumn("score_zh", size(filter(col("ws"),
        w => w === "shu" || w === "ju")).cast("long"))
      .withColumn("lang_guess",
        when(col("score_zh") > col("score_en"), "zh")
          .when(col("score_en") > 0, "en")
          .otherwise("und"))
  }

  /** The PII class counters behind `docs_pii_scan`, over any (doc_id,
    * text) frame — per-document counts of emails, IPv4 addresses, phone
    * numbers, and SSN-shaped ids, plus the total and the release flag.
    * One codegen'd regexp_count per class; digit-class boundaries are the
    * ASCII-word lookaround spelling of RE2's `\b` (the docs_redact_terms
    * parity rule), so the DuckDB oracle's `\b` patterns agree on all
    * inputs. */
  private[graft] def piiScan(docs: DataFrame): DataFrame = {
    val lb = "(?<![a-zA-Z0-9_])"
    val la = "(?![a-zA-Z0-9_])"
    val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ipv4Pat = s"$lb([0-9]{1,3}\\.){3}[0-9]{1,3}$la"
    val phonePat = s"$lb[0-9]{3}-[0-9]{3}-[0-9]{4}$la"
    val ssnPat = s"$lb[0-9]{3}-[0-9]{2}-[0-9]{4}$la"
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit(emailPat)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(ipv4Pat)).cast("long").as("n_ipv4"),
        regexp_count(col("text"), lit(phonePat)).cast("long").as("n_phones"),
        regexp_count(col("text"), lit(ssnPat)).cast("long").as("n_ssn"))
      .select(col("doc_id"), col("n_emails"), col("n_ipv4"),
        col("n_phones"), col("n_ssn"),
        (col("n_emails") + col("n_ipv4") + col("n_phones") + col("n_ssn"))
          .as("pii_total"),
        when(col("n_emails") + col("n_ipv4") + col("n_phones") +
          col("n_ssn") > 0, 1L).otherwise(0L).as("has_pii"))
      .orderBy(col("doc_id"))
  }

  /** The language-ID stopword scores as oracle SQL (two projected
    * columns `score_en`, `score_zh`) and the argmax guess over them —
    * SQL twins of [[langidScored]], shared by the langid and confusion
    * oracles. */
  private val langidScoreSql = """
          len(list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
            w -> w = 'the' OR w = 'a')) AS score_en,
          len(list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
            w -> w = 'shu' OR w = 'ju')) AS score_zh"""

  private val langidGuessSql = """CASE WHEN score_zh > score_en THEN 'zh'
             WHEN score_en > 0 THEN 'en'
             ELSE 'und' END"""

  /** The Gopher measure chain as oracle CTEs (yields `g(doc_id, n_words,
    * n_chars_nospace, mean_word_len_grid, alpha_word_pct,
    * symbol_word_pct, n_stop)`) — SQL twin of [[gopherMeasures]], shared
    * by the filter-panel and rule-ablation oracles. */
  private val gopherMeasureCtes = """t AS (
        SELECT doc_id,
          list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'),
                      w -> len(w) > 0) AS ws,
          CAST(length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')) AS BIGINT)
            AS n_chars_nospace,
          CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT)
            AS n_symbol,
          CAST(len(list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
            w -> w = 'the' OR w = 'a' OR w = 'of')) AS BIGINT) AS n_stop
        FROM documents),
      m AS (
        SELECT doc_id,
          CAST(len(ws) AS BIGINT) AS n_words,
          CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
            AS BIGINT) AS n_alpha_words,
          n_chars_nospace, n_symbol, n_stop
        FROM t),
      g AS (
        SELECT doc_id, n_words, n_chars_nospace,
          (n_chars_nospace * 100) // greatest(n_words, 1)
            AS mean_word_len_grid,
          (n_alpha_words * 100) // greatest(n_words, 1) AS alpha_word_pct,
          (n_symbol * 100) // greatest(n_words, 1) AS symbol_word_pct,
          n_stop
        FROM m)"""

  private val wcOracle = (n: Int) => s"""
    SELECT word, count(*) AS cnt FROM (
      SELECT unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+')) AS word
      FROM documents) t
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word ASC
    LIMIT $n"""

  /** The sparse-cosine pair set as oracle CTEs (shared by
    * `text_cosine_pairs`, `text_nearest_dup`, and the SQL twin via the
    * pairs oracle — one source, so they cannot drift): the TF-IDF grid
    * term-for-term, the cross-multiplied HUGEINT threshold, the
    * correctly-rounded float cosine. */
  private[queries] val cosinePairCtes = """tok AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'), w -> len(w) > 0)) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             GROUP BY doc_id, term),
      nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      wp AS (
        SELECT t.doc_id, t.term,
          (t.tf * (((2 * (nn.n_docs - d.df) + 1) * 1000) // (2 * d.df + 1)))
            // 1000 AS w
        FROM tf t JOIN dfx d ON d.term = t.term CROSS JOIN nn
        WHERE d.df <= 1000
          AND (t.tf * (((2 * (nn.n_docs - d.df) + 1) * 1000)
            // (2 * d.df + 1))) // 1000 >= 1),
      norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
                FROM wp GROUP BY doc_id),
      dots AS (
        SELECT a.doc_id AS a, b.doc_id AS b,
          CAST(sum(a.w * b.w) AS BIGINT) AS dot, count(*) AS n_shared
        FROM wp a JOIN wp b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      pairs AS (
        SELECT d.a AS doc_a, d.b AS doc_b, d.n_shared,
          CAST(d.dot AS DOUBLE) /
            sqrt(CAST(CAST(na.n2 AS HUGEINT) * nb.n2 AS DOUBLE)) AS cosine
        FROM dots d
        JOIN norms na ON na.doc_id = d.a
        JOIN norms nb ON nb.doc_id = d.b
        WHERE CAST(d.dot AS HUGEINT) * d.dot * 1000000
          >= CAST(250000 AS HUGEINT) * na.n2 * nb.n2)"""

  /** The per-doc nearest-duplicate report as oracle CTEs (shared by
    * `text_nearest_dup` and `text_dup_review_sample` — one source, no
    * drift): both directions of the shared pair CTEs, rank-1 per doc. */
  private[queries] val nearestDupCtes = s"""$cosinePairCtes,
      bidir AS (
        SELECT doc_a AS doc_id, doc_b AS nbr, cosine FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS nbr, cosine FROM pairs),
      nd AS (
        SELECT doc_id, nbr, cosine FROM (
          SELECT doc_id, nbr, cosine,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY cosine DESC, nbr ASC) AS rn
          FROM bidir) r
        WHERE rn = 1)"""

  /** The BPE learning pipeline as oracle CTEs (shared by
    * `text_bpe_merges` and `text_bpe_tokens` — one source, no drift):
    * tokenize → per-doc tf → corpus word weights → weighted adjacent
    * char-pair counts → top-50 merge ranks by (count desc, pair asc). */
  private[queries] val bpeCtes = s"""tok AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex($asciiLowerTextSql, '[^a-z]+'),
          w -> len(w) > 0)) AS word
        FROM documents),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
             GROUP BY doc_id, word),
      wd AS (SELECT word, CAST(sum(tf) AS BIGINT) AS n FROM tf
             GROUP BY word),
      pr AS (SELECT substr(word, CAST(i AS INT), 1) AS a,
               substr(word, CAST(i AS INT) + 1, 1) AS b, n
             FROM (SELECT word, n, unnest(range(1, len(word))) AS i
                   FROM wd WHERE len(word) >= 2) sp),
      pc AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS cnt FROM pr
             GROUP BY a, b),
      mg AS (SELECT rank, a, b, cnt FROM (
               SELECT a, b, cnt,
                 row_number() OVER (ORDER BY cnt DESC, a, b) AS rank
               FROM pc) rk
             WHERE rank <= 50)"""

  /** The winnow fingerprint set per document as oracle CTEs — codepoint
    * windows over the ASCII-folded text, 8-char grams, 4-hash windowed
    * min, distinct fps per doc (bit-identical to `graft_winnow`). */
  private[queries] val winnowCtes = """g0 AS (
        SELECT doc_id, translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS t,
          unnest(range(1, greatest(length(text) - 6, 1))) AS i
        FROM documents),
      g AS (
        SELECT doc_id, i,
          CAST(('0x' || substr(md5(substring(t, CAST(i AS INT), 8)), 1, 8))
            AS BIGINT) AS h
        FROM g0),
      wmin AS (
        SELECT doc_id, i,
          min(h) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        FROM g),
      fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE i >= 4)"""

  /** The BM25 ranked-list CTE chain (through `ranked`), shared verbatim
    * by the `text_bm25_topk` and `text_mrr_eval` oracles — one source,
    * so the metric's oracle cannot drift from the ranking's. */
  private val bm25RankedSql = """qt(query_id, qterm) AS (VALUES
        (0, 'scan'), (0, 'column'), (1, 'window'), (1, 'order'),
        (2, 'hash'), (2, 'join'), (3, 'stream'), (3, 'filter'),
        (4, 'spark'), (4, 'merge')),
      tok AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'), w -> len(w) > 0)) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
      stats AS (SELECT count(*) AS n_docs, sum(dl) // count(*) AS avgdl
                FROM dl),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT qt.query_id, tf.doc_id,
          ((2 * (s.n_docs - df.df) + 1) * 1000) // (2 * df.df + 1) AS idf3,
          (44 * tf.tf * s.avgdl * 1000000) //
            (20 * tf.tf * s.avgdl + 6 * s.avgdl + 18 * dl.dl) AS tfn6
        FROM qt
        JOIN tf ON tf.term = qt.qterm
        JOIN df ON df.term = tf.term
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s),
      agg AS (
        SELECT query_id, doc_id,
          sum((idf3 * tfn6) // 1000) AS score_grid,
          count(*) AS n_terms_matched
        FROM scored GROUP BY query_id, doc_id),
      ranked AS (
        SELECT query_id, doc_id, score_grid, n_terms_matched,
          CAST(row_number() OVER (
            PARTITION BY query_id
            ORDER BY score_grid DESC, doc_id ASC) AS BIGINT) AS rn
        FROM agg)"""

  val oracles: Map[String, String] = Map(
    "wordcount_topn" -> wcOracle(20),

    // per-term df over distinct (doc, term) postings; the posting head is
    // the 20 smallest doc ids (rank filter, then sort — both engines)
    "text_inverted_index" -> """
      WITH tok AS (
        SELECT DISTINCT doc_id, unnest(list_filter(
          string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'), w -> len(w) > 0)) AS term
        FROM documents),
      df AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
      ranked AS (
        SELECT term, doc_id,
          row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        FROM tok),
      heads AS (
        SELECT term,
          array_to_string(list_sort(list(doc_id)), ',') AS postings_head
        FROM ranked WHERE rn <= 20 GROUP BY term)
      SELECT h.term, d.df, h.postings_head
      FROM heads h JOIN df d ON d.term = h.term
      ORDER BY h.term""",

    // the TF-IDF grid replayed term-for-term; the threshold is the
    // cross-multiplied HUGEINT compare, and the surfaced cosine is the
    // correctly-rounded double of identical exact integers in both
    // engines (int→double, sqrt, and divide are each IEEE-exact)
    "text_cosine_pairs" -> s"""
      WITH $cosinePairCtes
      SELECT doc_a, doc_b, n_shared, cosine FROM pairs
      ORDER BY doc_a, doc_b""",

    "text_bpe_merges" -> s"""
      WITH $bpeCtes
      SELECT CAST(rank AS BIGINT) AS rank, a, b, cnt FROM mg
      ORDER BY rank""",

    // the encode replayed as a recursive CTE: level r holds every
    // vocabulary word after the first r merge rules; `replace` applies a
    // rule left-to-right non-overlapping in both engines (BPE's greedy-
    // left order); recursion ends when the rule table is exhausted, and
    // the final level (r = |mg|, where the join has consumed every rule)
    // carries the piece counts joined back to per-doc occurrences
    "text_bpe_tokens" -> s"""
      WITH RECURSIVE $bpeCtes,
      nm AS (SELECT count(*) AS t FROM mg),
      enc(word, s, r) AS (
        SELECT word, array_to_string(string_split(word, ''), ' '), 0
        FROM (SELECT DISTINCT word FROM tf) v
        UNION ALL
        SELECT e.word, replace(e.s, m.a || ' ' || m.b, m.a || m.b),
          e.r + 1
        FROM enc e JOIN mg m ON m.rank = e.r + 1),
      fin AS (SELECT e.word, len(string_split(e.s, ' ')) AS n_pieces
              FROM enc e, nm WHERE e.r = nm.t)
      SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_words,
        CAST(sum(t.tf * f.n_pieces) AS BIGINT) AS n_bpe_tokens
      FROM tf t JOIN fin f ON f.word = t.word
      GROUP BY t.doc_id
      ORDER BY t.doc_id""",

    // the 1,024-rule synthetic-table encode replayed rule by rule: the
    // mg CTE derives rule i's pair from md5('bpe1k:' || i) — the exact
    // arithmetic of syntheticMerges — and the recursive CTE applies one
    // rule per level (replace is left-to-right non-overlapping in both
    // engines); the gate hashes the full encoded string per vocab word
    "text_bpe_encode_1k" -> s"""
      WITH RECURSIVE tok AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex($asciiLowerTextSql, '[^a-z]+'),
          w -> len(w) > 0)) AS word
        FROM documents),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
             GROUP BY doc_id, word),
      wd AS (SELECT word, CAST(sum(tf) AS BIGINT) AS n FROM tf
             GROUP BY word),
      mg AS (
        SELECT i AS rank,
          chr(CAST(97 + CAST(('0x' || substr(md5('bpe1k:' || i), 1, 2))
            AS BIGINT) % 26 AS INT)) AS a,
          chr(CAST(97 + CAST(('0x' || substr(md5('bpe1k:' || i), 3, 2))
            AS BIGINT) % 26 AS INT)) AS b
        FROM (SELECT unnest(range(1, 1025)) AS i) ir),
      enc(word, s, r) AS (
        SELECT word, array_to_string(string_split(word, ''), ' '), 0
        FROM wd
        UNION ALL
        SELECT e.word, replace(e.s, m.a || ' ' || m.b, m.a || m.b),
          e.r + 1
        FROM enc e JOIN mg m ON m.rank = e.r + 1)
      SELECT w.word, w.n, e.s AS enc,
        CAST(len(string_split(e.s, ' ')) AS BIGINT) AS n_pieces
      FROM wd w JOIN enc e ON e.word = w.word AND e.r = 1024
      ORDER BY w.word""",

    // round-trip identity by construction: the oracle emits the word
    // itself where the Spark side emits the decoded encodings (both
    // tables) — any engine-side non-identity row hash-fails; n_mismatch
    // is the within_bound-style constant-0 contract
    "text_bpe_roundtrip" -> s"""
      WITH tok AS (
        SELECT unnest(list_filter(
          string_split_regex($asciiLowerTextSql, '[^a-z]+'),
          w -> len(w) > 0)) AS word
        FROM documents),
      wd AS (SELECT DISTINCT word FROM tok)
      SELECT word, word AS dec_learned, word AS dec_synth,
        CAST(0 AS BIGINT) AS n_mismatch
      FROM wd
      ORDER BY word""",

    // both directions of the shared pair CTEs, rank-1 per doc; the float
    // cosine orders identically cross-engine, neighbor id breaks ties
    "text_nearest_dup" -> s"""
      WITH $nearestDupCtes
      SELECT doc_id, nbr, cosine FROM nd
      ORDER BY doc_id""",

    // the shared nearest-dup CTEs + the 0.05-wide cosine band and the
    // id-hash rank window (same md5-prefix hash as the split/sample
    // family); floor(cosine*20) is one double multiply + floor on the
    // bit-stable cosine
    "text_dup_review_sample" -> s"""
      WITH $nearestDupCtes,
      banded AS (
        SELECT CAST(floor(cosine * 20) AS BIGINT) AS band, doc_id, nbr,
          cosine,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
            AS BIGINT) AS h
        FROM nd),
      smp AS (
        SELECT band, doc_id, nbr, cosine,
          row_number() OVER (PARTITION BY band
            ORDER BY h, doc_id) AS rn
        FROM banded)
      SELECT band, rn, doc_id, nbr, cosine FROM smp WHERE rn <= 5
      ORDER BY band, rn""",

    // the segment pipeline replayed: 3-token non-overlapping slices,
    // 60-bit md5 segment hashes, distinct-doc frequency, >= 3 docs =
    // boilerplate, kept text reassembled in segment order (string_agg
    // over an all-dropped doc is NULL -> coalesce to '', matching
    // Spark's array_join on an empty array); token-less docs surface
    // as nulls through the left-join spine in both engines
    "text_segment_dedup" -> s"""
      WITH tok AS (
        SELECT doc_id, list_filter(
          string_split_regex($asciiLowerTextSql, '[^a-z]+'),
          w -> len(w) > 0) AS ws
        FROM documents),
      segs AS (
        SELECT doc_id, i,
          array_to_string(ws[(CAST(i*3+1 AS INT)):(CAST(i*3+3 AS INT))],
            ' ') AS seg
        FROM (SELECT doc_id, ws,
                unnest(range(0, (len(ws) - 1) // 3 + 1)) AS i
              FROM tok WHERE len(ws) > 0) t),
      hs AS (
        SELECT doc_id, i, seg,
          CAST(('0x' || substr(md5(seg), 1, 15)) AS BIGINT) AS h
        FROM segs),
      boiler AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM hs) dh
        GROUP BY h HAVING count(*) >= 3),
      fl AS (
        SELECT hs.doc_id, hs.i, hs.seg,
          CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS dropped
        FROM hs LEFT JOIN boiler b ON b.h = hs.h),
      pd AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
          CAST(sum(dropped) AS BIGINT) AS n_dropped,
          coalesce(string_agg(seg, ' ' ORDER BY i)
            FILTER (WHERE dropped = 0), '') AS kept_text
        FROM fl GROUP BY doc_id)
      SELECT d.doc_id, p.n_segments, p.n_dropped, p.kept_text
      FROM documents d LEFT JOIN pd p ON p.doc_id = d.doc_id
      ORDER BY d.doc_id""",

    // the three gram legs replayed over 60-bit gram hashes; range is
    // end-exclusive so range(0, len-n+1) matches sequence(0, size-n);
    // greatest(total, 1) keeps the empty-corpus row at ppm 0
    "text_ngram_diversity" -> {
      def leg(n: Int) = s"""
        SELECT CAST($n AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS total_grams,
          CAST(count(DISTINCT h) AS BIGINT) AS distinct_grams,
          CAST((count(DISTINCT h) * 1000000)
            // greatest(count(*), 1) AS BIGINT) AS distinct_ppm
        FROM (
          SELECT CAST(('0x' || substr(md5(
            array_to_string(ws[(CAST(i+1 AS INT)):(CAST(i+$n AS INT))],
              ' ')), 1, 15)) AS BIGINT) AS h
          FROM (SELECT ws, unnest(range(0, len(ws) - $n + 1)) AS i
                FROM tok WHERE len(ws) >= $n) t) g"""
      s"""
      WITH tok AS (
        SELECT list_filter(
          string_split_regex($asciiLowerTextSql, '[^a-z]+'),
          w -> len(w) > 0) AS ws
        FROM documents)
      SELECT * FROM (${leg(1)} UNION ALL ${leg(2)} UNION ALL ${leg(3)}) u
      ORDER BY n"""
    },

    // the sketch replayed: per-doc term counts, 4x16 counter grid from
    // the same md5 bucket hash, top-20 truth leg, est = min over rows
    "text_cms_counts" -> s"""
      WITH tok AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex($asciiLowerTextSql, '[^a-z]+'),
          w -> len(w) > 0)) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             GROUP BY doc_id, term),
      r AS (SELECT unnest(generate_series(0, 3)) AS r),
      cnts AS (
        SELECT r.r AS r,
          CAST(('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || ':'
            || t.term), 1, 15)) AS BIGINT) % 16 AS bucket,
          CAST(sum(t.tf) AS BIGINT) AS c
        FROM tf t CROSS JOIN r
        GROUP BY 1, 2),
      top AS (
        SELECT term, CAST(sum(tf) AS BIGINT) AS true_cnt FROM tf
        GROUP BY term
        ORDER BY true_cnt DESC, term ASC LIMIT 20),
      est AS (
        SELECT tp.term, tp.true_cnt, min(c.c) AS cms_est
        FROM top tp CROSS JOIN r
        JOIN cnts c ON c.r = r.r AND c.bucket =
          CAST(('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || ':'
            || tp.term), 1, 15)) AS BIGINT) % 16
        GROUP BY tp.term, tp.true_cnt)
      SELECT term AS word, true_cnt, cms_est,
        cms_est - true_cnt AS overcount
      FROM est
      ORDER BY true_cnt DESC, word ASC""",

    // BM25 grid arithmetic replayed term-for-term: every factor is BIGINT
    // math (// is DuckDB's integer div), so scores are bit-equal. The
    // per-term (idf3*tfn6)//1000 happens BEFORE the sum in both engines —
    // integer-div-then-sum is order-insensitive, sum-then-div is not.
    // The CTE chain is shared with the MRR readout ([[bm25RankedSql]]).
    "text_bm25_topk" -> s"""
      WITH $bm25RankedSql
      SELECT CAST(query_id AS BIGINT) AS query_id, rn, doc_id,
        CAST(score_grid AS BIGINT) AS score_grid,
        CAST(n_terms_matched AS BIGINT) AS n_terms_matched
      FROM ranked
      WHERE rn <= 10
      ORDER BY query_id, rn""",

    // the same ranked chain read as a metric: first all-terms-matched
    // rank within the top-10 per query, reciprocal rank on the ppm grid
    "text_mrr_eval" -> s"""
      WITH $bm25RankedSql,
      arity AS (SELECT query_id, count(*) AS n_qterms FROM qt
                GROUP BY query_id),
      rel AS (
        SELECT r.query_id, min(r.rn) AS fr
        FROM ranked r JOIN arity a ON a.query_id = r.query_id
        WHERE r.rn <= 10 AND r.n_terms_matched = a.n_qterms
        GROUP BY r.query_id)
      SELECT CAST(a.query_id AS BIGINT) AS query_id,
        CAST(coalesce(rel.fr, 0) AS BIGINT) AS first_rel_rank,
        CAST(CASE WHEN rel.fr IS NULL THEN 0
                  ELSE 1000000 // rel.fr END AS BIGINT) AS rr_ppm
      FROM arity a LEFT JOIN rel ON rel.query_id = a.query_id
      ORDER BY query_id""",

    // the same ranked chain read as the graded metric: retrieval DCG over
    // the top-10 cut, ideal DCG over the full matched agg ranked by
    // (gain desc, doc asc), both through the pinned rank-weight VALUES
    // dimension (round(1e6/log2(r+1)) — identical literals engine-side)
    "text_ndcg_eval" -> s"""
      WITH $bm25RankedSql,
      wt(r, w) AS (VALUES
        (1, 1000000), (2, 630930), (3, 500000), (4, 430677), (5, 386853),
        (6, 356207), (7, 333333), (8, 315465), (9, 301030), (10, 289065)),
      dcg AS (
        SELECT query_id, sum(n_terms_matched * w) AS dcg_grid
        FROM ranked JOIN wt ON wt.r = ranked.rn
        WHERE rn <= 10 GROUP BY query_id),
      ideal AS (
        SELECT query_id, n_terms_matched,
          row_number() OVER (PARTITION BY query_id
            ORDER BY n_terms_matched DESC, doc_id ASC) AS irn
        FROM agg),
      idcg AS (
        SELECT query_id, sum(n_terms_matched * w) AS idcg_grid
        FROM ideal JOIN wt ON wt.r = ideal.irn
        WHERE irn <= 10 GROUP BY query_id),
      qs AS (SELECT DISTINCT query_id FROM qt)
      SELECT CAST(q.query_id AS BIGINT) AS query_id,
        CAST(coalesce(d.dcg_grid, 0) AS BIGINT) AS dcg_grid,
        CAST(coalesce(i.idcg_grid, 0) AS BIGINT) AS idcg_grid,
        CAST(CASE WHEN coalesce(i.idcg_grid, 0) > 0
                  THEN d.dcg_grid * 1000000 // i.idcg_grid
                  ELSE 0 END AS BIGINT) AS ndcg_ppm
      FROM qs q
      LEFT JOIN dcg d ON d.query_id = q.query_id
      LEFT JOIN idcg i ON i.query_id = q.query_id
      ORDER BY query_id""",

    // shared langid scoring + the text_tokens piece/word counters,
    // aggregated onto the language dimension; ppm ratio guarded against
    // the empty-word group
    "text_token_fertility" -> raw"""
      WITH sc AS (
        SELECT doc_id, text, $langidScoreSql
        FROM documents),
      g AS (
        SELECT $langidGuessSql AS lang_guess,
          len(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS ws,
          len(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]')) AS bpe
        FROM sc),
      a AS (
        SELECT lang_guess, count(*) AS n_docs,
          CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
          CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens
        FROM g GROUP BY lang_guess)
      SELECT lang_guess, n_docs, n_ws_tokens, n_bpe_tokens,
        CASE WHEN n_ws_tokens > 0
             THEN n_bpe_tokens * 1000000 // n_ws_tokens END AS fertility_ppm
      FROM a
      ORDER BY lang_guess""",

    "docs_boilerplate_ngrams" -> s"""
      WITH ${Dedup.hashedShingleCtes},
      df AS (SELECT h, count(*) AS df FROM hinv GROUP BY h)
      SELECT i.doc_id, count(*) AS n_shingles,
        CAST(sum(CASE WHEN d.df >= 4 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_boiler,
        sum(CASE WHEN d.df >= 4 THEN 1 ELSE 0 END) * 1.0 / count(*)
          AS boiler_frac
      FROM hinv i JOIN df d ON d.h = i.h
      GROUP BY i.doc_id
      ORDER BY i.doc_id""",

    "wordcount_full" -> """
      SELECT word, count(*) AS cnt FROM (
        SELECT unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+')) AS word
        FROM documents) t
      WHERE word <> ''
      GROUP BY word
      ORDER BY word""",

    "text_tokens" -> """
      SELECT doc_id,
        len(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS n_ws_tokens,
        len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]')) AS n_bpe_tokens,
        len(list_distinct(list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
          w -> len(w) > 0))) AS n_distinct_words
      FROM documents
      ORDER BY doc_id""",

    "text_quality" -> """
      SELECT doc_id, n_chars, n_words, n_stop,
        CAST(n_alpha AS DOUBLE) / nullif(n_chars, 0) AS alpha_ratio,
        CAST(n_stop AS DOUBLE) / nullif(n_words, 0) AS stop_ratio,
        CAST(n_alpha AS DOUBLE) / nullif(n_words, 0) AS mean_word_len,
        CAST(CASE WHEN n_words >= 20 AND CAST(n_stop AS DOUBLE) / n_words < 0.4
             THEN 1.0 ELSE 0.0 END AS DOUBLE) AS quality
      FROM (
        SELECT doc_id, length(text) AS n_chars,
          len(list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
            w -> len(w) > 0)) AS n_words,
          len(list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
            w -> w = 'the' OR w = 'a' OR w = 'of')) AS n_stop,
          length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha
        FROM documents) t
      ORDER BY doc_id""",

    "text_langid" -> s"""
      SELECT doc_id, lang AS lang_label, score_en, score_zh,
        CAST(n_vowel AS DOUBLE) / nullif(length(text), 0) AS vowel_ratio,
        $langidGuessSql AS lang_guess
      FROM (
        SELECT doc_id, lang, text, $langidScoreSql,
          length(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^aeiou]', '', 'g')) AS n_vowel
        FROM documents) t
      ORDER BY doc_id""",

    // decile bucketing against the 1-row max, first-appearance bucket
    // per term, cumulative windows on the 10-row bucket dimension
    "text_vocab_growth" -> """
      WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
      db AS (SELECT doc_id, text, (doc_id * 10) // (mx + 1) AS bucket
             FROM documents, mx),
      tb AS (SELECT bucket,
               unnest(list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
                      x -> len(x) > 0)) AS term
             FROM db),
      ndocs AS (SELECT bucket, count(*) AS n_docs FROM db GROUP BY bucket),
      ntok AS (SELECT bucket, count(*) AS n_tokens FROM tb GROUP BY bucket),
      vnew AS (SELECT bucket, count(*) AS vocab_new FROM (
                 SELECT term, min(bucket) AS bucket FROM tb GROUP BY term) t
               GROUP BY bucket)
      SELECT d.bucket,
        CAST(sum(d.n_docs) OVER (ORDER BY d.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS n_docs_cum,
        CAST(sum(coalesce(ntok.n_tokens, 0)) OVER (ORDER BY d.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS n_tokens_cum,
        CAST(sum(coalesce(vnew.vocab_new, 0)) OVER (ORDER BY d.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS vocab_cum
      FROM ndocs d
      LEFT JOIN ntok ON ntok.bucket = d.bucket
      LEFT JOIN vnew ON vnew.bucket = d.bucket
      ORDER BY d.bucket""",

    // the shared scoring expressions aggregated to (label, guess) cells;
    // label totals and recall on the HUGEINT-safe ppm grid
    "text_langid_confusion" -> s"""
      WITH sc AS (
        SELECT lang AS lang_label, $langidGuessSql AS lang_guess
        FROM (SELECT lang, $langidScoreSql FROM documents) t),
      cells AS (SELECT lang_label, lang_guess, count(*) AS n
                FROM sc GROUP BY lang_label, lang_guess)
      SELECT lang_label, lang_guess, n,
        CAST(sum(n) OVER (PARTITION BY lang_label) AS BIGINT)
          AS label_total,
        CAST((1000000 * n) // sum(n) OVER (PARTITION BY lang_label)
          AS BIGINT) AS recall_ppm
      FROM cells
      ORDER BY lang_label, lang_guess""",

    "docs_pack_batches" -> """
      WITH t AS (
        SELECT doc_id,
          CAST(len(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
          coalesce(sum(n_tokens) OVER (
            ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cum_before
        FROM t)
      SELECT doc_id, n_tokens,
        CAST(cum_before // 512 AS BIGINT) AS batch_id
      FROM c
      ORDER BY doc_id""",

    "text_winnow_fingerprint" -> s"""
      WITH $winnowCtes
      SELECT doc_id, fp FROM fps
      ORDER BY doc_id, fp""",

    // df-capped fingerprint postings self-joined into shared-span counts
    // — the same candidate recipe as the Jaccard family, over winnow's
    // positional samples
    "dedup_winnow_pairs" -> s"""
      WITH $winnowCtes,
      df AS (SELECT fp, count(*) AS df FROM fps GROUP BY fp),
      fpc AS (SELECT fps.doc_id, fps.fp FROM fps
              JOIN df ON df.fp = fps.fp WHERE df.df <= 100),
      common AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_shared
                 FROM fpc a JOIN fpc b ON a.fp = b.fp
                  AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)
      SELECT a AS doc_a, b AS doc_b, CAST(n_shared AS BIGINT) AS n_shared
      FROM common WHERE n_shared >= 20
      ORDER BY doc_a, doc_b""",

    "docs_lm_bigram_score" -> """
      WITH w AS (SELECT doc_id,
              list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
                          x -> len(x) > 0) AS w
            FROM documents),
      bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
             FROM w, unnest(range(1, len(w))) u(i)),
      uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      bi AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2)
      SELECT bg.doc_id, count(*) AS n_bigrams,
        CAST(sum((bi.c2 * 1000000) // uni.c1) AS BIGINT) AS score_sum,
        CAST(sum((bi.c2 * 1000000) // uni.c1) AS DOUBLE) / count(*)
          / 1000000.0 AS score_avg
      FROM bg
      JOIN bi ON bi.w1 = bg.w1 AND bi.w2 = bg.w2
      JOIN uni ON uni.w1 = bg.w1
      GROUP BY bg.doc_id
      ORDER BY bg.doc_id""",

    "text_fingerprint" -> """
      SELECT doc_id,
        md5(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fp_md5,
        sha256(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fp_sha256
      FROM documents
      ORDER BY doc_id""",

    "docs_repetition" -> """
      WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
                                   x -> len(x) > 0) AS w
        FROM documents),
      bg AS (
        SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
        FROM tok, unnest(range(1, len(w))) u(i)),
      c AS (SELECT doc_id, bigram, count(*) AS cnt
            FROM bg GROUP BY doc_id, bigram),
      r AS (
        SELECT doc_id, bigram, cnt,
          row_number() OVER (PARTITION BY doc_id
                             ORDER BY cnt DESC, bigram DESC) AS rn,
          CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams
        FROM c)
      SELECT doc_id, bigram AS top_bigram, CAST(cnt AS BIGINT) AS top_cnt,
        n_bigrams,
        CAST(cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS rep_ratio
      FROM r
      WHERE rn = 1
      ORDER BY doc_id""",

    "docs_gopher_quality" -> s"""
      WITH $gopherMeasureCtes
      SELECT doc_id, n_words, n_chars_nospace, mean_word_len_grid,
        alpha_word_pct, symbol_word_pct, n_stop,
        (n_words BETWEEN 50 AND 100000
         AND mean_word_len_grid BETWEEN 300 AND 1000
         AND alpha_word_pct >= 80
         AND symbol_word_pct < 10
         AND n_stop >= 2) AS pass
      FROM g
      ORDER BY doc_id""",

    // the shared measure CTEs, per-rule fail flags, one 10-sum aggregate
    // row unpivoted into the 5-rule ablation table
    "docs_quality_ablation" -> s"""
      WITH $gopherMeasureCtes,
      f AS (SELECT
          CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END AS f1,
          CASE WHEN mean_word_len_grid BETWEEN 300 AND 1000
               THEN 0 ELSE 1 END AS f2,
          CASE WHEN alpha_word_pct >= 80 THEN 0 ELSE 1 END AS f3,
          CASE WHEN symbol_word_pct < 10 THEN 0 ELSE 1 END AS f4,
          CASE WHEN n_stop >= 2 THEN 0 ELSE 1 END AS f5
        FROM g),
      ff AS (SELECT f1, f2, f3, f4, f5,
          f1 + f2 + f3 + f4 + f5 AS nf FROM f),
      a AS (SELECT
          CAST(sum(f1) AS BIGINT) AS a1,
          CAST(sum(CASE WHEN f1 = 1 AND nf = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS o1,
          CAST(sum(f2) AS BIGINT) AS a2,
          CAST(sum(CASE WHEN f2 = 1 AND nf = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS o2,
          CAST(sum(f3) AS BIGINT) AS a3,
          CAST(sum(CASE WHEN f3 = 1 AND nf = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS o3,
          CAST(sum(f4) AS BIGINT) AS a4,
          CAST(sum(CASE WHEN f4 = 1 AND nf = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS o4,
          CAST(sum(f5) AS BIGINT) AS a5,
          CAST(sum(CASE WHEN f5 = 1 AND nf = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS o5
        FROM ff)
      SELECT rule, n_fail, n_fail_only FROM (
        SELECT 'word_count' AS rule, a1 AS n_fail, o1 AS n_fail_only FROM a
        UNION ALL SELECT 'mean_word_len', a2, o2 FROM a
        UNION ALL SELECT 'alpha_words', a3, o3 FROM a
        UNION ALL SELECT 'symbol_ratio', a4, o4 FROM a
        UNION ALL SELECT 'stopwords', a5, o5 FROM a) u
      ORDER BY rule""",

    "docs_redact_terms" -> """
      SELECT doc_id,
        CAST(len(regexp_extract_all(text,
          '\b(customer|supplier|order|value)\b')) AS BIGINT) AS n_redacted,
        regexp_replace(text, '\b(customer|supplier|order|value)\b',
          '[REDACTED]', 'g') AS text_redacted
      FROM documents
      ORDER BY doc_id""",

    // the demo-corpus injection replayed verbatim; `\b` is RE2's ASCII
    // word boundary — the engine side spells it as the equivalent
    // ASCII-word lookarounds (the docs_redact_terms parity rule)
    "docs_pii_scan" -> """
      WITH demo AS (SELECT doc_id,
        coalesce(text, '') ||
          CASE doc_id % 5
            WHEN 1 THEN ' contact agent' || CAST(doc_id AS VARCHAR)
                        || '@example.com now'
            WHEN 2 THEN ' node at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.17 port'
            WHEN 3 THEN ' call 555-01' || CAST(doc_id % 10 AS VARCHAR)
                        || '-4412 today'
            WHEN 4 THEN ' ssn 123-45-678' || CAST(doc_id % 10 AS VARCHAR)
                        || ' file'
            ELSE '' END AS text
        FROM documents),
      counted AS (SELECT doc_id,
        CAST(len(regexp_extract_all(text,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(text,
          '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
        CAST(len(regexp_extract_all(text,
          '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones,
        CAST(len(regexp_extract_all(text,
          '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn
        FROM demo)
      SELECT doc_id, n_emails, n_ipv4, n_phones, n_ssn,
        n_emails + n_ipv4 + n_phones + n_ssn AS pii_total,
        CAST(CASE WHEN n_emails + n_ipv4 + n_phones + n_ssn > 0
             THEN 1 ELSE 0 END AS BIGINT) AS has_pii
      FROM counted
      ORDER BY doc_id""",

    "text_bigrams_top" -> """
      SELECT bigram, count(*) AS cnt FROM (
        SELECT w[i] || ' ' || w[i+1] AS bigram
        FROM (SELECT list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
                x -> len(x) > 0) AS w FROM documents) t,
             unnest(range(1, len(w))) u(i)
      ) b
      GROUP BY bigram
      ORDER BY cnt DESC, bigram ASC
      LIMIT 30""",

    // the exact ratio inside the (monotone) log, HUGEINT products, //
    // floors like Spark's div — rank order IS the PMI order
    "text_pmi_bigrams" -> s"""
      WITH t AS (
        SELECT unnest(list_filter(
          string_split_regex($asciiLowerTextSql, '[^a-z]+'),
          x -> len(x) > 0)) AS word
        FROM documents),
      uni AS (SELECT word, CAST(count(*) AS HUGEINT) AS cw FROM t
              GROUP BY word),
      n1 AS (SELECT CAST(sum(cw) AS HUGEINT) AS n1 FROM uni),
      bg AS (
        SELECT w[i] || ' ' || w[i+1] AS bigram, w[i] AS x, w[i+1] AS y
        FROM (SELECT list_filter(
                string_split_regex($asciiLowerTextSql, '[^a-z]+'),
                x -> len(x) > 0) AS w FROM documents) d,
             unnest(range(1, len(w))) u(i)),
      bc AS (SELECT bigram, any_value(x) AS x, any_value(y) AS y,
               CAST(count(*) AS HUGEINT) AS cxy
             FROM bg GROUP BY bigram),
      n2 AS (SELECT CAST(sum(cxy) AS HUGEINT) AS n2 FROM bc)
      SELECT bc.bigram, CAST(bc.cxy AS BIGINT) AS cnt,
        CAST((bc.cxy * n1.n1 * n1.n1 * 1000000)
          // (n2.n2 * ux.cw * uy.cw) AS BIGINT) AS pmi_grid
      FROM bc
      JOIN uni ux ON ux.word = bc.x
      JOIN uni uy ON uy.word = bc.y
      CROSS JOIN n1 CROSS JOIN n2
      WHERE bc.cxy >= 3
      ORDER BY pmi_grid DESC, bigram ASC
      LIMIT 20""",

    // exact heavy hitters: the oracle computes the full count and filters
    // at the same support threshold — the sketch+recount plan must land on
    // the identical exact result
    "text_heavy_hitters" -> s"""
      WITH t AS (
        SELECT unnest(list_filter(string_split_regex($asciiLowerTextSql, '[^a-z]+'),
                 x -> len(x) > 0)) AS word
        FROM documents),
      n AS (SELECT count(*) AS total FROM t),
      c AS (SELECT word, count(*) AS cnt FROM t GROUP BY word)
      SELECT word, cnt, CAST(cnt AS DOUBLE) / total AS share
      FROM c, n
      WHERE cnt * 1000 >= total
      ORDER BY cnt DESC, word ASC"""
  )
}
