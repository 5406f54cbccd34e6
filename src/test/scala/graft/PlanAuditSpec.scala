package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FilterExec, FormattedMode,
  GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec

/** Plan-shape regressions: the properties that matter at 100 TB must stay
  * visible in the optimized plans — predicate pushdown, column pruning,
  * broadcast dimension joins, bounded-heap top-k, and no cartesian
  * products anywhere except the deliberate broadcast query-set cross. */
class PlanAuditSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d)
      .queryExecution.explainString(FormattedMode)

  test("q02 pushes filters into the parquet scan and prunes columns") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_quantity,10.0)"))
    // pruned scan: only the 6 referenced columns, never the full 16
    val schemaLine = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!schemaLine.contains("l_comment"))
    assert(!schemaLine.contains("l_tax"))
  }

  test("q04 plans a broadcast hash join for the dimension side") {
    assert(plan("q04_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("top-k plans use bounded heaps, not global sorts") {
    assert(plan("q03_topn_orders").contains("TakeOrderedAndProject"))
    assert(plan("wordcount_topn").contains("TakeOrderedAndProject"))
    // per-group top-k: rank filter pushed into a group-limit operator
    assert(plan("q17_window_topk_per_group").contains("WindowGroupLimit"))
  }

  test("flagship word count tokenizes with the native kernel and " +
    "combines map-side below its one exchange (DataFrame and SQL)") {
    // map-side = once per partition, in PartitionTermCountsExec, then in
    // Spark's partial aggregate
    for (name <- Seq("wordcount_topn", "sql_wordcount_topn")) {
      val df = SparkEntry.queries(name)(spark, d)
      df.collect()
      val exec = df.queryExecution.executedPlan
      val p = exec.treeString
      val counts = collect(exec) {
        case e: graft.plans.PartitionTermCountsExec => e }
      assert(counts.size == 1, s"$name: no partition-level term counts")
      assert(collect(exec) { case g: GenerateExec => g }.isEmpty,
        s"$name: a Generate is back in the plan")
      assert(p.contains("TakeOrderedAndProject"), s"$name: no bounded heap")
      assert(!p.contains("split("), s"$name: regex split back in the plan")
      val exchanges = collect(exec) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"$name: ${exchanges.size} exchanges")
      val partial = exchanges.head.collect { case a: HashAggregateExec
        if a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.mode == Partial) => a }
      assert(partial.nonEmpty, s"$name: no partial aggregate below the exchange")
      assert(exchanges.head.collect {
        case e: graft.plans.PartitionTermCountsExec => e }.nonEmpty,
        s"$name: the term counts are not below the exchange")
    }
    // the dedup posting explodes are not term sums: the rule gives up there
    assert(!plan("dedup_minhash_lsh").contains("PartitionTermCounts"))
  }

  test("similarity rank windows push the rank filter into a bounded " +
    "per-partition WindowGroupLimit") {
    // the 100 TB story of every top-k-per-query ranking is that the
    // `rank <= k` filter becomes a per-partition bounded group-limit
    // BEFORE the shuffle — without it the full scored candidate set
    // (corpus × queries for sim_topk/sim_knn_label, the probed cells for
    // the IVF path) is shuffled and sorted in its entirety
    for (name <- Seq("sim_topk", "sim_knn_label", "sim_ivf_topk",
        "text_nearest_dup")) {
      assert(plan(name).contains("WindowGroupLimit"),
        s"$name's bounded rank window lost its WindowGroupLimit")
    }
  }

  test("no cartesian product in any query plan") {
    // dedup_components executes eagerly at construction (iterative
    // localCheckpoint loop); its final plan is a plain broadcast join over
    // the converged labels, so exclude it from this plan-only sweep
    (SparkEntry.queries.keySet - "dedup_components").foreach { name =>
      assert(!plan(name).contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("similarity scoring runs the native codegen'd dot product") {
    assert(plan("sim_topk").contains("graft_dot"))
  }

  test("SQL frontend gets the same physical optimizations (group-limit, " +
    "broadcast join)") {
    val p = plan("sql_top_orders_per_segment")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("decontamination broadcasts the benchmark set (semi-join, corpus " +
    "postings never shuffled by key)") {
    val p = plan("docs_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "benchmark set not broadcast")
    assert(p.contains("LeftSemi"), "contamination probe is not a semi-join")
    // the only Exchanges allowed: the benchmark-distinct (tiny), the
    // broadcast itself, and the final per-doc agg/sort — never a
    // sort-merge join over the corpus postings
    assert(!p.contains("SortMergeJoin"),
      "corpus postings shuffled for a merge join")
  }

  test("bloom decontamination prefilters the corpus postings map-side " +
    "before the exact-confirm semi-join") {
    val p = plan("docs_decontam_bloom")
    assert(p.contains("might_contain"),
      "bloom prefilter missing from the corpus scan side")
    assert(p.contains("LeftSemi"), "exact-confirm semi-join missing")
    // the prefilter must sit BELOW the join: the Filter detail carrying
    // might_contain appears, and no merge join shuffles raw postings
    assert(!p.contains("SortMergeJoin"),
      "corpus postings shuffled for a merge join at fixture scale")
  }

  test("incremental dedup anti-joins on the fingerprint and the salted " +
    "sum keeps its two aggregation levels, both fully partitioned") {
    val inc = plan("dedup_incremental")
    assert(inc.contains("LeftAnti"),
      "known-fingerprint anti-join missing")
    assert(!inc.contains("SinglePartition"))
    val salted = plan("events_salted_sum")
    // two-phase shape: partial+final HashAggregate for (key, salt), then
    // partial+final for the key — fewer aggregate nodes means the salt
    // level collapsed and the skew-spread is gone
    val aggs = salted.linesIterator
      .count(_.trim.matches("""\(\d+\) HashAggregate.*"""))
    assert(aggs >= 3, s"salted sum lost an aggregation level ($aggs nodes)")
    assert(!salted.contains("SinglePartition"))
  }

  test("heavy hitters recounts candidates through a broadcast semi-join " +
    "(the vocabulary never shuffles whole)") {
    val p = plan("text_heavy_hitters")
    assert(p.contains("LeftSemi"), "candidate recount is not a semi-join")
    assert(p.contains("BroadcastHashJoin"),
      "candidate set not broadcast — the token stream would shuffle by word")
  }

  test("span-gram profile is pure groupBy/join — no window, no " +
    "single-partition stage") {
    val p = plan("dedup_span_grams")
    // a Window here would mean per-gram df was computed by colocating
    // every posting of a gram in one window partition — the straggler
    // shape the unique-set join formulation exists to avoid
    assert(!p.contains("Window"), "span-gram df computed via a window")
    assert(!p.contains("SinglePartition"))
  }

  test("ivf recall keeps both legs' bounded rank windows") {
    assert(plan("sim_recall_ivf").contains("WindowGroupLimit"))
  }

  test("gram novelty extracts the novel holder by packed hash-aggregated " +
    "min — no per-gram join, no window, no sort-aggregate") {
    val p = plan("dedup_gram_novelty")
    assert(!p.contains("Window"), "novel holder computed via a window")
    assert(!p.contains("SortAggregate"),
      "packed min fell off the hash aggregation path")
    assert(!p.contains("SinglePartition"))
  }

  /** Every node of an executed plan: through AQE's final plans and query
    * stages, and into the cached plan below each in-memory scan. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** [[nodes]] of one join side, stopping at in-memory scans: what runs
    * between the join and its cache. */
  private def sideNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => sideNodes(a.executedPlan)
    case s: QueryStageExec => s +: sideNodes(s.plan)
    case _ => p +: p.children.flatMap(sideNodes)
  }

  /** [[nodes]] without broadcast builds: the shuffles a plan runs on its
    * own path (a df blocklist's count is broadcast, checked elsewhere). */
  private def shuffleNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case b: BroadcastExchangeExec => Seq(b)
    case a: AdaptiveSparkPlanExec => shuffleNodes(a.executedPlan)
    case s: QueryStageExec => s +: shuffleNodes(s.plan)
    case m: InMemoryTableScanExec => m +: shuffleNodes(m.relation.cachedPlan)
    case _ => p +: p.children.flatMap(shuffleNodes)
  }

  /** The nodes from `p` down to `target`, both included, in the final
    * plan; empty when `target` is not below `p`. */
  private def pathTo(p: SparkPlan, target: SparkPlan): Seq[SparkPlan] =
    if (p eq target) Seq(p)
    else {
      val below = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => p.children
      }
      below.iterator.map(pathTo(_, target)).find(_.nonEmpty)
        .map(p +: _).getOrElse(Nil)
    }

  test("dedup self-joins read their co-partitioned caches with no " +
    "exchange on either side, and no filter re-runs a kernel") {
    for (name <- Seq("dedup_minhash_lsh", "dedup_neardup_jaccard",
      "dedup_winnow_pairs", "dedup_embed_lsh", "dedup_simhash_pairs")) {
      // no cache left by an earlier builder may stand in for this plan's
      // (dedup_precision_embed persists the SRP candidate pairs)
      Caching.releaseAll(spark)
      val df = SparkEntry.queries(name)(spark, d)
      df.collect()
      val root = df.queryExecution.executedPlan
      val all = nodes(root)
      val joins = all.collect {
        case j: ShuffledHashJoinExec if j.joinType == Inner => j }
      assert(joins.size == 1, s"$name: ${joins.size} inner hash joins")
      val join = joins.head
      for (side <- join.children) {
        val ns = sideNodes(side)
        assert(ns.exists(_.isInstanceOf[InMemoryTableScanExec]),
          s"$name: a self-join side does not read the cache")
        val ex = ns.filter(n =>
          n.isInstanceOf[Exchange] || n.isInstanceOf[ReusedExchangeExec])
        assert(ex.isEmpty, s"$name: exchange on a self-join side: " +
          ex.map(_.nodeName).mkString(", "))
      }
      // both sides read the one cache: one shuffle, feeding it
      val hashEx = join.children.flatMap(shuffleNodes).collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e.id }
      assert(hashEx.distinct.size == 1,
        s"$name: ${hashEx.distinct.size} hash exchanges below the self-join")
      val kernelFilters = all.collect {
        case f: FilterExec
          if f.condition.exists(_.prettyName.startsWith("graft_")) => f }
      assert(kernelFilters.isEmpty,
        s"$name: a filter evaluates a kernel: ${kernelFilters.mkString}")
      if (name == "dedup_minhash_lsh")
        assert(!all.exists(_.isInstanceOf[BroadcastExchangeExec]),
          "LSH plan broadcasts")
      // a pair is emitted once, from its lowest agreeing band: no
      // distinct or per-pair count sits between the join and verification
      if (name == "dedup_embed_lsh" || name == "dedup_simhash_pairs") {
        val above = pathTo(root, join)
        assert(above.nonEmpty, s"$name: self-join not on the result path")
        assert(!above.exists(_.isInstanceOf[HashAggregateExec]),
          s"$name: an aggregate follows the band self-join")
      }
    }
    Caching.releaseAll(spark)
  }

  test("components rounds have no single-partition stage") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "component")
    val p = graft.queries.Dedup.componentsStep(edges, labels)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Coalesce"), "label frontier funneled through coalesce")
    assert(!p.contains("SinglePartition"),
      "a components round planned a single-partition exchange")
  }

  test("docs_pack_batches has no unpartitioned window") {
    val p = plan("docs_pack_batches")
    assert(!p.contains("SinglePartition"),
      "prefix-sum level planned a single-partition exchange")
    assert(!p.contains("Coalesce"))
  }

  test("argmax/argmin aggregations stay on the hash path (no " +
    "SortAggregate from struct buffers)") {
    // a max/min(struct(...)) argmax carries a struct aggregation buffer,
    // which HashAggregate cannot hold — Spark silently falls back to
    // SortAggregate and sorts the full candidate set per partition. These
    // queries pack (key, tie-break) into one long/decimal (or push the
    // argmax into a per-row kernel) precisely to stay hash-aggregated;
    // a SortAggregate reappearing means the packing regressed.
    for (name <- Seq("sim_ivf_topk", "sim_nn_per_label", "part_fuzzy_match",
        "docs_repetition")) {
      assert(!plan(name).contains("SortAggregate"),
        s"$name fell back to SortAggregate")
    }
  }

  test("PQ training/encoding broadcasts the codebooks and keeps the " +
    "packed argmin on the hash path") {
    val p = plan("sim_pq_topk")
    // codebooks and the per-query LUT are tiny — they must ride
    // broadcasts; the corpus/code table is never shuffled to meet them
    assert(p.contains("BroadcastHashJoin"),
      "PQ codebook/LUT joins are not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "PQ shuffled the corpus to meet a codebook")
    // the packed-decimal argmin must hash-aggregate (map-side partials);
    // SortAggregate means a struct buffer crept back in
    assert(!p.contains("SortAggregate"), "PQ argmin fell back to SortAggregate")
    // the IVF+PQ composition inherits both disciplines
    val pc = plan("sim_ivfpq_topk")
    assert(pc.contains("BroadcastHashJoin"))
    assert(!pc.contains("SortMergeJoin"),
      "IVF+PQ shuffled a broadcast-sized index structure")
    assert(!pc.contains("SortAggregate"))
  }

  test("k-means rounds broadcast the centroids and keep the packed " +
    "argmin on the hash path") {
    for (name <- Seq("emb_kmeans", "dedup_semantic")) {
      val p = plan(name)
      // centroid tables ride broadcast nested-loop joins (k rows); the
      // corpus is never shuffled to meet them
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$name does not broadcast the centroid table")
      // the packed-decimal argmin must hash-aggregate; SortAggregate
      // means a struct buffer crept back in
      assert(!p.contains("SortAggregate"),
        s"$name fell back to SortAggregate")
    }
  }

  test("boilerplate fraction and debounce plans stay partitioned " +
    "(no single-partition stage, no merge join)") {
    for (name <- Seq("docs_boilerplate_ngrams", "events_debounce",
        "events_debounce_kept")) {
      val p = plan(name)
      assert(!p.contains("SinglePartition"),
        s"$name planned a single-partition exchange")
    }
    assert(!plan("docs_boilerplate_ngrams").contains("SortMergeJoin"),
      "boilerplate df-join shuffled postings for a merge join")
  }

  test("round-6 ingest-hygiene queries stay partitioned and shuffle-lean") {
    // docs_unique_ids: both windows (claim count + survivor rank) share
    // the doc_id partition key — ONE hash exchange, no single partition
    val uid = plan("docs_unique_ids")
    assert(!uid.contains("SinglePartition"))
    assert("Exchange hashpartitioning".r.findAllIn(uid).length <= 1,
      "docs_unique_ids should shuffle once on doc_id")
    // events_scrub_stats: scrub is a pure projection folded into the scan
    // side of one map-side-combined aggregation
    val scrub = plan("events_scrub_stats")
    assert(!scrub.contains("SinglePartition"))
    assert(scrub.contains("HashAggregate"))
  }

  test("jaccard df-cap is a broadcast anti-join blocklist, never a " +
    "window over the shingle hash") {
    // the round-7 skew fix: computing df with `count over (partition by
    // h)` colocates every posting of a hot shingle in ONE partition
    // before the cap filter; the groupBy blocklist form shuffles only
    // map-side-combined counts and anti-joins them BROADCAST, so a
    // df~1e9 boilerplate shingle can never produce a straggler task
    val p = plan("dedup_neardup_jaccard")
    assert(p.contains("LeftAnti"), "df-cap blocklist anti-join missing")
    val antiLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("LeftAnti"))
    assert(antiLine.exists(_.contains("Broadcast")),
      s"df-cap anti-join is not broadcast: ${antiLine.getOrElse("?")}")
    assert(!p.contains("Window"),
      "jaccard plan re-grew a window stage (hot-shingle skew risk)")
  }

  test("cosine-pairs df-cap is a broadcast anti-join blocklist and the " +
    "plan has no window over the postings") {
    // same skew discipline as the jaccard family: the over-cap blocklist
    // is a tiny groupBy reduction broadcast anti-joined onto the
    // postings — never a `count over (partition by term)` that would
    // funnel a boilerplate term's postings into one partition
    val p = plan("text_cosine_pairs")
    assert(p.contains("LeftAnti"), "df-cap blocklist anti-join missing")
    val antiLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("LeftAnti"))
    assert(antiLine.exists(_.contains("Broadcast")),
      s"df-cap anti-join is not broadcast: ${antiLine.getOrElse("?")}")
    assert(!p.contains("Window"),
      "cosine-pairs plan grew a window stage (hot-term skew risk)")
    // (the plan's one SinglePartition exchange is the 1-row n_docs
    // global count — the same broadcast-stats shape as BM25's)
  }

  test("chunking is projection + generate — no hash exchange at any " +
    "corpus size") {
    // the 100 TB property: chunks inherit the document's partition; the
    // only exchange in the plan is the final presentation sort's range
    // partitioning, never a hash shuffle or an aggregation
    val p = plan("docs_chunk_overlap")
    assert(p.contains("Generate"), "chunk explode missing")
    assert(!p.contains("Exchange hashpartitioning"),
      "chunking plan shuffles by hash")
    assert(!p.contains("HashAggregate"))
    assert(!p.contains("Join"))
  }

  test("budget allocation broadcasts the quota table onto the corpus") {
    // the source-dimension windows deliberately run unpartitioned (the
    // dim is #sources rows); what must NOT happen is the corpus meeting
    // the quota table through a shuffle
    val p = plan("docs_budget_sample")
    assert(p.contains("BroadcastHashJoin"), "quota table not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled to meet the quota table")
  }

  test("docs_repetition is a pure projection before the final sort") {
    val p = plan("docs_repetition")
    assert(!p.contains("Generate"), "bigram explode reappeared")
    assert(!p.contains("HashAggregate"), "per-doc aggregation reappeared")
  }

  test("winnow fingerprint is shuffle-free before the final sort") {
    val p = plan("text_winnow_fingerprint")
    assert(!p.contains("Window"), "char-level window shuffle reappeared")
    assert(!p.contains("HashAggregate"), "global distinct reappeared")
    assert(!p.contains("SinglePartition"))
  }

  test("upsert is one full-outer hash-partitioned join — no window, " +
    "no cartesian") {
    val p = plan("dedup_upsert_snapshot")
    assert(p.contains("FullOuter"), "the MERGE join lost full-outer")
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("PCA projection never joins or shuffles the corpus (directions " +
    "are compiled constants)") {
    val p = plan("emb_pca_project")
    assert(!p.contains("Join"), "projection reintroduced a join")
    assert(!p.contains("Window"))
    assert(!p.contains("HashAggregate"),
      "projection reintroduced an aggregation")
  }

  test("BPE encode is a projection over the vocabulary; the merge-rank " +
    "window runs on an alphabet-bounded input") {
    // text_bpe_tokens: no window anywhere — the encode is a compiled
    // replace-fold, token counts are hash aggregates
    assert(!plan("text_bpe_tokens").contains("Window"))
    // the merges query's global rank window is exempt from the
    // no-SinglePartition rule because its input is bounded by the pair
    // ALPHABET (<= 26^2 rows post-aggregation), not the corpus — pin
    // that bound so the exemption cannot silently widen
    assert(graft.queries.TextOps.bpePairCounts(spark, d).count() <= 676L)
  }

  test("review sample windows partition by band — the only " +
    "SinglePartition exchange is the 1-row n_docs count") {
    // the sample rides the cosine-pairs frame, which carries the same
    // 1-row global doc-count broadcast-stats exchange text_cosine_pairs'
    // audit documents. That scalar count is scale-free; what must never
    // appear is a WINDOW (or any wide operator) running on a
    // single-partition corpus. Sectioned check: every operator section
    // mentioning SinglePartition must be that count exchange.
    val p = plan("text_dup_review_sample")
    val sections = p.split("\n\\s*\n")
    val sp = sections.filter(_.contains("SinglePartition"))
    assert(sp.nonEmpty || !p.contains("SinglePartition"))
    sp.foreach { s =>
      assert(s.contains("Exchange") && s.contains("Input [1]: [count#"),
        s"non-scalar-count SinglePartition section:\n$s")
    }
  }

  test("q35 unsalted skew join broadcasts the small dim (the " +
    "first-choice skew remedy)") {
    assert(plan("q35_join_skew_aqe").contains("BroadcastHashJoin"))
  }

  test("incremental LSH never plans a cartesian and never windows the " +
    "corpus (band hash joins + candidate-only verification)") {
    val p = plan("dedup_incremental_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"))
  }

  test("pii scan is a pure projection: no join, no aggregation") {
    val p = plan("docs_pii_scan")
    assert(!p.contains("Join"))
    assert(!p.contains("HashAggregate"))
  }

  test("temperature allocation and quality ablation never join the " +
    "corpus; ablation aggregates to one map-side-combinable row") {
    val t = plan("docs_mixture_temperature")
    assert(!t.contains("Join"), "allocation must stay on the source dim")
    val a = plan("docs_quality_ablation")
    assert(!a.contains("Join"))
    assert(!a.contains("Window"))
    assert(a.contains("HashAggregate"))
  }

  test("cell histogram broadcasts the centroid table into the " +
    "assignment pass") {
    val p = plan("sim_cell_histogram")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "centroid cross must ride a broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("incremental aggregate merge is one full-outer join of two " +
    "partial aggregates — no window, no cartesian") {
    val p = plan("events_agg_incremental")
    assert(p.contains("FullOuter"))
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("int8 recall broadcasts the query codes (no cartesian) like " +
    "the other brute legs") {
    val p = plan("sim_recall_int8")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("embed recall and vocab growth plan no cartesian (1-row " +
    "aggregates and the decile max ride broadcasts)") {
    assert(!plan("dedup_recall_embed").contains("CartesianProduct"))
    assert(!plan("text_vocab_growth").contains("CartesianProduct"))
  }

  test("whitening stays a constant-divisor projection like the PCA " +
    "apply — no join, no window, no aggregation") {
    val p = plan("emb_whiten_project")
    assert(!p.contains("Join"))
    assert(!p.contains("Window"))
    assert(!p.contains("HashAggregate"))
  }

  test("curation disposition is id-keyed hash joins only — no " +
    "cartesian, no window") {
    val p = plan("docs_curation_disposition")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"))
  }

  test("langid confusion never joins; pq distortion broadcasts the " +
    "codebook; threshold sweep plans no cartesian") {
    assert(!plan("text_langid_confusion").contains("Join"))
    val pq = plan("sim_pq_distortion")
    assert(pq.contains("BroadcastHashJoin"),
      "codebook join must broadcast")
    assert(!pq.contains("CartesianProduct"))
    assert(!plan("dedup_threshold_sweep").contains("CartesianProduct"))
  }
}
