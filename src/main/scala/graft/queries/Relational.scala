package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core: scans, filters, projections, every join shape, the
  * aggregate suite, grouping sets, set operations, sorts and top-k.
  *
  * Generalizes the reference's single pipeline (scan → flatMap → partial agg
  * → shuffle → final agg → top-N; `/root/reference/master.cc:856-880`) to the
  * full relational surface. All plans are declarative DataFrame ops, so
  * Catalyst inserts partial aggregation (the reference's `sorttask` combiner,
  * `/root/reference/slave.cc:155-203`) and hash-partitioned exchanges (the
  * reference's letter-range shuffle, `/root/reference/master.cc:479-512`)
  * automatically.
  *
  * Scale notes (100 TB discipline):
  *  - dimension joins (region/nation/customer/supplier/part) are explicitly
  *    `broadcast()` — no shuffle of the fact table for small dims;
  *  - fact-fact joins (lineitem ⋈ orders) are equi-joins on the natural key
  *    → sort-merge/shuffled-hash with AQE free to pick, both sides
  *    partitioned by the join key only once;
  *  - every aggregate is map-side combinable (integer grid sums / count /
  *    min / max — see [[graft.queries.gridSum]]);
  *  - grid sums are carried in decimal(38,0), so 10^12-row sums cannot
  *    silently overflow a long.
  */
object Relational {

  val queries: Map[String, Q] = Map(
    // ---- TPC-H Q1-style pricing summary: scan → filter → partial+final agg
    "q01_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumMoney(col("l_quantity")).as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_base_price"),
          gridSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
            10000.0).as("sum_disc_price"),
          gridSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")), 1000000.0).as("sum_charge"),
          avgMoney(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- filter + projection (predicate pushed to parquet, columns pruned;
    // projected measures are the raw source doubles — bit-identical by scan)
    "q02_filter_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("2001-06-01").cast("timestamp") &&
          col("l_shipdate") < lit("2001-07-01").cast("timestamp") &&
          col("l_discount") >= lit(0.05) && col("l_quantity") < lit(10.0))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("qty"),
          col("l_extendedprice").as("price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- global top-k without total sort (TakeOrderedAndProject — same
    // bounded-heap algorithm as the reference's top-N, master.cc:602-648)
    "q03_topn_orders" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"))
        .orderBy(col("price").desc, col("o_orderkey").asc)
        .limit(25)
    }),

    // ---- broadcast hash join: fact ⋈ small dim, no fact shuffle for the join
    "q04_join_broadcast" -> ((s, d) => {
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- multiway join: fact-fact sort-merge + broadcast dim chain
    // (TPC-H Q5 shape: revenue per nation within one region)
    "q05_join_multiway" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val n  = Tables.nation(s, d)
      val r  = Tables.region(s, d).filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(gridSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          10000.0).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    // ---- left-semi join (EXISTS): customers that placed an urgent order
    "q06_join_semi" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      Tables.customer(s, d)
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- left-anti join (NOT EXISTS): customers with no urgent order
    "q07_join_anti" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      Tables.customer(s, d)
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- left-outer join with empty-group null handling
    "q08_join_outer" -> ((s, d) => {
      val partial = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "P")
      Tables.customer(s, d)
        .join(partial, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_partial"),
          coalesce(sumMoney(col("o_totalprice")), lit(0.0))
            .as("partial_revenue"))
        .filter(col("n_partial") >= 2)
        .orderBy(col("c_custkey"))
    }),

    // ---- distinct aggregation (expands to two-phase agg under the hood)
    "q09_agg_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          count(lit(1)).as("n_items"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- aggregate suite: raw-double min/max (no arithmetic → bit-exact)
    // + deterministic grid mean
    "q10_agg_stats" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          avgMoney(col("o_totalprice")).as("avg_price"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- exact-moment statistics: variance / stddev / correlation from
    // integer-grid power sums. Each sum (Σx, Σx², Σxy, …) is EXACT — cent
    // grid, decimal(38,0) carry (DuckDB mirrors with HUGEINT) — and the
    // closed-form moment expressions cast to double exactly once, so both
    // engines round the same integers the same way: bit-stable floats
    // without surrendering to per-engine accumulation order (the built-in
    // var_pop/corr stream doubles and are NOT cross-engine stable).
    // Overflow bound: n·Σy² must fit 38 digits — holds to ~10^12 rows of
    // 10^7-cent values; re-grid coarser beyond that.
    "q24_agg_stats_exact" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          cents(col("l_quantity")).cast("long").as("x"),
          cents(col("l_extendedprice")).cast("long").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum((col("x") * col("x")).cast(dec)).as("sxx"),
          sum((col("y") * col("y")).cast(dec)).as("syy"),
          sum((col("x") * col("y")).cast(dec)).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          expr("CAST(n * sxx - sx * sx AS DOUBLE) / n / n / 10000.0")
            .as("var_qty"),
          expr("sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n / 100.0")
            .as("stddev_qty"),
          expr("CAST(n * sxy - sx * sy AS DOUBLE) / " +
            "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * " +
            "sqrt(CAST(n * syy - sy * sy AS DOUBLE)))")
            .as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- rollup: hierarchical subtotals + grand total
    "q11_agg_rollup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sumMoney(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // ---- cube: all grouping-set combinations
    "q12_agg_cube" -> ((s, d) => {
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sumMoney(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // ---- explicit grouping sets (exact set, no extra combos) — the
    // native Dataset.groupingSets API, no temp-view side effects
    "q13_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sumMoney(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // ---- set operations: UNION (set), INTERSECT, EXCEPT
    "q14_set_union" -> ((s, d) => {
      val a = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val b = Tables.orders(s, d)
        .filter(col("o_totalprice") > 450000.0)
        .select(col("o_custkey").as("c_custkey"))
      a.union(b).distinct().orderBy(col("c_custkey"))
    }),
    "q15_set_intersect" -> ((s, d) => {
      val a = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val b = Tables.orders(s, d)
        .filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey").as("c_custkey"))
      a.intersect(b).orderBy(col("c_custkey"))
    }),
    "q16_set_except" -> ((s, d) => {
      val a = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val b = Tables.orders(s, d)
        .filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey").as("c_custkey"))
      a.except(b).orderBy(col("c_custkey"))
    }),

    // ---- window: per-group top-k via row_number (no global sort)
    "q17_window_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
          col("o_totalprice").as("price"))
        .filter(col("o_custkey") <= 200)
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // ---- window: lag/lead + rank over event-time order
    "q18_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice").as("price"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          rank().over(w).cast("long").as("rnk"))
        .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
    }),

    // ---- supplier dimension: per-nation account-balance stats (raw-double
    // min/max, grid-exact mean) through a broadcast dimension join
    "q21_supplier_stats" -> ((s, d) => {
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          min(col("s_acctbal")).as("min_bal"),
          max(col("s_acctbal")).as("max_bal"),
          avgMoney(col("s_acctbal")).as("avg_bal"))
        .orderBy(col("n_name"))
    }),

    // ---- correlated scalar subquery + anti join (TPC-H Q22 shape):
    // customers above the positive-balance average with no urgent orders.
    // Catalyst decorrelates the scalar aggregate into a broadcast cross
    // join; the threshold rides the cent grid so both engines compare
    // against the identical double.
    "q22_rich_inactive_customers" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val thr = c.filter(col("c_acctbal") > 0.0)
        .agg(avgMoney(col("c_acctbal")).as("thr"))
      c.join(Tables.orders(s, d)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("thr"))
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // ---- distinct counting, hash-gated exact column. The HLL++ companion
    // ([[approxDistinct]]) is the 100 TB-scale substitute (no Expand, one
    // pass, fixed-size sketches merged map-side), but sketch estimates are
    // engine-specific, so the approximate column is exercised and
    // error-bounded in ApproxDistinctSpec rather than oracle-hashed here.
    "q20_agg_approx_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- window: running (prefix) sum with explicit frame — summed on the
    // exact cent grid so the cumulative value is order-exact in both engines
    "q19_window_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          (sum(cents(col("l_quantity"))).over(w).cast("double") / lit(100.0))
            .as("running_qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- full outer join: per-nation counts of rich customers vs
    // suppliers — the rich-customer filter leaves nations with only one
    // side populated, so genuine NULL-extended rows survive to the output
    "q25_join_full_outer" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .filter(col("c_acctbal") >= 9900.0)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_rich_cust"))
      val sup = Tables.supplier(s, d)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(sup, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(coalesce(col("c_nationkey"), col("s_nationkey"))
          .cast("long").as("nationkey"),
          col("n_rich_cust"), col("n_supp"))
        .orderBy(col("nationkey"))
    }),

    // ---- bag-semantics set op: EXCEPT ALL (multiset difference) — one
    // copy of a customer key is removed per urgent order, not all copies
    "q26_set_except_all" -> ((s, d) => {
      val all = Tables.orders(s, d).select(col("o_custkey"))
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      all.exceptAll(urgent).orderBy(col("o_custkey"))
    }),

    // ---- bucketed co-located join: both sides written `bucketBy` on the
    // join key, so the JOIN and the per-key AGGREGATION need no exchange
    // at all — the only shuffle in the whole plan is the final
    // presentation sort (plan-audited). This is the pre-partitioned
    // layout discipline for fact-fact joins at 100 TB: the layout job
    // (repartition-by-key + bucketed write) runs ONCE per ingest, then
    // every subsequent join/agg on the key is shuffle-free; here both
    // phases run inside the query so the gate covers the writer and the
    // bucket-aware scan together. The merge hint stands in for two sides
    // too large to broadcast (the regime bucketing exists for); the
    // merge join's per-side sorts are partition-local over one
    // co-located bucket each (Spark 3.0+ no longer trusts scan-reported
    // bucket sort order), never a shuffle.
    "q27_join_bucketed" -> ((s, d) =>
      bucketedCustomerOrders(s, d)
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("sum_spend"))
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"),
          col("n_orders"), col("sum_spend"))
        .orderBy(col("custkey"))),

    // ---- window: ntile quartiles per group (deterministic: the window
    // order is total via the orderkey tie-break, and ntile's
    // earlier-buckets-one-larger split is the same in every SQL engine)
    "q23_window_ntile" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .groupBy(col("o_orderpriority"), col("quartile"))
        .agg(count(lit(1)).as("n"),
          sumMoney(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"), col("quartile"))
    }),

    // ---- distribution window functions (percent_rank / cume_dist) —
    // the relative-position readouts the rank/ntile gates don't cover:
    // percent_rank = (rank−1)/(n−1), cume_dist = peers-at-or-below/n,
    // both IEEE divisions of the same two integers in either engine, so
    // the doubles are bit-equal (the CAST(sum)/100.0 convention). Rows
    // are windowed over the FULL priority partition, then a
    // deterministic keyed sample (orderkey % 97) keeps the gate output
    // compact without touching the window input. Same scale class as
    // the q17–q23 partitioned-window family (partition count is small,
    // partition size corpus-growing; the rankBoundaries histogram
    // machinery is the documented scale path when a partition outgrows
    // one task).
    "q46_window_distribution" -> ((s, d) => {
      // nullable sort key → explicit nulls position (SURVEY §5 item 6):
      // Spark ASC defaults nulls FIRST, DuckDB ASC nulls LAST — inside
      // percent_rank that divergence silently re-ranks every row, so
      // both engines spell NULLS LAST
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc_nulls_last, col("o_orderkey").asc)
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("pr"), col("cd"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }),

    // ---- hidden file-metadata columns (`_metadata.file_name` /
    // `file_size`) — the lineage surface every lakehouse job leans on
    // at 100 TB (which files fed this result? skip already-compacted
    // ones, quarantine a poisoned drop, bill ingest by source file)
    // WITHOUT a separate listing job: the scan itself exports its
    // provenance. File names/sizes are layout-dependent (engine- and
    // write-history-specific), so the gate is a CONTRACT
    // (events_quantiles_sketch convention): row count (deterministic)
    // plus metadata-sanity bits — at least one distinct source file
    // and strictly positive file sizes — with the empty-corpus guard
    // (a 0-row scan surfaces no metadata rows to count). files_ok
    // checks the metadata names against an INDEPENDENT filesystem
    // listing of the dataset directory (every surfaced file_name must
    // be a listed data file, and — when rows exist — at least one
    // must surface): a metadata column emitting garbage or per-row
    // unique names fails the anti-join, so the bit has teeth beyond
    // count > 0. Surfaced ⊆ listed (not =) because an empty part file
    // legitimately contributes no rows.
    "q47_metadata_lineage" -> ((s, d) => {
      import s.implicits._
      val dir = new org.apache.hadoop.fs.Path(s"$d/orders.parquet")
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      val listed = fs.listStatus(dir).filter(_.isFile)
        .map(_.getPath.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSeq
      val meta = Tables.orders(s, d)
        .select(col("_metadata.file_name").as("f"),
          col("_metadata.file_size").as("sz"))
      // distinct surfaced names not present in the listing — must be 0
      val rogue = meta.select(col("f")).distinct()
        .join(broadcast(listed.toDF("lf")), col("f") === col("lf"),
          "left_anti")
        .agg(count(lit(1)).as("n_rogue"))
      meta.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("f")).as("n_files"),
          min(col("sz")).as("min_sz"))
        .crossJoin(broadcast(rogue))  // 1 row × 1 row
        .select(col("n_rows"),
          when(col("n_rogue") === 0L &&
            (col("n_rows") === 0L || col("n_files") >= 1L), 1L)
            .otherwise(0L).as("files_ok"),
          when(col("n_rows") === 0L || col("min_sz") > 0L, 1L)
            .otherwise(0L).as("size_ok"))
    }),

    // ---- fixed-iteration PageRank (Brin/Page; the link-analysis family
    // behind harmonic-centrality web-corpus curation à la CommonCrawl)
    // over the part↔supplier bipartite graph from lineitem, on the exact
    // integer grid. Contract: damping 85/100, 3 synchronous iterations,
    // rank₀ = 10¹² div n per node, per-edge contribution rank div deg
    // (integer-div-then-sum — order-insensitive), rankᵢ₊₁ =
    // ((10¹² div n)·15) div 100 + (85·in_mass) div 100. Nodes without
    // lineitems are dangling: they keep receiving the base term and their
    // mass is NOT redistributed (documented leak — deterministic, and the
    // standard simplification when dangling mass is negligible). Every
    // operation is int64 — bit-equal cross-engine where float PageRank
    // never is. Plan shape is Pregel's: the edge list (with out-degree
    // pre-joined) is hash-partitioned ONCE and persisted; each iteration
    // is one hash join (ranks onto edge sources) + one map-side-combinable
    // groupBy(dst) — O(iters) shuffles total, no driver-side state, no
    // growing lineage (3 unrolled steps). At 10¹⁰ edges each round is one
    // co-partitioned join exactly like the production Pregel/GraphFrames
    // loop; convergence-to-tolerance would add the dedup_components-style
    // loud-failure iteration cap.
    "q28_pagerank_parts" -> ((s, d) => {
      // nodes carry PACKED LONG ids internally (part → 2k, supplier →
      // 2k+1): every shuffle, join, and distinct keys on an 8-byte long
      // instead of a "p:123" string — the display label is derived once,
      // on the 50 output rows (measured ~25% of query time at sf0.1 was
      // string key hashing/compare)
      // cache layout: e0 (the half-size directed pair set) is the ONLY
      // pre-join cache — the doubled edge list derives from it lazily
      // (union over the cache) inside the one frame that must persist,
      // withDeg. Caching the doubled list AND withDeg (the previous
      // shape) held two copies of the edge list in storage for the whole
      // query while the doubled copy is never read again after withDeg
      // materializes (guide §5: unpersist the superseded frame — here it
      // is never persisted at all). The degree join is a SELF-join of
      // the same derived frame, so it is pinned shuffle-hash like every
      // self-join this round: measured 6.2 s -> 4.6 s warm for the whole
      // query, and the cached bytes halve.
      val e0 = graft.Caching.persistTracked(Tables.lineitem(s, d)
        .select((col("l_partkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct())
      val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      val withDeg = graft.Caching.persistTracked(
        edges.hint("shuffle_hash").join(
          edges.groupBy(col("a")).agg(count(lit(1)).as("deg")), "a"))
      val nodes = graft.Caching.persistTracked(
        Tables.part(s, d)
          .select((col("p_partkey") * 2).as("node"))
          .union(Tables.supplier(s, d)
            .select((col("s_suppkey") * 2 + 1).as("node"))))
      val nn = nodes.agg(count(lit(1)).as("n"))
      val r0 = nodes.crossJoin(broadcast(nn))
        .select(col("node"), col("n"),
          expr("1000000000000 div n").as("rank"))
      // shuffle_hash on both per-round joins: the rank and mass sides are
      // node-sized (not broadcastable at graph scale) and a sort-merge
      // plan re-sorts the edge list EVERY round — the hash join keeps
      // each round at one exchange of the small side against the
      // already-partitioned edges (measured 8.5 s → SMJ sorts dominated)
      def step(r: DataFrame): DataFrame = {
        val mass = withDeg
          .join(r.select(col("node").as("a"), col("rank"))
            .hint("shuffle_hash"), "a")
          .select(col("b").as("node"), expr("rank div deg").as("contrib"))
          .groupBy(col("node")).agg(sum(col("contrib")).as("in_mass"))
        nodes.crossJoin(broadcast(nn))
          .join(mass.hint("shuffle_hash"), Seq("node"), "left_outer")
          .select(col("node"), col("n"), (
            expr("((1000000000000 div n) * 15) div 100") +
              expr("(85 * coalesce(in_mass, 0)) div 100")).as("rank"))
      }
      val r3 = step(step(step(r0)))
      // global top-50 via the bounded heap (TakeOrderedAndProject), THEN
      // a row_number over just the 50 survivors — a bare global
      // row_number window would single-partition ALL nodes. The string
      // label materializes only here, and the heap orders by (rank,
      // label) exactly as the oracle does: within one rank the "p:"
      // prefix sorts before "s:", and numeric ids of one prefix sort as
      // STRINGS — the packed long preserves neither, so the label is the
      // sort key.
      val label = concat(
        when(col("id") % 2 === 0, lit("p:")).otherwise(lit("s:")),
        expr("id div 2"))
      val w = Window.orderBy(col("rank_grid").desc, col("node").asc)
      r3.select(col("node").as("id"), col("rank").as("rank_grid"))
        .select(label.as("node"), col("rank_grid"))
        .orderBy(col("rank_grid").desc, col("node").asc)
        .limit(50)
        .withColumn("rn", row_number().over(w).cast("long"))
        .select(col("rn"), col("node"), col("rank_grid"))
        .orderBy(col("rn"))
    }),

    // ---- cohort retention (the classic activation/retention analytics
    // matrix): customers are cohorted by the month of their FIRST order;
    // each later order lands at an integer month offset from the cohort
    // month; the output counts distinct active customers per (cohort,
    // offset). Month arithmetic is pure integers — offset = (y·12+m) −
    // (y₀·12+m₀) — never interval/float. Two hash exchanges on
    // o_custkey (first-order agg, then the distinct-count agg regrouped
    // by cohort), both map-side combinable; the first-order table joins
    // back by key, the standard self-aggregation-join shape at any
    // order-table size.
    "q30_cohort_retention" -> ((s, d) => {
      val ym = (t: org.apache.spark.sql.Column) => year(t) * 12 + month(t)
      val first = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_dt"))
        .select(col("o_custkey"),
          date_trunc("month", col("first_dt")).as("cohort_ts"),
          ym(col("first_dt")).as("ym0"))
      Tables.orders(s, d)
        .join(first, "o_custkey")
        .select(col("o_custkey"), col("cohort_ts"),
          (ym(col("o_orderdate")) - col("ym0")).cast("long").as("offset"))
        .groupBy(col("cohort_ts"), col("offset"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"))
        .select(col("cohort_ts").cast("timestamp_ntz").as("cohort_month"),
          col("offset"), col("n_customers"))
        .orderBy(col("cohort_month"), col("offset"))
    }),

    // ---- Pareto/ABC revenue-concentration panel: customers sorted by
    // spend (cents grid) descending, cut into spend deciles (ntile(10)
    // semantics with the total (spend desc, custkey) tie-break), each
    // decile's exact share of total revenue on the 10⁶ grid:
    // share_grid = (decile_cents·10⁶) div total_cents. The "do 20% of
    // customers carry 80% of revenue" read-off, bit-stable. The decile
    // is NOT a global ntile window (that serializes the whole customer
    // dimension into one task): [[rankBoundaries]] finds the 9 exact
    // cut elements by histogram refinement and [[ntileScored]] buckets
    // every customer against the broadcast cuts — identical ntile
    // arithmetic (the oracle still says ntile(10)), no partitionless
    // window anywhere. (spend desc, custkey asc) ≡ (−cents asc, custkey
    // asc); per-customer cents fits a long (< 2⁶³ even at 100 TB), the
    // decimal(38) column survives for the exact sums; a null spend
    // (all-null totalprice) maps to a +∞-side sentinel = nulls-last,
    // both engines' DESC default.
    "q33_pareto_deciles" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val negSpend = coalesce(-col("cents").cast("long"),
        lit(Long.MaxValue / 2))
      val spend = graft.Caching.persistTracked(Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice")).cast(dec)).as("cents"))
        .withColumn("v", negSpend))
      val bounds = rankBoundaries(
        spend.select(lit("d").as("s"), col("o_custkey").as("id"), col("v"),
          expr("v div 100000").as("vbin"),
          expr("o_custkey div 1024").as("ibin")),
        nBuckets = 10)
      ntileScored(spend, "o_custkey", bounds,
          Seq(("v", "decile", "d")))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents")).as("decile_cents"))
        .crossJoin(broadcast(
          spend.agg(sum(col("cents")).as("total_cents"))))
        .select(col("decile"), col("n_customers"),
          (col("decile_cents").cast("double") / 100.0).as("decile_spend"),
          expr("(decile_cents * 1000000) div total_cents")
            .as("share_grid"))
        .orderBy(col("decile"))
    }),

    // ---- RFM customer segmentation (recency / frequency / monetary with
    // quintile scores — the classic CRM/value segmentation): one
    // aggregation of orders to the customer dimension (recency in whole
    // days vs the corpus max order date — integer date_diff, never
    // intervals), then three ntile(5) scores with total tie-break
    // orders, so every score is deterministic (ntile's
    // earlier-buckets-one-larger split is the same in every SQL engine,
    // q23's contract). No score is a global ntile WINDOW (a
    // partitionless Window.orderBy serializes the whole customer
    // dimension into one task — at 100× customers, the one single-task
    // stage in the plan): each score's 4 quintile cut ELEMENTS come from
    // [[rankBoundaries]] (histogram refinement, every window bin-level
    // or bounded) and rows bucket against the broadcast cuts via
    // [[ntileScored]] — bit-identical ntile arithmetic, the oracle still
    // says ntile(5). Descending orders negate the value ((x desc, id
    // asc) ≡ (−x asc, id asc)); monetary ranks on exact integer cents
    // (monotone with the emitted double); null sentinels reproduce the
    // window defaults the gate already pinned (recency: Spark asc =
    // nulls first → −1 below the 0.. domain; monetary: desc = nulls
    // last → +∞-side sentinel).
    "q32_rfm_segments" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val mx = Tables.orders(s, d).agg(max(col("o_orderdate")).as("max_dt"))
      val rfm = graft.Caching.persistTracked(Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_dt"),
          count(lit(1)).as("frequency"),
          sum(cents(col("o_totalprice")).cast(dec)).as("mon_dec"))
        .crossJoin(broadcast(mx))
        .withColumn("recency_days",
          datediff(to_date(col("max_dt")), to_date(col("last_dt")))
            .cast("long"))
        .withColumn("vr", coalesce(col("recency_days"), lit(-1L)))
        .withColumn("vf", -col("frequency"))
        .withColumn("vm", coalesce(-col("mon_dec").cast("long"),
          lit(Long.MaxValue / 2))))
      def basis(sKey: String, vc: String, vStep: Long) =
        rfm.select(lit(sKey).as("s"), col("o_custkey").as("id"),
          col(vc).as("v"), expr(s"$vc div $vStep").as("vbin"),
          expr("o_custkey div 1024").as("ibin"))
      val bounds = rankBoundaries(
        basis("r", "vr", 64L)
          .unionAll(basis("f", "vf", 4L))
          .unionAll(basis("m", "vm", 100000L)),
        nBuckets = 5)
      val scored = ntileScored(rfm, "o_custkey", bounds,
        Seq(("vr", "r_score", "r"), ("vf", "f_score", "f"),
          ("vm", "m_score", "m")))
      scored
        .select(col("o_custkey").as("custkey"), col("recency_days"),
          col("frequency"),
          (col("mon_dec").cast("double") / 100.0).as("monetary"),
          col("r_score"), col("f_score"), col("m_score"))
        .orderBy(col("custkey"))
    }),

    // ---- market-basket co-occurrence with lift (the association-rule
    // mining shape): part pairs appearing in the same order, scored by
    //   lift_grid = (n_ab·N·10⁶) div (n_a·n_b)      [lift = P(ab)/P(a)P(b)]
    // on the integer grid, top-50 pairs by support with a total
    // tie-break. The pair expansion is the per-order self-join on
    // o_orderkey — bounded by basket size (items per order), NOT corpus
    // size, which is what makes basket mining linear at any order count;
    // the margins are one distinct-count aggregate joined back (the
    // n_a/n_b sides ride broadcast when the part dimension allows, hash
    // otherwise). Products stay inside int64 while n_ab·N < 9·10¹²·10⁶ —
    // beyond ~10⁹ orders carry the numerator in decimal (a cast, not a
    // shape change).
    "q31_basket_lift" -> ((s, d) => {
      val items = graft.Caching.persistTracked(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct())
      val tot = items.agg(countDistinct(col("o")).as("n_orders"))
      val freq = items.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
      // shuffle-hash self-join: reuse one Exchange of the cached items
      // instead of a serial broadcast build (copurchaseEdges convention)
      val pairs = items.select(col("o"), col("p").as("pa"))
        .hint("shuffle_hash")
        .join(items.select(col("o"), col("p").as("pb")), "o")
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(freq.select(col("p").as("pa"), col("n_p").as("n_a")), "pa")
        .join(freq.select(col("p").as("pb"), col("n_p").as("n_b")), "pb")
        .crossJoin(broadcast(tot))
        .select(col("pa").as("part_a"), col("pb").as("part_b"),
          col("n_ab"), col("n_a"), col("n_b"),
          expr("(n_ab * n_orders * 1000000) div (n_a * n_b)")
            .as("lift_grid"))
        .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
        .limit(50)
    }),

    // ---- triangle counting + global transitivity over the co-purchase
    // graph (with PageRank and connected components this completes the
    // graph-analytics family; the clustering coefficient is the classic
    // community-structure readout for web/citation-graph curation).
    // Edges: part pairs co-occurring in ≥ 2 orders (q31's bounded pair
    // expansion — pairs grow with Σ basket², never corpus²). The
    // triangle enumeration is DEGREE-ORIENTED (Chiba–Nishizeki /
    // Schank–Wagner): each edge points from its (degree, id)-smaller
    // endpoint to the larger, wedges expand only from ORIENTED
    // out-neighborhoods — Σ outdeg² is bounded by O(m·√m) for any graph
    // (m = edges), where the naive wedge count Σ deg² is quadratic in
    // the max degree: a hub of degree 10⁶ contributes 10¹² naive wedges
    // but its oriented out-degree is O(√m). The closure join hits the
    // oriented edge set once per wedge, counting each triangle exactly
    // once (the orientation is a total order). Output is one stats row:
    // nodes, edges, wedges (Σ deg·(deg−1)/2, exact), triangles, and
    // transitivity = 3·tri/wedges on the 10⁶ integer grid (nonnegative
    // div — identical truncation in both engines).
    "q34_triangle_stats" -> ((s, d) => {
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      // shuffle-hash self-join (copurchaseEdges convention)
      val edges = items.select(col("o"), col("p").as("pa"))
        .hint("shuffle_hash")
        .join(items.select(col("o"), col("p").as("pb")), "o")
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
        .select(col("pa").as("a"), col("pb").as("b"))
      triangleStats(edges)
    }),

    // ---- salted skew JOIN ([[graft.operators.ScaleOps.saltedJoin]]
    // gated): lineitem is genuinely skewed on l_suppkey (only 10·sf
    // suppliers → ~600 rows per key at every SF), the exact regime where
    // one hot key strangles a shuffle join. The fact side salts by
    // content hash into 16 sub-keys, the dim side replicates 16×, and
    // the join runs on (key, salt) — here FORCED to a shuffled hash join
    // (hint) because a broadcastable supplier table would never need
    // salting; the gate proves the salted plan's result is EXACTLY the
    // plain join's (the oracle is the unsalted SQL), the property that
    // makes the tool safe to deploy. Measures ride the cents grid, so
    // the re-grouped addition order cannot show through.
    "q29_join_salted_skew" -> ((s, d) => {
      val fact = Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
      val dim = Tables.supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
        .hint("shuffle_hash")
      graft.operators.ScaleOps.saltedJoin(fact, dim, "l_suppkey", 16)
        .groupBy(col("l_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_items"),
          sumMoney(col("l_extendedprice")).as("sum_price"))
        .select(col("l_suppkey").as("suppkey"), col("s_name"),
          col("n_items"), col("sum_price"))
        .orderBy(col("suppkey"))
    }),

    // ---- the SAME skewed join, UNSALTED — documenting when the manual
    // salt tool (q29) is and is not needed. Declared as a plain
    // equi-join: Catalyst picks the physical strategy (here a broadcast
    // of the small dim — itself the first-choice skew remedy, since a
    // broadcast join never shuffles the fact by the hot key), and when
    // the dim is too big to broadcast, AQE's runtime skew-join split
    // (`spark.sql.adaptive.skewJoin`) re-plans oversized partitions
    // WITHOUT a rewritten query — AqeSkewJoinSpec forces that regime
    // (broadcast off, thresholds scaled to the fixture) and asserts from
    // the executed plan's AQEShuffleRead that the skew split actually
    // fired. Manual salting remains for what AQE cannot see (SURVEY
    // §2.3): first-shuffle aggregation skew and streaming state skew.
    // Result parity with q29 is pinned by sharing its oracle verbatim.
    "q35_join_skew_aqe" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
        .join(Tables.supplier(s, d)
          .select(col("s_suppkey").as("l_suppkey"), col("s_name")),
          "l_suppkey")
        .groupBy(col("l_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_items"),
          sumMoney(col("l_extendedprice")).as("sum_price"))
        .select(col("l_suppkey").as("suppkey"), col("s_name"),
          col("n_items"), col("sum_price"))
        .orderBy(col("suppkey"))
    }),

    // ---- k-core decomposition (k = 3) over the co-purchase graph — the
    // degeneracy-peel operator that completes the graph-curation family
    // (PageRank = importance, components = clusters, triangles = local
    // density, k-core = the cohesive backbone: spam/link-farm filtering
    // and influence-seed selection both read core membership). Edges are
    // q34's bounded co-purchase pairs (≥ 2 shared orders). Peeling is
    // the standard iterative rule — drop every node whose current degree
    // is < k, recompute, repeat — run to fixpoint or a 20-round cap (the
    // peel is idempotent at the fixpoint, so an early-converged engine
    // result equals the oracle's fixed 20-round replay; the sf0.01 graph
    // cascades 11 rounds, so the cap carries real headroom; a corpus
    // still shrinking at round 20 fails loudly at the cap in [[kcore]],
    // never silently). Each round is one map-side-combinable degree
    // count + two semi-joins — O(m) per round, O(m^1.5) total worst case,
    // the distributed-peel shape of Montresor et al. (arXiv 1103.5320). Output: surviving nodes with their within-core degree.
    "q36_kcore" -> ((s, d) => kcore(copurchaseEdges(s, d), k = 3,
      maxRounds = 20)),

    // ---- data-quality audit (the Deequ/Great-Expectations constraint
    // panel — the gate a 100 TB ingest runs BEFORE any query trusts the
    // tables): referential integrity (FK orphans via anti join — a null
    // FK can't reference anything, so it violates, same in both
    // engines' NOT-EXISTS semantics), primary-key uniqueness (rows in
    // key groups of size > 1, null keys always violations), domain
    // ranges (non-positive retail price, lineitem quantity outside
    // [1, 50]), and timeline completeness (null event ts). Each check is
    // one map-side-combinable aggregate or one anti join hash-partitioned
    // on the key (Catalyst broadcasts the small side); the output is a
    // fixed 6-row panel with the violation rate on the exact ppm grid —
    // no float, no sampling: at 100 TB an audit that samples is an audit
    // that misses the one corrupt partition it exists to catch.
    "q37_dq_audit" -> ((s, d) => {
      def panel(name: String, viol: org.apache.spark.sql.DataFrame,
                base: org.apache.spark.sql.DataFrame) =
        viol.agg(count(lit(1)).as("n_violations"))
          .crossJoin(broadcast(base.agg(count(lit(1)).as("n_rows"))))
          .select(lit(name).as("check"), col("n_violations"),
            col("n_rows"))
      def flagged(name: String, base: org.apache.spark.sql.DataFrame,
                  bad: org.apache.spark.sql.Column) =
        panel(name, base.filter(bad), base)
      val orders = Tables.orders(s, d)
      val customer = Tables.customer(s, d)
      val lineitem = Tables.lineitem(s, d)
      val checks = Seq(
        panel("orders_fk_customer",
          orders.join(customer.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti"), orders),
        panel("lineitem_fk_orders",
          lineitem.join(orders.select(col("o_orderkey").as("ok")),
            col("l_orderkey") === col("ok"), "left_anti"), lineitem),
        // direct aggregate, never an expansion: a pathological billion-row
        // duplicate group must cost one counter, not a billion exploded rows
        customer.groupBy(col("c_custkey")).agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(when(col("c_custkey").isNull || col("c") > 1,
            col("c"))), lit(0L)).cast("long").as("n_violations"))
          .crossJoin(broadcast(
            customer.agg(count(lit(1)).as("n_rows"))))
          .select(lit("customer_pk_unique").as("check"),
            col("n_violations"), col("n_rows")),
        flagged("part_price_positive", Tables.part(s, d),
          col("p_retailprice").isNull || col("p_retailprice") <= 0),
        flagged("lineitem_qty_range", lineitem,
          col("l_quantity").isNull || col("l_quantity") < 1 ||
            col("l_quantity") > 50),
        flagged("events_ts_present", Tables.events(s, d),
          col("ts").isNull))
      checks.reduce(_ unionAll _)
        .select(col("check"), col("n_violations"), col("n_rows"),
          when(col("n_rows") > 0,
            expr("n_violations * 1000000 div n_rows"))
            .otherwise(lit(0L)).as("rate_ppm"))
        .orderBy(col("check"))
    }),

    // ---- range-partition boundary computation (the planning step of
    // every distributed sort / sorted write: Spark's own RangePartitioner
    // samples to pick split points — this is the EXACT version, the
    // balanced 32-way cut of orders by price). Type-1 inverse CDF at
    // ranks k·n div 32, k = 1..31, via the quantile family's
    // no-total-sort shape (the events_median_2pass histogram discipline,
    // generalized to 31 targets): pass 1 is a map-side-combinable
    // $100-bin histogram whose running sum — a window over BINS, a
    // domain constant (max price / $100), never the per-row or even
    // per-distinct-value dimension — locates each target's bin; pass 2
    // re-scans ONLY the target bins (broadcast-join pruned) and runs the
    // per-value cumulative INSIDE each ≤10k-value bin, boundary = min
    // value whose global cumulative count (bin offset + in-bin running
    // sum) reaches the target rank. Everything on the exact cent grid;
    // n_at_or_below exposes the realized balance (skewed value mass
    // shows up as unequal gaps — exactly what the planner needs to
    // see). The output is 31 rows at any corpus size.
    "q38_range_boundaries" -> ((s, d) => {
      val base = graft.Caching.persistTracked(Tables.orders(s, d)
        .filter(col("o_totalprice").isNotNull)
        .select(cents(col("o_totalprice")).cast("long").as("v"))
        .withColumn("vbin", expr("v div 10000")))
      val n = base.agg(count(lit(1)).as("n"))
      val targets = s.range(1, 32).select(col("id").as("k"))
        .crossJoin(broadcast(n))
        .withColumn("target_rank", expr("(k * n) div 32"))
        // rank 0 (possible only when n < 32) selects the global min
        // value, same as rank 1 — keep the emitted target_rank exact
        .withColumn("tr", greatest(col("target_rank"), lit(1L)))
      val wBins = org.apache.spark.sql.expressions.Window
        .orderBy(col("vbin"))
        .rowsBetween(Long.MinValue, -1)
      val vcum = base.groupBy(col("vbin")).agg(count(lit(1)).as("bc"))
        .withColumn("below", coalesce(sum(col("bc")).over(wBins), lit(0L)))
      val tbin = vcum.join(broadcast(targets),
          col("below") < col("tr") && col("tr") <= col("below") + col("bc"))
        .select(col("k"), col("target_rank"), col("tr"),
          col("vbin").as("tbin"), col("below").as("bin_below"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("v"))
        .rowsBetween(Long.MinValue,
          org.apache.spark.sql.expressions.Window.currentRow)
      base.join(broadcast(tbin), col("vbin") === col("tbin"))
        .groupBy(col("k"), col("target_rank"), col("tr"),
          col("bin_below"), col("v"))
        .agg(count(lit(1)).as("vc"))
        .withColumn("cum_at", col("bin_below") + sum(col("vc")).over(wv))
        .filter(col("cum_at") >= col("tr"))
        .groupBy(col("k"), col("target_rank"))
        .agg(min(struct(col("v"), col("cum_at"))).as("m"))
        .select(col("k"), col("target_rank"),
          (col("m.v").cast("double") / 100.0).as("boundary"),
          col("m.cum_at").as("n_at_or_below"))
        .orderBy(col("k"))
    }),

    // ---- incremental maintenance of a JOIN view (the join analog of
    // `events_agg_incremental` — how a 100 TB orders⋈lineitem revenue
    // rollup is KEPT current without re-joining history): with snapshot
    // cut T = 1997-01-01 splitting each side (orders by o_orderdate,
    // lineitem by l_shipdate; null dates conservatively land in the old
    // slice so every row is in exactly one), the delta algebra
    // Δ(A⋈B) = ΔA⋈B_old ⊎ A_old⋈ΔB ⊎ ΔA⋈ΔB partitions the new join
    // pairs EXACTLY — the gate computes the view as stored_agg(A_old⋈
    // B_old) ⊕ the three delta-term aggregates merged by key, and the
    // oracle computes the DIRECT join aggregate, so any error in the
    // delta algebra (a missed term, a double-counted pair, a wrong split
    // polarity) breaks the hash. n_delta_pairs (the pairs the
    // maintenance pass actually touched) is on the output so the deltas
    // are provably live: at the fixture cut, late shipments of old
    // orders (A_old⋈ΔB) dominate, exactly the production shape. Scale:
    // maintenance cost is the three delta joins — each bounded by the
    // DELTA's size on at least one side — never a rescan of A_old⋈B_old;
    // all four joins co-partition on the same key (one exchange each
    // side), and the merge is a #months-row aggregate.
    "q39_join_incremental" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val cut = lit(java.sql.Date.valueOf("1997-01-01"))
      val a = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        substring(col("o_orderdate").cast("string"), 1, 7).as("month"),
        (col("o_orderdate") >= cut).as("a_new"))
      val b = Tables.lineitem(s, d).select(col("l_orderkey").as("k"),
        grid(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          10000.0).cast(dec).as("rev"),
        (col("l_shipdate") >= cut).as("b_new"))
      joinViewIncremental(a, b)
    }),

    // ---- BFS shortest-path layers from a deterministic source (the
    // frontier-expansion primitive under "products within k hops",
    // blast-radius, and graph-feature pipelines — the third iterative
    // graph shape beside the k-core peel and the components loop, and
    // the one whose per-round working set is the FRONTIER, not the
    // graph). Source = the smallest vertex of [[copurchaseEdges]] (a
    // computable pin that exists at every SF and on every salted
    // corpus); layers capped at 6 (the oracle's replay depth — a loud,
    // documented cap like kcore's). Per round: frontier ⋈ edges (the
    // frontier side shrinks or stays bounded by |V|), one distinct, one
    // anti-join against visited; cost per round is O(edges incident to
    // frontier) and the total is O(m) per layer — the Pregel BFS shape.
    // Output is the per-layer census (count, min/max vertex), which pins
    // every layer's SET without emitting |V| rows. Oracle: recursive CTE
    // producing (v, d) pairs with min-d per vertex — UNION-dedup bounds
    // the recursion at |V|·7 rows.
    "q40_bfs_layers" -> ((s, d) => bfsLayers(copurchaseEdges(s, d),
      maxDepth = 6)),

    // ---- runtime bloom-filter join (InjectRuntimeFilter) — the
    // read-reduction sibling of events_dpp_daily: when a shuffled join's
    // small side carries a selective non-key predicate, Catalyst plans
    // bloom_filter_agg(dim keys) → might_contain(fact key) so fact rows
    // that cannot match die BEFORE the fact-side exchange. At 100 TB
    // that is the difference between shuffling the whole fact table and
    // shuffling the ~20% that survives the dim filter. Cluster-sized
    // thresholds are scaled down inside the gate so the mechanism is
    // observable (and require()d) on fixture-sized parquet; the oracle
    // is the plain join — a bloom false positive only re-joins a row the
    // join itself drops, so the result is exactly the unfiltered join's.
    "q41_join_runtime_filter" -> ((s, d) => runtimeFilteredJoin(s, d)),

    // ---- NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM) — the
    // join predicate where NULL matches NULL: a plain equi-join drops
    // null keys from BOTH sides of a full outer (each null group
    // null-extends separately), while the null-safe form pairs the two
    // anonymous-user aggregates into ONE row — the semantics an
    // analytics join over nullable identity keys usually wants, and
    // still a HASH-JOINABLE equi-predicate (EqualNullSafe is a join
    // key, require()d below: no nested-loop fallback — at 100 TB a
    // BroadcastNestedLoopJoin here is the failure mode). The nulls
    // probe corpus makes the NULL↔NULL match live.
    "q45_join_null_safe" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_views"))
        .withColumnRenamed("user_id", "vu")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
        .withColumnRenamed("user_id", "cu")
      val out = views.join(clicks, col("vu") <=> col("cu"), "full_outer")
        .select(coalesce(col("vu"), col("cu")).as("user_id"),
          coalesce(col("n_views"), lit(0L)).as("n_views"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
        .orderBy(col("user_id").asc_nulls_last)
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin") ||
        plan.contains("BroadcastHashJoin"),
        "q45_join_null_safe: the null-safe join fell back to a " +
          "non-equi plan:\n" + plan)
      require(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        "q45_join_null_safe: nested-loop/cartesian in plan:\n" + plan)
      out
    }),

    // ---- columnar cache reuse (InMemoryRelation) — the one executor-
    // memory surface not yet gated as a query: a narrow projection
    // persisted once feeds TWO aggregates in one plan, both reading the
    // cached columnar batches instead of re-scanning parquet (the
    // dashboard/iterative-analytics pattern; at 100 TB the cache is the
    // REDUCED slice — 3 columns here — never the raw table, and the
    // second consumer is where caching pays). Both InMemoryTableScans
    // require()d per execution. Oracle = the same two aggregates off an
    // uncached CTE; caching cannot change bytes.
    "q44_cache_reuse" -> ((s, d) => cachedReuseAgg(s, d)),

    // ---- cost-based join reordering (CBO) — the optimizer choosing the
    // join ORDER from table/column statistics where every other gated
    // join is hand-ordered. Written pessimally (fact ⋈ fact first);
    // stats + spark.sql.cbo.joinReorder flip it dims-first, require()d
    // per execution. See [[cboReorderJoin]].
    "q43_join_cbo_reorder" -> ((s, d) => cboReorderJoin(s, d)),

    // ---- label-propagation community detection (Raghavan et al.,
    // arXiv 0709.2938) over the co-purchase graph — the fourth
    // iterative graph shape, and the one whose update rule is an ARGMAX
    // over the neighborhood (mode of neighbor labels) where BFS takes a
    // min and the peel takes a threshold. Deterministic synchronous
    // variant so the walk replays in DuckDB: every vertex starts as its
    // own label; each round, a vertex adopts the most frequent label
    // among its neighbors' PREVIOUS-round labels, ties to the SMALLEST
    // label; 4 fixed rounds (the oracle's replay depth — synchronous
    // LPA need not converge, so a fixed horizon is the contract, not a
    // cap). Per round: one join of the 2m-row orientation table against
    // the |V|-row label table, one (node, label) count that
    // hash-aggregates map-side, and a max(struct(count, −label)) argmax
    // — map-side combinable, so no per-node sort window exists
    // anywhere. The struct form (not the 2²⁰ packed decimal) is
    // deliberate: labels are vertex ids, and the scale-curve corpus's
    // 10⁹-offset ids sit far outside any pack domain. Output: every
    // vertex with its round-4 community.
    "q42_label_communities" -> ((s, d) =>
      labelCommunities(copurchaseEdges(s, d), rounds = 4))
  )

  /** Exact ntile(k) cut elements WITHOUT a global sort — the scale path
    * for quantile segmentation (q32/q33), generalizing the
    * `events_median_2pass` histogram + targeted-scan discipline to
    * arbitrary rank targets with tie-break ids, for SEVERAL rankings in
    * one pass (the `s` score-label column — q32 runs its three quintile
    * orders through one histogram pipeline instead of three).
    *
    * Input `base(s: string, id: long UNIQUE per s, v: long, vbin, ibin)`
    * — the caller supplies the bin columns (`vbin` = v div vStep, `ibin`
    * = id div idStep) because steps differ per ranking. The ntile total
    * order per s is (v asc, id asc). ntile(k) over N rows puts rank r in
    * bucket 1 + #{b in 1..k−1 : r > c_b} where the cut ranks are
    * c_b = b·(N div k) + least(b, N mod k) — so the bucket of EVERY row
    * is decided by k−1 boundary ELEMENTS (the (v, id) pairs AT ranks
    * c_b), compared lexicographically. Those pairs are found in two
    * histogram refinements, each a map-side-combinable aggregate whose
    * only windows are bin-level (domain/vStep rows per s — a constant of
    * the value domain, like the median_2pass bins) or bounded-partition:
    * the v-bin histogram locates each cut's bin; a (v, id-bin) histogram
    * INSIDE only the target bins — ordered by (v, ibin), the id-bin
    * granularity of the ntile order — locates the cut's exact value and
    * id-bin at once; the final row_number ranks only the ≤ idStep rows
    * of one (v, id-bin) group (ids are unique). Nothing ever sorts more
    * than one bin, and no stage sees a partitionless row-level window —
    * the shape that survives a customer dimension 1000× too big for one
    * task. Returns (s, bv, bid), k−1 rows per s (duplicates legitimate
    * when N < k). */
  private[graft] def rankBoundaries(base: DataFrame,
                                    nBuckets: Int): DataFrame = {
    val k = nBuckets
    val bs = base.sparkSession.range(1, k.toLong).select(col("id").as("b"))
    val wBins = Window.partitionBy(col("s")).orderBy(col("vbin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // per-s totals ride the SAME bin histogram (a full-range window over
    // the s partition) instead of a separate count aggregation — one
    // fewer sequential job/broadcast round before the bin locate
    val vcum = base.groupBy(col("s"), col("vbin")).agg(count(lit(1)).as("bc"))
      .withColumn("below", coalesce(sum(col("bc")).over(wBins), lit(0L)))
      .withColumn("n", sum(col("bc")).over(Window.partitionBy(col("s"))))
    // broadcast spelled on the ≤ k−1-row bucket spine so the cross is a
    // BroadcastNestedLoopJoin by convention, never a CartesianProduct
    // shuffling the bin histogram (plan-audited in RankBoundariesSpec)
    val tbin = vcum.crossJoin(broadcast(bs))
      .withColumn("cr", expr(s"b * (n div $k) + least(b, n % $k)"))
      .filter(col("below") < col("cr") &&
        col("cr") <= col("below") + col("bc"))
      .select(col("s").as("cs"), col("b"), col("cr"), col("vbin").as("tbin"),
        col("below").as("bin_below"))
    val w2 = Window.partitionBy(col("s"), col("b"))
      .orderBy(col("v"), col("ibin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val l2 = base.join(broadcast(tbin),
        col("s") === col("cs") && col("vbin") === col("tbin"))
      .groupBy(col("s"), col("b"), col("cr"), col("bin_below"), col("v"),
        col("ibin"))
      .agg(count(lit(1)).as("gc"))
      .withColumn("gbelow",
        col("bin_below") + coalesce(sum(col("gc")).over(w2), lit(0L)))
    val tgrp = l2.filter(col("gbelow") < col("cr") &&
        col("cr") <= col("gbelow") + col("gc"))
      .select(col("s").as("ts"), col("b").as("tb"), col("cr").as("tcr"),
        col("v").as("tv"), col("ibin").as("tibin"), col("gbelow"))
    val wr = Window.partitionBy(col("ts"), col("tb")).orderBy(col("id"))
    base.join(broadcast(tgrp),
        col("s") === col("ts") && col("v") === col("tv") &&
          col("ibin") === col("tibin"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("gbelow") + col("rn") === col("tcr"))
      .select(col("s"), col("tv").as("bv"), col("id").as("bid"))
  }

  /** Score rows against [[rankBoundaries]] output: per (vCol, scoreName,
    * sKey) spec, bucket = 1 + count of that s-label's boundary pairs
    * lexicographically below (v, id). ALL boundary rows collapse to one
    * broadcast 1-row aggregate carrying one ≤ k−1-element array per
    * score — scoring every ranking is a single pure projection over the
    * row side. */
  private[graft] def ntileScored(rows: DataFrame, idCol: String,
                                 bounds: DataFrame,
                                 specs: Seq[(String, String, String)])
      : DataFrame = {
    val aggs = specs.map { case (_, scoreName, sKey) =>
      collect_list(when(col("s") === sKey,
        struct(col("bv"), col("bid")))).as(s"__b_$scoreName")
    }
    val arr = bounds.agg(aggs.head, aggs.tail: _*)
    val scored = specs.foldLeft(rows.crossJoin(broadcast(arr))) {
      case (df, (vCol, scoreName, _)) =>
        df.withColumn(scoreName,
          (lit(1) + size(filter(col(s"__b_$scoreName"), x =>
            col(vCol) > x.getField("bv") ||
              (col(vCol) === x.getField("bv") &&
                col(idCol) > x.getField("bid"))))).cast("long"))
    }
    specs.foldLeft(scored) { case (df, (_, n, _)) => df.drop(s"__b_$n") }
  }

  /** The runtime-bloom-filtered join behind `q41_join_runtime_filter`:
    * urgent-priority order years × line counts/quantity, planned so
    * Catalyst's `InjectRuntimeFilter` rule builds a bloom filter over the
    * filtered dim's join keys and applies `might_contain` on the fact
    * side below its exchange. The production thresholds
    * (creationSideThreshold 10MB / applicationSideScanSizeThreshold 10GB)
    * assume cluster-sized inputs, so the gate scales them down around
    * plan construction (set → analyze/optimize/plan → restore, the
    * `ScalePatternsSpec` convention) — the physical plan captures the
    * injected filter, and the restored session confs leave every other
    * gated query's planning untouched. Broadcast is disabled during
    * planning: a broadcast join prunes with the build-side relation
    * directly and the rule deliberately skips it. The plan contract is
    * require()d per execution like the csv/jsonl gates: both the bloom
    * build (`bloom_filter_agg`) and the fact-side probe (`might_contain`)
    * must be present. */
  private[graft] def runtimeFilteredJoin(s: SparkSession,
                                         d: String): DataFrame = {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val fact = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"))
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      val out = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          gridSum(col("l_quantity"), 100.0).as("sum_qty"))
        .orderBy(col("o_year").asc_nulls_last)
      // force logical optimization + physical planning while the scaled
      // thresholds are in effect; the lazy QueryExecution memoizes both,
      // so the returned frame executes THIS plan after the conf restore
      val opt = out.queryExecution.optimizedPlan.toString
      require(opt.contains("might_contain"),
        "q41_join_runtime_filter: no runtime bloom probe was injected on " +
          "the fact side:\n" + opt)
      require(opt.contains("bloom_filter_agg"),
        "q41_join_runtime_filter: no bloom build over the dim join keys:\n"
          + opt)
      out.queryExecution.executedPlan
      out
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The cached-projection double-read behind `q44_cache_reuse`: persist
    * the 3-column lineitem slice (tracked — [[graft.Caching]] releases it
    * with every other shared subplan), aggregate it twice (per-flag
    * totals; per-flag heavy-line counts), join the two summaries. The
    * plan contract is the point: BOTH branches must read
    * `InMemoryTableScan` — if either re-scans parquet, the cache bought
    * nothing and the require fires. Left-outer + coalesce(0) keeps flags
    * whose heavy subset is empty (the count(*)-over-empty-slice = 0
    * convention the COUNT-bug gate pins SQL-side). */
  private[graft] def cachedReuseAgg(s: SparkSession, d: String): DataFrame = {
    val cached = graft.Caching.persistTracked(
      Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
        col("l_quantity"), col("l_extendedprice")))
    val totals = cached.groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        gridSum(col("l_extendedprice"), 100.0).as("sum_price"))
    val heavy = cached.filter(col("l_quantity") >= 25)
      .groupBy(col("flag")).agg(count(lit(1)).as("n_heavy"))
    val out = totals.join(heavy, Seq("flag"), "left_outer")
      .select(col("flag"), col("n"),
        coalesce(col("n_heavy"), lit(0L)).as("n_heavy"), col("sum_price"))
      .orderBy(col("flag").asc_nulls_last)
    val plan = out.queryExecution.executedPlan.toString
    val scans = "InMemoryTableScan".r.findAllIn(plan).length
    require(scans >= 2,
      s"q44_cache_reuse: expected both aggregate branches to read the " +
        s"columnar cache, found $scans InMemoryTableScan(s):\n" + plan)
    out
  }

  /** Catalog-registered, statistics-bearing EXTERNAL table over a fixture
    * parquet directory — the substrate for cost-based optimization
    * (row-count and column statistics live in catalog metadata; a bare
    * path scan only ever has sizeInBytes, which is why CBO never fires
    * on the other gates). Zero-copy: `CREATE TABLE … LOCATION` points at
    * the existing files; `ANALYZE TABLE … FOR ALL COLUMNS` scans once to
    * record rowCount + per-column NDV/min/max. Registered once per
    * (session, dataset) — repeat calls (bench sweeps plan each gate 4+
    * times) reuse the analyzed entry. */
  private def cboTable(s: SparkSession, d: String, name: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"${b & 0xff}%02x").mkString
    val t = s"graft_cbo_${name}_$tag"
    // Fast path: once this process has VERIFIED rowCount stats for the
    // table, skip the probe entirely — DESCRIBE + collect() twice per
    // q43 execution was the dominant residue in bench reps. The memo is
    // only populated AFTER a successful verification, so an interrupted
    // first call still re-probes on the next execution.
    if (cboStatsVerified.contains(t)) return t
    if (!s.catalog.tableExists(t))
      s.sql(s"CREATE TABLE $t USING parquet LOCATION '$d/$name.parquet'")
    // An interrupted first call must not leave a stats-less table that
    // tableExists would forever skip — CBO silently never reordering and
    // q43's require failing permanently for the catalog. Re-ANALYZE
    // (idempotent) whenever rowCount stats are not yet recorded.
    def hasStats: Boolean = s.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter(col("col_name") === "Statistics")
      .collect().exists(_.getString(1).contains("rows"))
    if (!hasStats) {
      s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      require(hasStats, s"ANALYZE left no rowCount stats on $t")
    }
    cboStatsVerified.add(t)
    t
  }

  /** Tables whose rowCount stats this process has verified — guards the
    * per-execution DESCRIBE probe in [[cboTable]]. Keyed by the
    * dataset-tagged table name, so a different corpus dir re-probes. */
  private val cboStatsVerified =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The cost-based join reorder behind `q43_join_cbo_reorder` — the last
    * Catalyst optimizer family the engine exercises. The join is WRITTEN
    * in the pessimal order (fact ⋈ fact first, the selective dim last):
    *
    *   (lineitem ⋈ orders) ⋈ σ_mktsegment(customer)
    *
    * With statistics on all three catalog tables and
    * `spark.sql.cbo.{enabled,joinReorder.enabled}` set around planning
    * (the q41 conf-scope convention), `CostBasedJoinReorder` re-plans the
    * inner-join cluster dims-first — orders ⋈ filtered customer builds
    * the ~order-per-matching-customer intermediate (≈ |orders|/5 rows)
    * before the fact table joins in, where the written order materializes
    * EVERY lineitem ⋈ orders pair first. At 100 TB that reorder is the
    * difference between shuffling the full fact join output and
    * shuffling the dim-pruned slice — and it is exactly what a cost
    * model must do for ad-hoc queries whose authors wrote the joins in
    * semantic, not optimal, order. The reordered shape is require()d per
    * execution: the innermost Join of the optimized plan must touch only
    * the two dim tables (the counterfactual — same query, CBO off, fact
    * joined innermost — is pinned in CboReorderSpec). Oracle: the same
    * join undisturbed; reordering an inner-join cluster cannot change
    * its result. */
  private[graft] def cboReorderJoin(s: SparkSession, d: String): DataFrame = {
    val li = cboTable(s, d, "lineitem")
    val or = cboTable(s, d, "orders")
    val cu = cboTable(s, d, "customer")
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val out = s.table(li)
        .join(s.table(or), col("l_orderkey") === col("o_orderkey"))
        .join(s.table(cu).filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          gridSum(col("l_quantity"), 100.0).as("sum_qty"))
        .orderBy(col("o_year").asc_nulls_last)
      // force optimization while CBO is on; the memoized QueryExecution
      // keeps this plan after the conf restore (q41 convention)
      val opt = out.queryExecution.optimizedPlan
      val innermost = opt.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.collect {
              case jj: org.apache.spark.sql.catalyst.plans.logical.Join => jj
            }.length == 1 => j
      }
      require(innermost.length == 1,
        s"q43_join_cbo_reorder: expected one innermost Join, got " +
          s"${innermost.length}:\n$opt")
      val leaves = innermost.head.collectLeaves().flatMap {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
            => lr.catalogTable.map(_.identifier.table)
        case _ => None
      }.toSet
      require(leaves == Set(or, cu).map(_.toLowerCase),
        s"q43_join_cbo_reorder: CBO did not reorder the dims innermost " +
          s"(innermost leaves: $leaves):\n$opt")
      out.queryExecution.executedPlan
      out
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The snapshot⊕delta join-view merge behind `q39_join_incremental`:
    * `a(k, month, a_new)` ⋈ `b(k, rev: decimal(38,0), b_new)` maintained
    * as stored_agg(A_old⋈B_old) plus the three delta-term aggregates
    * (ΔA⋈B_old, A_old⋈ΔB, ΔA⋈ΔB — an EXACT partition of the new pairs),
    * merged by month. Null `*_new` flags land old-side (a row must be in
    * exactly one slice). Factored so specs can drive hand frames where
    * every leg is populated, including the null-flag rows. */
  private[graft] def joinViewIncremental(a: DataFrame,
                                         b: DataFrame): DataFrame = {
    def leg(af: Column, bf: Column) =
      a.filter(af).join(b.filter(bf), "k")
        .groupBy(col("month"))
        .agg(count(lit(1)).as("np"), sum(col("rev")).as("rv"))
    val aOld = !coalesce(col("a_new"), lit(false))
    val bOld = !coalesce(col("b_new"), lit(false))
    val stored = leg(aOld, bOld).withColumn("is_delta", lit(0L))
    val deltas = leg(!aOld, bOld).withColumn("is_delta", lit(1L))
      .unionAll(leg(aOld, !bOld).withColumn("is_delta", lit(1L)))
      .unionAll(leg(!aOld, !bOld).withColumn("is_delta", lit(1L)))
    stored.unionAll(deltas)
      .groupBy(col("month"))
      .agg(sum(col("np")).cast("long").as("n_pairs"),
        sum(when(col("is_delta") === 1L, col("np"))
          .otherwise(0L)).cast("long").as("n_delta_pairs"),
        (sum(col("rv")).cast("double") / lit(10000.0)).as("revenue"))
      .orderBy(col("month").asc_nulls_last)
  }

  /** BFS layer census behind `q40_bfs_layers`: min-hop distance from the
    * graph's smallest vertex over an undirected `(a, b)` edge list,
    * layers 0..maxDepth, one row per layer. */
  private[graft] def bfsLayers(edges0: DataFrame, maxDepth: Int): DataFrame = {
    val edges = graft.Caching.persistTracked(edges0)
    val und = edges.unionAll(
      edges.select(col("b").as("a"), col("a").as("b")))
    val seed = edges.agg(min(least(col("a"), col("b"))).as("v"))
      .filter(col("v").isNotNull)
      .select(col("v"), lit(0L).as("dist"))
    // the snapshotted layers so far; their union is the visited set
    val layers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (last, _) = graft.Fixpoint.iterate("bfs", seed, maxDepth,
        failAtCap = false) { frontier =>
      layers += frontier
      frontier.join(und, frontier("v") === und("a"))
        .select(und("b").as("v")).distinct()
        .join(layers.reduce(_ unionAll _), Seq("v"), "left_anti")
        .select(col("v"), lit(layers.size.toLong).as("dist"))
    }(count(lit(1)), (_, frontier) => frontier == 0L)
    val visited = (layers :+ last).reduce(_ unionAll _)
    visited.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_vertices"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .orderBy(col("dist"))
  }

  /** Degree-oriented triangle statistics over an undirected edge list
    * (`a < b` per row, no duplicates) — the enumeration behind
    * `q34_triangle_stats`, factored so specs can drive hand-built
    * graphs. Wedges expand only from ORIENTED out-neighborhoods (edge
    * points from its (degree, id)-smaller endpoint), so the expansion is
    * Σ outdeg² = O(m^1.5) instead of the hub-quadratic Σ deg²; the
    * closure semi-join counts each triangle exactly once because the
    * orientation is a total order. */
  private[graft] def triangleStats(edges0: DataFrame): DataFrame = {
    val edges = graft.Caching.persistTracked(edges0)
    val deg = graft.Caching.persistTracked(
      edges.select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg")))
    val firstIsSrc = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = graft.Caching.persistTracked(edges
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(when(firstIsSrc, col("a")).otherwise(col("b")).as("src"),
        when(firstIsSrc, col("b")).otherwise(col("a")).as("dst")))
    // The wedge expansion is a SELF-join of the persisted oriented edges
    // — shuffle-hash so it computes one reused Exchange instead of a
    // serial broadcast build (§3.1). The closure SEMI-join is left
    // UNHINTED deliberately: its sides are asymmetric (wedges ≈ Σoutdeg²
    // vs edges ≈ m), so locally the planner broadcasts the small edge
    // set — never moving the wedge frame at all — and at scale it falls
    // back to the shuffle on its own (a forced shuffle here was measured
    // 18% slower: it exchanges the biggest frame in the query by (x,y)).
    val tri = oriented.select(col("src"), col("dst").as("x"))
      .hint("shuffle_hash")
      .join(oriented.select(col("src"), col("dst").as("y")), "src")
      .filter(col("x") =!= col("y"))
      .join(oriented.select(col("src").as("x"), col("dst").as("y")),
        Seq("x", "y"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val edgeStats = edges.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("(3 * n_triangles * 1000000) div nullif(n_wedges, 0)")
          .as("transitivity_grid"))
  }

  /** q34/q36's bounded co-purchase edge list (`a < b`, ≥ 2 shared
    * orders) — factored so the cap-headroom pin peels the REAL fixture
    * graph, not a re-derivation. */
  private[graft] def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
                                     d: String): DataFrame = {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    // shuffle-hash SELF-join (guide §3.1): both sides are the same
    // derived frame, so the shuffle form computes one Exchange and
    // reuses it (ReuseExchange); the planner's fixture-size broadcast
    // would run the whole distinct a second time into a single-task
    // HashedRelation build — and can never fire at graph scale anyway
    items.select(col("o"), col("p").as("pa"))
      .hint("shuffle_hash")
      .join(items.select(col("o"), col("p").as("pb")), "o")
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
      .select(col("pa").as("a"), col("pb").as("b"))
  }

  /** k-core by iterative peeling over an undirected edge list (`a < b`
    * per row, no duplicates) — the engine behind `q36_kcore`, factored so
    * specs can drive hand-built graphs. Each round drops every edge with
    * an endpoint of degree < k; the loop exits early at the fixpoint
    * (edge count unchanged — peeling only ever removes, so equal counts
    * mean an identical set — or no edge left) and is capped at
    * `maxRounds` to match the oracle's fixed-depth recursive replay. The
    * cap is a loud contract: a graph still shrinking at the cap would
    * diverge from the fixpoint, so the loop fails rather than returning a
    * half-peeled set. Per round: one union-degree count (map-side
    * combinable) + two left-semi joins. */
  private[graft] def kcore(edges0: DataFrame, k: Int,
                           maxRounds: Int): DataFrame =
    kcoreWithRounds(edges0, k, maxRounds)._1

  /** [[kcore]] plus the realized peel depth (rounds until fixpoint,
    * counting the final no-change confirmation round, which a graph
    * peeled to no edge skips) — the
    * instrumentation behind the CAP-HEADROOM pin: the 20-round cap is
    * loud but data-dependent, so `KcoreSpec` asserts the fixture graphs
    * converge with documented headroom (sf0.01 cascades 11 rounds
    * incl. confirmation; peel depth is structural — longest pendant
    * cascade — not corpus-size-driven, which the sf0.01 assertion
    * demonstrates on 10× the data). */
  private[graft] def kcoreWithRounds(edges0: DataFrame, k: Int,
                                     maxRounds: Int): (DataFrame, Int) = {
    val (edges, rounds) = graft.Fixpoint.iterate("kcore", edges0,
        maxRounds, failAtCap = true) { edges =>
      val deg = edges.select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val good = deg.filter(col("deg") >= k).select(col("v"))
      edges
        .join(good.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(good.select(col("v").as("b")), Seq("b"), "left_semi")
    }(count(lit(1)), (last, m) => m == last || m == 0L)
    (edges.select(col("a").as("v")).union(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("core_deg"))
      .orderBy(col("v")), rounds)
  }

  /** Deterministic synchronous label propagation over an undirected
    * edge set — see the `q42_label_communities` gate comment for the
    * update rule and determinism contract. Each round reads only the
    * PREVIOUS round's label table (synchronous). The argmax is a
    * map-side-combinable `max(struct(count, −label))` (struct min/max
    * combine associatively field-by-field — no per-node window), which
    * unlike the 2²⁰ packed-decimal convention is closed over the FULL
    * long label domain: labels here are vertex ids, and the scale-curve
    * corpus (ids offset by 10⁹ per copy) proved the packed form's
    * domain guard fires exactly where a big corpus lives. */
  private[graft] def labelCommunities(edges0: DataFrame,
                                      rounds: Int): DataFrame = {
    // The orientation table is the BIG side of every round's join and its
    // join key never changes — hash-partition it by that key ONCE before
    // the persist (the cached frame keeps its outputPartitioning), so each
    // of the `rounds` joins shuffles only the vertex-sized label table
    // instead of re-exchanging the 2m-row orientation table per round
    // (guide §2.4: two operations keyed the same way share one exchange).
    val nbrs = graft.Caching.persistTracked(
      edges0.select(col("a").as("node"), col("b").as("nbr"))
        .union(edges0.select(col("b").as("node"), col("a").as("nbr")))
        .repartition(col("nbr")))
    val seed = nbrs.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
    // a fixed horizon, not a fixpoint: the measure never stops the loop
    val (lbl, _) = graft.Fixpoint.iterate("lpa", seed, rounds,
        failAtCap = false) { lbl =>
      nbrs
        .join(lbl.select(col("node").as("nbr"), col("label")), "nbr")
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("label")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).cast("long").as("label"))
    }(count(lit(1)), (_, _) => false)
    lbl.select(col("node"), col("label").as("community"))
      .orderBy(col("node"))
  }

  /** The bucketed-layout join behind `q27_join_bucketed`: write orders and
    * customer bucketed (and per-bucket sorted) by the join key into a
    * fresh external location, then sort-merge join the two bucketed tables
    * — zero Exchange (bucket count and key match on both sides; the
    * pre-write repartition gives one file per bucket). The SMJ's sorts
    * are partition-local over already-sorted runs.
    *
    * The bucketed write needs a catalog entry (bucket specs live in table
    * metadata, not in parquet footers), so each call registers the pair
    * under names unique to its temp location — `saveAsTable` with an
    * explicit `path` makes them EXTERNAL: data in the temp dir, metadata
    * in the session catalog, nothing under the warehouse dir. The temp
    * location must outlive the call (the returned frame scans it lazily),
    * the same caller-visible-artifact convention as the streaming sink
    * read-back. Returns the joined frame with all columns of both sides. */
  private[graft] def bucketedCustomerOrders(s: SparkSession,
                                            d: String): DataFrame = {
    val buckets = 8
    // JVM-exit-tracked, not memoized: the bucket spec lives in SESSION
    // catalog metadata, so a layout cannot be reused across sessions the
    // way the catalog-free DPP layout can — but the dirs no longer leak
    val loc = graft.TempLayouts.tracked("graft-bucketed")
    val tag = loc.getFileName.toString.replaceAll("[^A-Za-z0-9]", "_")
    val ordersTable = s"graft_orders_$tag"
    val customerTable = s"graft_customer_$tag"
    Tables.orders(s, d)
      .repartition(buckets, col("o_custkey"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$loc/orders")
      .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
      .saveAsTable(ordersTable)
    Tables.customer(s, d)
      .repartition(buckets, col("c_custkey"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$loc/customer")
      .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
      .saveAsTable(customerTable)
    s.table(ordersTable).hint("merge")
      .join(s.table(customerTable), col("o_custkey") === col("c_custkey"))
  }

  /** HLL++ approximate distinct next to the exact count — the scale path
    * for q20 (fixed-size sketches, map-side merged, no Expand). Estimates
    * are engine-specific, so this surface is exercised by
    * ApproxDistinctSpec (relative error bounded against `n_exact`)
    * instead of the DuckDB hash gate. */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"),
        approx_count_distinct(col("l_partkey"), 0.02).as("n_approx"))
      .orderBy(col("l_returnflag"))

  /** Shared by q29 (salted) and q35 (AQE) — the two skew-join plans must
    * produce this identical result. */
  private val skewJoinOracle = """
      SELECT l.l_suppkey AS suppkey, s.s_name,
        count(*) AS n_items,
        CAST(sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_price
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY l.l_suppkey, s.s_name
      ORDER BY suppkey"""

  val oracles: Map[String, String] = Map(
    // the oracle counts triangles by the plain a<b<c triple join over the
    // unoriented a<b edge set — each triangle has exactly one id-ordered
    // embedding, so it equals the engine's degree-oriented count; wedges
    // from the same degree table
    "q34_triangle_stats" -> """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT a.p AS a, b.p AS b FROM items a
        JOIN items b ON b.o = a.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING count(*) >= 2),
      deg AS (
        SELECT v, count(*) AS deg FROM (
          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) t
        GROUP BY v),
      tri AS (
        SELECT count(*) AS n_triangles FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      st AS (
        SELECT
          (SELECT count(*) FROM deg) AS n_nodes,
          (SELECT count(*) FROM e) AS n_edges,
          (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) FROM deg)
            AS n_wedges,
          (SELECT CAST(n_triangles AS BIGINT) FROM tri) AS n_triangles)
      SELECT n_nodes, n_edges, n_wedges, n_triangles,
        CAST((3 * n_triangles * 1000000) // nullif(n_wedges, 0) AS BIGINT)
          AS transitivity_grid
      FROM st""",

    // the peel replayed as a recursive CTE on the EDGE set: the working
    // table (one round's surviving edges) is referenced ONCE per step —
    // each edge expands to both orientations via a 2-row VALUES cross,
    // degree is a window over the orientation rows, and the per-edge
    // gate is the min over its two rows; 20 fixed rounds (idempotent
    // past the fixpoint, matching the engine's early exit; the sf0.01
    // co-purchase graph cascades for 11 rounds — measured — so depth
    // must clear it with headroom), final set = rows at r = 20 (empty
    // when the graph fully peeled — the recursion stops emitting and
    // r = 20 never appears)
    "q36_kcore" -> """
      WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT a.p AS a, b.p AS b FROM items a
        JOIN items b ON b.o = a.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING count(*) >= 2),
      peel(r, a, b) AS (
        SELECT 0, a, b FROM e
        UNION ALL
        SELECT y.r + 1, y.a, y.b FROM (
          SELECT x.r, x.a, x.b, x.flip,
            min(x.deg) OVER (PARTITION BY x.a, x.b) AS mindeg
          FROM (
            SELECT p.r, p.a, p.b, f.flip,
              count(*) OVER (PARTITION BY
                CASE WHEN f.flip = 0 THEN p.a ELSE p.b END) AS deg
            FROM peel p, (VALUES (0), (1)) f(flip)) x) y
        WHERE y.flip = 0 AND y.mindeg >= 3 AND y.r < 20),
      fin AS (SELECT a, b FROM peel WHERE r = 20)
      SELECT v, count(*) AS core_deg FROM (
        SELECT a AS v FROM fin UNION ALL SELECT b AS v FROM fin) u
      GROUP BY v
      ORDER BY v""",

    // each check one scalar pair; NOT EXISTS mirrors the anti join's
    // null-FK-is-a-violation semantics; ppm on integer //
    "q37_dq_audit" -> """
      WITH checks(chk, n_violations, n_rows) AS (
        SELECT 'orders_fk_customer',
          (SELECT count(*) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
          (SELECT count(*) FROM orders)
        UNION ALL
        SELECT 'lineitem_fk_orders',
          (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
          (SELECT count(*) FROM lineitem)
        UNION ALL
        SELECT 'customer_pk_unique',
          (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM
            (SELECT c_custkey, count(*) AS c FROM customer
             GROUP BY c_custkey) g
           WHERE g.c_custkey IS NULL OR g.c > 1),
          (SELECT count(*) FROM customer)
        UNION ALL
        SELECT 'part_price_positive',
          (SELECT count(*) FROM part
           WHERE p_retailprice IS NULL OR p_retailprice <= 0),
          (SELECT count(*) FROM part)
        UNION ALL
        SELECT 'lineitem_qty_range',
          (SELECT count(*) FROM lineitem
           WHERE l_quantity IS NULL OR l_quantity < 1
              OR l_quantity > 50),
          (SELECT count(*) FROM lineitem)
        UNION ALL
        SELECT 'events_ts_present',
          (SELECT count(*) FROM events WHERE ts IS NULL),
          (SELECT count(*) FROM events))
      SELECT chk AS "check", n_violations, n_rows,
        CASE WHEN n_rows > 0 THEN n_violations * 1000000 // n_rows
             ELSE 0 END AS rate_ppm
      FROM checks
      ORDER BY "check"""",

    // the exact-rank cut replayed: per-value counts, running sum over
    // distinct values, min value at-or-past each k*n//32 target
    "q38_range_boundaries" -> """
      WITH v AS (
        SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
        FROM orders WHERE o_totalprice IS NOT NULL),
      cum AS (
        SELECT v, count(*) AS c,
          sum(count(*)) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM v GROUP BY v),
      n AS (SELECT count(*) AS n FROM v),
      ks AS (SELECT unnest(generate_series(1, 31)) AS k),
      t AS (SELECT k, (k * n.n) // 32 AS target_rank FROM ks CROSS JOIN n),
      b AS (
        SELECT t.k, t.target_rank, min(cum.v) AS bv
        FROM t JOIN cum ON cum.cum >= t.target_rank
        GROUP BY t.k, t.target_rank)
      SELECT CAST(b.k AS BIGINT) AS k,
        CAST(b.target_rank AS BIGINT) AS target_rank,
        CAST(b.bv AS DOUBLE) / 100.0 AS boundary,
        CAST(c2.cum AS BIGINT) AS n_at_or_below
      FROM b JOIN cum c2 ON c2.v = b.bv
      ORDER BY k""",

    // the snapshot/delta decomposition is cost-level machinery: the
    // oracle computes the DIRECT join aggregate, so a missed delta term,
    // a double-counted pair, or a wrong split polarity in the engine's
    // maintenance algebra breaks the hash. Old-side predicate is the
    // null-conservative complement (date < T OR date IS NULL), matching
    // the engine's !coalesce(new, false).
    "q39_join_incremental" -> """
      SELECT substr(CAST(o.o_orderdate AS VARCHAR), 1, 7) AS month,
        count(*) AS n_pairs,
        count(*) FILTER (WHERE NOT (
          (o.o_orderdate < DATE '1997-01-01' OR o.o_orderdate IS NULL)
          AND (l.l_shipdate < DATE '1997-01-01' OR l.l_shipdate IS NULL)))
          AS n_delta_pairs,
        CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
          * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
      ORDER BY 1 NULLS LAST""",

    // min-hop distances as a recursive CTE: UNION (not UNION ALL) dedups
    // (v, d) pairs so the recursion is bounded at |V|·(depth+1) rows even
    // on cyclic graphs; min(d) per vertex recovers the BFS layer. Edge
    // derivation shares the q36_kcore oracle's text; seed = min(a) (every
    // edge stores its smaller endpoint as a, so min(a) IS the smallest
    // vertex).
    "q40_bfs_layers" -> """
      WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT a.p AS a, b.p AS b FROM items a
        JOIN items b ON b.o = a.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING count(*) >= 2),
      und AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
      seed AS (SELECT min(a) AS v FROM e),
      bfs(v, d) AS (
        SELECT v, 0 FROM seed WHERE v IS NOT NULL
        UNION
        SELECT u.b, bfs.d + 1 FROM bfs JOIN und u ON u.a = bfs.v
        WHERE bfs.d < 6),
      md AS (SELECT v, min(d) AS dist FROM bfs GROUP BY v)
      SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_vertices,
        min(v) AS min_v, max(v) AS max_v
      FROM md
      GROUP BY dist
      ORDER BY dist""",

    // the plain join — the runtime bloom filter is a pure read-reduction
    // (false positives are re-dropped by the join), so the oracle never
    // mentions it
    "q41_join_runtime_filter" -> """
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        count(*) AS n_items,
        CAST(sum(CAST(floor(l.l_quantity * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_qty
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderpriority = '1-URGENT'
      GROUP BY 1
      ORDER BY o_year NULLS LAST""",

    // IS NOT DISTINCT FROM is DuckDB's spelling of the same null-safe
    // equality; the NULL user group pairs into one row in both engines
    "q45_join_null_safe" -> """
      WITH v AS (
        SELECT user_id, count(*) AS n_views FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (
        SELECT user_id, count(*) AS n_clicks FROM events
        WHERE event_type = 'click' GROUP BY user_id)
      SELECT coalesce(v.user_id, c.user_id) AS user_id,
        coalesce(v.n_views, 0) AS n_views,
        coalesce(c.n_clicks, 0) AS n_clicks
      FROM v FULL JOIN c ON v.user_id IS NOT DISTINCT FROM c.user_id
      ORDER BY user_id NULLS LAST""",

    // the same two aggregates off an uncached CTE — the cache is a
    // Spark-internal locality decision, invisible to bytes
    "q44_cache_reuse" -> """
      WITH c AS (
        SELECT l_returnflag AS flag, l_quantity, l_extendedprice
        FROM lineitem),
      t AS (
        SELECT flag, count(*) AS n,
          CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS sum_price
        FROM c GROUP BY flag),
      h AS (
        SELECT flag, count(*) AS n_heavy FROM c
        WHERE l_quantity >= 25 GROUP BY flag)
      SELECT t.flag, t.n, coalesce(h.n_heavy, 0) AS n_heavy, t.sum_price
      FROM t LEFT JOIN h USING (flag)
      ORDER BY t.flag NULLS LAST""",

    // the same three-way join undisturbed — reordering an inner-join
    // cluster cannot change its result, so the oracle never mentions
    // the statistics or the reorder
    "q43_join_cbo_reorder" -> """
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        count(*) AS n_items,
        CAST(sum(CAST(floor(l.l_quantity * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_qty
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY 1
      ORDER BY o_year NULLS LAST""",

    // 4 synchronous LPA rounds unrolled as one MATERIALIZED CTE per
    // step (plain CTEs inline a self-referencing chain exponentially in
    // DuckDB — the emb_pca_project lesson); per round the mode-label
    // argmax is the rn = 1 window (ORDER BY c DESC, label ASC), the
    // same (max count, smallest label) the Spark side's struct-extremum
    // argmax max(struct(count, -label)) recovers (NOT the packed-decimal
    // form — that fails on large label domains, see the verify skill)
    "q42_label_communities" -> {
      val rounds = (1 to 4).map { j => s"""
      l$j AS MATERIALIZED (
        SELECT node, label FROM (
          SELECT g.node, g.label, row_number() OVER (PARTITION BY g.node
            ORDER BY g.c DESC, g.label ASC) AS rn
          FROM (SELECT nb.node, l.label, count(*) AS c
                FROM nb JOIN l${j - 1} l ON l.node = nb.nbr
                GROUP BY nb.node, l.label) g) t
        WHERE rn = 1)"""
      }.mkString(",")
      s"""
      WITH items AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS MATERIALIZED (
        SELECT a.p AS a, b.p AS b FROM items a
        JOIN items b ON b.o = a.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING count(*) >= 2),
      nb AS MATERIALIZED (
        SELECT a AS node, b AS nbr FROM e
        UNION ALL SELECT b AS node, a AS nbr FROM e),
      l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM nb),
      $rounds
      SELECT node, label AS community FROM l4
      ORDER BY node"""
    },

    // 3 PageRank iterations unrolled as one CTE per step; every factor is
    // BIGINT (// = integer div), contributions divided BEFORE the sum in
    // both engines, so ranks are bit-equal.
    "q28_pagerank_parts" -> """
      WITH e0 AS (SELECT DISTINCT 'p:' || l_partkey AS a,
                    's:' || l_suppkey AS b FROM lineitem),
      e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
      deg AS (SELECT a, count(*) AS deg FROM e GROUP BY a),
      nodes AS (SELECT 'p:' || p_partkey AS node FROM part
                UNION ALL SELECT 's:' || s_suppkey AS node FROM supplier),
      nn AS (SELECT count(*) AS n FROM nodes),
      r0 AS (SELECT node, 1000000000000 // n AS rank
             FROM nodes CROSS JOIN nn),
      m1 AS (SELECT e.b AS node, sum(r.rank // d.deg) AS in_mass
             FROM e JOIN deg d ON d.a = e.a JOIN r0 r ON r.node = e.a
             GROUP BY e.b),
      r1 AS (SELECT nd.node,
               ((1000000000000 // nn.n) * 15) // 100
                 + (85 * coalesce(m.in_mass, 0)) // 100 AS rank
             FROM nodes nd CROSS JOIN nn
             LEFT JOIN m1 m ON m.node = nd.node),
      m2 AS (SELECT e.b AS node, sum(r.rank // d.deg) AS in_mass
             FROM e JOIN deg d ON d.a = e.a JOIN r1 r ON r.node = e.a
             GROUP BY e.b),
      r2 AS (SELECT nd.node,
               ((1000000000000 // nn.n) * 15) // 100
                 + (85 * coalesce(m.in_mass, 0)) // 100 AS rank
             FROM nodes nd CROSS JOIN nn
             LEFT JOIN m2 m ON m.node = nd.node),
      m3 AS (SELECT e.b AS node, sum(r.rank // d.deg) AS in_mass
             FROM e JOIN deg d ON d.a = e.a JOIN r2 r ON r.node = e.a
             GROUP BY e.b),
      r3 AS (SELECT nd.node,
               ((1000000000000 // nn.n) * 15) // 100
                 + (85 * coalesce(m.in_mass, 0)) // 100 AS rank
             FROM nodes nd CROSS JOIN nn
             LEFT JOIN m3 m ON m.node = nd.node),
      ranked AS (SELECT node, rank AS rank_grid,
                   CAST(row_number() OVER (
                     ORDER BY rank DESC, node ASC) AS BIGINT) AS rn
                 FROM r3)
      SELECT rn, node, CAST(rank_grid AS BIGINT) AS rank_grid
      FROM ranked WHERE rn <= 50
      ORDER BY rn""",

    // deciles by the identical tie-broken ntile; shares in HUGEINT //
    "q33_pareto_deciles" -> """
      WITH spend AS (
        SELECT o_custkey,
          sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey),
      dec AS (
        SELECT o_custkey, cents,
          ntile(10) OVER (ORDER BY cents DESC, o_custkey ASC) AS decile
        FROM spend),
      agg AS (
        SELECT decile, count(*) AS n_customers,
          sum(cents) AS decile_cents
        FROM dec GROUP BY decile),
      tot AS (SELECT sum(cents) AS total_cents FROM spend)
      SELECT CAST(a.decile AS BIGINT) AS decile, a.n_customers,
        CAST(a.decile_cents AS DOUBLE) / 100.0 AS decile_spend,
        CAST((a.decile_cents * 1000000) // t.total_cents AS BIGINT)
          AS share_grid
      FROM agg a CROSS JOIN tot t
      ORDER BY decile""",

    // whole-day integer recency; the three ntile windows carry the same
    // total tie-break orders as the engine side
    "q32_rfm_segments" -> """
      WITH rfm AS (
        SELECT o_custkey, max(o_orderdate) AS last_dt,
          count(*) AS frequency,
          CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS monetary
        FROM orders GROUP BY o_custkey),
      mx AS (SELECT max(o_orderdate) AS max_dt FROM orders),
      base AS (
        SELECT o_custkey,
          date_diff('day', CAST(last_dt AS DATE), CAST(max_dt AS DATE))
            AS recency_days,
          frequency, monetary
        FROM rfm CROSS JOIN mx)
      SELECT o_custkey AS custkey, CAST(recency_days AS BIGINT)
          AS recency_days,
        frequency, monetary,
        CAST(ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)
          AS BIGINT) AS r_score,
        CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC)
          AS BIGINT) AS f_score,
        CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC)
          AS BIGINT) AS m_score
      FROM base
      ORDER BY custkey""",

    // per-order self-join pair expansion + integer-grid lift; the top-50
    // ordering is (support desc, part_a, part_b) — total
    "q31_basket_lift" -> """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      tot AS (SELECT count(DISTINCT o) AS n_orders FROM items),
      freq AS (SELECT p, count(*) AS n_p FROM items GROUP BY p),
      pairs AS (
        SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p)
      SELECT pr.pa AS part_a, pr.pb AS part_b, pr.n_ab,
        fa.n_p AS n_a, fb.n_p AS n_b,
        CAST((pr.n_ab * t.n_orders * 1000000) // (fa.n_p * fb.n_p)
          AS BIGINT) AS lift_grid
      FROM pairs pr
      JOIN freq fa ON fa.p = pr.pa
      JOIN freq fb ON fb.p = pr.pb
      CROSS JOIN tot t
      ORDER BY pr.n_ab DESC, part_a, part_b
      LIMIT 50""",

    // integer month arithmetic replayed: (y*12+m) deltas, never intervals
    "q30_cohort_retention" -> """
      WITH first AS (
        SELECT o_custkey, min(o_orderdate) AS first_dt
        FROM orders GROUP BY o_custkey),
      f AS (
        SELECT o_custkey,
          CAST(date_trunc('month', first_dt) AS TIMESTAMP) AS cohort_ts,
          year(first_dt) * 12 + month(first_dt) AS ym0
        FROM first)
      SELECT f.cohort_ts AS cohort_month,
        CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - f.ym0
          AS BIGINT) AS "offset",
        count(DISTINCT o.o_custkey) AS n_customers
      FROM orders o JOIN f ON f.o_custkey = o.o_custkey
      GROUP BY cohort_month, "offset"
      ORDER BY cohort_month, "offset"""",

    // the UNSALTED join — the whole point of the gate: salting must not
    // change the result
    "q29_join_salted_skew" -> skewJoinOracle,

    // the unsalted AQE variant computes the identical result — one
    // oracle text for both, so parity between the two plans is checked
    // by construction
    "q35_join_skew_aqe" -> skewJoinOracle,

    "q20_agg_approx_distinct" -> """
      SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
        CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
        CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q02_filter_project" -> """
      SELECT l_orderkey, l_linenumber,
        l_quantity AS qty,
        l_extendedprice AS price
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '2001-07-01 00:00:00'
        AND l_discount >= 0.05 AND l_quantity < 10.0
      ORDER BY l_orderkey, l_linenumber""",

    "q03_topn_orders" -> """
      SELECT o_orderkey, o_custkey, o_totalprice AS price
      FROM orders
      ORDER BY price DESC, o_orderkey ASC
      LIMIT 25""",

    "q04_join_broadcast" -> """
      SELECT c_mktsegment, count(*) AS n_orders,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q05_join_multiway" -> """
      SELECT n_name,
        CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        count(*) AS n_items
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name
      ORDER BY n_name""",

    "q06_join_semi" -> """
      SELECT c_mktsegment, count(*) AS n_customers
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q07_join_anti" -> """
      SELECT c_mktsegment, count(*) AS n_customers
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q08_join_outer" -> """
      SELECT c_custkey, count(o_orderkey) AS n_partial,
        coalesce(CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0,
                 0.0) AS partial_revenue
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus = 'P'
      GROUP BY c_custkey
      HAVING count(o_orderkey) >= 2
      ORDER BY c_custkey""",

    "q09_agg_distinct" -> """
      SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
        count(DISTINCT l_orderkey) AS n_orders, count(*) AS n_items
      FROM lineitem
      GROUP BY l_suppkey
      ORDER BY l_suppkey""",

    "q10_agg_stats" -> """
      SELECT o_orderpriority,
        min(o_totalprice) AS min_price,
        max(o_totalprice) AS max_price,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_price,
        count(*) AS n
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "q11_agg_rollup" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        count(*) AS n
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q12_agg_cube" -> """
      SELECT o_orderstatus, o_orderpriority,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        count(*) AS n
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",

    "q13_grouping_sets" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        count(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q14_set_union" -> """
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 450000.0
      ORDER BY c_custkey""",

    "q15_set_intersect" -> """
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000.0
      ORDER BY c_custkey""",

    "q16_set_except" -> """
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000.0
      ORDER BY c_custkey""",

    "q17_window_topk_per_group" -> """
      SELECT o_custkey, rn, o_orderkey, price FROM (
        SELECT o_custkey, o_orderkey, o_totalprice AS price,
          CAST(row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
        FROM orders) t
      WHERE rn <= 2 AND o_custkey <= 200
      ORDER BY o_custkey, rn""",

    "q18_window_lag" -> """
      SELECT o_custkey, o_orderkey, o_totalprice AS price,
        lag(o_totalprice, 1)
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price,
        lead(o_totalprice, 1)
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_price,
        CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS BIGINT) AS rnk
      FROM orders
      WHERE o_custkey <= 100
      ORDER BY o_custkey, rnk, o_orderkey""",

    "q21_supplier_stats" -> """
      SELECT n_name, count(*) AS n_suppliers,
        min(s_acctbal) AS min_bal,
        max(s_acctbal) AS max_bal,
        CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_bal
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name""",

    "q22_rich_inactive_customers" -> """
      SELECT c_custkey, c_acctbal
      FROM customer
      WHERE c_acctbal > (
          SELECT CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*)
          FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
      ORDER BY c_custkey""",

    "q19_window_running_sum" -> """
      SELECT l_orderkey, l_linenumber,
        CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT))
          OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS running_qty
      FROM lineitem
      WHERE l_orderkey <= 2000
      ORDER BY l_orderkey, l_linenumber""",

    "q25_join_full_outer" -> """
      WITH c AS (
        SELECT c_nationkey, count(*) AS n_rich_cust
        FROM customer WHERE c_acctbal >= 9900.0
        GROUP BY c_nationkey),
      s AS (
        SELECT s_nationkey, count(*) AS n_supp
        FROM supplier GROUP BY s_nationkey)
      SELECT CAST(coalesce(c.c_nationkey, s.s_nationkey) AS BIGINT)
          AS nationkey,
        c.n_rich_cust, s.n_supp
      FROM c FULL OUTER JOIN s ON c.c_nationkey = s.s_nationkey
      ORDER BY nationkey""",

    "q26_set_except_all" -> """
      SELECT o_custkey FROM orders
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      ORDER BY o_custkey""",

    // the bucketed layout is plan-level only: the join/agg result equals
    // the plain join over the source tables
    "q27_join_bucketed" -> """
      SELECT c_custkey AS custkey, c_mktsegment, count(*) AS n_orders,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_spend
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_mktsegment
      ORDER BY custkey""",

    "q24_agg_stats_exact" -> """
      WITH g AS (
        SELECT l_returnflag,
          CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS x,
          CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
        FROM lineitem),
      s AS (
        SELECT l_returnflag, count(*) AS n,
          sum(x) AS sx, sum(y) AS sy,
          sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        FROM g GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        CAST(n * sxx - sx * sx AS DOUBLE) / n / n / 10000.0 AS var_qty,
        sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n / 100.0 AS stddev_qty,
        CAST(n * sxy - sx * sy AS DOUBLE) /
          (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
           sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_qty_price
      FROM s
      ORDER BY l_returnflag""",

    // identical window text; the keyed sample filters AFTER the window;
    // NULLS LAST spelled on the nullable price key (§5 item 6)
    "q46_window_distribution" -> """
      SELECT o_orderpriority, o_orderkey, pr, cd FROM (
        SELECT o_orderpriority, o_orderkey,
          percent_rank() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice ASC NULLS LAST, o_orderkey ASC) AS pr,
          cume_dist() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice ASC NULLS LAST, o_orderkey ASC) AS cd
        FROM orders) t
      WHERE o_orderkey % 97 = 0
      ORDER BY o_orderpriority, o_orderkey""",

    // contract grid: DuckDB recomputes the deterministic row count and
    // pins the two metadata-sanity bits to 1
    "q47_metadata_lineage" -> """
      SELECT count(*) AS n_rows, CAST(1 AS BIGINT) AS files_ok,
        CAST(1 AS BIGINT) AS size_ok
      FROM orders""",

    "q23_window_ntile" -> """
      SELECT o_orderpriority, quartile, count(*) AS n,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_price
      FROM (
        SELECT o_orderpriority, o_totalprice,
          CAST(ntile(4) OVER (
            PARTITION BY o_orderpriority
            ORDER BY o_totalprice ASC, o_orderkey ASC) AS BIGINT) AS quartile
        FROM orders) t
      GROUP BY o_orderpriority, quartile
      ORDER BY o_orderpriority, quartile"""
  )
}
