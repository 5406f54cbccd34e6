package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL string entry point — the `spark.sql` surface of the engine.
  *
  * [[registerViews]] exposes every driver table as a temp view (through
  * the [[graft.Tables]] loaders, so the events nanos handling applies)
  * and registers the native graft_* functions, after which any ANSI SQL
  * string runs against the corpus — including the engine's own Catalyst
  * expressions (`graft_simhash(text)` straight from SQL).
  *
  * The queries below put that surface through the driver's DuckDB hash
  * gate: one per SQL capability family (lateral explode + agg, the exact
  * integer-grid aggregate convention, window functions over a join, and a
  * native-function call), each the same plan Catalyst builds for the
  * DataFrame formulation — SQL here is a parser frontend, not a second
  * engine, so scans/pushdown/broadcasts are identical.
  */
object SqlSurface {

  private val registeredDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** The recursive hierarchy descent of `sql_recursive_chain` — the
    * BOM-explosion shape on the co-purchase forest. Each part's parent
    * is its SMALLEST co-purchase neighbor with a smaller key (strictly
    * decreasing → acyclic; min → at most ONE parent per node), so the
    * UNION ALL recursion — the only mode Spark 4's recursive CTEs
    * support (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, probed) — emits
    * every vertex EXACTLY ONCE: total rows = |V| at any scale, unlike
    * a UNION ALL BFS whose path expansion is exponential. Spark plans
    * the recursion as UnionLoopExec. The d < 30 cap bounds both
    * engines identically (sf0.01 reaches depth 6), so even a deeper
    * corpus cannot diverge the gate — it truncates both sides alike.
    *
    * The Spark side derives the parent/root tables ONCE, persists
    * them, and recurses over the cached views ([[recursiveChainOnly]])
    * — measured 11.0 s → the UnionLoop re-executes its recursive-side
    * plan EVERY iteration, so leaving the O(fact) edge derivation
    * inside the WITH RECURSIVE body pays it per depth level; at 100 TB
    * that is the difference between one edge build and depth× of them.
    * The DuckDB oracle keeps the whole derivation in one text
    * ([[recursiveChainOracle]]) — DuckDB materializes CTEs referenced
    * by a recursion, so the texts differ only in where the (identical)
    * prefix algebra runs. DuckDB gotcha (probed): a plain `UNION` CTE
    * in the WITH RECURSIVE list loses its dedup semantics — spell it
    * SELECT DISTINCT over UNION ALL. */
  private val recursiveChainPrefix = """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT a.p AS a, b.p AS b FROM items a
        JOIN items b ON b.o = a.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING count(*) >= 2),
      par AS (SELECT b AS child, min(a) AS parent FROM e GROUP BY b),
      verts AS (SELECT DISTINCT v FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) u),
      roots AS (
        SELECT v FROM verts
        WHERE NOT EXISTS (SELECT 1 FROM par WHERE par.child = verts.v))"""

  private val recursiveChainBody = """
      chain(v, d) AS (
        SELECT v, 0 FROM roots
        UNION ALL
        SELECT p.child, chain.d + 1 FROM chain JOIN par p
          ON p.parent = chain.v
        WHERE chain.d < 30)
      SELECT CAST(d AS BIGINT) AS depth, count(*) AS n_parts,
        min(v) AS min_part, max(v) AS max_part
      FROM chain GROUP BY d ORDER BY depth"""

  private val recursiveChainOracle =
    recursiveChainPrefix.replaceFirst("WITH ", "WITH RECURSIVE ") + "," +
      recursiveChainBody

  /** The Spark half of `sql_recursive_chain`: the O(fact) edge build
    * runs ONCE (the shared [[Relational.copurchaseEdges]] plan,
    * persisted), par/roots derive from the cached edges as vertex-sized
    * frames, and the SHARED recursion body runs over those views. */
  private def recursiveChainOnly(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    registerViews(s, d)
    val e = graft.Caching.persistTracked(Relational.copurchaseEdges(s, d))
    val par = e.groupBy(col("b")).agg(min(col("a")).as("parent"))
      .select(col("b").as("child"), col("parent"))
    val verts = e.select(col("a").as("v"))
      .union(e.select(col("b").as("v"))).distinct()
    val roots = verts.join(par.select(col("child").as("v")),
      Seq("v"), "left_anti")
    graft.Caching.persistTracked(par).createOrReplaceTempView("rc_par")
    graft.Caching.persistTracked(roots).createOrReplaceTempView("rc_roots")
    s.sql("WITH RECURSIVE par AS (SELECT * FROM rc_par), " +
      "roots AS (SELECT * FROM rc_roots)," + recursiveChainBody)
  }

  /** Idempotently (re)bind all driver tables for `dir` as temp views +
    * register native functions. Memoized per (session, dir): binding reads
    * ten parquet footers for schema inference, which would otherwise be
    * paid on every query call; a dir change re-binds. */
  def registerViews(s: SparkSession, dir: String): Unit = {
    if (dir == registeredDir.get(s)) return
    graft.functions.GraftFunctions.ensureRegistered(s)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(n => Tables.table(s, dir, n).createOrReplaceTempView(n))
    Tables.events(s, dir).createOrReplaceTempView("events")
    registeredDir.put(s, dir)
  }

  private def sql(q: String): Q = (s, d) => {
    registerViews(s, d)
    s.sql(q)
  }

  /** The pipe-syntax q01 twin — kept as a val so SqlSurfaceSpec can pin
    * canonicalized-plan equality against [[pipePlainText]]. */
  val pipeText: String = """
      FROM lineitem
      |> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |> AGGREGATE
           CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
           count(*) AS count_order
         GROUP BY l_returnflag, l_linestatus
      |> SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
           sum_disc_price, sum_charge, avg_qty, count_order
      |> ORDER BY l_returnflag, l_linestatus"""

  val queries: Map[String, Q] = Map(
    // ---- the flagship word count, as a SQL string (lateral explode of
    // the native per-doc term map + agg + top-N — Catalyst plans the same
    // partition-level term counts and bounded heap)
    "sql_wordcount_topn" -> sql("""
      SELECT word, sum(tf) AS cnt
      FROM documents LATERAL VIEW explode(graft_term_counts(text)) t AS word, tf
      GROUP BY word
      ORDER BY cnt DESC, word ASC
      LIMIT 20"""),

    // ---- the full BM25 retrieval stack as ONE SQL string — CTE chain
    // (query VALUES, tokenize, tf/dl/df/corpus stats), the integer-grid
    // BM25 arithmetic (`div` is Spark SQL's integer division — same
    // floors as the DataFrame twin), and the rank-filtered window that
    // Catalyst rewrites to a WindowGroupLimit. Proves the SQL frontend
    // carries the engine's hardest scoring contract unchanged; the
    // oracle is text_bm25_topk's, verbatim.
    "sql_bm25_topk" -> sql("""
      WITH qt AS (
        SELECT * FROM VALUES
          (0, 'scan'), (0, 'column'), (1, 'window'), (1, 'order'),
          (2, 'hash'), (2, 'join'), (3, 'stream'), (3, 'filter'),
          (4, 'spark'), (4, 'merge') AS t(query_id, qterm)),
      tok AS (
        SELECT doc_id, explode(filter(split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
                               w -> length(w) > 0)) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
      stats AS (SELECT count(*) AS n_docs, sum(dl) div count(*) AS avgdl
                FROM dl),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT qt.query_id, tf.doc_id,
          ((2 * (s.n_docs - df.df) + 1) * 1000) div (2 * df.df + 1)
            AS idf3,
          (44 * tf.tf * s.avgdl * 1000000) div
            (20 * tf.tf * s.avgdl + 6 * s.avgdl + 18 * dl.dl) AS tfn6
        FROM qt
        JOIN tf ON tf.term = qt.qterm
        JOIN df ON df.term = tf.term
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s),
      agg AS (
        SELECT query_id, doc_id,
          sum((idf3 * tfn6) div 1000) AS score_grid,
          count(*) AS n_terms_matched
        FROM scored GROUP BY query_id, doc_id),
      ranked AS (
        SELECT query_id, doc_id, score_grid, n_terms_matched,
          row_number() OVER (
            PARTITION BY query_id
            ORDER BY score_grid DESC, doc_id ASC) AS rn
        FROM agg)
      SELECT CAST(query_id AS BIGINT) AS query_id,
        CAST(rn AS BIGINT) AS rn, doc_id, score_grid, n_terms_matched
      FROM ranked
      WHERE rn <= 10
      ORDER BY query_id, rn"""),

    // ---- TPC-H Q1 shape in SQL, on the exact integer-grid convention
    // (floor(x*scale + 0.5) summed as decimal(38,0), surfaced as DOUBLE —
    // identical expression in the oracle, see queries/package.scala)
    "sql_pricing_summary" -> sql("""
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sum_qty,
        CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sum_base_price,
        CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sum_disc_price,
        CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sum_charge,
        CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),

    // ---- window function over a broadcast join, in SQL: top-3 orders per
    // market segment. The rank filter applies to the RAW row_number so the
    // optimizer rewrites it to a WindowGroupLimit (per-group bounded heap);
    // the BIGINT cast (row_number is int32 in Spark, int64 in DuckDB)
    // happens outside, where it can't block that rewrite.
    "sql_top_orders_per_segment" -> sql("""
      SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk, o_orderkey FROM (
        SELECT c_mktsegment, o_orderkey,
          row_number() OVER (
            PARTITION BY c_mktsegment
            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        FROM orders JOIN customer ON o_custkey = c_custkey) t
      WHERE rnk <= 3
      ORDER BY c_mktsegment, rnk"""),

    // ---- the engine's optimizer rule working for SQL text: the natural
    // predicate `levenshtein(a,b) <= 2` is rewritten by
    // [[graft.plans.LevenshteinThresholdRule]] to the banded thresholded
    // form — SQL users get the O(len·k) kernel without knowing it exists
    // (plan-audited in OptimizerRuleSpec)
    "sql_fuzzy_pair_count" -> sql("""
      WITH p AS (
        SELECT p_partkey, p_name, p_brand,
          element_at(split(p_name, ' '), -1) AS noun
        FROM part)
      SELECT a.p_brand AS p_brand, count(*) AS n_fuzzy_pairs
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.noun = b.noun
       AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 2
      GROUP BY a.p_brand
      ORDER BY p_brand"""),

    // ---- the engine's native Catalyst expression called from SQL text:
    // same output as dedup_simhash (and the same DuckDB oracle)
    "sql_simhash" -> sql("""
      SELECT doc_id, simhash FROM (
        SELECT doc_id, graft_simhash(text) AS simhash FROM documents) t
      WHERE simhash IS NOT NULL
      ORDER BY doc_id"""),

    // ---- a parameterized native kernel from SQL text: the full
    // exact-substring duplication profile through `graft_gram_hashes
    // (text, 8)` (explode of a null array emits no rows, so null/short
    // docs degrade exactly as the DataFrame twin's empty-array path).
    // Same join-free unique-holder aggregation as the DataFrame twin
    // (a df-1 group's min(doc_id)/min(c) ARE its single row); same
    // output, same oracle as dedup_span_grams.
    // the sparse TF-IDF cosine similarity join as one SQL string — the
    // map-explode of the native `graft_term_counts` kernel, the integer
    // idf/weight grid, the cross-multiplied decimal(38) threshold, and
    // the correctly-rounded float cosine all express directly in SQL;
    // the df cap is an inner-join predicate here (same result set as the
    // DataFrame twin's broadcast anti-join blocklist — the blocklist is
    // the SCALE form, this is the spelling). Same output, same oracle
    // as text_cosine_pairs.
    "sql_cosine_pairs" -> sql("""
      WITH tf AS (
        SELECT doc_id, term, tf FROM (
          SELECT doc_id, explode(graft_term_counts(text)) AS (term, tf)
          FROM documents) t),
      nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      wp AS (
        SELECT t.doc_id, t.term,
          (t.tf * (((2 * (nn.n_docs - d.df) + 1) * 1000)
            div (2 * d.df + 1))) div 1000 AS w
        FROM tf t JOIN dfx d ON d.term = t.term CROSS JOIN nn
        WHERE d.df <= 1000
          AND (t.tf * (((2 * (nn.n_docs - d.df) + 1) * 1000)
            div (2 * d.df + 1))) div 1000 >= 1),
      norms AS (SELECT doc_id, sum(w * w) AS n2 FROM wp GROUP BY doc_id),
      dots AS (
        SELECT a.doc_id AS a, b.doc_id AS b, sum(a.w * b.w) AS dot,
          count(*) AS n_shared
        FROM wp a JOIN wp b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT d.a AS doc_a, d.b AS doc_b, d.n_shared,
        CAST(d.dot AS DOUBLE) /
          sqrt(CAST(CAST(na.n2 AS DECIMAL(38,0)) * nb.n2 AS DOUBLE))
          AS cosine
      FROM dots d
      JOIN norms na ON na.doc_id = d.a
      JOIN norms nb ON nb.doc_id = d.b
      WHERE CASE
        WHEN (CAST(d.dot AS DECIMAL(38,0)) * d.dot * 1000000
              >= CAST(250000 AS DECIMAL(38,0)) * na.n2 * nb.n2) IS NULL
        THEN CAST(raise_error(concat('sql_cosine_pairs: decimal(38) ',
          'overflow in cosine threshold (docs ', d.a, ', ', d.b,
          ') - corpus exceeds the documented weight-magnitude bound'))
          AS BOOLEAN)
        ELSE CAST(d.dot AS DECIMAL(38,0)) * d.dot * 1000000
          >= CAST(250000 AS DECIMAL(38,0)) * na.n2 * nb.n2 END
      ORDER BY doc_a, doc_b"""),

    "sql_span_grams" -> sql("""
      WITH gc AS (
        SELECT doc_id, h, count(*) AS c FROM (
          SELECT doc_id, explode(graft_gram_hashes(text, 8)) AS h
          FROM documents) t
        GROUP BY doc_id, h),
      uq AS (
        SELECT doc_id, sum(min_c) AS n_uniq FROM (
          SELECT min(doc_id) AS doc_id, min(c) AS min_c
          FROM gc GROUP BY h HAVING count(*) = 1) u
        GROUP BY doc_id),
      per AS (SELECT doc_id, sum(c) AS n_grams FROM gc GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(per.n_grams, 0L) AS n_grams,
        coalesce(per.n_grams - coalesce(uq.n_uniq, 0L), 0L)
          AS n_dup_grams,
        CAST(per.n_grams - coalesce(uq.n_uniq, 0L) AS DOUBLE)
          / per.n_grams AS dup_frac
      FROM documents d
      LEFT JOIN per ON per.doc_id = d.doc_id
      LEFT JOIN uq ON uq.doc_id = d.doc_id
      ORDER BY d.doc_id"""),

    // ---- the PII audit from SQL text (regexp_count + the ASCII-word
    // lookaround boundary patterns, straight through the parser) —
    // result parity with docs_pii_scan by construction, so it shares
    // that query's oracle verbatim
    "sql_pii_scan" -> sql("""
      WITH demo AS (SELECT doc_id,
        concat(coalesce(text, ''),
          CASE doc_id % 5
            WHEN 1 THEN concat(' contact agent', doc_id,
                               '@example.com now')
            WHEN 2 THEN concat(' node at 10.0.', doc_id % 256, '.17 port')
            WHEN 3 THEN concat(' call 555-01', doc_id % 10, '-4412 today')
            WHEN 4 THEN concat(' ssn 123-45-678', doc_id % 10, ' file')
            ELSE '' END) AS text
        FROM documents),
      counted AS (SELECT doc_id,
        CAST(regexp_count(text,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}') AS BIGINT) AS n_emails,
        CAST(regexp_count(text,
          '(?<![a-zA-Z0-9_])([0-9]{1,3}\\.){3}[0-9]{1,3}(?![a-zA-Z0-9_])')
          AS BIGINT) AS n_ipv4,
        CAST(regexp_count(text,
          '(?<![a-zA-Z0-9_])[0-9]{3}-[0-9]{3}-[0-9]{4}(?![a-zA-Z0-9_])')
          AS BIGINT) AS n_phones,
        CAST(regexp_count(text,
          '(?<![a-zA-Z0-9_])[0-9]{3}-[0-9]{2}-[0-9]{4}(?![a-zA-Z0-9_])')
          AS BIGINT) AS n_ssn
        FROM demo)
      SELECT doc_id, n_emails, n_ipv4, n_phones, n_ssn,
        n_emails + n_ipv4 + n_phones + n_ssn AS pii_total,
        CAST(CASE WHEN n_emails + n_ipv4 + n_phones + n_ssn > 0
             THEN 1 ELSE 0 END AS BIGINT) AS has_pii
      FROM counted
      ORDER BY doc_id"""),

    // ---- the dense-spine gap fill as one SQL string — exercises
    // sequence()/explode spine generation, the exact-decimal money-grid
    // sum, and IGNORE NULLS window frames through the parser frontend
    // (the forward-fill family's first SQL twin). Same output, same
    // oracle as events_gapfill.
    "sql_gapfill" -> sql("""
      WITH actual AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
          CAST(sum(CAST(floor(value * 100.0 + 0.5) AS DECIMAL(38, 0)))
            AS DOUBLE) / 100.0 AS hour_sum
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2),
      spine AS (
        SELECT event_type,
          explode(sequence(h0, h1, interval 1 hour)) AS hour
        FROM (SELECT event_type, min(hour) AS h0, max(hour) AS h1
              FROM actual GROUP BY event_type)),
      j AS (
        SELECT sp.event_type, sp.hour,
          CAST(coalesce(a.n, 0) AS BIGINT) AS n,
          CAST(CASE WHEN a.n IS NULL THEN 1 ELSE 0 END AS BIGINT)
            AS is_gap,
          a.hour_sum
        FROM spine sp
        LEFT JOIN actual a
          ON a.event_type = sp.event_type AND a.hour = sp.hour)
      SELECT event_type, CAST(hour AS TIMESTAMP_NTZ) AS hour, n, is_gap,
        hour_sum,
        last_value(hour_sum) IGNORE NULLS OVER (
          PARTITION BY event_type ORDER BY hour
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS filled_sum
      FROM j
      ORDER BY event_type, hour"""),

    // ---- the z-order layout census as one SQL string — exercises the
    // BIT-ARITHMETIC surface through the parser frontend (shiftright,
    // bitwise &, pmod — the first sql_* twin to rank bits): the same
    // 20-term Morton interleave and top-5-bit block census as the
    // DataFrame twin, sharing its oracle.
    "sql_zorder_layout" -> sql(s"""
      WITH d AS (
        SELECT pmod(user_id, 1024) AS x,
          pmod(CAST(floor(value * 100.0 + 0.5) AS BIGINT), 1024) AS y
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL),
      zd AS (SELECT x, y, ${(0 until 10).map(i =>
        s"(shiftright(x, $i) & 1) * ${1L << (2 * i + 1)} + " +
          s"(shiftright(y, $i) & 1) * ${1L << (2 * i)}").mkString(" + ")}
        AS z FROM d)
      SELECT shiftright(z, 15) AS blk, count(*) AS n,
        min(x) AS min_x, max(x) AS max_x,
        min(y) AS min_y, max(y) AS max_y
      FROM zd
      GROUP BY 1
      ORDER BY 1"""),

    // ---- LATERAL correlated subquery — the SQL-surface feature the
    // window twin (`sql_top_orders_per_segment`) doesn't exercise: a
    // per-row dependent subquery with its own ORDER BY + LIMIT. Catalyst
    // DECORRELATES the lateral into a ranked join (DecorrelateInnerQuery
    // → window rank, one hash exchange — never an N-times re-executed
    // subquery), which is exactly why the surface is safe at 100 TB:
    // the plan is the top-k-per-group plan, the LATERAL is syntax.
    // Customers with no orders vanish (inner lateral), null custkeys
    // match nothing — identical in DuckDB's LATERAL.
    "sql_lateral_topn" -> sql("""
      SELECT c.c_custkey, t.o_orderkey, t.cents
      FROM customer c,
      LATERAL (
        SELECT o.o_orderkey,
          CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY cents DESC, o.o_orderkey ASC
        LIMIT 2
      ) t
      ORDER BY c.c_custkey, t.cents DESC, t.o_orderkey"""),

    // ---- PIVOT through the SQL frontend — the wide-rotation clause
    // (nation × market-segment customer census). Catalyst rewrites
    // PIVOT to ONE hash aggregate with a conditional-count expression
    // per named value — no per-column scan, no join: at 100 TB this is
    // the same single-pass map-side-combinable plan the CASE-WHEN
    // formulation gets, which is exactly what the DuckDB oracle runs.
    // Spark pivot null-extends combinations with no rows where a
    // FILTERed count yields 0 — the outer coalesce reconciles the two
    // contracts (and IS exercised: sf0.001 has empty cells).
    "sql_pivot_segments" -> sql("""
      SELECT n_name,
        coalesce(BUILDING, 0L) AS n_building,
        coalesce(AUTOMOBILE, 0L) AS n_automobile,
        coalesce(MACHINERY, 0L) AS n_machinery,
        coalesce(HOUSEHOLD, 0L) AS n_household,
        coalesce(FURNITURE, 0L) AS n_furniture
      FROM (SELECT n.n_name, c.c_mktsegment
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
      PIVOT (count(*) FOR c_mktsegment IN
        ('BUILDING' AS BUILDING, 'AUTOMOBILE' AS AUTOMOBILE,
         'MACHINERY' AS MACHINERY, 'HOUSEHOLD' AS HOUSEHOLD,
         'FURNITURE' AS FURNITURE))
      ORDER BY n_name NULLS LAST"""),

    // ---- UNPIVOT through the SQL frontend — the long-rotation clause
    // (wide pricing aggregate melted to (group, metric, value) rows).
    // Catalyst expands UNPIVOT to an Expand node (one projection per
    // metric over the SAME aggregated input — rows × 3, but the input
    // is the 3-row aggregate, not the fact table), so the scan and the
    // aggregation are identical to the wide query's. Measures are
    // coalesced exact cents so no cell is ever null — UNPIVOT drops
    // null cells by default, which the oracle's VALUES expansion would
    // not; coalescing pins the two to the same contract.
    "sql_unpivot_pricing" -> sql("""
      SELECT l_returnflag, metric, val
      FROM (
        SELECT l_returnflag,
          count(*) AS n_rows,
          coalesce(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)),
            0L) AS qty_cents,
          coalesce(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
            AS BIGINT)), 0L) AS price_cents
        FROM lineitem GROUP BY l_returnflag)
      UNPIVOT (val FOR metric IN (n_rows, qty_cents, price_cents))
      ORDER BY l_returnflag NULLS LAST, metric"""),

    // ---- session_window through the SQL frontend — the gap-session
    // assignment as a GROUP BY table-valued window (the DataFrame twin
    // is events_session; this proves the parser carries the session
    // operator, whose merging state machine is the one the streaming
    // session gate runs). Same oracle verbatim.
    "sql_session_window" -> sql("""
      SELECT user_id,
        CAST(session_window.start AS TIMESTAMP_NTZ) AS session_start,
        count(*) AS n_events,
        CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
          / 100.0 AS sum_value
      FROM events
      WHERE ts IS NOT NULL
      GROUP BY session_window(ts, '30 minutes'), user_id
      ORDER BY user_id, session_start"""),

    // ---- the FILTER (WHERE …) aggregate clause through the parser —
    // per-aggregate predicates without CASE-WHEN contortions (ANSI
    // SQL:2003 T612, supported verbatim by both engines, so the oracle
    // is the same text). One hash aggregate carries four differently-
    // filtered measures over one scan — the shape that otherwise costs
    // four scans or four CASE pyramids; the distinct+filter member
    // exercises the Expand-based distinct path under a filter. Money
    // stays on the integer cent grid; an all-filtered-out group sums to
    // NULL in both engines.
    "sql_agg_filter" -> sql("""
      SELECT l_returnflag,
        count(*) AS n,
        count(*) FILTER (WHERE l_quantity >= 25) AS n_heavy,
        CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
          FILTER (WHERE l_discount > 0.05) AS BIGINT) AS cents_discounted,
        count(DISTINCT l_suppkey) FILTER (WHERE l_tax = 0.0)
          AS n_taxfree_supp
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag NULLS LAST"""),

    // ---- correlated SCALAR subqueries through the parser — the
    // decorrelation family LATERAL doesn't cover: each output column is
    // its own correlated aggregate, and Catalyst must rewrite both into
    // left-outer aggregated joins (RewriteCorrelatedScalarSubquery)
    // rather than re-executing per customer row. The count member is
    // the classic COUNT-BUG probe: a customer with NO orders must
    // surface n_orders = 0, not NULL — naive decorrelation turns the
    // empty group into a null-extended row and loses the count(*) = 0
    // contract; Spark patches it with the post-join coalesce, DuckDB
    // decorrelates correctly, and the hash gate fails if either engine
    // gets it wrong. The urgent-only restriction makes the empty group
    // LIVE at every SF (the fixtures have no order-less customers, but
    // 10% of MACHINERY customers have no urgent order at sf0.001 —
    // checked); the max member keeps the opposite polarity visible:
    // empty group → NULL in both.
    "sql_scalar_subquery" -> sql("""
      SELECT c.c_custkey,
        (SELECT count(*) FROM orders o
         WHERE o.o_custkey = c.c_custkey
           AND o.o_orderpriority = '1-URGENT') AS n_urgent,
        (SELECT CAST(max(CAST(floor(o.o_totalprice * 100.0 + 0.5)
            AS BIGINT)) AS DOUBLE) / 100.0
         FROM orders o WHERE o.o_custkey = c.c_custkey
           AND o.o_orderpriority = '1-URGENT') AS max_urgent_price
      FROM customer c
      WHERE c.c_mktsegment = 'MACHINERY'
      ORDER BY c.c_custkey"""),

    // ---- correlated EXISTS + NOT EXISTS through the parser — the
    // predicate-subquery pair RewritePredicateSubquery turns into one
    // LEFT SEMI and one LEFT ANTI join on the same fact (suppliers with
    // a heavy line that was never returned): the remaining subquery
    // forms next to IN (gated as the null-aware NOT IN), scalar
    // (sql_scalar_subquery), and LATERAL. Unlike NOT IN, NOT EXISTS has
    // NO null-poisoning: the correlation is an equality that simply
    // fails on NULL, which is exactly why production anti-join filters
    // should be written NOT EXISTS — this pair of gates documents the
    // difference executably. Identical text in DuckDB.
    "sql_exists_correlated" -> sql("""
      SELECT o.o_orderkey, o.o_orderpriority
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_quantity >= 45)
        AND NOT EXISTS (SELECT 1 FROM lineitem l2
                        WHERE l2.l_orderkey = o.o_orderkey
                          AND l2.l_returnflag = 'R')
      ORDER BY o.o_orderkey"""),

    // ---- NOT IN with a NULLABLE subquery column — the null-aware anti
    // join, the one subquery rewrite with three-valued-logic teeth:
    // `x NOT IN (set)` is UNKNOWN (row dropped) whenever the set
    // contains a NULL, so a single null purchase user empties the whole
    // result. Spark plans the single-column case as a broadcast hash
    // join with isNullAwareAntiJoin (one null on the build side short-
    // circuits every probe) instead of the O(n·m) BroadcastNestedLoop
    // a naive NOT IN compiles to; DuckDB runs the same text under the
    // same ANSI semantics, so the hash gate pins both the rewrite's
    // correctness AND the null-poisoning contract (the nulls probe
    // corpus carries null-user purchases — the result flips to empty
    // there, in both engines).
    "sql_not_in_nullaware" -> ((s, d) => {
      registerViews(s, d)
      val out = s.sql("""
        SELECT c_custkey, c_acctbal
        FROM customer
        WHERE c_custkey NOT IN (SELECT user_id FROM events
                                WHERE event_type = 'purchase')
        ORDER BY c_custkey""")
      // isNullAwareAntiJoin prints as the trailing flag on the join
      // node (`LeftAnti, BuildRight, true`) — the plan string never
      // spells a "NullAware" name, and the AQE wrapper hides the tree
      // from collect(), so the contract is pinned on the rendering
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("LeftAnti, BuildRight, true"),
        "sql_not_in_nullaware: NOT IN did not plan as the null-aware " +
          "anti join:\n" + plan)
      out
    }),

    // ---- LIMIT/OFFSET pagination through the parser (Spark 3.4+'s
    // OFFSET clause — GlobalLimitExec with offset): page 3 of the
    // price-ranked order book under a total sort key (price DESC,
    // orderkey ASC breaks exact-double ties), so the page content is
    // deterministic in both engines. The anti-pattern this gate
    // documents by existing: OFFSET is a driver-side skip — each page
    // still sorts the full input, so deep pagination at 100 TB wants
    // keyset continuation (WHERE (price, key) < last_seen), not
    // growing offsets; page 3 is the honest demo size.
    "sql_offset_pagination" -> sql("""
      SELECT o_orderkey, o_custkey,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20 OFFSET 40"""),

    // ---- WITH RECURSIVE through the SQL frontend (UnionLoopExec) —
    // see [[recursiveChainPrefix]] for the shape, the |V| row bound,
    // the probed engine constraints on both sides, and why the prefix
    // algebra is materialized before the recursion
    "sql_recursive_chain" -> ((s, d) => recursiveChainOnly(s, d)),

    // ---- SQL join-strategy hints through the parser — the surface a
    // SQL user reaches for FIRST when a plan goes wrong (the Column-API
    // twin is q04's broadcast()). The same dim join runs under all
    // three strategy hints and each demanded strategy is require()d in
    // the physical plan: /*+ BROADCAST(c) */ → BroadcastHashJoin (the
    // 100 TB default for any dim that fits an executor), /*+ MERGE(c) */
    // → SortMergeJoin (forced AGAINST the auto-broadcast heuristic —
    // what you demand when the "small" side lies about its stats), and
    // /*+ SHUFFLE_HASH(c) */ → ShuffledHashJoin (no sort, the win when
    // one side is modest and pre-partitioned). Hints cannot change
    // results (the q41 convention), so all three tagged variants hash
    // against ONE unhinted oracle aggregate fanned out by a VALUES
    // dimension. Every variant is EXECUTED (union), not just planned.
    "sql_join_hints" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit}
      registerViews(s, d)
      import org.apache.spark.sql.execution.joins.{
        BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
      // Strategy pinned by TYPED exec-node collection over the pre-AQE
      // sparkPlan (the events_v2_daily convention) — substring-matching
      // the rendered plan would false-fail on a node-rename across
      // Spark versions.
      def leg(hint: String, tag: String)(
          isNode: org.apache.spark.sql.execution.SparkPlan => Boolean) = {
        val df = s.sql(s"""
          SELECT /*+ $hint */ c.c_mktsegment AS c_mktsegment,
            count(*) AS n,
            CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
              AS DOUBLE) / 100.0 AS sum_price
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_mktsegment""")
        require(df.queryExecution.sparkPlan.collect {
            case p if isNode(p) => p
          }.nonEmpty,
          s"sql_join_hints: /*+ $hint */ did not plan the hinted " +
            s"strategy:\n${df.queryExecution.sparkPlan}")
        df.select(lit(tag).as("hint"), col("c_mktsegment"), col("n"),
          col("sum_price"))
      }
      leg("BROADCAST(c)", "broadcast") {
          case _: BroadcastHashJoinExec => true; case _ => false }
        .unionAll(leg("MERGE(c)", "merge") {
          case _: SortMergeJoinExec => true; case _ => false })
        .unionAll(leg("SHUFFLE_HASH(c)", "shuffle_hash") {
          case _: ShuffledHashJoinExec => true; case _ => false })
        .orderBy(col("hint"), col("c_mktsegment").asc_nulls_last)
    }),

    // ---- GROUP BY ALL / ORDER BY ALL — DuckDB originated the syntax,
    // Spark adopted it (3.4 / 4.0): every non-aggregate select-list item
    // becomes a group key, and the sort covers the whole select list —
    // IDENTICAL text in both engines, the strongest twin-parity form.
    // The nullable keys ride a coalesce to '~' (sorts after every
    // [A-Za-z] value in both engines) because ORDER BY ALL has no
    // NULLS LAST slot to spell §5 item 6 in.
    "sql_group_by_all" -> sql("""
      SELECT coalesce(l_returnflag, '~') AS rf,
        coalesce(l_linestatus, '~') AS ls,
        count(*) AS n,
        CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_price
      FROM lineitem
      GROUP BY ALL
      ORDER BY ALL"""),

    // ---- SQL-defined function (Spark 4 `CREATE FUNCTION … RETURNS …
    // RETURN <expr>`) — the declarative UDF rung between built-ins and
    // Scala UDFs: the body is SQL, so Catalyst INLINES it (codegen,
    // pushdown, no serialization wall — everything a lambda UDF
    // forfeits). The cents-grid helper is defined as a temp function
    // and a gated aggregate runs through it; the oracle replays the
    // inlined expression (DuckDB's CREATE MACRO is the twin, but the
    // driver oracle runs one statement, so the inline form is the
    // honest cross-engine check). CREATE OR REPLACE TEMPORARY keeps
    // the registration idempotent per session — bench sweeps plan each
    // gate repeatedly and must not trip a duplicate-function error.
    "sql_function_inline" -> ((s, d) => {
      registerViews(s, d)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_sql_cents(x
        DOUBLE) RETURNS BIGINT RETURN CAST(floor(x * 100.0 + 0.5) AS
        BIGINT)""")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n,
          CAST(sum(graft_sql_cents(o_totalprice)) AS DOUBLE) / 100.0
            AS sum_price
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority NULLS LAST""")
    }),

    // ---- INTERSECT ALL through the parser — the duplicate-preserving
    // intersection (multiplicity = min of the two sides' counts),
    // closing the set-operation surface next to q15's distinct
    // intersect and q26's exceptAll: customers appear once per matched
    // (urgent, high) order pair they can form. Identical text in both
    // engines; ANSI set ops treat NULL keys as equal on both sides.
    "sql_intersect_all" -> sql("""
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
      ORDER BY o_custkey NULLS LAST"""),

    // ---- named parameter markers (Spark 3.4+ parameterized SQL:
    // spark.sql(text, args)) — the injection-safe surface a service
    // embedding this engine must use instead of string interpolation;
    // the parser binds :minp/:skip as typed literals BEFORE analysis,
    // so the plan is identical to the inlined text (which is exactly
    // what the oracle replays). DuckDB's prepared-statement markers are
    // the same concept; the driver oracle runs one statement, so the
    // inlined form is the honest cross-engine check.
    "sql_parameterized" -> ((s, d) => {
      registerViews(s, d)
      s.sql("""
        SELECT o_orderpriority, count(*) AS n,
          CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS sum_price
        FROM orders
        WHERE o_totalprice >= :minp AND o_orderpriority <> :skip
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority NULLS LAST""",
        Map("minp" -> 50000.0, "skip" -> "5-LOW"))
    }),

    // ---- the IDENTIFIER clause (Spark 3.5+) — dynamic table names
    // WITHOUT SQL injection: IDENTIFIER(:tab) resolves a parameter to a
    // catalog identifier at analysis time (a string can never smuggle
    // `tab; DROP ...` into the tree, unlike interpolation). The shape
    // every multi-tenant pipeline needs (per-tenant table names in one
    // prepared query). Oracle = the same query with the identifier
    // resolved.
    "sql_identifier_dynamic" -> ((s, d) => {
      registerViews(s, d)
      s.sql("""
        SELECT c_mktsegment, count(*) AS n,
          CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS sum_bal
        FROM IDENTIFIER(:tab)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment NULLS LAST""", Map("tab" -> "customer"))
    }),

    // ---- EXECUTE IMMEDIATE (Spark 4) — dynamic SQL with positional
    // USING binds, the stored-procedure-style surface for queries
    // assembled at runtime (the text is data, the binds are typed);
    // returns the inner statement's result frame. Oracle = the inner
    // text with the bind inlined.
    "sql_execute_immediate" -> ((s, d) => {
      registerViews(s, d)
      s.sql("""EXECUTE IMMEDIATE
        'SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
             AS DOUBLE) / 100.0 AS sum_price
         FROM orders WHERE o_totalprice >= ?
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus NULLS LAST' USING 100000.0""")
    }),

    // ---- listagg WITHIN GROUP (Spark 4.0's headline ANSI aggregate) —
    // ordered string aggregation, the report-building primitive (and
    // the one aggregate whose ORDER BY lives INSIDE the call): per
    // region, the comma-joined member-nation roster. Deterministic
    // because the intra-group order is total (n_name); ANSI listagg
    // skips NULL inputs in both engines (DuckDB spells it
    // string_agg(expr, sep ORDER BY ...)). Dim-sized by construction —
    // at 100 TB listagg belongs on bounded groups (rosters, top-k
    // digests), never on fact-cardinality payloads.
    "sql_listagg_group" -> sql("""
      SELECT r.r_name, listagg(n.n_name, ',')
          WITHIN GROUP (ORDER BY n.n_name) AS members
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name
      ORDER BY r.r_name NULLS LAST"""),

    // ---- the named WINDOW clause — one window definition shared by
    // reference instead of repeated inline OVER(...) bodies (the
    // maintainability surface: a report with six measures over one
    // frame defines it once; a drifted copy-paste frame is a silent
    // wrong answer). Identical text in both engines; the window order
    // is total (price DESC NULLS LAST, key) so ranks are reproducible.
    "sql_window_named" -> sql("""
      SELECT o_orderpriority, rnk, o_orderkey FROM (
        SELECT o_orderpriority, o_orderkey,
          CAST(rank() OVER w AS BIGINT) AS rnk
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC NULLS LAST, o_orderkey)
      ) t WHERE rnk <= 3
      ORDER BY o_orderpriority NULLS LAST, rnk, o_orderkey"""),

    // ---- TRY_CAST / try_add — ANSI-mode-safe arithmetic (Spark 4
    // ships ANSI ON: a malformed cast or a long overflow is a runtime
    // ERROR unless the try_ form absorbs it to NULL; at 100 TB one
    // poisoned row must not kill a 6-hour job, and try_* is the
    // per-expression containment the ANSI docs themselves prescribe).
    // TRY_CAST runs as identical text (letters → NULL in both engines);
    // try_add's overflow branch is replayed by a CASE-guarded oracle
    // (DuckDB raises on bigint overflow — the guard keeps the
    // expression unevaluated on the overflow branch). Both branches
    // are live: fixture groups overflow (count > 7), degenerate-corpus
    // groups stay in range.
    "sql_try_arithmetic" -> sql("""
      SELECT o_orderstatus,
        TRY_CAST(o_orderstatus AS BIGINT) AS status_num,
        count(*) AS n,
        try_add(9223372036854775800, count(*)) AS ovf
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus NULLS LAST"""),

    // ---- TABLESAMPLE through the parser, gated as a CONTRACT (the
    // events_quantiles_sketch convention): sampler RNG is engine-
    // specific, so the hashable output is the contract grid, not the
    // rows — (1) the sample is a SUBSET of the corpus (anti-join count
    // = 0 on the non-null keys; nulls excluded on BOTH legs because a
    // null key never equi-matches), and (2) the Bernoulli count lands
    // inside a ±6σ integer band, (10·n − N)² ≤ 324·N by cross-
    // multiplication (P(miss) ≈ 2e-9). Every n passes the band only at
    // N ≤ 4 (worst case n = N: 81·N² ≤ 324·N ⇔ N ≤ 4), so the
    // contract carries an explicit small-N escape — at N ≤ 32 a ±6σ
    // band on one deterministic seeded draw is statistically
    // meaningless and an unlucky REPEATABLE(42) draw would pin a
    // permanent false failure. REPEATABLE pins the seed; at 100 TB this
    // is the one-pass corpus-sampling primitive (quality eval draws,
    // held-out splits) that never shuffles.
    "sql_tablesample_contract" -> sql("""
      WITH s AS (SELECT o_orderkey
                 FROM orders TABLESAMPLE (10 PERCENT) REPEATABLE (42)
                 WHERE o_orderkey IS NOT NULL),
        m AS (SELECT count(*) AS ns FROM s),
        t AS (SELECT count(*) AS nt FROM orders
              WHERE o_orderkey IS NOT NULL),
        a AS (SELECT count(*) AS n_out FROM
          (SELECT s.o_orderkey FROM s
           LEFT ANTI JOIN orders o ON s.o_orderkey = o.o_orderkey) x)
      SELECT
        CASE WHEN a.n_out = 0 THEN CAST(1 AS BIGINT)
          ELSE CAST(0 AS BIGINT) END AS subset_ok,
        CASE WHEN t.nt <= 32
          OR (10 * m.ns - t.nt) * (10 * m.ns - t.nt) <= 324 * t.nt
          THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
          AS within_bound
      FROM m, t, a"""),

    // ---- Spark 4 SQL pipe syntax (`|>`) — the headline 4.x SQL
    // surface: each operator applies to the running table in reading
    // order (FROM → WHERE → AGGREGATE … GROUP BY → SELECT → ORDER BY)
    // instead of SELECT-first inversion. This is q01's pricing summary
    // re-spelled as a pipe chain; the parser lowers it to the IDENTICAL
    // logical plan as the plain text (canonicalized-plan equality
    // pinned in SqlSurfaceSpec — probed: schema, rows, and optimized
    // plan all equal), so the oracle is the plain q01 aggregate.
    // AGGREGATE emits grouping keys FIRST in the output schema
    // (probed); the trailing |> SELECT makes the column order explicit
    // rather than leaning on that rule.
    "sql_pipe_syntax" -> sql(pipeText),

    // ---- Spark 4 collation (`COLLATE UTF8_LCASE`) — case-insensitive
    // grouping and sort as a COLUMN TYPE property instead of lower()
    // rewrites: at 100 TB the collated comparison avoids materializing
    // a second lowercased key column through every exchange. The gate
    // derives a mixed-case key (half the rows lowercased) so the
    // collation genuinely MERGES keys, groups under UTF8_LCASE, sorts
    // by the collated min, and emits lower(min(k)) as the
    // deterministic representative k_rep (aliased OFF the input name so the
    // ORDER BY's min(k) resolves to the input column, not the output
    // alias — MISSING_ATTRIBUTES otherwise, probed; a bare collated key cannot be
    // selected — MISSING_AGGREGATION, probed; min over UTF8_BINARY is
    // the binary smallest). DuckDB has no matching collation, so the
    // oracle replays the SURVEY §5.7 ASCII-fold equivalence: on ASCII
    // keys (o_orderpriority in every corpus — probe corpora copy the
    // TPC-H tables verbatim) UTF8_LCASE grouping ≡ GROUP BY lower(k)
    // and UTF8_LCASE order ≡ ORDER BY lower(k). Where the two DIVERGE
    // on non-ASCII (İ, Kelvin K, ȧ/Ȧ) is pinned engine-side in
    // SqlSurfaceSpec. Nullable keys coalesce to '~' (the
    // sql_group_by_all convention).
    "sql_collation_contract" -> sql("""
      WITH mk AS (
        SELECT CASE WHEN o_orderkey % 2 = 0
                 THEN coalesce(o_orderpriority, '~')
                 ELSE lower(coalesce(o_orderpriority, '~')) END AS k,
               o_totalprice
        FROM orders)
      SELECT lower(min(k)) AS k_rep, count(*) AS n,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_price
      FROM mk
      GROUP BY k COLLATE UTF8_LCASE
      ORDER BY min(k) COLLATE UTF8_LCASE""")
  )

  /** The plain-text q01 aggregate the pipe chain must plan identically
    * to (and the DuckDB oracle for `sql_pipe_syntax`). */
  val pipePlainText: String = """
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
      ORDER BY l_returnflag, l_linestatus"""

  val oracles: Map[String, String] = Map(
    // the pipe chain lowers to the identical plan, so the oracle is the
    // plain q01 text (DuckDB has no pipe syntax)
    "sql_pipe_syntax" -> pipePlainText,

    // ASCII-fold equivalence (SURVEY §5.7): UTF8_LCASE grouping/sort on
    // ASCII keys is GROUP BY / ORDER BY lower(k)
    "sql_collation_contract" -> """
      WITH mk AS (
        SELECT CASE WHEN o_orderkey % 2 = 0
                 THEN coalesce(o_orderpriority, '~')
                 ELSE lower(coalesce(o_orderpriority, '~')) END AS k,
               o_totalprice
        FROM orders)
      SELECT lower(min(k)) AS k_rep, count(*) AS n,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_price
      FROM mk
      GROUP BY lower(k)
      ORDER BY lower(min(k))""",
    // ANSI FILTER clause — DuckDB runs the identical text (HUGEINT cast
    // already spelled on the filtered sum)
    "sql_agg_filter" -> """
      SELECT l_returnflag,
        count(*) AS n,
        count(*) FILTER (WHERE l_quantity >= 25) AS n_heavy,
        CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
          FILTER (WHERE l_discount > 0.05) AS BIGINT) AS cents_discounted,
        count(DISTINCT l_suppkey) FILTER (WHERE l_tax = 0.0)
          AS n_taxfree_supp
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag NULLS LAST""",

    // identical text: both engines decorrelate, and the hash pins the
    // COUNT-bug contract (order-less customers read 0, not NULL)
    "sql_scalar_subquery" -> """
      SELECT c.c_custkey,
        (SELECT count(*) FROM orders o
         WHERE o.o_custkey = c.c_custkey
           AND o.o_orderpriority = '1-URGENT') AS n_urgent,
        (SELECT CAST(max(CAST(floor(o.o_totalprice * 100.0 + 0.5)
            AS BIGINT)) AS DOUBLE) / 100.0
         FROM orders o WHERE o.o_custkey = c.c_custkey
           AND o.o_orderpriority = '1-URGENT') AS max_urgent_price
      FROM customer c
      WHERE c.c_mktsegment = 'MACHINERY'
      ORDER BY c.c_custkey""",

    // identical text; semi + anti decorrelation in both engines
    "sql_exists_correlated" -> """
      SELECT o.o_orderkey, o.o_orderpriority
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_quantity >= 45)
        AND NOT EXISTS (SELECT 1 FROM lineitem l2
                        WHERE l2.l_orderkey = o.o_orderkey
                          AND l2.l_returnflag = 'R')
      ORDER BY o.o_orderkey""",

    // identical text; ANSI three-valued NOT IN in both engines
    "sql_not_in_nullaware" -> """
      SELECT c_custkey, c_acctbal
      FROM customer
      WHERE c_custkey NOT IN (SELECT user_id FROM events
                              WHERE event_type = 'purchase')
      ORDER BY c_custkey""",

    // identical text; the total sort key makes the page deterministic
    "sql_offset_pagination" -> """
      SELECT o_orderkey, o_custkey,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20 OFFSET 40""",

    "sql_wordcount_topn" -> TextOps.oracles("wordcount_topn"),
    // the DataFrame twin's oracle verbatim — same contract, same grid
    "sql_bm25_topk" -> TextOps.oracles("text_bm25_topk"),
    "sql_pricing_summary" -> Relational.oracles("q01_pricing_summary"),
    "sql_top_orders_per_segment" -> """
      SELECT c_mktsegment, rnk, o_orderkey FROM (
        SELECT c_mktsegment, o_orderkey,
          CAST(row_number() OVER (
            PARTITION BY c_mktsegment
            ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk
        FROM orders JOIN customer ON o_custkey = c_custkey) t
      WHERE rnk <= 3
      ORDER BY c_mktsegment, rnk""",
    "sql_fuzzy_pair_count" -> """
      WITH p AS (
        SELECT p_partkey, p_name, p_brand,
          (string_split(p_name, ' '))[-1] AS noun
        FROM part)
      SELECT a.p_brand AS p_brand, count(*) AS n_fuzzy_pairs
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.noun = b.noun
       AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 2
      GROUP BY a.p_brand
      ORDER BY p_brand""",
    "sql_simhash" -> Dedup.oracles("dedup_simhash"),
    // the DataFrame twin's oracle verbatim — same grams, same counts
    "sql_span_grams" -> Dedup.oracles("dedup_span_grams"),
    "sql_pii_scan" -> TextOps.oracles("docs_pii_scan"),
    // the DataFrame twin's oracle verbatim — same grid, same threshold
    "sql_cosine_pairs" -> TextOps.oracles("text_cosine_pairs"),
    // the DataFrame twin's oracle verbatim — same spine, same fill
    "sql_gapfill" -> Events.oracles("events_gapfill"),
    // the DataFrame twin's oracle verbatim — same interleave, same census
    "sql_zorder_layout" -> Events.oracles("events_zorder_layout"),
    // DuckDB executes the same LATERAL; both engines agree the inner
    // lateral drops order-less customers and null keys match nothing
    "sql_lateral_topn" -> """
      SELECT c.c_custkey, t.o_orderkey, t.cents
      FROM customer c,
      LATERAL (
        SELECT o.o_orderkey,
          CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY cents DESC, o.o_orderkey ASC
        LIMIT 2
      ) t
      ORDER BY c.c_custkey, t.cents DESC, t.o_orderkey""",
    // the conditional-count formulation Catalyst compiles PIVOT to;
    // FILTERed counts yield 0 where Spark pivot null-extends, matched
    // by the Spark side's coalesce
    "sql_pivot_segments" -> """
      SELECT n.n_name,
        count(*) FILTER (c.c_mktsegment = 'BUILDING') AS n_building,
        count(*) FILTER (c.c_mktsegment = 'AUTOMOBILE') AS n_automobile,
        count(*) FILTER (c.c_mktsegment = 'MACHINERY') AS n_machinery,
        count(*) FILTER (c.c_mktsegment = 'HOUSEHOLD') AS n_household,
        count(*) FILTER (c.c_mktsegment = 'FURNITURE') AS n_furniture
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
      ORDER BY n.n_name NULLS LAST""",
    // the VALUES-expansion formulation of UNPIVOT; every measure is
    // coalesced non-null on both sides so the null-dropping contract
    // difference never fires
    "sql_unpivot_pricing" -> """
      WITH a AS (
        SELECT l_returnflag,
          count(*) AS n_rows,
          coalesce(CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5)
            AS BIGINT)) AS BIGINT), 0) AS qty_cents,
          coalesce(CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
            AS BIGINT)) AS BIGINT), 0) AS price_cents
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, m.metric,
        CASE m.metric WHEN 'n_rows' THEN n_rows
                      WHEN 'qty_cents' THEN qty_cents
                      ELSE price_cents END AS val
      FROM a CROSS JOIN (VALUES ('n_rows'), ('qty_cents'),
        ('price_cents')) m(metric)
      ORDER BY l_returnflag NULLS LAST, metric""",
    // DuckDB executes the same prefix algebra + the IDENTICAL recursion
    // body in one text (DuckDB materializes CTEs under a recursion;
    // Spark's UnionLoop re-executes them, so the Spark side caches the
    // prefix first — see recursiveChainOnly)
    "sql_recursive_chain" -> recursiveChainOracle,
    // the DataFrame twin's oracle verbatim — same gap walk, same grid
    "sql_session_window" -> Events.oracles("events_session"),

    // hints cannot change results: ONE unhinted aggregate fanned out by
    // the three-tag VALUES dimension
    "sql_join_hints" -> """
      WITH base AS (
        SELECT c.c_mktsegment AS c_mktsegment, count(*) AS n,
          CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS sum_price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment)
      SELECT h.hint, b.c_mktsegment, b.n, b.sum_price
      FROM (VALUES ('broadcast'), ('merge'), ('shuffle_hash')) h(hint)
      CROSS JOIN base b
      ORDER BY h.hint, b.c_mktsegment NULLS LAST""",

    // identical text — DuckDB originated GROUP BY ALL / ORDER BY ALL
    "sql_group_by_all" -> """
      SELECT coalesce(l_returnflag, '~') AS rf,
        coalesce(l_linestatus, '~') AS ls,
        count(*) AS n,
        CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_price
      FROM lineitem
      GROUP BY ALL
      ORDER BY ALL""",

    // the SQL-defined function inlined back to its body expression
    "sql_function_inline" -> """
      SELECT o_orderpriority, count(*) AS n,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority NULLS LAST""",

    // contract grid: the Spark side computes the subset/band checks
    // from its own sample; the oracle pins both to 1
    "sql_tablesample_contract" -> """
      SELECT CAST(1 AS BIGINT) AS subset_ok,
        CAST(1 AS BIGINT) AS within_bound""",

    // identical text — ANSI INTERSECT ALL in both engines
    "sql_intersect_all" -> """
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
      ORDER BY o_custkey NULLS LAST""",

    // the parameter markers bound to typed literals — the plan the
    // parser produces from the parameterized text
    "sql_parameterized" -> """
      SELECT o_orderpriority, count(*) AS n,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_price
      FROM orders
      WHERE o_totalprice >= 50000.0 AND o_orderpriority <> '5-LOW'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority NULLS LAST""",

    // the identifier resolved — IDENTIFIER(:tab) with tab = 'customer'
    "sql_identifier_dynamic" -> """
      SELECT c_mktsegment, count(*) AS n,
        CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_bal
      FROM customer
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment NULLS LAST""",

    // the inner statement with the positional bind inlined
    "sql_execute_immediate" -> """
      SELECT o_orderstatus, count(*) AS n,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100.0 AS sum_price
      FROM orders WHERE o_totalprice >= 100000.0
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus NULLS LAST""",

    // identical text — the WINDOW clause is ANSI in both engines
    "sql_window_named" -> """
      SELECT o_orderpriority, rnk, o_orderkey FROM (
        SELECT o_orderpriority, o_orderkey,
          CAST(rank() OVER w AS BIGINT) AS rnk
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC NULLS LAST, o_orderkey)
      ) t WHERE rnk <= 3
      ORDER BY o_orderpriority NULLS LAST, rnk, o_orderkey""",

    // TRY_CAST identical; the overflow branch CASE-guarded (DuckDB
    // raises on bigint overflow, and CASE evaluates lazily)
    "sql_try_arithmetic" -> """
      SELECT o_orderstatus,
        TRY_CAST(o_orderstatus AS BIGINT) AS status_num,
        count(*) AS n,
        CASE WHEN count(*) > 7 THEN NULL
             ELSE CAST(9223372036854775800 + count(*) AS BIGINT) END
          AS ovf
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus NULLS LAST""",

    // DuckDB spells ordered string aggregation string_agg(expr, sep
    // ORDER BY ...); both engines skip NULL inputs (ANSI listagg)
    "sql_listagg_group" -> """
      SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name)
          AS members
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name
      ORDER BY r.r_name NULLS LAST"""
  )
}
