package graft.queries

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Round-9 mining/audit operators (SURVEY.md §2.3): equi-width
  * histograms, winsorized robust stats, frequent-itemset pairs
  * (a-priori pruned), wide→long unpivot, null-aware anti-join
  * semantics, as-of join with a match tolerance, incremental
  * view maintenance over delta batches, and bounded-depth BFS
  * shortest paths over the q116 affinity graph.
  *
  * Same oracle-parity rules as [[Queries]] (FIXTURES.md §D): exact
  * DECIMAL sums under double outputs, integer bucket arithmetic where
  * a float boundary could diverge cross-engine, stable ORDER BY in
  * both dialects, identical expression shapes, timestamps as epoch us.
  */
object MiningOps {

  private def dec(c: Column, p: Int, sc: Int): Column = c.cast(DecimalType(p, sc))

  // ------------------------------------------------ q139 histogram

  /** Equi-width bucket count. */
  val HistBuckets = 20

  /** q139: EQUI-WIDTH HISTOGRAM of order value per priority — the
    * distribution profile every monitoring/EDA pass starts with.
    * Bucket arithmetic is ALL-INTEGER (floor the value, integer
    * span/width, integer division) so a bucket boundary can never
    * land differently in the two engines' float rounding — the
    * cross-engine discipline q130's integer CUSUM established.
    *
    * Scale shape: one bounded 1-row action reads the global min/max
    * (an agg over a columnar scan — parquet min/max stats make this
    * nearly free), then ONE groupBy((priority, bucket)) with map-side
    * partial aggregation; output is B × priorities rows. No sort, no
    * window, no per-row driver work — at 100 TB this is a single
    * scan + a tiny shuffle. */
  def q139Histogram(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(s, dir, "orders")
    // bounded action: one 1-row global bounds read (the q113 pattern)
    val r = o.agg(floor(min(col("o_totalprice"))).cast("long"),
      floor(max(col("o_totalprice"))).cast("long")).head()
    // empty-relation guard (the adversarial `empty` family): degrade
    // to a degenerate single-bucket geometry, yielding zero rows
    val lo = if (r.isNullAt(0)) 0L else r.getLong(0)
    val span = (if (r.isNullAt(1)) 0L else r.getLong(1)) - lo + 1
    val w = (span + HistBuckets - 1) / HistBuckets
    // genuine integer division (SQL `div`), matching the oracle's `//`
    // at any magnitude — not `/`-then-cast, which is double division
    // and only agrees below 2^53 (round-9 ADVICE)
    val bucket = graft.functions.GraftFunctions.idiv(
      floor(col("o_totalprice")).cast("long") - lit(lo), lit(w))
    o.groupBy(col("o_orderpriority"), bucket.cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"), 18, 2)).cast("double").as("total"))
      .select(col("o_orderpriority"), col("bucket"),
        (lit(lo) + col("bucket") * lit(w)).as("edge_lo"),
        (lit(lo) + (col("bucket") + 1) * lit(w)).as("edge_hi"),
        col("n"), col("total"))
      .orderBy("o_orderpriority", "bucket")
  }

  val q139Sql: String =
    s"""WITH b AS (
      |  SELECT CAST(floor(min(o_totalprice)) AS BIGINT) AS lo,
      |    CAST(floor(max(o_totalprice)) AS BIGINT) AS hi
      |  FROM orders
      |), p AS (
      |  SELECT lo, (hi - lo + 1 + ${HistBuckets - 1}) // $HistBuckets AS w FROM b
      |), h AS (
      |  SELECT o_orderpriority,
      |    (CAST(floor(o_totalprice) AS BIGINT) - p.lo) // p.w AS bucket,
      |    count(*) AS n,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |    max(p.lo) AS lo, max(p.w) AS w
      |  FROM orders CROSS JOIN p GROUP BY 1, 2
      |)
      |SELECT o_orderpriority, bucket, lo + bucket * w AS edge_lo,
      |  lo + (bucket + 1) * w AS edge_hi, n, total
      |FROM h ORDER BY o_orderpriority, bucket""".stripMargin

  // ------------------------------------------------ q140 winsorize

  /** q140: WINSORIZED ROBUST STATS per event type — clip values to
    * the group's [p05, p95] and report the mean before/after: the
    * outlier-robust aggregation step feature pipelines apply before
    * any scale-sensitive model input. Interpolated percentiles use
    * the same percentile_cont algorithm in both engines (the q27
    * precedent); the winsorized mean crosses engines as an exact
    * DECIMAL(28,6) sum — a raw double sum would be
    * partition-order-dependent. (The double→DECIMAL cast itself is
    * deterministic: decimal midpoints are not binary-representable,
    * so no value ever sits on a rounding tie.)
    *
    * Scale shape: exact per-group percentiles are one sort-based agg
    * over the group (Spark's percentile_cont); the bounds table is
    * groups-sized → broadcast back; clip+mean is one more map-side
    * partial agg. Two passes total, no window over the full corpus.
    *
    * DECLARED BASELINE — the value-buffering trade named where the
    * code lives (round-13 verdict #2): the p05/p95 bounds pass
    * buffers every group value in percentile_cont aggregation state
    * (the q27 shape). Exact clip bounds are the declared semantic —
    * winsorization's bounds must be reproducible for the audit twin —
    * but at unbounded group sizes a deployment swaps the bounds pass
    * for a scaling sibling: q223's GK sketch (rank-certified
    * approximate bounds) or q219's bucketed histogram-midrank; the
    * clip+mean stage is unchanged either way. */
  def q140Winsorize(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val bounds = e.groupBy("event_type")
      .agg(expr("percentile_cont(0.05) WITHIN GROUP (ORDER BY value)").as("p05"),
        expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY value)").as("p95"))
    val clipped = least(greatest(col("value"), col("p05")), col("p95"))
    e.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("p05")).as("p05"), max(col("p95")).as("p95"),
        // exact DECIMAL sum, then ONE double division — a decimal
        // avg's internal scale rounding differs between engines
        (sum(dec(col("value"), 28, 6)).cast("double") / count(lit(1)))
          .as("mean_raw"),
        (sum(dec(clipped, 28, 6)).cast("double") / count(lit(1)))
          .as("mean_wins"))
      .orderBy("event_type")
  }

  val q140Sql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p05,
      |    percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p95
      |  FROM events GROUP BY event_type
      |)
      |SELECT e.event_type, count(*) AS n, max(b.p05) AS p05, max(b.p95) AS p95,
      |  CAST(sum(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mean_raw,
      |  CAST(sum(CAST(least(greatest(e.value, b.p05), b.p95) AS DECIMAL(28,6)))
      |    AS DOUBLE) / count(*) AS mean_wins
      |FROM events e JOIN b ON e.event_type = b.event_type
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  // ------------------------------------------------ q141 frequent itemsets

  /** Minimum basket co-occurrence a pair needs (and an item needs to
    * enter pair generation — the a-priori bound: no pair can be
    * frequent unless both items are). */
  val MinSupport = 3

  /** q141: FREQUENT ITEMSET PAIRS over order baskets (market-basket
    * affinity) with A-PRIORI PRUNING: items below [[MinSupport]] are
    * dropped BEFORE pair generation, because a pair's support is
    * bounded by its rarest item — the classic downward-closure
    * property, and the sparsifier that keeps the per-basket pair join
    * from going quadratic in catalog size. Emits support, directional
    * confidence, and lift (exact integer ratios cast to double —
    * identical division shapes cross-engine).
    *
    * Scale shape: baskets collapse by DISTINCT map-side; item counts
    * are one partial-agged groupBy; the pair join runs PER BASKET
    * (equi-join on the order key) so its volume is Σ basket_size² —
    * bounded by the largest basket, never the catalog; pair counts
    * partial-aggregate before the support filter. The frequent-item
    * table broadcasts. */
  def q141Itemsets(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.read(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val items = b.groupBy("p").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= MinSupport)
    val fb = b.join(broadcast(items), "p")
    val pairs = fb.as("a")
      .join(fb.as("bb"), col("a.o") === col("bb.o") && col("a.p") < col("bb.p"))
      .groupBy(col("a.p").as("p1"), col("bb.p").as("p2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= MinSupport)
    val nb = b.agg(countDistinct(col("o")).as("n_baskets"))
    pairs
      .join(broadcast(items.select(col("p").as("p1"), col("cnt").as("c1"))), "p1")
      .join(broadcast(items.select(col("p").as("p2"), col("cnt").as("c2"))), "p2")
      .crossJoin(broadcast(nb))
      .select(col("p1"), col("p2"), col("support"),
        (col("support").cast("double") / col("c1")).as("conf_1to2"),
        (col("support").cast("double") / col("c2")).as("conf_2to1"),
        ((col("support") * col("n_baskets")).cast("double") /
          (col("c1") * col("c2"))).as("lift"))
      .orderBy("p1", "p2")
  }

  val q141Sql: String =
    s"""WITH b AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      |), items AS (
      |  SELECT p, count(*) AS cnt FROM b GROUP BY p HAVING count(*) >= $MinSupport
      |), fb AS (
      |  SELECT b.o, b.p, items.cnt FROM b JOIN items ON b.p = items.p
      |), pairs AS (
      |  SELECT a.p AS p1, bb.p AS p2, count(*) AS support
      |  FROM fb a JOIN fb bb ON a.o = bb.o AND a.p < bb.p
      |  GROUP BY 1, 2 HAVING count(*) >= $MinSupport
      |), nb AS (SELECT count(DISTINCT o) AS n_baskets FROM b)
      |SELECT p1, p2, support,
      |  CAST(support AS DOUBLE) / i1.cnt AS conf_1to2,
      |  CAST(support AS DOUBLE) / i2.cnt AS conf_2to1,
      |  CAST(support * n_baskets AS DOUBLE) / (i1.cnt * i2.cnt) AS lift
      |FROM pairs JOIN items i1 ON pairs.p1 = i1.p
      |  JOIN items i2 ON pairs.p2 = i2.p CROSS JOIN nb
      |ORDER BY p1, p2""".stripMargin

  // ------------------------------------------------ q142 unpivot

  /** q142: WIDE→LONG UNPIVOT (melt) — the inverse of q26's pivot,
    * through Spark's native `unpivot` operator (an Expand node: each
    * input row fans out to one row per value column, no shuffle at
    * all). The wide input is a per-nation profile of customer and
    * supplier balances; the long output is (nation, metric, value) —
    * the shape metric stores and plotting layers ingest.
    *
    * Scale shape: two partial-agged groupBys (customer, supplier) on
    * nation keys, a broadcast join against the 25-row nation table,
    * then Expand — melt itself is pipelined, zero exchange. */
  def q142Unpivot(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.read(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).cast("double").as("cust_n"),
        sum(dec(col("c_acctbal"), 18, 2)).cast("double").as("cust_bal"))
    val supp = Tables.read(s, dir, "supplier").groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).cast("double").as("supp_n"),
        sum(dec(col("s_acctbal"), 18, 2)).cast("double").as("supp_bal"))
    val wide = Tables.read(s, dir, "nation")
      .join(cust, col("n_nationkey") === cust("nk"), "left")
      .join(supp, col("n_nationkey") === supp("nk"), "left")
      .select(col("n_name"),
        coalesce(col("cust_n"), lit(0.0)).as("cust_n"),
        coalesce(col("cust_bal"), lit(0.0)).as("cust_bal"),
        coalesce(col("supp_n"), lit(0.0)).as("supp_n"),
        coalesce(col("supp_bal"), lit(0.0)).as("supp_bal"))
    wide.unpivot(Array(col("n_name")),
        Array(col("cust_n"), col("cust_bal"), col("supp_n"), col("supp_bal")),
        "metric", "value")
      .orderBy("n_name", "metric")
  }

  val q142Sql: String =
    """WITH cust AS (
      |  SELECT c_nationkey AS nk, CAST(count(*) AS DOUBLE) AS cust_n,
      |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS cust_bal
      |  FROM customer GROUP BY 1
      |), supp AS (
      |  SELECT s_nationkey AS nk, CAST(count(*) AS DOUBLE) AS supp_n,
      |    CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS supp_bal
      |  FROM supplier GROUP BY 1
      |), wide AS (
      |  SELECT n_name, coalesce(cust_n, 0) AS cust_n,
      |    coalesce(cust_bal, 0) AS cust_bal, coalesce(supp_n, 0) AS supp_n,
      |    coalesce(supp_bal, 0) AS supp_bal
      |  FROM nation LEFT JOIN cust ON n_nationkey = cust.nk
      |    LEFT JOIN supp ON n_nationkey = supp.nk
      |)
      |SELECT n_name, metric, value FROM (
      |  SELECT n_name, 'cust_n' AS metric, cust_n AS value FROM wide
      |  UNION ALL SELECT n_name, 'cust_bal', cust_bal FROM wide
      |  UNION ALL SELECT n_name, 'supp_n', supp_n FROM wide
      |  UNION ALL SELECT n_name, 'supp_bal', supp_bal FROM wide
      |) ORDER BY n_name, metric""".stripMargin

  // ------------------------------------------------ q143 NOT IN vs NULL

  /** q143: NULL-AWARE ANTI-JOIN SEMANTICS, pinned — `NOT IN
    * (subquery)` under SQL's three-valued logic: if the subquery
    * yields ANY null, `x NOT IN (...)` is never TRUE (it is UNKNOWN
    * for every x), so the null-bearing branch returns ZERO rows while
    * the same predicate as NOT EXISTS keeps matching — the classic
    * migration trap, here pinned as a one-row profile the oracle
    * recomputes from the same SQL. Spark plans the null-bearing
    * branch as a null-aware anti join (an isNullAwareAntiJoin
    * broadcast); the null-free branch degenerates to a plain left
    * anti. Both texts run through spark.sql so the planner sees the
    * genuine subquery form.
    *
    * Scale shape: the subquery side aggregates to its distinct keys
    * (+ a null flag) and broadcasts; the probe side is one scan. */
  def q143NotinNulls(s: SparkSession, dir: String): DataFrame =
    ScopedSql.run(s, dir, q143Sql,
      "orders" -> Tables.read(s, dir, "orders"), "customer" -> Tables.read(s, dir, "customer"))

  val q143Sql: String =
    """SELECT
      |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN (
      |     SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'))
      |    AS n_not_in,
      |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN (
      |     SELECT CASE WHEN o_orderkey % 997 = 0 THEN NULL ELSE o_custkey END
      |     FROM orders WHERE o_orderpriority = '1-URGENT'))
      |    AS n_not_in_nullable,
      |  (SELECT count(*) FROM customer c WHERE NOT EXISTS (
      |     SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |       AND o.o_orderpriority = '1-URGENT'))
      |    AS n_not_exists""".stripMargin

  // ------------------------------------------------ q144 as-of + tolerance

  /** Maximum admissible click−purchase gap (1 h in µs). */
  val AsofToleranceUs: Long = 3600000000L

  /** q144: AS-OF JOIN WITH TOLERANCE — q18's click→latest-prior-
    * purchase attribution, but a match only counts within
    * [[AsofToleranceUs]]; a staler purchase attributes to nothing
    * (NULL), the standard "attribution window" semantics. Same
    * union+window single-shuffle idiom as q18 (tolerance is a
    * post-filter on the carried timestamp — it cannot resurrect an
    * older match, so filtering AFTER the as-of is exact); the oracle
    * is DuckDB's NATIVE ASOF LEFT JOIN with the same null-out,
    * keeping the check independent of the idiom.
    *
    * Scale shape: identical to q18 — one shuffle on user_id, one
    * window pass; no join at all on the Spark side. */
  def q144AsofTolerance(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("kind"), col("event_id"),
        lit(null).cast("timestamp").as("pts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"), col("ts").as("pts"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = unix_micros(col("ts")) - unix_micros(col("last_pts"))
    clicks.unionAll(purchases)
      .withColumn("last_pts", last(col("pts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"),
        when(gap <= AsofToleranceUs, unix_micros(col("last_pts")))
          .as("purchase_us"),
        when(gap <= AsofToleranceUs, gap).as("gap_us"))
      .orderBy("event_id")
  }

  val q144Sql: String =
    s"""SELECT c.event_id, c.user_id,
      |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us,
      |  CASE WHEN epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(p.ts AS TIMESTAMP))
      |            <= $AsofToleranceUs
      |       THEN epoch_us(CAST(p.ts AS TIMESTAMP)) END AS purchase_us,
      |  CASE WHEN epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(p.ts AS TIMESTAMP))
      |            <= $AsofToleranceUs
      |       THEN epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(p.ts AS TIMESTAMP))
      |       END AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
      |ORDER BY c.event_id""".stripMargin

  // ------------------------------------------------ q145 incremental view

  /** Delta batches the source splits into (the IVM replay). */
  val IvmBatches = 3

  /** q145: INCREMENTAL VIEW MAINTENANCE — a revenue-per-nation
    * materialized view maintained by DELTA MERGES instead of
    * recompute: the orders source arrives as [[IvmBatches]]
    * insert-only batches; each batch partial-aggregates ONLY its own
    * rows and merges into the running state (union + re-agg — the
    * associative-merge algebra that makes the view maintainable),
    * with the state materialized per step (localCheckpoint) exactly
    * as a stored MV would be. The final state must equal the
    * full-recompute view — which IS the oracle (the q51
    * identity-preservation pattern: an execution strategy must not
    * change the answer).
    *
    * Scale shape: each delta's cost is proportional to the DELTA
    * (one broadcast dim join + a partial agg to ~nations rows), not
    * to the accumulated history — the whole point of IVM at 100 TB;
    * state stays nations-sized, sums ride exact DECIMAL. */
  def q145IvmView(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.read(s, dir, "customer")
      .join(Tables.read(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val orders = Tables.read(s, dir, "orders")
    val batches = (0 until IvmBatches).map(i =>
      orders.filter(pmod(col("o_orderkey"), lit(IvmBatches)) === i))
    val state = batches.foldLeft(Option.empty[DataFrame]) { (st, delta) =>
      val partial = delta.join(broadcast(dims), col("o_custkey") === col("c_custkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"), 18, 2)).as("revenue"))
      val merged = st.map(_.unionByName(partial)
          .groupBy("n_name")
          .agg(sum(col("n_orders")).as("n_orders"), sum(col("revenue")).as("revenue")))
        .getOrElse(partial)
      // materialize the step: the state a stored MV would persist —
      // also cuts the fold's lineage so each merge plan stays
      // delta-sized instead of replaying every prior batch
      Some(merged.localCheckpoint(eager = true))
    }
    state.get
      .select(col("n_name"), col("n_orders"), col("revenue").cast("double").as("revenue"))
      .orderBy("n_name")
  }

  /** The full-recompute view — the merge algebra must reproduce it. */
  val q145Sql: String =
    """SELECT n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ------------------------------------------------ q146 BFS shortest paths

  /** BFS horizon (hops). */
  val BfsMaxDepth = 4

  /** q146: BOUNDED-DEPTH BFS SHORTEST PATHS from the minimum node of
    * the q116 affinity graph — level-synchronous frontier expansion,
    * the distributed-BFS discipline: each round joins ONLY the
    * current frontier (not the visited set) against the symmetric
    * edge list, dedups to min-dist, and anti-joins the visited set so
    * a node is settled exactly once. [[BfsMaxDepth]] rounds = a fixed
    * [[BfsMaxDepth]]-join plan (lineage cut per level, the q67
    * iterative-graph discipline). Oracle: a recursive CTE over the
    * SAME edge set with min(d) per node — an independent fixpoint
    * formulation of the same traversal.
    *
    * Scale shape: per-level cost is frontier × avg-degree (equi-join
    * on node id), never nodes × edges; the visited set is the only
    * growing state and participates only in an anti equi-join. At
    * 100 TB the edge list would be bucketed on src — every level then
    * reuses the layout shuffle-free. */
  def q146BfsPaths(s: SparkSession, dir: String): DataFrame = {
    val e0 = RelOps.cooccurEdges(s, dir)
    val sym = e0.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(e0.select(col("y").as("src"), col("x").as("dst")))
      .localCheckpoint(eager = true) // edges reused every level: one build
    import s.implicits._
    // empty-graph guard (the adversarial sweep's no-edges regimes):
    // no seed exists — the traversal is the empty distance table,
    // matching the recursive CTE's empty fixpoint
    val seedRow = sym.agg(min(col("src"))).head()
    if (seedRow.isNullAt(0))
      return Seq.empty[(Long, Long)].toDF("node", "dist")
    val seed = seedRow.getLong(0)
    var visited = Seq((seed, 0L)).toDF("node", "dist").localCheckpoint(eager = true)
    var frontier = visited
    var depth = 0
    while (depth < BfsMaxDepth && !frontier.isEmpty) {
      val next = frontier.join(sym, frontier("node") === sym("src"))
        .groupBy(col("dst").as("node"))
        .agg((min(col("dist")) + 1).as("dist"))
        .join(visited.select(col("node").as("vn")), col("node") === col("vn"),
          "left_anti")
        .localCheckpoint(eager = true)
      visited = visited.unionByName(next).localCheckpoint(eager = true)
      frontier = next
      depth += 1
    }
    visited.orderBy("node")
  }

  val q146Sql: String =
    s"""WITH RECURSIVE ${RelOps.cooccurEdgesSql},
      |sym AS (
      |  SELECT x AS src, y AS dst FROM e0 UNION ALL SELECT y, x FROM e0
      |),
      |walk(node, d) AS (
      |  SELECT (SELECT min(src) FROM sym), 0
      |  UNION
      |  SELECT s.dst, w2.d + 1 FROM walk w2 JOIN sym s ON s.src = w2.node
      |  WHERE w2.d < $BfsMaxDepth
      |)
      |SELECT node, CAST(min(d) AS BIGINT) AS dist
      |FROM walk WHERE node IS NOT NULL
      |GROUP BY node ORDER BY node""".stripMargin

  // ------------------------------------------------ q148 PPS sample

  /** Target systematic-sample size. */
  val PpsTarget = 50

  /** q148: SYSTEMATIC PPS SAMPLE — probability-proportional-to-size
    * document sampling by the textbook systematic rule: lay the
    * corpus on a line in deterministic order (doc_id) with each doc
    * occupying its n_chars of length, then pick every doc that
    * straddles a multiple of stride = total/K. Selection is
    * ALL-INTEGER (cumulative char sums + integer division — the q139
    * discipline): a doc is in the sample iff cum/stride >
    * (cum - w)/stride. No RNG anywhere, so both engines agree
    * bit-for-bit and re-runs are reproducible — the property a
    * corpus-subsampling step must have to be auditable.
    *
    * Scale shape: the global running sum rides the q56 two-phase
    * prefix-sum discipline, NOT a global-order window (Spark plans
    * that as an Exchange SinglePartition — the one-reducer sort that
    * dies at 100 TB): range-partition on doc_id, per-partition char
    * totals (a partitions-sized table), broadcast each partition its
    * predecessors' total as an offset, then a LOCAL window per
    * partition — off + local_run = the exact global prefix, every
    * task bounded by its slice. */
  def q148PpsSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    // referenced twice (totals + main): cut lineage so the range
    // partitioner's sampled boundaries cannot renumber pid between
    // the two subplans (the q56 persist rationale)
    val parted = Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .repartitionByRange(nPart, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(eager = true)
    val totals = parted.groupBy("pid").agg(sum(col("n_chars")).as("tot"))
    val offs = totals.as("a")
      .join(totals.as("b"), col("b.pid") < col("a.pid"), "left")
      .groupBy(col("a.pid").as("pid"))
      .agg(coalesce(sum(col("b.tot")), lit(0L)).as("off"))
    val stride = totals.agg(greatest(lit(1L), graft.functions.GraftFunctions
      .idiv(sum(col("tot")), lit(PpsTarget.toLong))).as("stride"))
    val localW = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted
      .withColumn("local_run", sum(col("n_chars")).over(localW))
      .join(broadcast(offs), Seq("pid"))
      .withColumn("cum", col("off") + col("local_run"))
      .crossJoin(broadcast(stride))
      .filter(graft.functions.GraftFunctions.idiv(col("cum"), col("stride")) >
        graft.functions.GraftFunctions.idiv(
          col("cum") - col("n_chars"), col("stride")))
      .select(col("doc_id"), col("source"), col("n_chars"), col("cum"))
      .orderBy("doc_id")
  }

  val q148Sql: String =
    s"""WITH st AS (
      |  SELECT greatest(1, sum(n_chars) // $PpsTarget) AS stride FROM documents
      |), c AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(sum(n_chars) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM documents
      |)
      |SELECT doc_id, source, n_chars, cum
      |FROM c CROSS JOIN st
      |WHERE cum // stride > (cum - n_chars) // stride
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ q149 skew report

  /** Hot keys surfaced by the profiler. */
  val SkewTopK = 10

  /** q149: JOIN-KEY SKEW PROFILER — the diagnostic a 100 TB join
    * plan is chosen WITH: per-key row counts on the probe column
    * (l_orderkey), the [[SkewTopK]] heaviest keys with their share
    * of the relation, and the global skew statistics (max/mean
    * ratio, p99 key count) that decide between plain, broadcast, and
    * salted strategies (q50/q51/q113 are the three answers; this op
    * is the question). Counts are exact integers; ratios are single
    * double divisions of integers (identical shapes cross-engine).
    *
    * Scale shape: ONE partial-agged groupBy collapses the relation
    * to its key cardinality. The top-k is an explicit orderBy+limit —
    * a structural TakeOrderedAndProject (the previous rank-filter
    * shape compiled to the same plan, but only through
    * LimitPushDownThroughWindow; InferWindowGroupLimit itself does
    * not fire on an empty partitionBy, so the safety hung on one
    * optimizer rule — now plan-spec-pinned either way). The REAL
    * round-11 fix is the p99: percentile_cont's aggregate collects
    * the whole group into one buffer (key-cardinality doubles on one
    * reducer at 100 TB), so it is re-derived exactly from the
    * FREQUENCY-OF-FREQUENCY frame (distinct cnt values) with the same
    * 0.99·(n−1) linear interpolation both engines define — and the ff
    * frame itself rides the log2-bucket discipline (round-11 ADVICE:
    * "tiny by construction" degenerates to key cardinality when every
    * key count is unique; now only the ≤ 2 buckets straddling the
    * interpolation positions ever rank their multiplicities). */
  def q149SkewReport(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.read(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("key")).agg(count(lit(1)).as("cnt"))
    val basic = counts.agg(
      count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    // exact percentile_cont(0.99) over the count multiset, from
    // (cnt, freq, cumulative-below). The ff frame's bound is DISTINCT
    // MULTIPLICITIES, which degenerates to key cardinality when every
    // key count is unique (round-11 ADVICE) — so the cumulative never
    // runs globally over ffc: multiplicities bucket by fractional
    // log2 (≤ 8·63+1 buckets for any long cnt — the PROVABLY bounded
    // global frame), the bucket prefix locates the two interpolation
    // positions, and only the ≤ 2 straddling buckets rank their own
    // multiplicities — a frame bounded by the sub-octave's integer
    // width around the p99 value, not by key cardinality.
    val ffc = counts.groupBy("cnt").agg(count(lit(1)).as("freq"))
      .withColumn("fb", floor(log2(col("cnt").cast("double")) * lit(8.0)).cast("long"))
    val wb = Window.orderBy("fb").rowsBetween(Window.unboundedPreceding, -1)
    val fbp = ffc.groupBy("fb").agg(sum("freq").as("bf"))
      .withColumn("bbelow", coalesce(sum("bf").over(wb), lit(0L)))
    val pos = lit(0.99) * (col("n_keys") - 1).cast("double")
    val loI = floor(pos).cast("long")
    val hiI = ceil(pos).cast("long")
    // the interpolation positions ride THROUGH targets (each
    // straddling bucket carries loP/hiP), so the probe phase needs no
    // second broadcast of `basic`
    val targets = fbp.crossJoin(broadcast(basic))
      .filter((col("bbelow") <= loI && loI < col("bbelow") + col("bf")) ||
        (col("bbelow") <= hiI && hiI < col("bbelow") + col("bf")))
      .select(col("fb"), col("bbelow"), loI.as("loP"), hiI.as("hiP"))
    val wIn = Window.partitionBy("fb").orderBy("cnt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pv = ffc.join(broadcast(targets), Seq("fb"))
      .withColumn("below",
        col("bbelow") + coalesce(sum("freq").over(wIn), lit(0L)))
      .agg(
        min(when(col("below") <= col("loP") &&
          col("loP") < col("below") + col("freq"), col("cnt"))).as("v_lo"),
        min(when(col("below") <= col("hiP") &&
          col("hiP") < col("below") + col("freq"), col("cnt"))).as("v_hi"))
    val stats = basic.crossJoin(broadcast(pv))
      .withColumn("p99_cnt", col("v_lo").cast("double") +
        (pos - floor(pos)) * (col("v_hi") - col("v_lo")).cast("double"))
      .drop("v_lo", "v_hi")
    val wr = Window.orderBy(col("cnt").desc, col("key"))
    counts.orderBy(col("cnt").desc, col("key")).limit(SkewTopK)
      .withColumn("rank", row_number().over(wr))
      .crossJoin(broadcast(stats))
      .select(col("rank"), col("key"), col("cnt"),
        (col("cnt").cast("double") / col("n_rows")).as("share"),
        col("n_keys"),
        (col("max_cnt").cast("double") * col("n_keys") / col("n_rows"))
          .as("skew_ratio"),
        col("p99_cnt"))
      .orderBy("rank")
  }

  val q149Sql: String =
    s"""WITH counts AS (
      |  SELECT l_orderkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
      |), stats AS (
      |  SELECT count(*) AS n_keys, sum(cnt) AS n_rows, max(cnt) AS max_cnt,
      |    percentile_cont(0.99) WITHIN GROUP (ORDER BY cnt) AS p99_cnt
      |  FROM counts
      |), ranked AS (
      |  SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rank
      |  FROM counts
      |)
      |SELECT rank, key, cnt, CAST(cnt AS DOUBLE) / n_rows AS share, n_keys,
      |  CAST(max_cnt AS DOUBLE) * n_keys / n_rows AS skew_ratio, p99_cnt
      |FROM ranked CROSS JOIN stats
      |WHERE rank <= $SkewTopK ORDER BY rank""".stripMargin

  // ------------------------------------------------ q150 equi-depth histogram

  /** Equi-depth band count (deciles). */
  val DepthBands = 10

  /** q150: EQUI-DEPTH HISTOGRAM — q139's complement: bands hold
    * equal ROW counts instead of equal value widths (deciles via
    * ntile over a fully deterministic (value, event_id) order — ties
    * broken by id so both engines assign identical bands), emitting
    * per (event_type, decile) the count and exact value range. This
    * is the statistics object optimizers and drift monitors actually
    * keep (equi-depth bounds adapt to the distribution; equi-width
    * wastes buckets on empty tails).
    *
    * Scale shape: the q211/q179 BUCKETED-RANK discipline generalized
    * from one midrank cut to the [[DepthBands]]−1 decile cuts — never
    * `ntile` over raw event rows (that window hash-routes a type's
    * ENTIRE row set to one reducer and sorts it; with a handful of
    * event types at 100 TB it is a near-full single-reducer sort,
    * the exact q211 anti-shape). (1) rows collapse map-side to
    * (type, value-bucket) counts/sums/min/max under a monotone
    * fractional-log2 bucket of `value` — equal values always share a
    * bucket, so each bucket owns the contiguous global rank interval
    * (cb, cb+cnt]; (2) Spark's ntile arithmetic (first n mod b bands
    * get ⌈n/b⌉ rows) maps a rank to its decile in pure integer math,
    * so buckets whose interval lies inside one decile contribute
    * their AGGREGATES directly; (3) only the ≤ [[DepthBands]]−1
    * boundary-straddling buckets per type are re-resolved — and
    * (round-11 ADVICE) never by ranking RAW ROWS: boundary-bucket
    * rows collapse map-side to (value → count) groups (the q211
    * trick), a window over the bucket's DISTINCT VALUES assigns each
    * group its global rank interval, and the group's rows distribute
    * across the ≤ [[DepthBands]] overlapping deciles ARITHMETICALLY
    * (within equal values, decile membership depends only on the
    * event_id rank, and every aggregate — count, lo, hi, sum — is
    * count-shaped over one shared value, so no per-row tie-break is
    * ever materialized). The degenerate distribution the row-ranking
    * form feared (a type whose values are all near-equal, landing
    * its ENTIRE row set in one straddling bucket) now costs a
    * single-row window frame: one value group, ten arithmetic
    * splits. Exact ntile semantics, no per-row sort anywhere. */
  def q150EquidepthHist(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.GraftFunctions.idiv
    val bands = lit(DepthBands.toLong)
    // monotone-in-value bucket with bounded cardinality (~8 buckets
    // per octave per sign; ±inf/NaN/null pinned to the order Spark's
    // sort gives them: nulls first, NaN last)
    // NaN shares the TOP bucket with +inf (Spark sorts NaN above
    // +inf; the in-bucket (value, event_id) sort resolves the
    // collision in exactly that order), null sits strictly below
    // -inf's bucket (nulls-first, Spark's asc default)
    val mag = floor(log2(abs(col("value")) + lit(1.0)) * lit(8.0)).cast("long")
    val vb = when(col("value").isNull, lit(Long.MinValue))
      .when(isnan(col("value")), lit(Long.MaxValue))
      .when(col("value") < 0, -mag).otherwise(mag)
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("vb", vb)
    // phase 1: per-(type, bucket) aggregates + exclusive prefix over
    // the BOUNDED bucket frame (≤ ~2k buckets per type)
    val wPrev = Window.partitionBy("event_type").orderBy("vb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = ev.groupBy("event_type", "vb")
      .agg(count(lit(1)).as("cnt"), min("value").as("lo_b"),
        max("value").as("hi_b"), sum(dec(col("value"), 28, 6)).as("sum_b"))
      .withColumn("cb", coalesce(sum("cnt").over(wPrev), lit(0L)))
      .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
    // Spark/SQL ntile: q = n div b, r = n mod b; deciles 1..r hold
    // q+1 rows, deciles r+1..b hold q. decile(rank) in integer math:
    def dOf(rank: Column, n: Column): Column = {
      val q = idiv(n, bands)
      val r = n % bands
      val cut = r * (q + 1)
      when(rank <= cut, idiv(rank + q, q + 1))
        .otherwise(r + idiv(rank - cut + q - 1, greatest(q, lit(1L))))
    }
    val marked = buckets
      .withColumn("d_first", dOf(col("cb") + 1, col("n")))
      .withColumn("d_last", dOf(col("cb") + col("cnt"), col("n")))
    val interior = marked.filter(col("d_first") === col("d_last"))
      .select(col("event_type"), col("d_first").as("decile"),
        col("cnt"), col("lo_b").as("lo"), col("hi_b").as("hi"),
        col("sum_b").as("bsum"))
    val boundary = marked.filter(col("d_first") =!= col("d_last"))
      .select("event_type", "vb", "cb", "n")
    // phase 2: boundary buckets resolve over VALUE GROUPS, not rows —
    // map-side collapse to (value, vcnt), a window over the bucket's
    // distinct values for the group's global rank interval (g, g+vcnt],
    // then the interval splits across its overlapping deciles in pure
    // integer arithmetic (equal values share every aggregate, so the
    // per-decile contribution is count-shaped: no row rank needed)
    val wVal = Window.partitionBy("event_type", "vb")
      .orderBy(col("value")).rowsBetween(Window.unboundedPreceding, -1)
    val vgroups = ev.join(broadcast(boundary), Seq("event_type", "vb"))
      .groupBy("event_type", "vb", "cb", "n", "value")
      .agg(count(lit(1)).as("vcnt"))
      .withColumn("g", col("cb") + coalesce(sum("vcnt").over(wVal), lit(0L)))
    // rows before decile d (1-indexed): (d-1)·q + min(d-1, r)
    def sd(d: Column, n: Column): Column = {
      val q = idiv(n, bands)
      val r = n % bands
      (d - 1) * q + least(d - 1, r)
    }
    val split = vgroups
      .withColumn("decile", explode(sequence(
        dOf(col("g") + 1, col("n")), dOf(col("g") + col("vcnt"), col("n")))))
      .withColumn("cnt_d",
        least(col("g") + col("vcnt"), sd(col("decile") + 1, col("n"))) -
          greatest(col("g"), sd(col("decile"), col("n"))))
      .groupBy("event_type", "decile")
      .agg(sum("cnt_d").as("cnt"), min("value").as("lo"),
        max("value").as("hi"),
        sum(dec(col("value"), 28, 6) * col("cnt_d")).as("bsum"))
      .select("event_type", "decile", "cnt", "lo", "hi", "bsum")
    interior.unionByName(split)
      .groupBy("event_type", "decile")
      .agg(sum("cnt").as("n"), min("lo").as("lo"), max("hi").as("hi"),
        sum("bsum").cast("double").as("band_sum"))
      .select(col("event_type"), col("decile").cast("int").as("decile"),
        col("n"), col("lo"), col("hi"), col("band_sum"))
      .orderBy("event_type", "decile")
  }

  val q150Sql: String =
    s"""SELECT event_type, decile, count(*) AS n, min(value) AS lo,
      |  max(value) AS hi,
      |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS band_sum
      |FROM (
      |  SELECT event_type, value, ntile($DepthBands)
      |    OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
      |  FROM events
      |)
      |GROUP BY 1, 2 ORDER BY event_type, decile""".stripMargin

  // ------------------------------------------------ q151 CDC apply

  /** q151: CDC CHANGELOG APPLY WITH TOMBSTONES — materialize the
    * current state of a keyed entity from its event changelog under
    * MERGE semantics: the LAST event per user (by ts, event_id) wins;
    * a final 'error' event is a TOMBSTONE that deletes the row
    * entirely (not just flags it) — the Debezium/CDC-merge shape that
    * q20 (latest-by-key, no deletes) and q120 (SCD2 history, keeps
    * everything) bracket but neither expresses. Emits the surviving
    * users' final value, total change count, and first-change time.
    *
    * Scale shape: ONE shuffle on user_id serves both the rank window
    * and the per-user counts (same partitioning, fused); tombstoned
    * keys drop before any downstream join would see them. */
  def q151CdcApply(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val wAll = Window.partitionBy("user_id")
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_changes", count(lit(1)).over(wAll))
      .withColumn("first_us", min(unix_micros(col("ts"))).over(wAll))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_type").as("last_op"),
        col("value").as("current_value"), col("n_changes"),
        unix_micros(col("ts")).as("last_us"), col("first_us"))
      .orderBy("user_id")
  }

  val q151Sql: String =
    """SELECT user_id, event_type AS last_op, value AS current_value,
      |  n_changes, epoch_us(CAST(ts AS TIMESTAMP)) AS last_us, first_us
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_changes,
      |    min(epoch_us(CAST(ts AS TIMESTAMP)))
      |      OVER (PARTITION BY user_id) AS first_us
      |  FROM events
      |)
      |WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------ q152 embedding audit

  /** Expected embedding dimensionality — the [[graft.llmops.VectorOps.Dim]]
    * contract, referenced (not copied) so the audit can never drift
    * from the geometry the vector ops actually assume. */
  val EmbDim: Int = graft.llmops.VectorOps.Dim

  /** q152: EMBEDDING INTEGRITY AUDIT — the screen an index build
    * runs BEFORE trusting a vector column: per-label vector counts,
    * zero-norm vectors (unindexable — cosine undefined), NaN
    * components, dimensionality violations, and the norm
    * distribution (min/max/mean). Norms ride the same
    * sequential-fold double arithmetic as q40's oracle (bit-identical
    * cross-engine); the mean is an exact DECIMAL sum with one double
    * division (the q140 discipline).
    *
    * Scale shape: pure per-row map (norm, flags) + ONE partial-agged
    * groupBy to |labels| rows — linear, no shuffle beyond the tiny
    * label agg; the audit reads every byte once, which is exactly
    * what it must do. */
  def q152EmbedAudit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
    val v = col("embedding")
    val nrm = graft.functions.VectorExprs.norm(v)
    e.select(col("label"), nrm.as("nrm"),
        size(v).as("n_dims"),
        exists(v, x => isnan(x)).cast("int").as("has_nan"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(col("has_nan").cast("long")).as("n_nan"),
        sum(when(col("n_dims") =!= EmbDim, 1L).otherwise(0L)).as("n_baddim"),
        min(col("nrm")).as("min_norm"), max(col("nrm")).as("max_norm"),
        (sum(dec(col("nrm"), 28, 6)).cast("double") / count(lit(1)))
          .as("mean_norm"))
      .orderBy("label")
  }

  val q152Sql: String =
    s"""WITH d AS (
      |  SELECT label,
      |    sqrt(list_sum(list_transform(
      |      list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x))) AS nrm,
      |    len(embedding) AS n_dims,
      |    CASE WHEN len(list_filter(embedding, x -> isnan(x))) > 0
      |      THEN 1 ELSE 0 END AS has_nan
      |  FROM embeddings
      |)
      |SELECT label, count(*) AS n_vecs,
      |  CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(sum(has_nan) AS BIGINT) AS n_nan,
      |  CAST(sum(CASE WHEN n_dims <> $EmbDim THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_baddim,
      |  min(nrm) AS min_norm, max(nrm) AS max_norm,
      |  CAST(sum(CAST(nrm AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mean_norm
      |FROM d GROUP BY label ORDER BY label""".stripMargin

  // ------------------------------------------------ q154 multi-touch

  /** Attribution lookback window (12 h in µs). */
  val TouchWindowUs: Long = 43200000000L

  /** q154: LINEAR MULTI-TOUCH ATTRIBUTION — each purchase splits one
    * unit of credit EQUALLY across every click in its 12 h lookback
    * (q18/q144 are last-touch; this is the other standard model):
    * per-click total credit and purchases-touched, the marketing
    * readout. Per-purchase credit 1/n is computed as a double and
    * pinned to DECIMAL(18,9) before summation (binary doubles never
    * sit on decimal midpoints, so both engines round identically and
    * the sum is exact regardless of partition order).
    *
    * Scale shape: ONE user-keyed interval equi-join (the sq3 shape),
    * a purchase-keyed window for the touch count, a click-keyed
    * partial agg — all three ride the same user_id co-partitioning
    * at scale. */
  def q154Multitouch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("pus"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("cus"))
    val touches = p.join(c, col("user_id") === col("cu") &&
      col("cus") <= col("pus") && col("cus") >= col("pus") - TouchWindowUs)
    val w = Window.partitionBy("purchase_id")
    touches
      .withColumn("n_touch", count(lit(1)).over(w))
      .withColumn("credit", dec(lit(1.0) / col("n_touch"), 18, 9))
      .groupBy(col("click_id"), col("user_id"))
      .agg(countDistinct(col("purchase_id")).as("n_purchases"),
        sum(col("credit")).cast("double").as("credit"))
      .orderBy("click_id")
  }

  val q154Sql: String =
    s"""WITH p AS (
      |  SELECT user_id, event_id AS purchase_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS pus
      |  FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id AS cu, event_id AS click_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS cus
      |  FROM events WHERE event_type = 'click'
      |), touches AS (
      |  SELECT user_id, purchase_id, click_id,
      |    count(*) OVER (PARTITION BY purchase_id) AS n_touch
      |  FROM p JOIN c ON user_id = cu
      |    AND cus <= pus AND cus >= pus - $TouchWindowUs
      |)
      |SELECT click_id, user_id, count(DISTINCT purchase_id) AS n_purchases,
      |  CAST(sum(CAST(CAST(1.0 AS DOUBLE) / n_touch AS DECIMAL(18,9)))
      |    AS DOUBLE) AS credit
      |FROM touches GROUP BY 1, 2 ORDER BY click_id""".stripMargin

  // ------------------------------------------- q224 join-cardinality profile

  /** q224: JOIN CARDINALITY PROFILE — the exact size and skew of
    * lineitem ⋈ orders on the order key, computed WITHOUT running the
    * join: |A ⋈ B| = Σ_k ca(k)·cb(k) over the per-key COUNT TABLES,
    * plus the key-overlap census (left-only/right-only/common keys),
    * the heaviest key's contribution, and the mean fanout. This is
    * the pre-flight every expensive join deserves at 100 TB — the
    * count tables cost two partial-agg groupBys (|keys| rows, not
    * |rows|), so the profile prices a join at ~1/fanout of running
    * it, and a hot key surfaces BEFORE it melts a reducer (q149
    * profiles one table's keys; this profiles the join product).
    *
    * The profile's central claim — join_rows equals the true join
    * count — is spec-pinned against the materialized join at the
    * fixture; the identity Σ ca·cb is exact at any scale.
    *
    * Scale shape: two map-side-combining groupBys, one full-outer
    * equi-join of count tables, one global aggregate. Nothing here
    * moves a fact row past its first partial aggregation. */
  def q224JoinCardinality(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.read(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
    val b = Tables.read(s, dir, "orders")
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
    val both = col("ca").isNotNull && col("cb").isNotNull
    a.join(b, Seq("k"), "full_outer")
      .agg(
        sum(when(col("ca").isNotNull, 1L).otherwise(0L)).as("n_keys_left"),
        sum(when(col("cb").isNotNull, 1L).otherwise(0L)).as("n_keys_right"),
        sum(when(both, 1L).otherwise(0L)).as("n_keys_common"),
        sum(when(both, col("ca") * col("cb")).otherwise(0L)).as("join_rows"),
        max(when(both, col("ca") * col("cb")).otherwise(0L)).as("max_key_rows"))
      .select(col("n_keys_left"), col("n_keys_right"), col("n_keys_common"),
        col("join_rows"), col("max_key_rows"),
        when(col("join_rows") > 0,
          round(col("max_key_rows").cast("double") / col("join_rows"), 6))
          .as("top_key_share"),
        when(col("n_keys_common") > 0,
          round(col("join_rows").cast("double") / col("n_keys_common"), 6))
          .as("mean_fanout"))
  }

  val q224Sql: String =
    """WITH a AS (SELECT l_orderkey AS k, count(*) AS ca FROM lineitem GROUP BY 1),
      |b AS (SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1),
      |j AS (
      |  SELECT a.ca, b.cb FROM a FULL OUTER JOIN b ON a.k = b.k
      |), agg AS (
      |  SELECT
      |    CAST(sum(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_keys_left,
      |    CAST(sum(CASE WHEN cb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_keys_right,
      |    CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_common,
      |    CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
      |             THEN ca * cb ELSE 0 END) AS BIGINT) AS join_rows,
      |    CAST(max(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
      |             THEN ca * cb ELSE 0 END) AS BIGINT) AS max_key_rows
      |  FROM j
      |)
      |SELECT n_keys_left, n_keys_right, n_keys_common, join_rows, max_key_rows,
      |  CASE WHEN join_rows > 0
      |    THEN round(CAST(max_key_rows AS DOUBLE) / join_rows, 6) END
      |    AS top_key_share,
      |  CASE WHEN n_keys_common > 0
      |    THEN round(CAST(join_rows AS DOUBLE) / n_keys_common, 6) END
      |    AS mean_fanout
      |FROM agg""".stripMargin

  // ------------------------------------------- q225 attribution-window sweep

  /** q225: ATTRIBUTION WINDOW SWEEP — per lookback window W ∈
    * {[[TouchWindowUs]]/8, /4, /2, /1}: click→purchase touch-pair
    * count, purchases attributed (≥1 click within W), and the attach
    * rate — the tuning table behind q154's multi-touch attribution
    * (how long a lookback is worth paying for), completing the sweep
    * family on the events axis.
    *
    * Scale shape: ONE interval join at the MAXIMUM window (exactly
    * q154's join geometry) with each pair carrying its click→purchase
    * delta; per-purchase MIN-delta collapses the pair set to one row
    * per purchase (partial-agg min); the 4-row window grid then
    * ≥-joins the two bounded frames (pairs for touch counts,
    * min-deltas for attribution — the q216/q221 pattern). No
    * per-window re-join, no second corpus scan. */
  def q225AttributionSweep(s: SparkSession, dir: String): DataFrame = {
    val grid = Seq(TouchWindowUs / 8, TouchWindowUs / 4,
      TouchWindowUs / 2, TouchWindowUs)
    val e = Tables.events(s, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("pus"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), unix_micros(col("ts")).as("cus"))
    val pairs = p.join(c, col("user_id") === col("cu") &&
        col("cus") <= col("pus") && col("cus") >= col("pus") - TouchWindowUs)
      .select(col("purchase_id"), (col("pus") - col("cus")).as("delta"))
    val minDelta = pairs.groupBy("purchase_id").agg(min("delta").as("md"))
    val nPurch = p.agg(count(lit(1)).as("n_purchases"))
    val g = s.range(1).select(explode(array(grid.map(lit(_)): _*)).as("window_us"))
    val touch = g.join(pairs, col("delta") <= col("window_us"), "left")
      .groupBy("window_us")
      .agg(sum(when(col("delta").isNotNull, 1L).otherwise(0L)).as("n_touch_pairs"))
    val attr = g.join(minDelta, col("md") <= col("window_us"), "left")
      .groupBy("window_us")
      .agg(sum(when(col("md").isNotNull, 1L).otherwise(0L)).as("n_attributed"))
    touch.join(attr, Seq("window_us")).crossJoin(broadcast(nPurch))
      .select(col("window_us"), col("n_touch_pairs"), col("n_attributed"),
        when(col("n_purchases") > 0,
          round(col("n_attributed").cast("double") / col("n_purchases"), 6))
          .as("attach_rate"))
      .orderBy("window_us")
  }

  val q225Sql: String = {
    val grid = Seq(TouchWindowUs / 8, TouchWindowUs / 4,
      TouchWindowUs / 2, TouchWindowUs)
    s"""WITH p AS (
      |  SELECT user_id, event_id AS purchase_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS pus
      |  FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id AS cu, epoch_us(CAST(ts AS TIMESTAMP)) AS cus
      |  FROM events WHERE event_type = 'click'
      |), pairs AS (
      |  SELECT purchase_id, pus - cus AS delta
      |  FROM p JOIN c ON user_id = cu
      |    AND cus <= pus AND cus >= pus - $TouchWindowUs
      |), md AS (SELECT purchase_id, min(delta) AS md FROM pairs GROUP BY 1
      |), grid AS (
      |  SELECT CAST(w AS BIGINT) AS window_us
      |  FROM (VALUES ${grid.map(w => s"($w)").mkString(", ")}) g(w)
      |), touch AS (
      |  SELECT g.window_us, count(p.delta) AS n_touch_pairs
      |  FROM grid g LEFT JOIN pairs p ON p.delta <= g.window_us GROUP BY 1
      |), attr AS (
      |  SELECT g.window_us, count(m.md) AS n_attributed
      |  FROM grid g LEFT JOIN md m ON m.md <= g.window_us GROUP BY 1
      |)
      |SELECT window_us, n_touch_pairs, n_attributed,
      |  CASE WHEN (SELECT count(*) FROM p) > 0 THEN
      |    round(CAST(n_attributed AS DOUBLE) / (SELECT count(*) FROM p), 6)
      |  END AS attach_rate
      |FROM touch JOIN attr USING (window_us)
      |ORDER BY window_us""".stripMargin
  }

  // ------------------------------------------------ q155 bottom-k quantile

  /** Per-group deterministic sample size. */
  val BottomK = 100

  /** Row-count gate below which q155's EXACT full-relation median
    * twin is computed alongside the sampler estimate (the q135
    * [[RelOps.ProfileExactMaxRows]] discipline, round-12 verdict #1):
    * events ≈ 10k at the sf0.01 correctness gate (twin runs, oracle
    * checks it), ≈ 100k at the sf0.1 bench and beyond (twin skipped —
    * Spark's `percentile_cont` buffers every group value in one
    * reducer's aggregation state, the exact shape the sampler exists
    * to avoid). */
  val BottomkExactMaxRows = 50000L

  /** Memoized events row count per (session, dir) for the q155 gate
    * probe — fixture-signature guarded like the q135 orders memo. */
  private val eventsCountMemo = new graft.operators.PlanCache[Long]("events_count")()

  private[graft] def nEvents(s: SparkSession, dir: String): Long = {
    val p = s"$dir/events.parquet"
    eventsCountMemo.get(s, p, graft.sources.FsSig.of(p))(
      Tables.read(s, dir, "events").count())
  }

  /** q155: BOTTOM-K QUANTILE SUMMARY, CERTIFIED — the mergeable
    * quantile-estimation discipline (the q52/q80 pattern for order
    * statistics): a deterministic uniform sample per group — the
    * [[BottomK]] rows with the smallest md5(event_id) (a hash rank
    * is a uniform draw, and bottom-k BY RANK is MERGEABLE partial
    * state: union two bottom-k sets, keep the k smallest) — yields a
    * sample median whose true rank the query then certifies IN-QUERY
    * against the full relation (|rank − 0.5| ≤ the binomial bound).
    *
    * THE EXACT TWIN GATES ON ROW COUNT (round-12 verdict #1, the
    * q135 discipline): at/below [[BottomkExactMaxRows]] the exact
    * `percentile_cont(0.5)` over the full relation ships alongside
    * and the DuckDB oracle checks BOTH medians plus the bound
    * boolean; above the gate `exact_median` ships NULL and the
    * certification rides `frac_below` alone — a partial-agg'd
    * conditional sum against the broadcast estimate, which is all
    * the binomial bound needs. An ungated exact twin would buffer
    * the largest type's entire value set in one reducer
    * (`percentile_cont` keeps all group values in aggregation
    * state) — precisely the memory shape the sampler avoids.
    *
    * Scale shape: the bottom-k rank filter pushes down as
    * WindowGroupLimit (spec-pinned), so each map task forwards at
    * most k rows per group to the window sort — state is k rows per
    * group per task, exactly q83's typed quota; the certification
    * pass is one partial-agg'd scan with the tiny estimate table
    * broadcast. */
  def q155BottomkQuantile(s: SparkSession, dir: String): DataFrame =
    q155Plan(s, dir, exactTwin = nEvents(s, dir) <= BottomkExactMaxRows)

  /** Both q155 branches; package-visible so the gate spec can force
    * the above-gate (sampler-only) plan on a gate-sized fixture and
    * pin (a) no full-relation percentile, (b) branch agreement on
    * every column but the twin. */
  private[graft] def q155Plan(s: SparkSession, dir: String,
      exactTwin: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
    val w = Window.partitionBy("event_type")
      .orderBy(md5(col("event_id").cast("string")), col("event_id"))
    val est = e.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= BottomK)
      .groupBy("event_type")
      .agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)").as("est_median"))
    // binomial rank error at k=100: ~2.58·sqrt(0.25/k) ≈ 0.13 (99%)
    val bound = 0.15
    val twin =
      if (exactTwin)
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)")
      else max(lit(null).cast("double"))
    e.join(broadcast(est), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("est_median")).as("est_median"),
        twin.as("exact_median"),
        (sum(when(col("value") < col("est_median"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("frac_below"))
      .withColumn("within_bounds", abs(col("frac_below") - 0.5) <= bound)
      .orderBy("event_type")
  }

  val q155Sql: String =
    s"""WITH r AS (
      |  SELECT event_type, value, row_number() OVER (PARTITION BY event_type
      |    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
      |  FROM events
      |), est AS (
      |  SELECT event_type,
      |    percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS est_median
      |  FROM r WHERE rk <= $BottomK GROUP BY event_type
      |)
      |SELECT e.event_type, count(*) AS n, max(est.est_median) AS est_median,
      |  percentile_cont(0.5) WITHIN GROUP (ORDER BY e.value) AS exact_median,
      |  CAST(sum(CASE WHEN e.value < est.est_median THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) AS frac_below,
      |  abs(CAST(sum(CASE WHEN e.value < est.est_median THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) - 0.5) <= 0.15 AS within_bounds
      |FROM events e JOIN est ON e.event_type = est.event_type
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  // --------------------------------------- q223 GK-sketch quantile cert

  /** Accuracy parameter for q223's `percentile_approx` — Spark's
    * Greenwald-Khanna sketch guarantees rank error ≤ n/accuracy. */
  final val GkAccuracy = 100

  /** Rank-error budget the certification pins: the GK guarantee
    * (1/[[GkAccuracy]]) plus the same slack the q155 binomial bound
    * carries for small-n granularity. */
  final val GkBound = 0.02

  /** q223: BUILT-IN QUANTILE SKETCH, CERTIFIED — `percentile_approx`
    * (Spark's mergeable Greenwald-Khanna sketch, fixed-size partial
    * state, map-side combine) per event type, certified IN-QUERY by
    * its exact rank: one partial-agg'd scan against the broadcast
    * estimate computes frac_below and frac_at, and `within_bounds`
    * pins the two-sided rank condition frac_below ≤ 0.5+ε ∧
    * frac_below+frac_at ≥ 0.5−ε (the tie-aware form — a constant
    * column where every value equals the estimate still certifies).
    * This completes the quantile trilogy: q155 certifies a BOTTOM-K
    * SAMPLER by a binomial bound, q135/q52 certify HLL sketches, this
    * certifies the engine's own GK path by its deterministic rank
    * guarantee. The raw estimate stays OUT of the output — it is
    * engine-specific (the q52/q80 discipline); the oracle recomputes
    * n and the gate-scale exact median and pins the boolean true.
    *
    * The exact `percentile_cont` twin gates on [[BottomkExactMaxRows]]
    * (the q155/q135 discipline): below it the oracle checks the exact
    * median value; above it `exact_median` ships NULL and the rank
    * certification alone carries the claim. */
  def q223ApproxQuantileCert(s: SparkSession, dir: String): DataFrame =
    q223Plan(s, dir, exactTwin = nEvents(s, dir) <= BottomkExactMaxRows)

  private[graft] def q223Plan(s: SparkSession, dir: String,
      exactTwin: Boolean): DataFrame = {
    val e = Tables.events(s, dir)
    val est = e.groupBy("event_type")
      .agg(percentile_approx(col("value"), lit(0.5), lit(GkAccuracy)).as("gk"))
    val twin =
      if (exactTwin)
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)")
      else max(lit(null).cast("double"))
    e.join(broadcast(est), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        twin.as("exact_median"),
        (sum(when(col("value") < col("gk"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("fb"),
        (sum(when(col("value") === col("gk"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("fa"))
      .select(col("event_type"), col("n"), col("exact_median"),
        ((col("fb") <= 0.5 + GkBound) &&
          (col("fb") + col("fa") >= 0.5 - GkBound)).as("within_bounds"))
      .orderBy("event_type")
  }

  /** Gate-scale oracle: exact n and median, boolean pinned true (a
    * sketch regression — rank drift past the GK bound — flips it and
    * fails the hash). */
  val q223Sql: String =
    """SELECT event_type, count(*) AS n,
      |  percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS exact_median,
      |  true AS within_bounds
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------ q156 observed metrics

  /** q156: IN-FLIGHT OBSERVED METRICS — Spark's `Observation`/
    * `observe()` API as a first-class op: data-quality counters
    * (row count, exact value sum, null count) attach AT THE SCAN and
    * accumulate during the SAME job that computes the real
    * aggregate — zero extra passes, which is the whole point at
    * 100 TB (a separate audit query would re-scan everything). The
    * result row carries the downstream aggregate AND the observed
    * counters with agreement booleans — the oracle recomputes both
    * sides and pins the booleans true, so a broken observation
    * plumbing fails the hash gate.
    *
    * Scale shape: observe() compiles to an accumulator-backed
    * CollectMetrics node over the scan — no exchange, no second
    * read; the one bounded action collects a single aggregate row. */
  def q156ObservedMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation()
    val li = Tables.read(s, dir, "lineitem")
      .observe(obs, count(lit(1)).as("obs_rows"),
        sum(dec(col("l_quantity"), 18, 2)).as("obs_qty"),
        sum(col("l_quantity").isNull.cast("long")).as("obs_nulls"))
    // bounded action: the downstream aggregate is one row; collecting
    // it is what releases the observation
    val agg = li.filter(col("l_quantity") > 0)
      .agg(count(lit(1)).as("n_pos"),
        sum(dec(col("l_quantity"), 18, 2)).cast("double").as("qty_pos"))
      .head()
    val m = obs.get
    // empty-relation guard: sums observe/aggregate to NULL
    def dbl(v: Any): Option[Double] = v match {
      case null => None
      case b: java.math.BigDecimal => Some(b.doubleValue())
      case d: java.lang.Double => Some(d.doubleValue())
    }
    Seq((agg.getLong(0),
        if (agg.isNullAt(1)) Option.empty[Double] else Some(agg.getDouble(1)),
        m("obs_rows").asInstanceOf[Long],
        dbl(m("obs_qty")),
        m("obs_nulls").asInstanceOf[Long]))
      .toDF("n_pos", "qty_pos", "obs_rows", "obs_qty", "obs_nulls")
      .select(col("n_pos"), col("qty_pos"), col("obs_rows"), col("obs_qty"),
        col("obs_nulls"),
        (col("obs_rows") >= col("n_pos")).as("rows_consistent"),
        (col("obs_nulls") === 0L).as("no_nulls"))
  }

  val q156Sql: String =
    """SELECT
      |  (SELECT count(*) FROM lineitem WHERE l_quantity > 0) AS n_pos,
      |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |   FROM lineitem WHERE l_quantity > 0) AS qty_pos,
      |  (SELECT count(*) FROM lineitem) AS obs_rows,
      |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |   FROM lineitem) AS obs_qty,
      |  (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL) AS obs_nulls,
      |  (SELECT count(*) FROM lineitem) >=
      |    (SELECT count(*) FROM lineitem WHERE l_quantity > 0) AS rows_consistent,
      |  (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL) = 0 AS no_nulls""".stripMargin

  // ------------------------------------------------ q157 dynamic overwrite

  /** q157: DYNAMIC PARTITION OVERWRITE — the INSERT OVERWRITE
    * contract warehouse pipelines live by: a second write that
    * touches ONE partition must replace exactly that partition and
    * leave every other at-rest partition untouched (static overwrite
    * mode would silently DELETE them — the classic data-loss
    * misconfiguration). Proven end-to-end at the FILE level: full
    * corpus lands partitionBy(lang); a transformed en-only batch
    * overwrites with `partitionOverwriteMode=dynamic` (a WRITER
    * option — no session-level conf mutation, the ConfScope lesson);
    * the read-back profile shows en transformed, everything else
    * intact. Oracle = the SQL that SIMULATES the two-write outcome.
    *
    * Scale shape: the overwrite's cost is the changed partition's,
    * never the table's — the at-rest layout (q60's directory
    * pruning) is exactly what makes partition-scoped rewrites
    * possible at 100 TB. */
  def q157DynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val out = graft.operators.PlanCache.tempDir("graft_dynover_")
    val d = Tables.read(s, dir, "documents")
    // empty-corpus guard: a partitionBy write of zero rows leaves no
    // footer to re-infer — the profile is definitionally empty
    if (d.isEmpty)
      return d.groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    d.write.mode("overwrite").partitionBy("lang").parquet(out)
    d.filter(col("lang") === "en")
      .withColumn("n_chars", -col("n_chars"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(out)
    Tables.read(s, out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  val q157Sql: String =
    """SELECT lang, count(*) AS n,
      |  CAST(sum(CASE WHEN lang = 'en' THEN -n_chars ELSE n_chars END)
      |    AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------ q168 format round trip

  /** Write-side parallelism for the q168 legs: enough tasks to spread
    * the text encode across cores without producing a confetti of
    * files (the legs' temp output is read back once and discarded).
    * Capped at 8 — beyond that, per-file open/commit overhead eats
    * the encode win at any local scale, and a production run sizes
    * output files by volume anyway (guide §6 file-sizing rule). */
  private def FmtLegParts(s: SparkSession): Int =
    math.min(8, math.max(1, s.sparkContext.defaultParallelism / 4))

  /** q168: MULTI-FORMAT ROUND TRIP — the same relation written and
    * re-read through CSV (text + header + ISO timestamps), JSON
    * (lines), and ORC (the other columnar), each leg fingerprinted
    * (count, exact DECIMAL sum, distinct keys, timestamp min/max as
    * epoch µs) against the source and pinned as a boolean: the
    * interchange contract an engine owes its users — what goes out
    * comes back, including the CSV text-serialization edge (doubles
    * via shortest-round-trip repr, timestamps through the session-UTC
    * ISO format). Avro round-trips are certified separately through
    * the engine's own wire expressions (q49/q137) — the connector
    * jar is absent here, the expression path is the production one.
    *
    * Scale shape: each leg is one write + one scan + a partial-agged
    * fingerprint (the q121 shape); the four 1-row stat reads are the
    * only driver actions. The three legs are INDEPENDENT (distinct
    * temp subdirs, order-independent aggregates), so they run
    * concurrently from driver threads — the scheduler interleaves
    * their jobs and the wall cost is the slowest leg, not the sum —
    * and the written relation is spread over [[FmtLegParts]]
    * partitions so text serialization (CSV/JSON encode, the legs'
    * real CPU) parallelizes instead of riding the source's single
    * row-group-bound scan task. Both are result-neutral: every
    * fingerprint column (count / exact DECIMAL sum / distinct /
    * min / max) is partition-order-independent. */
  def q168FormatRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.read(s, dir, "orders")
    def stats(df: DataFrame): (Long, Double, Long, Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(dec(col("o_totalprice"), 18, 2)).cast("double"),
        countDistinct(col("o_custkey")),
        min(unix_micros(col("o_orderdate").cast("timestamp"))),
        max(unix_micros(col("o_orderdate").cast("timestamp")))).head()
      if (r.getLong(0) == 0) (0L, 0.0, 0L, 0L, 0L)
      else (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    val base = stats(o)
    val out = graft.operators.PlanCache.tempDir("graft_fmt_")
    val src = o.repartition(FmtLegParts(s))
    def leg(fmt: String): Boolean = {
      val p = s"$out/$fmt"
      val w = src.write.mode("overwrite")
      (fmt match {
        case "csv" => w.option("header", "true")
        case other => w
      }).format(fmt).save(p)
      val r = s.read.format(fmt)
      val back = (fmt match {
        case "csv" => r.option("header", "true").schema(o.schema)
        case "json" => r.schema(o.schema)
        case _ => r
      }).load(p)
      stats(back) == base
    }
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // round-15 ADVICE: the legs BLOCK on Spark actions, so they get a
    // dedicated 3-thread pool instead of the global fork-join pool —
    // on a low-core box the unmarked-blocking global pool would not
    // grow (legs serialize) and every other user of the global EC
    // starves for the duration. Shut down in the finally: the pool is
    // per-call scratch, not a leaked JVM resource.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val ec = ExecutionContext.fromExecutorService(pool)
    val Seq(csvOk, jsonOk, orcOk) =
      try Seq("csv", "json", "orc").map(f => Future(leg(f))(ec))
        .map(Await.result(_, Duration.Inf))
      finally pool.shutdown()
    // empty relation: the oracle's sum-over-nothing is NULL, not 0
    val total = if (base._1 == 0) Option.empty[Double] else Some(base._2)
    Seq((base._1, total, base._3, csvOk, jsonOk, orcOk))
      .toDF("n", "total", "n_cust", "csv_ok", "json_ok", "orc_ok")
  }

  val q168Sql: String =
    """SELECT count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  count(DISTINCT o_custkey) AS n_cust,
      |  TRUE AS csv_ok, TRUE AS json_ok, TRUE AS orc_ok
      |FROM orders""".stripMargin

  // ------------------------------------------------ q169 mergeSchema

  /** q169: FILE-LEVEL SCHEMA EVOLUTION — two parquet batches of the
    * same table at different schema vintages (the odd orders carry
    * `o_orderpriority`, the even batch predates it), read back as ONE
    * relation under `mergeSchema=true`: the union schema resolves per
    * footer and old rows surface NULL for the new column — the
    * at-rest half of the evolution story (q137 is the wire half:
    * Avro writer/reader resolution). The profile groups on the
    * evolved column with the nulls made explicit.
    *
    * Scale shape: schema merge costs one footer read per file (not
    * per row); the scan itself stays columnar with per-file
    * projection into the union schema. */
  def q169MergeSchema(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(s, dir, "orders")
    val out = graft.operators.PlanCache.tempDir("graft_msch_")
    o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$out/v1")
    o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$out/v2")
    // a bare read: Spark's own footer merge is what q169 exercises
    s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
      .groupBy(coalesce(col("o_orderpriority"), lit("PRE_SCHEMA")).as("prioridade"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"), 18, 2)).cast("double").as("total"))
      .orderBy("prioridade")
  }

  val q169Sql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'PRE_SCHEMA'
      |            ELSE o_orderpriority END AS prioridade,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY prioridade""".stripMargin

  // ---------------------------------------- q251 auto-salt planner

  /** Hotness rule numerator/denominator: a key is hot when its row
    * count exceeds [[SaltHotNum]]/[[SaltHotDen]] × the mean rows per
    * key (3/2 — q51's hotRowThreshold=3 against lineitem's mean of
    * ~2, expressed as a scale-free ratio). */
  val SaltHotNum = 3L
  val SaltHotDen = 2L

  /** q251: AUTO-SALT PLANNER — closes the skew family's loop: q149
    * DIAGNOSES the key histogram, q51 EXECUTES a fixed-fanout salted
    * join; this PLANS the per-key fanout in between, the way a
    * production skew mitigation derives salt factors from observed
    * counts instead of hardcoding 8. A key is hot when its count
    * exceeds [[SaltHotNum]]/[[SaltHotDen]] of the mean rows/key; its
    * salt factor is ceil(count / mean) — enough splits to bring each
    * shard back to the mean.
    *
    * Cross-engine discipline: the rule is DIVISION-FREE — hotness is
    * the cross-multiplication den·cnt·keys > num·rows, the factor is
    * an integer ceiling division of exact products — so no float mean
    * can round a boundary key differently. Scale shape: one
    * partial-aggregated count shuffle (the histogram), a 1-row global
    * total broadcast-crossed back, and a filter; output is bounded by
    * the hot-key count. The planner's output is exactly the side
    * input [[graft.operators.SkewOps.saltedJoin]] would consume for
    * per-key fanout at 100 TB. */
  def q251SaltPlanner(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.read(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("key")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"))
    counts.crossJoin(broadcast(tot))
      .filter(col("cnt") * col("n_keys") * SaltHotDen >
        col("n_rows") * SaltHotNum)
      .select(col("key"), col("cnt"),
        graft.functions.GraftFunctions.idiv(
          col("cnt") * col("n_keys") + col("n_rows") - 1,
          col("n_rows")).as("salt_factor"))
      .orderBy("key")
  }

  val q251Sql: String =
    s"""WITH c AS (
       |  SELECT l_orderkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
       |), tot AS (
       |  SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows FROM c
       |)
       |SELECT key, cnt,
       |  (cnt * n_keys + n_rows - 1) // n_rows AS salt_factor
       |FROM c CROSS JOIN tot
       |WHERE cnt * n_keys * $SaltHotDen > n_rows * $SaltHotNum
       |ORDER BY key""".stripMargin

  // ------------------------------------- q248 compaction bin planner

  /** Target compacted-file size for the bin planner (bytes of
    * estimated row payload per output bin). */
  val CompactTargetBytes = 262144L

  /** Fixed per-row byte estimate for lineitem's numeric columns
    * (4 int64 keys + 4 numerics + a 4-byte date), to which the
    * variable string widths are added. */
  val CompactFixedRowBytes = 52

  /** q248: SMALL-FILE COMPACTION PLANNER — the table-maintenance pass
    * every 100 TB lake runs nightly (Delta/Iceberg OPTIMIZE's
    * planning half): roll the table up into a per-partition
    * (ship month) size inventory, then assign partitions to target-
    * size output bins by walking the inventory in partition order and
    * cutting a new bin each time the running payload crosses
    * [[CompactTargetBytes]] (bin id = exclusive-prefix-sum div
    * target — the standard coalesce-by-size rule). Complements the
    * layout family: q60 proves pruning, q76 z-orders, q157 overwrites;
    * this PLANS the rewrite.
    *
    * Scale shape: the corpus-wide work is ONE partial agg onto the
    * partition inventory (|months| rows); the prefix-sum window runs
    * single-partition BY DESIGN over that aggregated inventory — it
    * is O(#partitions), not O(rows), exactly how a real compaction
    * planner scales (the inventory for a 100 TB table is thousands of
    * rows). Byte estimates are integer-exact (fixed widths +
    * octet_length), so the plan is bit-reproducible cross-engine. */
  def q248CompactionBins(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = Tables.read(s, dir, "lineitem")
      .select(unix_millis(date_trunc("month", col("l_shipdate"))).as("period_ms"),
        (lit(CompactFixedRowBytes) + octet_length(col("l_returnflag")) +
          octet_length(col("l_linestatus"))).cast("long").as("eb"))
      .groupBy("period_ms")
      .agg(count(lit(1)).as("n_rows"), sum("eb").as("part_bytes"))
    val w = Window.orderBy("period_ms")
      .rowsBetween(Window.unboundedPreceding, -1)
    inv.withColumn("bin",
        graft.functions.GraftFunctions.idiv(
          coalesce(sum(col("part_bytes")).over(w), lit(0L)),
          lit(CompactTargetBytes)))
      .select(col("period_ms"), col("n_rows"), col("part_bytes"), col("bin"))
      .orderBy("period_ms")
  }

  val q248Sql: String =
    s"""WITH inv AS (
       |  SELECT epoch_ms(date_trunc('month', CAST(l_shipdate AS TIMESTAMP)))
       |      AS period_ms,
       |    count(*) AS n_rows,
       |    CAST(sum($CompactFixedRowBytes + strlen(l_returnflag)
       |      + strlen(l_linestatus)) AS BIGINT) AS part_bytes
       |  FROM lineitem GROUP BY 1
       |)
       |SELECT period_ms, n_rows, part_bytes,
       |  CAST(coalesce(sum(part_bytes) OVER (ORDER BY period_ms
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    // $CompactTargetBytes AS bin
       |FROM inv ORDER BY period_ms""".stripMargin

  // ---------------------------------- q247 seasonal residual anomalies

  /** Squared z-score threshold (Z = 3). */
  val SeasZ2 = 9

  /** Minimum seasonal-cell population before the profile is trusted. */
  val SeasMinN = 20

  /** Domain gate: |value| above this is quarantined from both the
    * profile and the flagging pass (the q45 validHeader discipline —
    * out-of-domain rows are EXCLUDED deterministically in both
    * engines, not silently wrapped: centi-scaling 1e300 overflows
    * BIGINT in Spark AND DuckDB, as the adversarial events fixture
    * proved). 1e9 centi-scales to 1e11; its square is 1e22, safely
    * inside DECIMAL(38,0)/HUGEINT at any realistic group size. */
  val SeasMaxAbs = 1.0e9

  /** q247: SEASONALITY-ADJUSTED ANOMALY DETECTION — the time-series
    * read q130 (level-shift changepoint) and q112 (per-user volume)
    * don't cover: fit a (event_type, day-of-week, hour-of-day)
    * seasonal profile and flag events whose value deviates more than
    * Z standard deviations FROM THEIR OWN SEASONAL CELL — a Monday-9am
    * spike is judged against Monday-9am, not the global mean.
    *
    * Cross-engine discipline: the z-test runs ENTIRELY in exact
    * integer/decimal arithmetic — values are centi-scaled to BIGINT
    * (one tie-measure-zero round, the q10/q11 precedent), and the
    * predicate |v−μ|>Zσ is cleared of divisions by multiplying
    * through by n²: (v·n − Σ)² > Z²·(n·Σv² − Σ²). Sums are
    * DECIMAL(38,0) in Spark / HUGEINT in DuckDB, so no float
    * reassociation can flip a borderline row. Day-of-week and hour
    * are epoch integer arithmetic (1970-01-01 + 4 ⇒ Thursday),
    * timezone-free in both engines.
    *
    * Scale shape: one corpus-wide partial agg onto ≤ |types|×168
    * profile rows, then a BROADCAST join-back — the profile is tiny
    * by construction at any corpus size, so the flagging pass is a
    * single scan with a map-side hash join; no window, no second
    * shuffle. */
  def q247SeasonalResiduals(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val e = Tables.events(s, dir)
      .filter(abs(col("value")) <= SeasMaxAbs)
      .select(col("event_id"), col("event_type"),
        expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hr"),
        col("value"),
        expr("CAST(round(value * 100) AS BIGINT)").as("iv"))
    val prof = e.groupBy("event_type", "dow", "hr")
      .agg(count(lit(1)).as("n_group"),
        sum(col("iv").cast(d38)).as("sv"),
        // cast BEFORE the square: iv² in raw long overflows at the
        // domain edge (1e11² = 1e22 > 2^63)
        sum(col("iv").cast(d38) * col("iv").cast(d38)).as("sq"))
    val dev = col("iv").cast(d38) * col("n_group").cast(d38) - col("sv")
    e.join(broadcast(prof), Seq("event_type", "dow", "hr"))
      .filter(col("n_group") >= SeasMinN &&
        dev * dev > lit(SeasZ2).cast(d38) *
          (col("n_group").cast(d38) * col("sq") - col("sv") * col("sv")))
      .select(col("event_id"), col("event_type"), col("dow"), col("hr"),
        col("value"), col("n_group"))
      .orderBy("event_id")
  }

  val q247Sql: String =
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 AS dow,
       |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hr,
       |    value, CAST(round(value * 100) AS BIGINT) AS iv
       |  FROM events WHERE abs(value) <= $SeasMaxAbs
       |), p AS (
       |  SELECT event_type, dow, hr, count(*) AS n_group,
       |    CAST(sum(iv) AS HUGEINT) AS sv,
       |    sum(CAST(iv AS HUGEINT) * iv) AS sq
       |  FROM e GROUP BY 1, 2, 3
       |)
       |SELECT e.event_id, e.event_type, e.dow, e.hr, e.value,
       |  CAST(p.n_group AS BIGINT) AS n_group
       |FROM e JOIN p USING (event_type, dow, hr)
       |WHERE p.n_group >= $SeasMinN
       |  AND (CAST(e.iv AS HUGEINT) * p.n_group - p.sv)
       |      * (CAST(e.iv AS HUGEINT) * p.n_group - p.sv)
       |    > $SeasZ2 * (p.n_group * p.sq - p.sv * p.sv)
       |ORDER BY event_id""".stripMargin

  // ------------------------------------------------ registry

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q139_histogram", q139Histogram, q139Sql),
    QueryDef("q140_winsorize", q140Winsorize, q140Sql),
    QueryDef("q141_itemsets", q141Itemsets, q141Sql),
    QueryDef("q142_unpivot", q142Unpivot, q142Sql),
    QueryDef("q143_notin_nulls", q143NotinNulls, q143Sql),
    QueryDef("q144_asof_tolerance", q144AsofTolerance, q144Sql),
    QueryDef("q145_ivm_view", q145IvmView, q145Sql),
    QueryDef("q146_bfs_paths", q146BfsPaths, q146Sql),
    QueryDef("q148_pps_sample", q148PpsSample, q148Sql),
    QueryDef("q149_skew_report", q149SkewReport, q149Sql),
    QueryDef("q150_equidepth_hist", q150EquidepthHist, q150Sql),
    QueryDef("q151_cdc_apply", q151CdcApply, q151Sql),
    QueryDef("q152_embed_audit", q152EmbedAudit, q152Sql),
    QueryDef("q154_multitouch", q154Multitouch, q154Sql),
    QueryDef("q155_bottomk_quantile", q155BottomkQuantile, q155Sql),
    QueryDef("q223_approx_quantile_cert", q223ApproxQuantileCert, q223Sql),
    QueryDef("q224_join_cardinality", q224JoinCardinality, q224Sql),
    QueryDef("q225_attribution_sweep", q225AttributionSweep, q225Sql),
    QueryDef("q156_observed_metrics", q156ObservedMetrics, q156Sql),
    QueryDef("q157_dynamic_overwrite", q157DynamicOverwrite, q157Sql),
    QueryDef("q247_seasonal_residuals", q247SeasonalResiduals, q247Sql),
    QueryDef("q248_compaction_bins", q248CompactionBins, q248Sql),
    QueryDef("q251_salt_planner", q251SaltPlanner, q251Sql),
    QueryDef("q168_format_roundtrip", q168FormatRoundtrip, q168Sql),
    QueryDef("q169_merge_schema", q169MergeSchema, q169Sql)
  )
}
