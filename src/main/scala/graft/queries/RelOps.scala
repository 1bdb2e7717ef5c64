package graft.queries

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Round-8 second-wave relational/time-series/graph operators
  * (SURVEY.md §2.3): bloom-filter semi-join reduction, time-series
  * gap-fill (LOCF), RANGE-framed rolling windows, degree-ordered
  * triangle counting, and the 2-D skyline (Pareto frontier).
  *
  * Same oracle-parity rules as [[Queries]] (FIXTURES.md §D): exact
  * DECIMAL sums under double outputs, stable ORDER BY in both
  * dialects, identical expression shapes, timestamps as epoch ms/us.
  */
object RelOps {

  private def dec(c: Column, p: Int, sc: Int): Column = c.cast(DecimalType(p, sc))

  // ------------------------------------------------ q113 bloom-filter join

  /** Bloom geometry: k hash probes, target bits per build-side key,
    * and a hard cap on the broadcast bitset (2^22 bits = 512 KiB —
    * comfortably a literal/broadcast at any plausible build size; a
    * build side too big for the cap is past the point where semi-join
    * reduction pays anyway). */
  val BloomK = 4
  val BloomBitsPerKey = 16
  val BloomMaxBits: Long = 1L << 22

  /** 2^j lookup — turns variable-distance bit shifts into an
    * `element_at` over a 64-long literal, keeping the whole bloom
    * probe inside builtin codegen'd expressions (shiftleft/shiftright
    * Column variants take literal distances only). */
  private val pow2: Column = typedLit(Array.tabulate(64)(j => 1L << j))

  private def bloomHashes(key: Column, m: Long): Seq[Column] =
    (0 until BloomK).map(i => pmod(xxhash64(key, lit(i)), lit(m)))

  /** h div 64 for h < 2^22: exact in double, truncation = floor. */
  private def wordIdx(h: Column): Column = (h.cast("double") / 64.0).cast("int")

  private def bitMask(h: Column): Column =
    element_at(pow2, (h % 64).cast("int") + 1)

  /** q113: BLOOM-FILTER SEMI-JOIN REDUCTION — the runtime-filter
    * discipline for big⋈selective joins: build a bloom filter over
    * the qualifying build-side keys (urgent orders), broadcast it as
    * a literal word array, and pre-filter the probe side (lineitem)
    * BEFORE its shuffle; the exact equi-join then removes the bloom's
    * false positives, so the rewrite is identity-preserving and the
    * oracle is the plain join SQL (the q51 pattern: a physical
    * strategy must not change the answer).
    *
    * Scale shape: at 100 TB the probe side's shuffle is the dominant
    * cost and the bloom cuts it by the build side's selectivity
    * (~80% here) for 512 KiB of broadcast state; Spark's own runtime
    * row-group filters only reach partitioned scans, this works on
    * any probe relation. The filter builds DISTRIBUTED: each key
    * explodes to k (word, mask) pairs, `bit_or` partial-aggregates
    * map-side, and the driver reads back at most m/64 ≤ 65,536 word
    * rows (bounded by [[BloomMaxBits]], not by the data). Probe-side
    * membership is pure builtin expressions (xxhash64 → element_at →
    * bitwiseAND) — whole-stage codegen, no UDF. */
  def q113BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.read(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // bounded action: one count sizes the filter (the build side is
    // the SMALL side of the join by construction)
    val n = urgent.count()
    val m = math.min(BloomMaxBits,
      java.lang.Long.highestOneBit(math.max(1024L, n * BloomBitsPerKey) * 2 - 1))
    val words = urgent
      .select(explode(array(bloomHashes(col("o_orderkey"), m): _*)).as("h"))
      .select(wordIdx(col("h")).as("w"), bitMask(col("h")).as("mask"))
      .groupBy("w").agg(bit_or(col("mask")).as("bm"))
      .collect() // ≤ m/64 rows — bounded by the geometry cap
    val arr = new Array[Long]((m / 64).toInt)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    val bw = typedLit(arr)
    val contains = bloomHashes(col("l_orderkey"), m)
      .map(h => element_at(bw, wordIdx(h) + 1).bitwiseAND(bitMask(h)) =!= 0L)
      .reduce(_ && _)
    Tables.read(s, dir, "lineitem")
      .filter(contains)
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"), 18, 2)).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"), 18, 2)).cast("double").as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** The PLAIN join — the bloom is a physical strategy, so the plain
    * SQL is q113's exact oracle (identity-preservation pattern). */
  val q113Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------ q114 gap-fill (LOCF)

  /** q114: TIME-SERIES GAP-FILL — resample each user's daily activity
    * onto a dense per-user day grid (first..last observed day) and
    * fill missing days with the last observation carried forward
    * (LOCF), emitting the gap days with their carried value: the
    * canonical "regularize an irregular series" step before any
    * time-series model, and the report of silent-dropout windows.
    *
    * Scale shape: the raw stream collapses to (user, day) partials
    * map-side BEFORE any shuffle; the grid explodes bounded by the
    * time horizon (days), never by event volume; one user-partitioned
    * window does the LOCF — users are independent. Values are exact
    * DECIMAL sums so the carried value is engine-identical. */
  def q114GapfillLocf(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"), 18, 2)).as("v"))
    val span = obs.groupBy("user_id").agg(min("day").as("mn"), max("day").as("mx"))
    val grid = span.select(col("user_id"),
      explode(sequence(col("mn"), col("mx"), expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("user_id", "day"), "left")
      .withColumn("fv", last(col("v"), ignoreNulls = true).over(w))
      .filter(col("n").isNull)
      .select(col("user_id"), unix_millis(col("day")).as("day_ms"),
        col("fv").cast("double").as("filled_v"))
      .orderBy("user_id", "day_ms")
  }

  val q114Sql: String =
    """WITH obs AS (
      |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS v
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT user_id, min(day) AS mn, max(day) AS mx FROM obs GROUP BY 1
      |), grid AS (
      |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
      |  FROM span
      |), j AS (
      |  SELECT g.user_id, g.day, o.n, o.v
      |  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day
      |), f AS (
      |  SELECT user_id, day, n,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
      |  FROM j
      |)
      |SELECT user_id, epoch_ms(day) AS day_ms, CAST(fv AS DOUBLE) AS filled_v
      |FROM f WHERE n IS NULL ORDER BY user_id, day_ms""".stripMargin

  // ------------------------------------------- q115 RANGE-framed rolling

  /** Rolling horizon: 24h in microseconds (frame offsets inclusive). */
  val RollingHorizonUs: Long = 86400000000L

  /** q115: PEAK ROLLING-24H ACTIVITY — for every event, the count and
    * exact value-sum of the same user's events in the trailing 24
    * hours via a RANGE-framed window (value-based frame — the window
    * feature ROWS frames can't express: peers at distance ≤ horizon,
    * not a fixed row count), then each user's peak with its instant —
    * the rate-limit/abuse sizing query ("what is this user's worst
    * 24h burst").
    *
    * Determinism: the peak row is picked by row_number over (n24
    * DESC, us ASC, event_id ASC) — total order in both engines; peers
    * at the same `us` share the same RANGE frame so the emitted peak
    * values are unique regardless of which peer wins. Scale: one
    * user-partitioned shuffle, range frames stream in ts order per
    * user — no per-row self-join. */
  def q115RollingPeak(s: SparkSession, dir: String): DataFrame = {
    val wr = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-RollingHorizonUs, 0)
    val wp = Window.partitionBy("user_id")
      .orderBy(col("n24").desc, col("us").asc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        dec(col("value"), 18, 2).as("v"))
      .withColumn("n24", count(lit(1)).over(wr))
      .withColumn("v24", sum(col("v")).over(wr))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n24").as("peak_n24"),
        expr("us div 1000").as("peak_at_ms"),
        col("v24").cast("double").as("peak_v24"))
      .orderBy("user_id")
  }

  val q115Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |    CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events
       |), r AS (
       |  SELECT user_id, event_id, us,
       |    count(*) OVER win AS n24, sum(v) OVER win AS v24
       |  FROM e
       |  WINDOW win AS (PARTITION BY user_id ORDER BY us
       |    RANGE BETWEEN $RollingHorizonUs PRECEDING AND CURRENT ROW)
       |), p AS (
       |  SELECT user_id, n24, us, v24,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY n24 DESC, us ASC, event_id ASC) AS rn
       |  FROM r
       |)
       |SELECT user_id, n24 AS peak_n24, us // 1000 AS peak_at_ms,
       |  CAST(v24 AS DOUBLE) AS peak_v24
       |FROM p WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ------------------------------------------------ q116 triangle count

  /** Co-occurrence cell width (15 min) and the repeat threshold an
    * edge needs (≥2 shared cells): one shared cell is coincidence at
    * scale — a dense accidental graph whose triangle count measures
    * nothing (at sf0.1 the 1-hour/1-cell rule yields a 70%-DENSE
    * graph: wedge volume ~n³). Repeated co-occurrence is the real
    * affinity signal AND the sparsifier that keeps the wedge join
    * bounded. */
  val TriBucketUs: Long = 900000000L
  val TriMinCoocc = 2

  /** q116: TRIANGLE COUNT over the user co-occurrence graph (an edge
    * = two users active in ≥ [[TriMinCoocc]] of the same
    * (event_type, 15-min) cells) with the DEGREE-ORDERED
    * ORIENTATION: edges point from the lower (degree, id) endpoint
    * to the higher, so every triangle a≺b≺c is produced by exactly
    * one wedge a→b→c closed by a→c — the standard
    * distributed-triangle discipline that caps wedge explosion at hub
    * nodes (a hub's wedges form only where BOTH neighbors out-rank
    * it, so out-degrees are ~sqrt-bounded; the naive undirected wedge
    * join is quadratic in hub degree).
    *
    * Scale shape: co-occurrence cells collapse by DISTINCT map-side;
    * the pair join runs per-cell (bounded by cell width, the q35
    * banding discipline) and partial-aggregates into edge weights
    * before the threshold; degree is a broadcastable node table; the
    * wedge join and closure are equi-joins on node ids. */
  /** The q116 affinity edge set (x < y) as a session ARTIFACT — the
    * graph family's shared input: triangles (q116), BFS (q146), the
    * profile (q153), neighbor Jaccard (q193), assortativity (q201)
    * and k-core (q245) all start from this one edge list, and each
    * used to re-run the per-cell pair join + weight aggregation
    * (345 k pair rows at sf0.1) on every call. Same discipline as the
    * q53 simhash pair graph ([[graft.llmops.TextOps]] `pairCache`):
    * first consumer's warm pass builds and persists the 43 k-row edge
    * frame, everyone downstream reads it — exactly how a production
    * graph stack materializes its edge table once and runs the
    * analytics suite over it. MEMORY_AND_DISK; [[graft.sources.FsSig]]
    * keying invalidates on fixture regeneration. */
  private[graft] val edgeCache = graft.operators.PlanCache.persisted("affinity_edges")

  private[graft] def cooccurEdges(s: SparkSession, dir: String): DataFrame =
    edgeCache.get(s, dir, graft.sources.FsSig.of(s"$dir/events.parquet"))(
      // the cached plan compiles WITHOUT AQE coalescing (Spark keeps
      // cached-plan partitioning stable), so without the explicit
      // repartition the edge frame would store at the full shuffle
      // width and every consumer's scan would pay per-task overhead
      // on near-empty partitions — the round-15 code-frame artifact
      // sizing (defaultParallelism/4, min 2) applied here
      cooccurEdgePlan(s, dir)
        .repartition(math.max(2, s.sparkContext.defaultParallelism / 4))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** DISTINCT co-occurrence cells, per-cell pair join, partial-
    * aggregated edge weights, repeat-count threshold. */
  private[graft] def cooccurEdgePlan(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .select(col("event_type").as("et"),
        expr(s"unix_micros(ts) div $TriBucketUs").as("b"), col("user_id").as("u"))
      .distinct()
    g.as("a").join(g.as("b"),
        col("a.et") === col("b.et") && col("a.b") === col("b.b") &&
          col("a.u") < col("b.u"))
      .groupBy(col("a.u").as("x"), col("b.u").as("y"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= TriMinCoocc)
      .select("x", "y")
  }

  /** The g/w/e0 CTE chain q116's oracle builds the same edge set
    * with, shared with q146's recursive-CTE oracle. */
  private[queries] val cooccurEdgesSql: String =
    s"""g AS (
      |  SELECT DISTINCT event_type AS et,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // $TriBucketUs AS b, user_id AS u
      |  FROM events
      |), w AS (
      |  SELECT a.u AS x, b.u AS y, count(*) AS c
      |  FROM g a JOIN g b ON a.et = b.et AND a.b = b.b AND a.u < b.u
      |  GROUP BY 1, 2
      |), e0 AS (
      |  SELECT x, y FROM w WHERE c >= $TriMinCoocc
      |)""".stripMargin

  def q116Triangles(s: SparkSession, dir: String): DataFrame = {
    val e0 = cooccurEdges(s, dir)
    val deg = e0.select(col("x").as("node")).unionAll(e0.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val fwd = col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y"))
    val ed = e0
      .join(broadcast(deg.select(col("node").as("x"), col("d").as("dx"))), "x")
      .join(broadcast(deg.select(col("node").as("y"), col("d").as("dy"))), "y")
      .select(when(fwd, col("x")).otherwise(col("y")).as("src"),
        when(fwd, col("y")).otherwise(col("x")).as("dst"))
    val wedge = ed.as("p").join(ed.as("q"), col("p.dst") === col("q.src"))
      .select(col("p.src").as("wa"), col("q.dst").as("wc"))
    val tri = wedge.join(ed.as("r"),
      col("wa") === col("r.src") && col("wc") === col("r.dst"))
    deg.agg(count(lit(1)).as("n_nodes"), max("d").as("max_degree"))
      .crossJoin(e0.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      .select("n_nodes", "n_edges", "max_degree", "n_triangles")
  }

  /** deg/ed/tri CTE chain (appended after [[cooccurEdgesSql]]) —
    * shared by q116's count and q153's full profile. */
  private[queries] val triChainSql: String =
    """deg AS (
      |  SELECT node, count(*) AS d FROM (
      |    SELECT x AS node FROM e0 UNION ALL SELECT y AS node FROM e0)
      |  GROUP BY 1
      |), ed AS (
      |  SELECT CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND x < y) THEN x ELSE y END AS src,
      |         CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND x < y) THEN y ELSE x END AS dst
      |  FROM e0 JOIN deg dx ON e0.x = dx.node JOIN deg dy ON e0.y = dy.node
      |), tri AS (
      |  SELECT 1 AS one
      |  FROM ed p JOIN ed q ON p.dst = q.src
      |       JOIN ed r ON p.src = r.src AND q.dst = r.dst
      |)""".stripMargin

  val q116Sql: String =
    s"""WITH $cooccurEdgesSql, $triChainSql
      |SELECT (SELECT count(*) FROM deg) AS n_nodes,
      |  (SELECT count(*) FROM e0) AS n_edges,
      |  (SELECT max(d) FROM deg) AS max_degree,
      |  (SELECT count(*) FROM tri) AS n_triangles""".stripMargin

  // ------------------------------------------------ q153 graph profile

  /** q153: GRAPH PROFILE — the one-row structural summary a graph
    * pipeline checks before committing to an algorithm: node/edge
    * counts, max degree, WEDGE count (Σ d·(d−1)/2 — the wedge-join
    * volume q116's orientation caps), triangle count, and the GLOBAL
    * CLUSTERING COEFFICIENT 3·triangles/wedges — the
    * transitivity statistic that separates community-structured
    * graphs from random ones (and predicts whether triangle-based
    * methods will find anything). Wedges are exact integers
    * (d·(d−1) div 2); the coefficient is one double division of
    * integers (identical shapes cross-engine; zero-wedge guard).
    *
    * Scale shape: everything after the shared edge build collapses
    * at the first partial agg (degree table is node-sized, wedge sum
    * is one row); the triangle chain is q116's oriented wedge join —
    * the only super-linear piece, and the profile's wedge count is
    * exactly the statistic that PREDICTS its cost before running it. */
  def q153GraphProfile(s: SparkSession, dir: String): DataFrame = {
    val e0 = cooccurEdges(s, dir)
    val deg = e0.select(col("x").as("node")).unionAll(e0.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val wedges = deg.agg(sum(graft.functions.GraftFunctions.idiv(
      col("d") * (col("d") - 1), lit(2L))).cast("long").as("n_wedges"))
    val fwd = col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y"))
    val ed = e0
      .join(broadcast(deg.select(col("node").as("x"), col("d").as("dx"))), "x")
      .join(broadcast(deg.select(col("node").as("y"), col("d").as("dy"))), "y")
      .select(when(fwd, col("x")).otherwise(col("y")).as("src"),
        when(fwd, col("y")).otherwise(col("x")).as("dst"))
    val wedge = ed.as("p").join(ed.as("q"), col("p.dst") === col("q.src"))
      .select(col("p.src").as("wa"), col("q.dst").as("wc"))
    val tri = wedge.join(ed.as("r"),
      col("wa") === col("r.src") && col("wc") === col("r.dst"))
    deg.agg(count(lit(1)).as("n_nodes"), max("d").as("max_degree"))
      .crossJoin(e0.agg(count(lit(1)).as("n_edges")))
      .crossJoin(wedges)
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise((lit(3) * col("n_triangles")).cast("double") / col("n_wedges"))
          .as("clustering_coeff"))
  }

  val q153Sql: String =
    s"""WITH $cooccurEdgesSql, $triChainSql
      |SELECT (SELECT count(*) FROM deg) AS n_nodes,
      |  (SELECT count(*) FROM e0) AS n_edges,
      |  (SELECT max(d) FROM deg) AS max_degree,
      |  (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges,
      |  (SELECT count(*) FROM tri) AS n_triangles,
      |  CASE WHEN (SELECT sum((d * (d - 1)) // 2) FROM deg) = 0 THEN 0.0
      |    ELSE CAST(3 * (SELECT count(*) FROM tri) AS DOUBLE)
      |      / (SELECT sum((d * (d - 1)) // 2) FROM deg) END AS clustering_coeff""".stripMargin

  // ------------------------------------------------------- q117 skyline

  /** q117: 2-D SKYLINE (Pareto frontier) over parts — cheapest-price
    * / largest-size non-dominated set (A dominates B iff price ≤ and
    * size ≥ with one strict): the multi-objective "best tradeoffs"
    * query the classic OLAP skyline papers study.
    *
    * Plan: collapse to PRICE LEVELS (groupBy price → max size; pure
    * partial agg), then one running-max sweep over the levels in
    * price order — a part is on the frontier iff it carries its
    * level's max size AND no strictly-cheaper level reaches that
    * size. The sweep runs over DISTINCT PRICES, not parts; at scale
    * that's the frontier-sized relation (and if the price domain
    * itself were huge, a coarse price-bucket pre-prune bounds it —
    * the levels whose bucket is dominated by a cheaper bucket's max
    * never reach the sweep). The frontier is then a broadcast join
    * back against the full relation. The oracle is the dominance
    * NOT EXISTS — a definition, not a plan, so the hash match proves
    * the sweep implements exact dominance semantics including ties
    * (equal (price, size) duplicates all survive; nothing strictly
    * better exists). */
  def q117Skyline(s: SparkSession, dir: String): DataFrame = {
    val lvl = Tables.read(s, dir, "part")
      .groupBy(col("p_retailprice").as("price")).agg(max("p_size").as("msize"))
    val w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    val frontier = lvl.withColumn("pm", max("msize").over(w))
      .filter(col("pm").isNull || col("pm") < col("msize"))
      .select(col("price"), col("msize"))
    Tables.read(s, dir, "part").join(broadcast(frontier),
        col("p_retailprice") === col("price") && col("p_size") === col("msize"))
      .select("p_partkey", "p_name", "p_retailprice", "p_size")
      .orderBy("p_partkey")
  }

  val q117Sql: String =
    """SELECT p_partkey, p_name, p_retailprice, p_size
      |FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
      |ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------- q118 fuzzy entity join

  /** q118: BLOCKED FUZZY ENTITY MATCHING — record linkage between a
    * dirty catalog (part names deterministically degraded by vowel
    * removal — the typo/abbreviation stand-in) and the clean part
    * relation: candidates form ONLY within a blocking key (first
    * character), a codegen'd [[graft.functions.JaroWinkler]] scores
    * each candidate pair, and each probe keeps its best match at
    * similarity ≥ [[FuzzyMinSim]] (argmax by rounded score, ties to
    * the smallest key — p_names repeat, so ties are real).
    *
    * Scale shape: two entity-resolution disciplines compose —
    * BLOCKING (candidates form per first-char block, equi-join
    * co-located, never cross-block) and STRING-DEDUP-BEFORE-SCORING
    * (similarity depends only on the names, so the quadratic scoring
    * runs over Σ_b |dirty-vocab_b|·|name-vocab_b| — the catalog's
    * distinct-name vocabulary, not its row count; scores then join
    * back to rows broadcast). Ranking uses the ROUNDED similarity so
    * a last-ulp float divergence can never reorder two engines'
    * rankings; the unrounded threshold never gates (see
    * [[graft.functions.FuzzyOps]]). */
  def q118FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.read(s, dir, "part")
    val probes = part.filter(col("p_partkey") % 5 === 0)
      .select(col("p_partkey").as("probe_key"),
        translate(col("p_name"), "aeiou", "").as("dirty"))
    // score DISTINCT STRING PAIRS, not row pairs: similarity depends
    // only on the names, so the quadratic work runs over the distinct
    // name vocabulary per block (64 names here; bounded by catalog
    // vocabulary, not row count, at any SF). The row-level argmax
    // over (sim DESC, p_partkey ASC) decomposes exactly: among names
    // achieving a probe's best score, the winning part is the minimal
    // key of the minimal-key name — so ranking names by
    // (sim DESC, min_key ASC) reproduces the row-pair ranking.
    val names = part.groupBy("p_name").agg(min("p_partkey").as("min_key"))
    val scored = probes.select("dirty").distinct()
      .join(names, substring(col("dirty"), 1, 1) === substring(col("p_name"), 1, 1))
      .withColumn("sim",
        round(graft.functions.FuzzyExprs.jaroWinkler(col("dirty"), col("p_name")), 6))
      .filter(col("sim") >= FuzzyMinSim)
    val w = Window.partitionBy("dirty").orderBy(col("sim").desc, col("min_key").asc)
    val best = scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("dirty"), col("min_key").as("matched_key"), col("sim"))
    probes.join(broadcast(best), "dirty")
      .select("probe_key", "matched_key", "sim")
      .orderBy("probe_key")
  }

  /** Minimum (rounded) Jaro-Winkler score for a candidate match. */
  val FuzzyMinSim = 0.85

  val q118Sql: String =
    s"""WITH probes AS (
       |  SELECT p_partkey AS probe_key, translate(p_name, 'aeiou', '') AS dirty
       |  FROM part WHERE p_partkey % 5 = 0
       |), cand AS (
       |  SELECT probe_key, p.p_partkey,
       |    round(jaro_winkler_similarity(dirty, p.p_name), 6) AS sim
       |  FROM probes JOIN part p
       |    ON substring(dirty, 1, 1) = substring(p.p_name, 1, 1)
       |), best AS (
       |  SELECT probe_key, p_partkey, sim,
       |    row_number() OVER (PARTITION BY probe_key
       |      ORDER BY sim DESC, p_partkey) AS rn
       |  FROM cand WHERE sim >= $FuzzyMinSim
       |)
       |SELECT probe_key, p_partkey AS matched_key, sim
       |FROM best WHERE rn = 1 ORDER BY probe_key""".stripMargin

  // -------------------------------------------- q119 incremental HLL union

  /** Sketch-vs-exact certification bound (the q52/q80 discipline). */
  val HllRelErr = 0.05

  /** q119: INCREMENTAL DISTINCT-COUNT MAINTENANCE — the materialized-
    * view pattern for "cumulative unique users by day" at 100 TB:
    * each day's arrivals collapse ONCE into a DataSketches HLL
    * sketch (`hll_sketch_agg`, the MV delta — at scale these persist
    * with the partition), and any as-of-day cumulative distinct is a
    * MERGE of per-day sketches (`hll_union_agg` over ≤ horizon rows)
    * — history is never rescanned. The query certifies the estimate
    * against the exact cumulative distinct (first-seen-day counts —
    * computable here because the gate SF is small) and emits the
    * pinned `within_bounds` booleans, the q52 pattern: sketch VALUES
    * are engine-specific, so the oracle checks the exact side and
    * the bound, and a sketch regression flips a boolean. */
  def q119HllIncremental(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val daily = e.groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
    val cum = daily.select(col("day").as("d"))
      .join(daily, col("day") <= col("d"))
      .groupBy("d").agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = e.groupBy("user_id").agg(min("day").as("fd"))
      .join(daily.select(col("day").as("d")), col("fd") <= col("d"))
      .groupBy("d").agg(count(lit(1)).as("n_exact"))
    cum.join(exact, "d")
      .select(unix_millis(col("d")).as("day_ms"), col("n_exact"),
        (abs(col("est") - col("n_exact")).cast("double") <=
          lit(HllRelErr) * col("n_exact")).as("within_bounds"))
      .orderBy("day_ms")
  }

  val q119Sql: String =
    """WITH e AS (
      |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
      |  FROM events
      |), fd AS (
      |  SELECT user_id, min(day) AS fd FROM e GROUP BY 1
      |), days AS (
      |  SELECT DISTINCT day AS d FROM e
      |)
      |SELECT epoch_ms(d) AS day_ms, count(*) AS n_exact, true AS within_bounds
      |FROM days JOIN fd ON fd.fd <= days.d
      |GROUP BY d ORDER BY day_ms""".stripMargin

  // ----------------------------------------------------- q120 SCD Type 2

  /** q120: SCD TYPE-2 HISTORY BUILD — collapse each user's event-type
    * timeline into validity intervals (the slowly-changing-dimension
    * shape every warehouse maintains: state, valid_from, valid_to,
    * is_current): consecutive same-type runs become one interval via
    * the gaps-and-islands rank difference (rn_all − rn_type is
    * constant exactly within a run), valid_to is the next interval's
    * start (half-open, NULL while current).
    *
    * Scale shape: both ranking windows and the lead share ONE
    * user_id partitioning — a single shuffle; runs collapse by
    * partial agg on (user, type, grp). Ties order by (us, event_id)
    * in both engines, so island boundaries are deterministic. */
  def q120Scd2(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wType = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    // tie-safe: two runs of one user can share a truncated-ms start
    // (tied event timestamps across types), so the lead orders on
    // (from, type) — a total order over runs in both engines
    val wNext = Window.partitionBy("user_id").orderBy("valid_from_ms", "event_type")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("grp", row_number().over(wAll) - row_number().over(wType))
      .groupBy("user_id", "event_type", "grp")
      .agg(expr("min(us) div 1000").as("valid_from_ms"), count(lit(1)).as("n_in_state"))
      .withColumn("valid_to_ms", lead("valid_from_ms", 1).over(wNext))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .select("user_id", "event_type", "valid_from_ms", "valid_to_ms",
        "is_current", "n_in_state")
      .orderBy("user_id", "valid_from_ms", "event_type")
  }

  val q120Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |), r AS (
      |  SELECT user_id, event_type, us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      - row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY us, event_id) AS grp
      |  FROM e
      |), runs AS (
      |  SELECT user_id, event_type, min(us) // 1000 AS valid_from_ms,
      |    count(*) AS n_in_state
      |  FROM r GROUP BY user_id, event_type, grp
      |)
      |SELECT user_id, event_type, valid_from_ms,
      |  lead(valid_from_ms) OVER w2 AS valid_to_ms,
      |  lead(valid_from_ms) OVER w2 IS NULL AS is_current,
      |  n_in_state
      |FROM runs
      |WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from_ms, event_type)
      |ORDER BY user_id, valid_from_ms, event_type""".stripMargin

  // ---------------------------------------------- q121 table fingerprint

  /** q121: ORDER-INDEPENDENT TABLE FINGERPRINT — the anti-entropy /
    * cross-system reconciliation primitive: each row canonicalizes to
    * a typed string (exact DECIMAL casts, epoch-ms timestamps —
    * engine-stable renderings), hashes to the md5-60-bit integer (the
    * [[graft.functions.RollingHash]] discipline: bit-identical to
    * DuckDB's `('0x' || substring(md5, 1, 15))::UBIGINT`), and the
    * fingerprint is the SUM — commutative, so partition order, file
    * order, and parallelism can never change it, and two systems
    * compare 3 rows instead of 3 tables. Sum carries as
    * DECIMAL(38,0): with 60-bit terms, overflow needs ~2^66 rows.
    *
    * The oracle recomputes the same fingerprints in DuckDB — a
    * cross-ENGINE reconciliation, which is exactly the operator's
    * production claim. */
  def q121TableChecksum(s: SparkSession, dir: String): DataFrame = {
    def fp(df: DataFrame, tbl: String, canon: Seq[Column]): DataFrame =
      df.select(concat_ws("|", canon: _*).as("r"))
        .select(conv(substring(md5(col("r")), 1, 15), 16, 10).cast("long").as("h"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h").cast(DecimalType(38, 0))).cast("string").as("checksum"))
        .select(lit(tbl).as("tbl"), col("n_rows"), col("checksum"))
    val cust = fp(Tables.read(s, dir, "customer"), "customer", Seq(
      col("c_custkey"), col("c_name"), col("c_nationkey"),
      dec(col("c_acctbal"), 18, 2), col("c_mktsegment")))
    val ord = fp(Tables.read(s, dir, "orders"), "orders", Seq(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      dec(col("o_totalprice"), 18, 2),
      unix_millis(col("o_orderdate").cast("timestamp")),
      col("o_orderpriority")))
    val part = fp(Tables.read(s, dir, "part"), "part", Seq(
      col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), dec(col("p_retailprice"), 18, 2)))
    cust.unionAll(ord).unionAll(part).orderBy("tbl")
  }

  val q121Sql: String = {
    def fp(tbl: String, canon: String): String =
      s"""SELECT '$tbl' AS tbl, count(*) AS n_rows,
         |  CAST(sum(CAST(CAST(('0x' || substring(md5($canon), 1, 15)) AS UBIGINT)
         |    AS HUGEINT)) AS VARCHAR) AS checksum
         |FROM $tbl""".stripMargin
    Seq(
      fp("customer", "concat_ws('|', c_custkey, c_name, c_nationkey, " +
        "CAST(c_acctbal AS DECIMAL(18,2)), c_mktsegment)"),
      fp("orders", "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(o_totalprice AS DECIMAL(18,2)), " +
        "epoch_ms(CAST(o_orderdate AS TIMESTAMP)), o_orderpriority)"),
      fp("part", "concat_ws('|', p_partkey, p_name, p_brand, p_type, " +
        "p_size, CAST(p_retailprice AS DECIMAL(18,2)))"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl")
  }

  // ------------------------------------------------- q122 A/B Welch test

  /** |z| threshold on the 6-dp-rounded statistic. */
  val AbZCrit = 1.96

  /** q122: A/B EXPERIMENT READOUT — Welch's two-sample z-test per
    * event type between two deterministic user buckets (user_id
    * parity — the hash-split stand-in): mean difference and
    * z = Δmean / √(s²ₐ/nₐ + s²ᵦ/nᵦ), significance at |z| ≥
    * [[AbZCrit]] on the ROUNDED statistic (engine-stable flag set —
    * the q112 discipline).
    *
    * Determinism: all moments come from EXACT sums — Σv as
    * DECIMAL(38,2), Σv² as DECIMAL(38,4) (v has 2-dp scale, so v² is
    * exact at 4 dp) — and the float math runs once per (type, bucket)
    * over identical integers with one expression shape. Scale: one
    * partial-agg'd shuffle on (event_type, bucket); the test math is
    * arithmetic on a |types|×2 table. */
  def q122AbTest(s: SparkSession, dir: String): DataFrame = {
    // widen to DECIMAL(28,2) BEFORE squaring: a 1e15 value squares to
    // 1e30 — inside an int128-backed decimal, but DuckDB's DECIMAL(18)
    // (int64 physical) overflows in the multiply itself, so both
    // dialects carry the same widened shape
    val g = Tables.events(s, dir)
      .select(col("event_type"), (col("user_id") % 2).as("b"),
        dec(col("value"), 18, 2).cast(DecimalType(28, 2)).as("v"))
      .groupBy("event_type", "b")
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("sc"),
        sum((col("v") * col("v")).cast(DecimalType(38, 4))).as("ss"))
    def side(i: Int, c: String) = when(col("b") === i, col(c)).otherwise(lit(null))
    val m = g.groupBy("event_type")
      .agg(max(side(0, "n")).as("n_a"), max(side(0, "sc")).as("sc_a"),
        max(side(0, "ss")).as("ss_a"),
        max(side(1, "n")).as("n_b"), max(side(1, "sc")).as("sc_b"),
        max(side(1, "ss")).as("ss_b"))
      // degenerate-experiment guard (the ANSI ÷0 crash class the
      // adversarial sweep hunts): a type with a missing or single-row
      // bucket has no variance — excluded in BOTH engines, not ÷0
      .filter(col("n_a") >= 2 && col("n_b") >= 2)
    def mean(sc: Column, n: Column) = sc.cast("double") / n
    def variance(ss: Column, sc: Column, n: Column) =
      (ss.cast("double") - sc.cast("double") * sc.cast("double") / n) / (n - 1)
    m.withColumn("se2",
        variance(col("ss_a"), col("sc_a"), col("n_a")) / col("n_a") +
          variance(col("ss_b"), col("sc_b"), col("n_b")) / col("n_b"))
      // zero pooled variance (both buckets constant) has no z — the
      // same exclusion, pinned in both engines
      .filter(col("se2") > 0)
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(mean(col("sc_a"), col("n_a")) - mean(col("sc_b"), col("n_b")), 6)
          .as("mean_diff"),
        round((mean(col("sc_a"), col("n_a")) - mean(col("sc_b"), col("n_b"))) /
          sqrt(col("se2")), 6).as("z"))
      .withColumn("significant", abs(col("z")) >= AbZCrit)
      .orderBy("event_type")
  }

  val q122Sql: String =
    s"""WITH g AS (
       |  SELECT event_type, user_id % 2 AS b, count(*) AS n,
       |    sum(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,2))) AS sc,
       |    sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,2))
       |        * CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,2))
       |        AS DECIMAL(38,4))) AS ss
       |  FROM events GROUP BY 1, 2
       |), m AS (
       |  SELECT event_type,
       |    max(CASE WHEN b = 0 THEN n END) AS n_a,
       |    max(CASE WHEN b = 0 THEN sc END) AS sc_a,
       |    max(CASE WHEN b = 0 THEN ss END) AS ss_a,
       |    max(CASE WHEN b = 1 THEN n END) AS n_b,
       |    max(CASE WHEN b = 1 THEN sc END) AS sc_b,
       |    max(CASE WHEN b = 1 THEN ss END) AS ss_b
       |  FROM g GROUP BY 1
       |), v AS (
       |  SELECT event_type, n_a, n_b, sc_a, sc_b,
       |    ((CAST(ss_a AS DOUBLE) - CAST(sc_a AS DOUBLE) * CAST(sc_a AS DOUBLE) / n_a) / (n_a - 1)) / n_a +
       |    ((CAST(ss_b AS DOUBLE) - CAST(sc_b AS DOUBLE) * CAST(sc_b AS DOUBLE) / n_b) / (n_b - 1)) / n_b
       |      AS se2
       |  FROM m WHERE n_a >= 2 AND n_b >= 2
       |), d AS (
       |  SELECT event_type, n_a, n_b,
       |    round(CAST(sc_a AS DOUBLE) / n_a - CAST(sc_b AS DOUBLE) / n_b, 6)
       |      AS mean_diff,
       |    round((CAST(sc_a AS DOUBLE) / n_a - CAST(sc_b AS DOUBLE) / n_b)
       |      / sqrt(se2), 6) AS z
       |  FROM v WHERE se2 > 0
       |)
       |SELECT event_type, n_a, n_b, mean_diff, z,
       |  abs(z) >= $AbZCrit AS significant
       |FROM d ORDER BY event_type""".stripMargin

  // -------------------------------------------- q123 interval concurrency

  /** q123: PEAK CONCURRENT SESSIONS — interval algebra's sweep-line:
    * sessionize (the q22 30-min gap rule), explode each session to a
    * (+1 at start, −1 past end) boundary pair, one running sum in
    * boundary order, and the peak with its first instant — the
    * capacity-planning question ("how many sessions were ever live at
    * once") that a per-point groupBy cannot answer.
    *
    * Determinism: the running sum's default frame is RANGE (peers
    * aggregate together), and the ORDER BY includes the delta, so
    * same-instant starts all land before same-instant ends and every
    * row's running value is tie-order independent. The sweep runs
    * over session BOUNDARIES (2 per session, collapsed from the
    * event volume by the sessionizer) in the classic TWO-PHASE form
    * (round 11 — previously a declared single-reducer gap): the
    * boundary set range-partitions on the sweep key and persists
    * (q56's packCache recipe — explicit partition count + persist pin
    * spark_partition_id between references), per-partition delta
    * totals become broadcast prefix offsets via a self-join over the
    * nPart-sized totals table, and each task's local RANGE-framed
    * running sum plus its offset equals the global sweep — equal
    * (t, delta) keys are co-located by the range partitioner, so
    * peer-aggregation semantics are preserved. The peak is a scalar
    * aggregate broadcast back, never a partitionBy(lit(1)) annotation
    * over the boundary stream. */
  private[graft] val sweepCache = graft.operators.PlanCache.persisted("sweep_bounds")

  def q123IntervalPeak(s: SparkSession, dir: String): DataFrame = {
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = sweepCache.get(s, s"$dir#$nPart",
        graft.sources.FsSig.of(s"$dir/events.parquet")) {
      val wAll = Window.partitionBy("user_id").orderBy("us", "event_id")
      val sess = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("pus", lag("us", 1).over(wAll))
        .withColumn("new_s",
          when(col("pus").isNull ||
            col("us") - col("pus") > graft.queries.Queries.SessionGapUs, 1L)
            .otherwise(0L))
        .withColumn("sid",
          sum("new_s").over(wAll.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min("us").as("s_us"), max("us").as("e_us"))
      sess.select(col("s_us").as("t"), lit(1L).as("delta"))
        .unionAll(sess.select((col("e_us") + 1).as("t"), lit(-1L).as("delta")))
        .repartitionByRange(nPart, col("t"), col("delta").desc)
        .withColumn("pid", spark_partition_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val totals = parted.groupBy("pid").agg(sum("delta").as("tot"))
    val offs = totals.as("a")
      .join(totals.as("b"), col("b.pid") < col("a.pid"), "left")
      .groupBy(col("a.pid").as("pid"))
      .agg(coalesce(sum(col("b.tot")), lit(0L)).as("off"))
    val localW = Window.partitionBy("pid").orderBy(col("t"), col("delta").desc)
    val starts = parted
      .withColumn("lrun", sum("delta").over(localW))
      .join(broadcast(offs), Seq("pid"))
      .withColumn("run", col("lrun") + col("off"))
      .filter(col("delta") === 1)
    val mx = starts.agg(max("run").as("mx"))
    starts.crossJoin(broadcast(mx))
      .filter(col("run") === col("mx"))
      .agg(max(col("run")).as("peak_concurrency"),
        expr("min(t) div 1000").as("peak_at_ms"))
      .crossJoin(parted.agg(
        count(when(col("delta") === 1, lit(1))).as("n_sessions")))
      .select("n_sessions", "peak_concurrency", "peak_at_ms")
  }

  val q123Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events
       |), x AS (
       |  SELECT user_id, event_id, us,
       |    CASE WHEN lag(us) OVER w IS NULL
       |           OR us - lag(us) OVER w > ${graft.queries.Queries.SessionGapUs}
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), sids AS (
       |  SELECT user_id, us,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM x
       |), sess AS (
       |  SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us
       |  FROM sids GROUP BY 1, 2
       |), bounds AS (
       |  SELECT s_us AS t, 1 AS delta FROM sess
       |  UNION ALL SELECT e_us + 1 AS t, -1 AS delta FROM sess
       |), sweep AS (
       |  SELECT t, delta,
       |    sum(delta) OVER (ORDER BY t, delta DESC) AS run
       |  FROM bounds
       |), starts AS (
       |  SELECT t, run, max(run) OVER () AS mx FROM sweep WHERE delta = 1
       |)
       |SELECT (SELECT count(*) FROM sess) AS n_sessions,
       |  CAST(max(mx) AS BIGINT) AS peak_concurrency,
       |  min(t) // 1000 AS peak_at_ms
       |FROM starts WHERE run = mx""".stripMargin

  // ------------------------------------------------ q124 JSON extraction

  /** q124: SEMI-STRUCTURED EXTRACTION — the schema-on-read path for
    * the event stream's JSON `props` column (the one untyped column
    * every telemetry pipeline carries): a TYPED `from_json` parse
    * (explicit schema — no sampling-based inference pass, which at
    * 100 TB is a full extra scan and a nondeterministic schema) and
    * the per-type profile of the extracted field: coverage, exact
    * sum, range, cardinality. Malformed/missing documents surface as
    * NULLs and are COUNTED (n minus n_with_k), not dropped — the
    * observability a pipeline needs to notice producer drift.
    *
    * Scale shape: parse + extract are per-row map work fused into
    * whole-stage codegen before the one (event_type) shuffle;
    * distinct-k partial-aggregates per group. */
  def q124JsonExtract(s: SparkSession, dir: String): DataFrame = {
    val kSchema = StructType(Seq(StructField("k", LongType)))
    Tables.events(s, dir)
      .select(col("event_type"),
        from_json(col("props"), kSchema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("distinct_k"))
      .orderBy("event_type")
  }

  val q124Sql: String =
    """SELECT event_type, count(*) AS n,
      |  count(CAST(props->>'k' AS BIGINT)) AS n_with_k,
      |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  min(CAST(props->>'k' AS BIGINT)) AS min_k,
      |  max(CAST(props->>'k' AS BIGINT)) AS max_k,
      |  CAST(count(DISTINCT CAST(props->>'k' AS BIGINT)) AS BIGINT) AS distinct_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------- q126 ROC-AUC

  /** Memoized range-partitioned distinct-score table for q126 (the
    * q123 sweepCache recipe: explicit partition count + persist pin
    * spark_partition_id between the totals and window references —
    * the range partitioner samples, so two evaluations could
    * otherwise disagree on boundaries and corrupt the offsets). */
  private[graft] val aucCache = graft.operators.PlanCache.persisted("auc_groups")

  /** q126: ROC-AUC via the tie-corrected rank-sum identity — the
    * score-quality read ("does `value` separate purchases from the
    * rest") every ranking/filter model eval needs, computed EXACTLY:
    * AUC = (R₊ − n₊(n₊+1)/2) / (n₊ n₋) with R₊ the average-rank sum
    * of positives. The whole computation is integer until one final
    * division: the stream collapses to DISTINCT SCORE groups
    * (c, pos_c, cumulative count below), and 2R₊ = Σ pos_c·(2·below
    * + c + 1) — tie groups contribute their exact average rank with
    * no fractional intermediate. No pairwise comparison (the naive
    * AUC is n₊·n₋ pairs), no sort of the raw stream beyond the
    * per-score collapse.
    *
    * Scale shape: one partial-agg'd shuffle to score groups (bounded
    * by score cardinality), then the global `below` prefix sum in the
    * classic TWO-PHASE form (round-11 verdict #5 — previously ONE
    * GLOBAL window over the group table, the last undocumented
    * global-order sort in the suite): the group table range-partitions
    * on score and persists, per-partition count totals become
    * broadcast prefix offsets via a self-join over the nPart-sized
    * totals table, and each task's local strictly-before running sum
    * plus its partition offset equals the global cumulative — equal
    * scores are co-located by the range partitioner, so the tie
    * semantics are unchanged. Arithmetic on exact BIGINTs, rounded
    * 6 dp at the end. */
  def q126RocAuc(s: SparkSession, dir: String): DataFrame = {
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val g = aucCache.get(s, s"$dir#$nPart",
        graft.sources.FsSig.of(s"$dir/events.parquet")) {
      Tables.events(s, dir)
        .select(col("value"), (col("event_type") === "purchase").cast("long").as("y"))
        .groupBy("value").agg(count(lit(1)).as("c"), sum("y").as("pc"))
        .repartitionByRange(nPart, col("value"))
        .withColumn("pid", spark_partition_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val totals = g.groupBy("pid").agg(sum("c").as("tot"))
    val offs = totals.as("a")
      .join(totals.as("b"), col("b.pid") < col("a.pid"), "left")
      .groupBy(col("a.pid").as("pid"))
      .agg(coalesce(sum(col("b.tot")), lit(0L)).as("off"))
    val localW = Window.partitionBy("pid").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, -1)
    val r2 = g
      .withColumn("lbelow", coalesce(sum("c").over(localW), lit(0L)))
      .join(broadcast(offs), Seq("pid"))
      .withColumn("below", col("lbelow") + col("off"))
      .agg(sum(col("pc") * (lit(2) * col("below") + col("c") + 1)).as("r2"),
        sum("pc").as("np"), sum(col("c") - col("pc")).as("nn"))
    // one-class guard (ANSI ÷0): with no positives or no negatives
    // the AUC is undefined — NULL in both engines, never an error
    r2.select(col("np").as("n_pos"), col("nn").as("n_neg"),
        when(col("np") > 0 && col("nn") > 0,
          round((col("r2").cast("double") / 2 -
            col("np").cast("double") * (col("np") + 1) / 2) /
            (col("np").cast("double") * col("nn")), 6)).as("auc"))
  }

  val q126Sql: String =
    """WITH g AS (
      |  SELECT value, count(*) AS c,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pc
      |  FROM events GROUP BY value
      |), cum AS (
      |  SELECT c, pc,
      |    coalesce(sum(c) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM g
      |), t AS (
      |  SELECT sum(pc * (2 * below + c + 1)) AS r2, sum(pc) AS np,
      |    sum(c - pc) AS nn
      |  FROM cum
      |)
      |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
      |  CASE WHEN np > 0 AND nn > 0 THEN
      |    round((CAST(r2 AS DOUBLE) / 2 - CAST(np AS DOUBLE) * (np + 1) / 2)
      |      / (CAST(np AS DOUBLE) * nn), 6) END AS auc
      |FROM t""".stripMargin

  // --------------------------------------------------------- q127 KS drift

  /** KS critical coefficient at α = 0.05 (two-sample). */
  val KsAlpha = 1.358

  /** q127: TWO-SAMPLE KOLMOGOROV-SMIRNOV DRIFT TEST — the
    * nonparametric "did the value distribution drift between
    * populations" check (the distribution-shift monitor every feature
    * pipeline runs; q122 compares means, this compares whole CDFs):
    * per event type, D = max |F_a − F_b| over the two user buckets,
    * with the α=0.05 rejection threshold c·√((n_a+n_b)/(n_a·n_b)).
    *
    * Exactness: the stream collapses to DISTINCT (type, value) groups
    * with integer per-bucket counts; the CDFs are cumulative integer
    * sums divided once — identical doubles in both engines — and D,
    * the threshold, and the flag derive from them with one shape,
    * rounded 6 dp. Scale: one partial-agg'd shuffle to the
    * distinct-value groups, one per-type window over those groups
    * (bounded by value cardinality per type). */
  def q127KsDrift(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .select(col("event_type"), col("value"), (col("user_id") % 2).as("b"))
      .groupBy("event_type", "value")
      .agg(sum(when(col("b") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("b") === 1, 1L).otherwise(0L)).as("cb"))
    val wt = Window.partitionBy("event_type")
    val wc = wt.orderBy("value").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = g
      .withColumn("na", sum("ca").over(wt))
      .withColumn("nb", sum("cb").over(wt))
      .withColumn("fa", sum("ca").over(wc).cast("double") / col("na"))
      .withColumn("fb", sum("cb").over(wc).cast("double") / col("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
      .groupBy("event_type")
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        round(max(abs(col("fa") - col("fb"))), 6).as("ks_d"))
      .withColumn("threshold",
        round(lit(KsAlpha) * sqrt((col("n_a") + col("n_b")).cast("double") /
          (col("n_a").cast("double") * col("n_b"))), 6))
    d.withColumn("drifted", col("ks_d") >= col("threshold"))
      .orderBy("event_type")
  }

  val q127Sql: String =
    s"""WITH g AS (
       |  SELECT event_type, value,
       |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
       |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
       |  FROM events GROUP BY 1, 2
       |), c AS (
       |  SELECT event_type, ca, cb,
       |    sum(ca) OVER (PARTITION BY event_type) AS na,
       |    sum(cb) OVER (PARTITION BY event_type) AS nb,
       |    sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b
       |  FROM g
       |  WINDOW w AS (PARTITION BY event_type ORDER BY value
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), d AS (
       |  SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
       |    round(max(abs(CAST(cum_a AS DOUBLE) / na
       |      - CAST(cum_b AS DOUBLE) / nb)), 6) AS ks_d
       |  FROM c WHERE na > 0 AND nb > 0
       |  GROUP BY event_type
       |), t AS (
       |  SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
       |    CAST(n_b AS BIGINT) AS n_b, ks_d,
       |    round($KsAlpha * sqrt(CAST(n_a + n_b AS DOUBLE)
       |      / (CAST(n_a AS DOUBLE) * n_b)), 6) AS threshold
       |  FROM d
       |)
       |SELECT event_type, n_a, n_b, ks_d, threshold,
       |  ks_d >= threshold AS drifted
       |FROM t ORDER BY event_type""".stripMargin

  // ------------------------------------------- q128 mutual information

  /** q128: MUTUAL INFORMATION between event type and hour-of-day —
    * the dependency detector ("is behavior time-structured") on the
    * categorical pair, plus the normalized variant MI/min(H_x, H_y):
    * MI = Σ p_xy·ln(p_xy/(p_x·p_y)) over the |types|×24 contingency
    * table.
    *
    * Float-determinism discipline (q64/q110): every per-cell term
    * rounds to 10 dp and sums through DECIMAL(28,10) — double-sum
    * ordering can never flip the result; marginals and N are exact
    * integers broadcast from window sums. Scale: the stream collapses
    * to the contingency table at the first partial agg; everything
    * after is |table|-sized. */
  def q128MutualInfo(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(col("event_type").as("x"), hour(col("ts")).as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c"))
    val wAll = Window.partitionBy(lit(1))
    val term = (p: Column) => dec(round(p, 10), 28, 10)
    val base = cells
      .withColumn("n", sum("c").over(wAll))
      .withColumn("cx", sum("c").over(Window.partitionBy("x")))
      .withColumn("cy", sum("c").over(Window.partitionBy("y")))
    val pxy = col("c").cast("double") / col("n")
    val mi = base.agg(
        max("n").as("n"),
        sum(term(pxy * log(pxy / (col("cx").cast("double") / col("n")) /
          (col("cy").cast("double") / col("n"))))).as("mi10"),
        countDistinct("x").as("nx"), countDistinct("y").as("ny"))
    val hx = Tables.events(s, dir).groupBy(col("event_type").as("x")).agg(count(lit(1)).as("cx"))
      .withColumn("n", sum("cx").over(wAll))
      .agg(sum(term(negate(col("cx").cast("double") / col("n") *
        log(col("cx").cast("double") / col("n"))))).as("hx10"))
    val hy = Tables.events(s, dir).groupBy(hour(col("ts")).as("y")).agg(count(lit(1)).as("cy"))
      .withColumn("n", sum("cy").over(wAll))
      .agg(sum(term(negate(col("cy").cast("double") / col("n") *
        log(col("cy").cast("double") / col("n"))))).as("hy10"))
    // degenerate guard: a single-category margin has zero entropy —
    // NMI undefined (NULL in both engines), never ANSI ÷0
    mi.crossJoin(hx).crossJoin(hy)
      .select(col("n"), col("nx"), col("ny"),
        round(col("mi10").cast("double"), 6).as("mi"),
        when(least(col("hx10"), col("hy10")) > 0,
          round(col("mi10").cast("double") /
            least(col("hx10"), col("hy10")).cast("double"), 6)).as("nmi"))
  }

  val q128Sql: String =
    """WITH e AS (
      |  SELECT event_type AS x, hour(CAST(ts AS TIMESTAMP)) AS y FROM events
      |), cells AS (
      |  SELECT x, y, count(*) AS c FROM e GROUP BY 1, 2
      |), b AS (
      |  SELECT x, y, c,
      |    sum(c) OVER () AS n,
      |    sum(c) OVER (PARTITION BY x) AS cx,
      |    sum(c) OVER (PARTITION BY y) AS cy
      |  FROM cells
      |), mi AS (
      |  SELECT max(n) AS n,
      |    sum(CAST(round(CAST(c AS DOUBLE) / n * ln((CAST(c AS DOUBLE) / n)
      |      / (CAST(cx AS DOUBLE) / n) / (CAST(cy AS DOUBLE) / n)), 10)
      |      AS DECIMAL(28,10))) AS mi10,
      |    count(DISTINCT x) AS nx, count(DISTINCT y) AS ny
      |  FROM b
      |), hx AS (
      |  SELECT sum(CAST(round(-(CAST(cx AS DOUBLE) / n)
      |      * ln(CAST(cx AS DOUBLE) / n), 10) AS DECIMAL(28,10))) AS hx10
      |  FROM (SELECT cx, sum(cx) OVER () AS n
      |        FROM (SELECT x, count(*) AS cx FROM e GROUP BY x))
      |), hy AS (
      |  SELECT sum(CAST(round(-(CAST(cy AS DOUBLE) / n)
      |      * ln(CAST(cy AS DOUBLE) / n), 10) AS DECIMAL(28,10))) AS hy10
      |  FROM (SELECT cy, sum(cy) OVER () AS n
      |        FROM (SELECT y, count(*) AS cy FROM e GROUP BY y))
      |)
      |SELECT CAST(n AS BIGINT) AS n, CAST(nx AS BIGINT) AS nx,
      |  CAST(ny AS BIGINT) AS ny,
      |  round(CAST(mi10 AS DOUBLE), 6) AS mi,
      |  CASE WHEN least(hx10, hy10) > 0 THEN
      |    round(CAST(mi10 AS DOUBLE) / CAST(least(hx10, hy10) AS DOUBLE), 6)
      |  END AS nmi
      |FROM mi, hx, hy""".stripMargin

  // ------------------------------------------------- q129 per-user trend

  /** Minimum observations before a per-user slope is meaningful. */
  val TrendMinDays = 3

  /** q129: PER-ENTITY TREND — ordinary-least-squares slope of each
    * user's daily activity over time (the churn-risk / growth read:
    * "whose engagement is declining"), embarrassingly parallel per
    * user: slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) with x = day
    * index from the user's first day (small integers) and y = the
    * daily event count — ALL FOUR SUMS EXACT INTEGERS, one division
    * at the end, rounded 6 dp (the q112 discipline: no streaming-
    * covariance implementation dependence). Users with fewer than
    * [[TrendMinDays]] observed days or a degenerate x-spread are
    * excluded, not divided by zero.
    *
    * Scale shape: (user, day) partial agg collapses the stream, one
    * user-keyed aggregation computes the moments — no window, no
    * sort, two shuffles total, both on user_id. */
  def q129UserTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x",
        datediff(col("day"), min(col("day")).over(Window.partitionBy("user_id")))
          .cast("long"))
    val m = daily.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .filter(col("n") >= TrendMinDays)
      .withColumn("det", col("n") * col("sxx") - col("sx") * col("sx"))
      .filter(col("det") > 0)
    m.select(col("user_id"), col("n").as("n_days"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          col("det"), 6).as("slope"))
      .withColumn("declining", col("slope") < 0)
      .orderBy("user_id")
  }

  val q129Sql: String =
    s"""WITH daily AS (
       |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |    count(*) AS y
       |  FROM events GROUP BY 1, 2
       |), x AS (
       |  SELECT user_id, y,
       |    date_diff('day', min(day) OVER (PARTITION BY user_id), day) AS x
       |  FROM daily
       |), m AS (
       |  SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * x) AS sxx, sum(x * y) AS sxy
       |  FROM x GROUP BY 1
       |), d AS (
       |  SELECT user_id, n, sx, sy, sxy, n * sxx - sx * sx AS det
       |  FROM m WHERE n >= $TrendMinDays
       |)
       |SELECT user_id, CAST(n AS BIGINT) AS n_days,
       |  round(CAST(n * sxy - sx * sy AS DOUBLE) / det, 6) AS slope,
       |  round(CAST(n * sxy - sx * sy AS DOUBLE) / det, 6) < 0 AS declining
       |FROM d WHERE det > 0 ORDER BY user_id""".stripMargin

  // ----------------------------------------------- q130 CUSUM changepoint

  /** Minimum observed hours before a changepoint call. */
  val CusumMinHours = 6

  /** q130: CUSUM CHANGEPOINT DETECTION — for each user's hourly
    * event-count series, the split instant maximizing the cumulative
    * deviation from the mean (the classic offline CUSUM argmax: where
    * did the level shift). INTEGER-EXACT by clearing denominators:
    * the cusum at prefix i is Σᵢ(c − mean) = prefix_i − i·(S/n),
    * scaled by n to ncusum = n·prefix_i − i·S — exact BIGINTs, so
    * the argmax (ties → earliest hour) is bit-deterministic in both
    * engines; the reported strength |ncusum|/(n·S) normalizes once,
    * rounded 6 dp.
    *
    * Scale shape: (user, hour) partial agg, one user-partitioned
    * window pass for prefixes, one rank window for the argmax —
    * users independent. */
  def q130Changepoint(s: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy("user_id")
    val wOrd = wU.orderBy("hour")
    val wPre = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hourly = Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("c"))
    val pre = hourly
      .withColumn("n", count(lit(1)).over(wU))
      .withColumn("s", sum("c").over(wU))
      .filter(col("n") >= CusumMinHours)
      .withColumn("i", row_number().over(wOrd))
      .withColumn("prefix", sum("c").over(wPre))
      // the last prefix is the total (cusum 0 by construction) — the
      // candidate split points are the proper prefixes
      .filter(col("i") < col("n"))
      .withColumn("ncusum", col("n") * col("prefix") - col("i") * col("s"))
    val wPick = wU.orderBy(abs(col("ncusum")).desc, col("hour").asc)
    pre.withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .select(col("user_id"), unix_millis(col("hour")).as("cp_hour_ms"),
        col("n").as("n_hours"),
        round(abs(col("ncusum")).cast("double") /
          (col("n").cast("double") * col("s")), 6).as("strength"))
      .orderBy("user_id")
  }

  val q130Sql: String =
    s"""WITH hourly AS (
       |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       |    count(*) AS c
       |  FROM events GROUP BY 1, 2
       |), pre AS (
       |  SELECT user_id, hour, c,
       |    count(*) OVER (PARTITION BY user_id) AS n,
       |    sum(c) OVER (PARTITION BY user_id) AS s,
       |    row_number() OVER (PARTITION BY user_id ORDER BY hour) AS i,
       |    sum(c) OVER (PARTITION BY user_id ORDER BY hour
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
       |  FROM hourly
       |), nc AS (
       |  SELECT user_id, hour, n, s,
       |    n * prefix - i * s AS ncusum
       |  FROM pre WHERE n >= $CusumMinHours AND i < n
       |), pick AS (
       |  SELECT user_id, hour, n, s, ncusum,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY abs(ncusum) DESC, hour ASC) AS rn
       |  FROM nc
       |)
       |SELECT user_id, epoch_ms(hour) AS cp_hour_ms, CAST(n AS BIGINT) AS n_hours,
       |  round(CAST(abs(ncusum) AS DOUBLE) / (CAST(n AS DOUBLE) * s), 6)
       |    AS strength
       |FROM pick WHERE rn = 1 ORDER BY user_id""".stripMargin

  // --------------------------------------------- q131 rollup cascade (MV)

  /** q131: MULTI-GRAIN ROLLUP CASCADE — weekly and monthly rollups
    * computed FROM THE DAILY AGGREGATE, never from raw events (the
    * materialized-view hierarchy every warehouse maintains: the raw
    * stream aggregates once, coarser grains re-aggregate the finer
    * MV). Only re-aggregable measures cascade — counts, DECIMAL
    * sums, min/max, day-counts; distinct-counts deliberately do NOT
    * (that is q119's sketch-merge job). The oracle computes both
    * grains DIRECTLY from raw events, so the hash match IS the
    * re-aggregation identity proof (sum-of-sums = sum).
    *
    * Scale shape: raw volume is touched exactly once (the daily
    * partial agg); each coarser grain aggregates the previous MV —
    * horizon-bounded rows, trivial at any SF. */
  def q131RollupCascade(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"), 18, 2)).as("v"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
    def up(grain: String): DataFrame = daily
      .groupBy(date_trunc(grain, col("day")).as("period"))
      .agg(sum("n").as("n_events"), count(lit(1)).as("n_days"),
        sum("v").cast("double").as("v"), min("mn").as("min_v"), max("mx").as("max_v"))
      .select(lit(grain).as("grain"), unix_millis(col("period")).as("period_ms"),
        col("n_events"), col("n_days"), col("v"), col("min_v"), col("max_v"))
    up("week").unionAll(up("month")).orderBy("grain", "period_ms")
  }

  val q131Sql: String = {
    def direct(grain: String): String =
      s"""SELECT '$grain' AS grain,
         |  epoch_ms(date_trunc('$grain', CAST(ts AS TIMESTAMP))) AS period_ms,
         |  count(*) AS n_events,
         |  CAST(count(DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)
         |    AS n_days,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v,
         |  min(value) AS min_v, max(value) AS max_v
         |FROM events GROUP BY 2""".stripMargin
    s"""${direct("week")}
       |UNION ALL
       |${direct("month")}
       |ORDER BY grain, period_ms""".stripMargin
  }

  // ------------------------------------------- q132 point-in-time join

  /** Probe lag: the state is read AS OF one hour BEFORE each event. */
  val PitLagUs: Long = 3600000000L

  /** q132: POINT-IN-TIME FEATURE JOIN — each event looks up the
    * user's q120 SCD2 state AS OF one hour BEFORE the event (the
    * feature-store discipline: a training example may only see
    * features that existed strictly before its label time, or the
    * model trains on leakage). Implemented with the scalable AS-OF
    * idiom (q18): state-change points and lagged probes union into
    * ONE user-partitioned timeline, `last(ignoreNulls)` carries the
    * in-effect state to each probe — no range-join row explosion,
    * one shuffle. Probes before the user's first state (the first
    * hour) surface as 'none', counted not dropped. The oracle is
    * DuckDB's native ASOF LEFT JOIN against the same interval table
    * — two entirely different formulations, one hash.
    *
    * Ties: a state change AT the probe instant is visible (ASOF's
    * >= bound) — pinned by sorting changes before probes at equal
    * timestamps, matching ASOF exactly. */
  def q132PitJoin(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wType = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    // state-change points: first event of each q120 run (same
    // islands), then AT MOST ONE change per (user, instant) — tied
    // events of different types would otherwise make both the carry
    // and DuckDB's ASOF pick arbitrarily; max(state) is the pinned
    // deterministic rule in both engines
    val changes = e
      .withColumn("grp", row_number().over(wAll) - row_number().over(wType))
      .groupBy("user_id", "event_type", "grp")
      .agg(min("us").as("t"))
      .groupBy("user_id", "t").agg(max("event_type").as("state"))
      .select(col("user_id"), col("t"), col("state"),
        lit(0).as("is_probe"), lit(0L).as("probe_type_id"))
    val probes = e.select(col("user_id"), (col("us") - PitLagUs).as("t"),
      lit(null).cast("string").as("state"), lit(1).as("is_probe"),
      col("event_id").as("probe_type_id"))
    val wTime = Window.partitionBy("user_id")
      .orderBy(col("t"), col("is_probe"), col("probe_type_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = changes.unionAll(probes)
      .withColumn("st", last(col("state"), ignoreNulls = true).over(wTime))
      .filter(col("is_probe") === 1)
      .select(col("user_id"), col("probe_type_id").as("event_id"),
        coalesce(col("st"), lit("none")).as("state_1h_ago"))
    e.join(carried, Seq("user_id", "event_id"))
      .groupBy(col("state_1h_ago"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("state_1h_ago", "event_type")
  }

  val q132Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, event_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events
       |), r AS (
       |  SELECT user_id, event_type, us,
       |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
       |      - row_number() OVER (PARTITION BY user_id, event_type
       |                           ORDER BY us, event_id) AS grp
       |  FROM e
       |), runs0 AS (
       |  SELECT user_id, event_type AS state, min(us) AS t
       |  FROM r GROUP BY user_id, event_type, grp
       |), runs AS (
       |  SELECT user_id, t, max(state) AS state FROM runs0 GROUP BY 1, 2
       |), probes AS (
       |  SELECT user_id, event_id, event_type, us - $PitLagUs AS pt FROM e
       |), pit AS (
       |  SELECT p.event_type, coalesce(runs.state, 'none') AS state_1h_ago
       |  FROM probes p ASOF LEFT JOIN runs
       |    ON p.user_id = runs.user_id AND runs.t <= p.pt
       |)
       |SELECT state_1h_ago, event_type, count(*) AS n
       |FROM pit GROUP BY 1, 2 ORDER BY state_1h_ago, event_type""".stripMargin

  // ------------------------------------------- q133 recursive hierarchy

  /** Recursion depth guard (Spark's cteRecursionLevelLimit is 100;
    * the walk provably terminates — ancestors strictly decrease —
    * so this is a belt, identical in both dialects). */
  val HierMaxDepth = 50

  /** q133: RECURSIVE HIERARCHY CLOSURE — Spark 4's `WITH RECURSIVE`
    * (the SQL-surface feature closing the hierarchical-query gap):
    * the co-occurrence graph collapses to a FOREST (each user's
    * parent = its smallest-id co-occurring neighbor below it; roots
    * have none), and the recursive CTE walks every user to its root
    * with the hop depth — org-chart / referral-chain / category-tree
    * closure, the query shape iterative DataFrame loops (q75's
    * unrolled PageRank) cannot express in one statement.
    *
    * Recursion discipline: Spark's recursive CTEs are UNION ALL-only
    * (no dedup step), so the walk must be over a structure with
    * UNIQUE paths — the parent FUNCTION guarantees row count
    * Σ depth(u), never the path explosion a general graph's closure
    * would produce (the q116 lesson applied to recursion). Parents
    * strictly decrease, so termination is structural; both dialects
    * carry the same depth guard. Scale: the recursion joins a
    * |nodes|-sized relation per level — the fixed-point shape
    * Catalyst executes as iterated joins. */
  def q133Hierarchy(s: SparkSession, dir: String): DataFrame = {
    // the hierarchy's parent relation derives from the SAME affinity
    // edge set as the rest of the graph family (the inline rebuild
    // carried an unused weight column and re-ran the 345 k-row pair
    // join per pass) — read the [[edgeCache]] artifact instead
    val e0 = cooccurEdges(s, dir)
    // localCheckpoint BEFORE recursing (the q75 iterated-plan rule):
    // each recursion level re-executes the anchor's lineage, and the
    // parent table's lineage is the full co-occurrence pair join —
    // without the cut, every level pays the graph build again
    // (measured: 8.1 s → 2.6 s at sf0.1)
    val parents = e0.groupBy(col("y").as("user_id")).agg(min("x").as("parent"))
      .localCheckpoint()
    val nodes = e0.select(col("x").as("user_id"))
      .unionAll(e0.select(col("y").as("user_id"))).distinct()
    val walked = ScopedSql.run(s, dir,
      s"""WITH RECURSIVE up(node, anc, d) AS (
         |  SELECT user_id, parent, 1 FROM graft_parents
         |  UNION ALL
         |  SELECT up.node, p.parent, up.d + 1
         |  FROM up JOIN graft_parents p ON p.user_id = up.anc
         |  WHERE up.d < $HierMaxDepth
         |)
         |SELECT node AS user_id, anc AS root, d AS depth
         |FROM (SELECT node, anc, d,
         |        row_number() OVER (PARTITION BY node ORDER BY d DESC) AS rn
         |      FROM up)
         |WHERE rn = 1""".stripMargin,
      "graft_parents" -> parents)
    val roots = nodes.join(parents, Seq("user_id"), "left_anti")
      .select(col("user_id"), col("user_id").as("root"), lit(0L).as("depth"))
    walked.select(col("user_id"), col("root"), col("depth").cast("long").as("depth"))
      .unionAll(roots)
      .orderBy("user_id")
  }

  val q133Sql: String =
    s"""WITH RECURSIVE g AS (
       |  SELECT DISTINCT event_type AS et,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // $TriBucketUs AS b, user_id AS u
       |  FROM events
       |), w AS (
       |  SELECT a.u AS x, b.u AS y, count(*) AS c
       |  FROM g a JOIN g b ON a.et = b.et AND a.b = b.b AND a.u < b.u
       |  GROUP BY 1, 2
       |), e0 AS (
       |  SELECT x, y FROM w WHERE c >= $TriMinCoocc
       |), parents AS (
       |  SELECT y AS user_id, min(x) AS parent FROM e0 GROUP BY y
       |), nodes AS (
       |  SELECT DISTINCT user_id FROM (
       |    SELECT x AS user_id FROM e0 UNION ALL SELECT y FROM e0)
       |), up(node, anc, d) AS (
       |  SELECT user_id, parent, 1 FROM parents
       |  UNION ALL
       |  SELECT up.node, p.parent, up.d + 1
       |  FROM up JOIN parents p ON p.user_id = up.anc
       |  WHERE up.d < $HierMaxDepth
       |), walked AS (
       |  SELECT node AS user_id, anc AS root, d AS depth
       |  FROM (SELECT node, anc, d,
       |          row_number() OVER (PARTITION BY node ORDER BY d DESC) AS rn
       |        FROM up)
       |  WHERE rn = 1
       |)
       |SELECT user_id, root, CAST(depth AS BIGINT) AS depth FROM walked
       |UNION ALL
       |SELECT n.user_id, n.user_id AS root, 0 AS depth
       |FROM nodes n LEFT JOIN parents p ON n.user_id = p.user_id
       |WHERE p.user_id IS NULL
       |ORDER BY user_id""".stripMargin

  // --------------------------------------------- q134 lateral top-k join

  /** q134: LATERAL TOP-K JOIN — the correlated-subquery SQL surface
    * (`, LATERAL (... ORDER BY ... LIMIT k)`): each customer's two
    * largest orders through Spark's lateral-join support, the
    * "top-N per row" idiom SQL users reach for before learning
    * window functions. Ties break on o_orderkey in both engines;
    * customers with no orders drop (inner lateral — the same
    * semantics both dialects give the comma form).
    *
    * Scale note: Catalyst rewrites the correlated LIMIT into a
    * window-rank under the hood (DomainJoin → rank) — this entry
    * certifies the SQL-layer path; q12/q55's explicit rank windows
    * remain the engine-native idiom. */
  def q134LateralTopk(s: SparkSession, dir: String): DataFrame =
    ScopedSql.run(s, dir,
      """SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        |FROM graft_l_cust c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM graft_l_ord o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
      "graft_l_cust" -> Tables.read(s, dir, "customer"),
      "graft_l_ord" -> Tables.read(s, dir, "orders"))

  val q134Sql: String =
    """SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
      |         WHERE o.o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  // --------------------------------------------- q135 column profiler

  /** Sketch accuracy for the q135 profiler: HLL++ rsd (the q52
    * rationale — at 1% rsd the pinned 5% bound is a ~5σ regression
    * detector, not a flaky ~1σ claim), the certification bound, and
    * the row-count gate below which the EXACT distinct twin is
    * computed alongside the sketch (orders ≈ 15k rows at the sf0.01
    * correctness gate, ≈ 150k at the sf0.1 bench — the twin runs at
    * the gate only). */
  val ProfileRsd = 0.01
  val ProfileBound = 0.05
  val ProfileExactMaxRows = 50000L

  /** Memoized orders row count per (session, dir) for the q135 gate
    * probe — fixture-signature guarded like every other memo (a
    * regenerated fixture invalidates instead of serving a stale count
    * into the plan choice). */
  private val ordersCount = new graft.operators.PlanCache[Long]("orders_count")()

  private def nOrders(s: SparkSession, dir: String): Long = {
    val p = s"$dir/orders.parquet"
    ordersCount.get(s, p, graft.sources.FsSig.of(p))(Tables.read(s, dir, "orders").count())
  }

  /** q135: COLUMN PROFILER — the schema-agnostic data-quality
    * profile (the Deequ/profiling staple every ingestion pipeline
    * runs before trusting a feed): for every column of `orders`,
    * null count, distinct cardinality, and min/max rendered
    * through ONE canonical string form (numbers via exact DECIMAL,
    * timestamps via epoch ms — engine-stable renderings, the q121
    * canon). One pass per profiled relation: the unpivot explodes
    * each row into (column, value) pairs map-side, a single
    * (column)-keyed aggregation computes every statistic.
    *
    * DISTINCT RIDES A SKETCH (round-11 verdict #1): a profiler is a
    * SCREEN, and exact `countDistinct` after the unpivot shuffles
    * ~one row per table row per unique-keyed column (nothing
    * collapses map-side for `o_orderkey`) — a table-sized shuffle ×
    * #key-like columns at 100 TB. The shipped plan aggregates
    * `approx_count_distinct` (HLL++, fixed-size mergeable state,
    * map-side partials, NO value shuffle). The q52/q119 gate-SF-twin
    * discipline certifies it: at/below [[ProfileExactMaxRows]] the
    * exact distinct is computed alongside, `n_distinct` ships the
    * exact value, and `within_bounds` pins |sketch − exact| ≤
    * max(1, [[ProfileBound]]·exact) — the DuckDB oracle recomputes
    * the exact side and pins the boolean true, so a sketch
    * regression (seed drift, broken merge) fails the hash. Above the
    * gate, `n_distinct` ships the sketch estimate and
    * `within_bounds` pins the free sanity invariants (estimate ≤
    * (1+5·rsd)·(n − n_null); ≥ 1 when any non-null exists; ≥ 2 when
    * min ≠ max); the sketch-vs-exact bound at sf0.1 is pinned by the
    * spec, not the query.
    *
    * Scale shape: the explode multiplies rows by column count but
    * carries two narrow fields; the HLL partials collapse map-side
    * to ≤ #columns sketch buffers per task. At 100 TB the same plan
    * profiles any table — nothing here names a column in the
    * aggregation. */
  def q135Profile(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(s, dir, "orders")
    val canon: Seq[(String, Column)] = Seq(
      "o_orderkey" -> col("o_orderkey").cast("string"),
      "o_custkey" -> col("o_custkey").cast("string"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_totalprice" -> dec(col("o_totalprice"), 18, 2).cast("string"),
      "o_orderdate" -> unix_millis(col("o_orderdate").cast("timestamp")).cast("string"),
      "o_orderpriority" -> col("o_orderpriority"))
    val pairs = o.select(explode(map(
      canon.flatMap { case (n, c) => Seq(lit(n), c) }: _*)).as(Seq("col_name", "v")))
    if (nOrders(s, dir) <= ProfileExactMaxRows) {
      // gate scale: sketch + exact twin in one aggregation; the oracle
      // checks the exact value and the pinned bound boolean
      pairs.groupBy("col_name")
        .agg(count(lit(1)).as("n"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col("v")).as("n_distinct"),
          approx_count_distinct(col("v"), ProfileRsd).as("n_est"),
          min("v").as("min_v"), max("v").as("max_v"))
        .select(col("col_name"), col("n"), col("n_null"), col("n_distinct"),
          col("min_v"), col("max_v"),
          (abs(col("n_est") - col("n_distinct")).cast("double") <=
            greatest(lit(1.0), lit(ProfileBound) * col("n_distinct")))
            .as("within_bounds"))
        .orderBy("col_name")
    } else {
      // production scale: sketch only — no per-value shuffle anywhere;
      // within_bounds certifies the invariants computable for free
      pairs.groupBy("col_name")
        .agg(count(lit(1)).as("n"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
          approx_count_distinct(col("v"), ProfileRsd).as("n_distinct"),
          min("v").as("min_v"), max("v").as("max_v"))
        .select(col("col_name"), col("n"), col("n_null"), col("n_distinct"),
          col("min_v"), col("max_v"),
          ((col("n_distinct") <= (lit(1.0) + lit(5 * ProfileRsd)) *
              (col("n") - col("n_null"))) &&
            (col("n_distinct") >= when(col("n") > col("n_null"), 1L).otherwise(0L)) &&
            (col("n_distinct") >= when(col("min_v") =!= col("max_v"), 2L).otherwise(0L)))
            .as("within_bounds"))
        .orderBy("col_name")
    }
  }

  val q135Sql: String =
    """WITH pairs AS (
      |  SELECT u.col_name, u.v FROM orders, LATERAL (VALUES
      |    ('o_orderkey', CAST(o_orderkey AS VARCHAR)),
      |    ('o_custkey', CAST(o_custkey AS VARCHAR)),
      |    ('o_orderstatus', o_orderstatus),
      |    ('o_totalprice', CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)),
      |    ('o_orderdate', CAST(epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS VARCHAR)),
      |    ('o_orderpriority', o_orderpriority)
      |  ) AS u(col_name, v)
      |)
      |SELECT col_name, count(*) AS n,
      |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
      |  min(v) AS min_v, max(v) AS max_v,
      |  true AS within_bounds
      |FROM pairs GROUP BY col_name ORDER BY col_name""".stripMargin

  // ----------------------------------------------- q136 Benford audit

  /** Benford first-digit probabilities as SHARED LITERALS — computed
    * once here and interpolated into BOTH dialects, so no libm
    * log10 difference can ever reach the comparison. */
  val BenfordP: Seq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** q136: BENFORD FIRST-DIGIT AUDIT — the classic fraud/anomaly
    * screen on a monetary column: the first significant digit of
    * `o_totalprice` against Benford's law, with per-digit expected
    * counts and squared-deviation contributions (the χ² terms).
    * First digit extracted ARITHMETICALLY-SAFELY: floor to integer
    * cents (floor in BOTH engines — Spark's double→int cast
    * truncates, DuckDB's ROUNDS: the cross-engine trap this query
    * exists to document), render as digits, take the first.
    * Expected counts use the literal probabilities of [[BenfordP]]
    * so the only floats in play are literals and one division shape.
    *
    * Scale: collapses to 9 rows at the first partial agg. */
  def q136Benford(s: SparkSession, dir: String): DataFrame = {
    val pCase = BenfordP.zipWithIndex
      .foldLeft(lit(0.0)) { case (acc, (p, i)) =>
        when(col("digit") === (i + 1).toString, lit(p)).otherwise(acc)
      }
    val base = Tables.read(s, dir, "orders")
      .filter(col("o_totalprice") > 0)
      .select(substring(floor(col("o_totalprice") * 100).cast("long").cast("string"),
        1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("obs"))
      .withColumn("n", sum("obs").over(Window.partitionBy(lit(1))))
    base.select(col("digit"), col("obs"),
        round(col("n") * pCase, 2).as("expected"),
        round(pow(col("obs") - col("n") * pCase, 2) / (col("n") * pCase), 6)
          .as("chi2_term"))
      .orderBy("digit")
  }

  val q136Sql: String = {
    val pCase = BenfordP.zipWithIndex
      .map { case (p, i) => s"WHEN '${i + 1}' THEN $p" }
      .mkString("CASE digit ", " ", " END")
    s"""WITH d AS (
       |  SELECT substring(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
       |    AS VARCHAR), 1, 1) AS digit
       |  FROM orders WHERE o_totalprice > 0
       |), g AS (
       |  SELECT digit, count(*) AS obs, sum(count(*)) OVER () AS n FROM d
       |  GROUP BY digit
       |)
       |SELECT digit, obs,
       |  round(n * ($pCase), 2) AS expected,
       |  round(pow(obs - n * ($pCase), 2) / (n * ($pCase)), 6) AS chi2_term
       |FROM g ORDER BY digit""".stripMargin
  }

  // ------------------------------------- q193 neighborhood-Jaccard similarity

  /** Rows returned: the strongest [[JacTop]] structurally-similar user
    * pairs (link-prediction shortlist size). */
  val JacTop = 100

  /** q193: NEIGHBORHOOD JACCARD (structural node similarity) — the
    * classic link-prediction / account-correlation scorer over the
    * q116 co-occurrence graph: two users are similar when their
    * neighbor SETS overlap, `J = |N(a)∩N(b)| / |N(a)∪N(b)|`, whether
    * or not they ever co-occurred directly.
    *
    * Shape: candidate pairs materialize ONLY through a shared
    * neighbor (the wedge join, partitioned by that neighbor id) — the
    * |V|² zero-overlap pairs never exist. Common-neighbor counts are
    * one partial-agg'd groupBy on the wedge output; degrees join in
    * as a broadcast (one row per node); union size is inclusion-
    * exclusion `da + db − common`, so no union materializes. The one
    * global ORDER is the final top-[[JacTop]] via a rank-pushed
    * row_number (the q148/q165 WindowGroupLimit discipline).
    *
    * 100 TB: wedge volume is Σ deg(v)² — dominated by hub nodes. The
    * scale path is the same as near-dup dedup's: MinHash the adjacency
    * lists and band-join (q37's machinery applied to neighbor sets),
    * keeping this exact formulation as the certification baseline;
    * hub skew in the exact pass lands on the neighbor-id join key
    * where AQE skew-split applies. One division, rounded 6 dp;
    * everything else is integer. */
  def q193NeighborJaccard(s: SparkSession, dir: String): DataFrame = {
    val e0 = cooccurEdges(s, dir)
    val adj = e0.select(col("x").as("node"), col("y").as("nbr"))
      .unionAll(e0.select(col("y").as("node"), col("x").as("nbr")))
    val deg = adj.groupBy("node").agg(count(lit(1)).as("d"))
    val common = adj.as("a").join(adj.as("b"),
        col("a.nbr") === col("b.nbr") && col("a.node") < col("b.node"))
      .groupBy(col("a.node").as("u"), col("b.node").as("v"))
      .agg(count(lit(1)).as("common"))
    val wTop = Window.orderBy(col("jaccard").desc, col("u"), col("v"))
    common
      .join(broadcast(deg.select(col("node").as("u"), col("d").as("du"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("d").as("dv"))), "v")
      .select(col("u"), col("v"), col("common"), col("du"), col("dv"),
        round(col("common").cast("double")
          / (col("du") + col("dv") - col("common")), 6).as("jaccard"))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= JacTop)
      .select("rnk", "u", "v", "common", "du", "dv", "jaccard")
      .orderBy("rnk")
  }

  val q193Sql: String =
    s"""WITH $cooccurEdgesSql,
       |adj AS (
       |  SELECT x AS node, y AS nbr FROM e0
       |  UNION ALL
       |  SELECT y AS node, x AS nbr FROM e0
       |), deg AS (
       |  SELECT node, count(*) AS d FROM adj GROUP BY 1
       |), cmn AS (
       |  SELECT a.node AS u, b.node AS v, count(*) AS common
       |  FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
       |  GROUP BY 1, 2
       |)
       |SELECT rnk, u, v, common, du, dv, jaccard FROM (
       |  SELECT c.u AS u, c.v AS v, c.common AS common,
       |    du.d AS du, dv.d AS dv,
       |    round(CAST(c.common AS DOUBLE)
       |      / (du.d + dv.d - c.common), 6) AS jaccard,
       |    row_number() OVER (ORDER BY
       |      round(CAST(c.common AS DOUBLE)
       |        / (du.d + dv.d - c.common), 6) DESC,
       |      c.u, c.v) AS rnk
       |  FROM cmn c
       |  JOIN deg du ON c.u = du.node
       |  JOIN deg dv ON c.v = dv.node)
       |WHERE rnk <= $JacTop ORDER BY rnk""".stripMargin

  // --------------------------------- q201 degree assortativity (graph QA)

  /** q201: DEGREE ASSORTATIVITY — Newman's r: the Pearson correlation
    * of endpoint degrees over every directed link (each undirected
    * edge counted both ways). The one number that tells a sampling or
    * partitioning strategy whether hubs attach to hubs (r > 0,
    * social-graph-like) or to leaves (r < 0, hub-and-spoke) — i.e.
    * whether the q193 wedge volume concentrates catastrophically or
    * spreads. Completes the q153 profile (which counts wedges but not
    * their correlation structure).
    *
    * All five moment sums are EXACT integer aggregates (degrees are
    * small; n·Σd² stays far under 2^63 at any realistic edge count);
    * the two variance factors compute as longs and multiply as
    * doubles (their product can exceed 2^63 — the one deliberate
    * widening, same expression shape in both engines); zero variance
    * (a degree-regular graph) pins r = NULL in both. Scale shape: the
    * degree table broadcasts onto the edge list, then ONE scalar
    * aggregation — linear in edges after the shared edge build. */
  def q201Assortativity(s: SparkSession, dir: String): DataFrame = {
    val e0 = cooccurEdges(s, dir)
    val adj = e0.select(col("x").as("a"), col("y").as("b"))
      .unionAll(e0.select(col("y").as("a"), col("x").as("b")))
    val deg = adj.groupBy(col("a").as("node")).agg(count(lit(1)).as("d"))
    val j = adj
      .join(broadcast(deg.select(col("node").as("a"), col("d").as("da"))),
        Seq("a"))
      .join(broadcast(deg.select(col("node").as("b"), col("d").as("db"))),
        Seq("b"))
    j.agg(count(lit(1)).as("n"),
        sum("da").as("sx"), sum("db").as("sy"),
        sum(col("da") * col("db")).as("sxy"),
        sum(col("da") * col("da")).as("sxx"),
        sum(col("db") * col("db")).as("syy"))
      .select(col("n").as("n_links"),
        when((col("n") * col("sxx") - col("sx") * col("sx")) =!= 0 &&
            (col("n") * col("syy") - col("sy") * col("sy")) =!= 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
            6)).as("assortativity"))
  }

  val q201Sql: String =
    s"""WITH $cooccurEdgesSql,
       |adj AS (
       |  SELECT x AS a, y AS b FROM e0
       |  UNION ALL
       |  SELECT y AS a, x AS b FROM e0
       |), deg AS (
       |  SELECT a AS node, count(*) AS d FROM adj GROUP BY 1
       |), m AS (
       |  SELECT count(*) AS n, sum(da.d) AS sx, sum(db.d) AS sy,
       |    sum(da.d * db.d) AS sxy, sum(da.d * da.d) AS sxx,
       |    sum(db.d * db.d) AS syy
       |  FROM adj
       |  JOIN deg da ON adj.a = da.node
       |  JOIN deg db ON adj.b = db.node
       |)
       |SELECT CAST(n AS BIGINT) AS n_links,
       |  CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
       |    THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
       |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
       |        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       |  END AS assortativity
       |FROM m""".stripMargin

  // ------------------------------------------- q209 cohort retention matrix

  /** q209: COHORT RETENTION MATRIX — the product-analytics table:
    * users cohorted by first-activity week, each later week's
    * distinct-active count as a fraction of the cohort ("week-N
    * retention"). The q175/q177 drift monitors ask what changed in
    * the DATA; this asks what changed in the USERS.
    *
    * Shape: first-seen week is one per-user aggregation; activity
    * collapses to DISTINCT (user, week) at the first partial agg
    * (week offsets are exact integer day-diffs of week-truncated
    * dates div 7 — no float time math); the matrix is a groupBy over
    * (cohort, offset) joined to the broadcast cohort sizes. Both
    * engines truncate weeks to ISO Mondays. */
  def q209CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      .distinct()
    val first = ev.groupBy("user_id").agg(min("w").as("cw"))
    val sizes = first.groupBy("cw").agg(count(lit(1)).as("cohort_size"))
    ev.join(first, Seq("user_id"))
      .select(col("cw"), graft.functions.GraftFunctions.idiv(
        datediff(col("w").cast("date"), col("cw").cast("date"))
          .cast("long"), lit(7L)).as("week_offset"))
      .groupBy("cw", "week_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cw"))
      .select(col("cw").cast("date").as("cohort_week"), col("week_offset"),
        col("cohort_size"), col("n_active"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  val q209Sql: String =
    s"""WITH ev AS (
       |  SELECT DISTINCT user_id,
       |    date_trunc('week', CAST(ts AS TIMESTAMP)) AS w
       |  FROM events
       |), f AS (
       |  SELECT user_id, min(w) AS cw FROM ev GROUP BY user_id
       |), sizes AS (
       |  SELECT cw, count(*) AS cohort_size FROM f GROUP BY cw
       |), m AS (
       |  SELECT f.cw,
       |    date_diff('day', CAST(f.cw AS DATE), CAST(ev.w AS DATE)) // 7
       |      AS week_offset,
       |    count(*) AS n_active
       |  FROM ev JOIN f USING (user_id)
       |  GROUP BY 1, 2
       |)
       |SELECT CAST(m.cw AS DATE) AS cohort_week,
       |  CAST(week_offset AS BIGINT) AS week_offset,
       |  cohort_size, n_active,
       |  round(CAST(n_active AS DOUBLE) / cohort_size, 6) AS retention
       |FROM m JOIN sizes USING (cw)
       |ORDER BY cohort_week, week_offset""".stripMargin

  // ----------------------------------------- q210 strict-order funnel

  /** The funnel's ordered steps over the events stream. */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** q210: STRICT-ORDER FUNNEL — per user, step k counts only when
    * its earliest qualifying event is STRICTLY LATER than the user's
    * step-(k−1) anchor (the classic conversion funnel; q154
    * multi-touch splits credit, sq18 joins the steps in streaming —
    * this is the batch conversion readout both report against).
    *
    * Shape: each step is one filtered per-user aggregation co-keyed
    * on user_id joined to the previous step's anchor — k narrow
    * shuffles of user-sized frames, never an event×event join; the
    * final readout is one scalar row. Strictly-greater timestamps in
    * both engines (ties do NOT advance the funnel). */
  def q210FunnelSteps(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      col("ts"))
    // count_distinct mirrors SQL's count(DISTINCT ...) NULL exclusion;
    // a bare distinct().count would admit a NULL user_id as one user.
    val total = ev.agg(count_distinct(col("user_id")).as("n_users"))
    val s1 = ev.filter(col("event_type") === FunnelSteps.head)
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === FunnelSteps(1))
      .join(s1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === FunnelSteps(2))
      .join(s2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    total
      .crossJoin(s1.agg(count(lit(1)).as("n_step1")))
      .crossJoin(s2.agg(count(lit(1)).as("n_step2")))
      .crossJoin(s3.agg(count(lit(1)).as("n_step3")))
      .select(col("n_users"), col("n_step1"), col("n_step2"),
        col("n_step3"),
        when(col("n_step1") > 0,
          round(col("n_step2").cast("double") / col("n_step1"), 6))
          .as("conv_12"),
        when(col("n_step2") > 0,
          round(col("n_step3").cast("double") / col("n_step2"), 6))
          .as("conv_23"),
        when(col("n_step1") > 0,
          round(col("n_step3").cast("double") / col("n_step1"), 6))
          .as("conv_overall"))
  }

  val q210Sql: String =
    s"""WITH s1 AS (
       |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1 FROM events
       |  WHERE event_type = '${FunnelSteps.head}' GROUP BY user_id
       |), s2 AS (
       |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
       |  FROM events e JOIN s1 ON e.user_id = s1.user_id
       |  WHERE e.event_type = '${FunnelSteps(1)}'
       |    AND CAST(e.ts AS TIMESTAMP) > s1.t1
       |  GROUP BY e.user_id
       |), s3 AS (
       |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
       |  FROM events e JOIN s2 ON e.user_id = s2.user_id
       |  WHERE e.event_type = '${FunnelSteps(2)}'
       |    AND CAST(e.ts AS TIMESTAMP) > s2.t2
       |  GROUP BY e.user_id
       |)
       |SELECT
       |  (SELECT count(DISTINCT user_id) FROM events) AS n_users,
       |  (SELECT count(*) FROM s1) AS n_step1,
       |  (SELECT count(*) FROM s2) AS n_step2,
       |  (SELECT count(*) FROM s3) AS n_step3,
       |  CASE WHEN (SELECT count(*) FROM s1) > 0
       |    THEN round(CAST((SELECT count(*) FROM s2) AS DOUBLE)
       |      / (SELECT count(*) FROM s1), 6) END AS conv_12,
       |  CASE WHEN (SELECT count(*) FROM s2) > 0
       |    THEN round(CAST((SELECT count(*) FROM s3) AS DOUBLE)
       |      / (SELECT count(*) FROM s2), 6) END AS conv_23,
       |  CASE WHEN (SELECT count(*) FROM s1) > 0
       |    THEN round(CAST((SELECT count(*) FROM s3) AS DOUBLE)
       |      / (SELECT count(*) FROM s1), 6) END AS conv_overall""".stripMargin

  // ------------------------------------- q211 inter-event gap statistics

  /** q211: INTER-EVENT GAP STATISTICS — the cadence profile per event
    * type over each user's own timeline (the input to retry-storm
    * detection, session-timeout tuning, and synthetic-load modeling):
    * per type, the count/mean/median/max of consecutive same-user
    * gaps. q123 asks how many overlap NOW; this asks how the stream
    * BREATHES.
    *
    * Exactness: gaps are exact integer microsecond diffs; the mean is
    * one integer sum with two chained double divisions (same shape
    * both engines); the median is the EXACT midrank (the q179
    * discipline — average of the one/two middle integers, never an
    * interpolating percentile whose cross-engine semantics differ).
    *
    * Scale: lag windows partition by (user, type) — user-local sorts,
    * no global order. The median rides the q179/q182 BUCKETED-MIDRANK
    * discipline, never a per-type row_number over raw gap rows (that
    * shape is a near-full sort of every gap on a handful of reducers
    * at 100 TB — round-10 verdict #1): (1) map-side collapse to
    * (type, log2-bucket) integer counts — ≤ 64 buckets per type, so
    * the cumulative-count window that locates the midrank bucket runs
    * on a driver-scale frame; (2) only rows of the one/two midrank
    * buckets survive a broadcast semi-filter, collapse to per-distinct-
    * gap counts, and a running count over that bucket's VALUE frame
    * picks the exact rank-(n+1)//2 / rank-(n+2)//2 gaps. Bucket
    * assignment only needs to be monotone in gap for the composition
    * to equal the global midrank — floor∘log2∘(+1) over non-negative
    * integers is. */
  def q211EventGaps(s: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy("user_id", "event_type").orderBy("us")
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("gap", col("us") - lag("us", 1).over(wu))
      .filter(col("gap").isNotNull)
    // phase 1: (type, log2-bucket) counts — one partial-agged shuffle
    // of ≤ types×64 rows; the per-type windows below run on THAT frame
    val bg = gaps.select(col("event_type"), col("gap"))
      .withColumn("b", floor(log2(col("gap") + lit(1))).cast("int"))
    val wb = Window.partitionBy("event_type").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val marked = bg.groupBy("event_type", "b").agg(count(lit(1)).as("cnt"))
      .withColumn("cb", coalesce(sum("cnt").over(wb), lit(0L)))
      .withColumn("n",
        sum("cnt").over(Window.partitionBy("event_type")))
      .withColumn("r1",
        graft.functions.GraftFunctions.idiv(col("n") + 1, lit(2L)))
      .withColumn("r2",
        graft.functions.GraftFunctions.idiv(col("n") + 2, lit(2L)))
    val midBuckets = marked
      .filter((col("r1") > col("cb") && col("r1") <= col("cb") + col("cnt")) ||
        (col("r2") > col("cb") && col("r2") <= col("cb") + col("cnt")))
      .select("event_type", "b", "cb", "r1", "r2")
    // phase 2: only midrank-bucket rows survive the broadcast join;
    // collapse to distinct gap values, then a running count over the
    // bucket's value frame finds which value holds each target rank
    val wv = Window.partitionBy("event_type", "b").orderBy("gap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mid = bg.join(broadcast(midBuckets), Seq("event_type", "b"))
      .groupBy("event_type", "b", "cb", "r1", "r2", "gap")
      .agg(count(lit(1)).as("vcnt"))
      .withColumn("hi", col("cb") + sum("vcnt").over(wv))
      .withColumn("lo", col("hi") - col("vcnt"))
      .withColumn("w",
        when(col("r1") > col("lo") && col("r1") <= col("hi"), 1L)
          .otherwise(0L) +
        when(col("r2") > col("lo") && col("r2") <= col("hi"), 1L)
          .otherwise(0L))
      .filter(col("w") > 0)
      .groupBy("event_type")
      .agg((sum(col("gap") * col("w")).cast("double") / sum("w") / 1000000.0)
        .as("median_raw"))
      .select(col("event_type"), round(col("median_raw"), 6)
        .as("median_gap_s"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        round(sum("gap").cast("double") / count(lit(1)) / 1000000.0, 6)
          .as("mean_gap_s"),
        round(max("gap").cast("double") / 1000000.0, 6).as("max_gap_s"))
      .join(mid, Seq("event_type"))
      .select("event_type", "n_gaps", "mean_gap_s", "median_gap_s",
        "max_gap_s")
      .orderBy("event_type")
  }

  val q211Sql: String =
    s"""WITH g AS (
       |  SELECT event_type, user_id,
       |    us - lag(us) OVER (PARTITION BY user_id, event_type ORDER BY us)
       |      AS gap
       |  FROM (SELECT user_id, event_type,
       |          epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
       |), gg AS (
       |  SELECT event_type, user_id, gap FROM g WHERE gap IS NOT NULL
       |), mid AS (
       |  SELECT event_type,
       |    round(CAST(sum(gap) AS DOUBLE) / count(*) / 1000000.0, 6)
       |      AS median_gap_s
       |  FROM (
       |    SELECT event_type, gap,
       |      row_number() OVER (PARTITION BY event_type
       |        ORDER BY gap, user_id) AS rn,
       |      count(*) OVER (PARTITION BY event_type) AS n
       |    FROM gg)
       |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
       |  GROUP BY event_type
       |)
       |SELECT event_type, count(*) AS n_gaps,
       |  round(CAST(sum(gap) AS DOUBLE) / count(*) / 1000000.0, 6)
       |    AS mean_gap_s,
       |  (SELECT median_gap_s FROM mid WHERE mid.event_type = gg.event_type)
       |    AS median_gap_s,
       |  round(CAST(max(gap) AS DOUBLE) / 1000000.0, 6) AS max_gap_s
       |FROM gg GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------- q233 RFM segmentation

  /** q233: RFM SEGMENTATION — the classic per-user
    * recency/frequency/monetary quartile scoring, at segment grain:
    * every user gets (r, f, m) ∈ {1..4}³ (recency INVERTED — recent =
    * 4) against exact type-1 quartile boundaries, and the output is
    * the ≤64-row segment table (n_users, total monetary units) a
    * lifecycle-marketing pipeline ships. The quartile cuts ride the
    * q219 histogram discipline: each metric collapses map-side to a
    * (value, count) histogram whose cell count is bounded by the
    * metric's RANGE, not the user count — recency in whole DAYS since
    * the corpus end, frequency = events/user, monetary floored to
    * whole units (exact: floor of a DECIMAL(·,2) sum) — so the
    * cumulative window that locates min{v : cum·4 ≥ n·k} runs on a
    * cell-sized frame (the q155/q219 lesson: never a row sort for a
    * quantile).
    *
    * Scale shape: one partial-agg'd groupBy(user_id) over events;
    * three cell-sized histograms; the 1-row boundary frame broadcasts
    * back; final agg is ≤ 4³ rows. */
  def q233RfmSegments(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val mx = e.agg(max(expr("unix_micros(ts)")).as("mx"))
    val users = e.groupBy("user_id")
      .agg(count(lit(1)).as("freq"),
        max(expr("unix_micros(ts)")).as("last_us"),
        sum(dec(col("value"), 18, 2)).as("mon"))
      .crossJoin(broadcast(mx))
      .select(col("user_id"), col("freq"),
        expr("(mx - last_us) div 86400000000").as("rec_days"),
        floor(col("mon")).cast("long").as("mon_units"))
    def bounds(metric: String): DataFrame = {
      val hist = users.groupBy(col(metric).as("v")).agg(count(lit(1)).as("c"))
      val n = hist.agg(sum("c").as("n"))
      val wcum = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // single-partition window — over the CELL histogram only
      hist.crossJoin(broadcast(n))
        .withColumn("cum", sum("c").over(wcum))
        .agg(min(when(col("cum") * 4 >= col("n"), col("v")))
            .as(s"${metric}_q1"),
          min(when(col("cum") * 4 >= col("n") * 2, col("v")))
            .as(s"${metric}_q2"),
          min(when(col("cum") * 4 >= col("n") * 3, col("v")))
            .as(s"${metric}_q3"))
    }
    val b = bounds("rec_days").crossJoin(bounds("freq"))
      .crossJoin(bounds("mon_units"))
    def quart(v: Column, m: String): Column =
      lit(1) + when(v > col(s"${m}_q1"), 1).otherwise(0) +
        when(v > col(s"${m}_q2"), 1).otherwise(0) +
        when(v > col(s"${m}_q3"), 1).otherwise(0)
    users.crossJoin(broadcast(b))
      .select(col("user_id"), col("mon_units"),
        (lit(5) - quart(col("rec_days"), "rec_days")).as("r_score"),
        quart(col("freq"), "freq").as("f_score"),
        quart(col("mon_units"), "mon_units").as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        sum("mon_units").as("total_mon_units"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Oracle: the same histograms, boundary rule and scoring in SQL. */
  val q233Sql: String = {
    def hb(src: String, met: String, al: String) =
      s"""${al}h AS (SELECT $met AS v, count(*) AS c FROM $src GROUP BY 1),
         |${al}c AS (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |  AS cum, (SELECT count(*) FROM $src) AS n FROM ${al}h),
         |${al}b AS (SELECT min(CASE WHEN cum*4 >= n THEN v END) AS q1,
         |  min(CASE WHEN cum*4 >= n*2 THEN v END) AS q2,
         |  min(CASE WHEN cum*4 >= n*3 THEN v END) AS q3 FROM ${al}c)""".stripMargin
    s"""WITH u AS (
       |  SELECT user_id, count(*) AS freq,
       |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
       |    sum(CAST(value AS DECIMAL(18,2))) AS mon
       |  FROM events GROUP BY 1
       |), mx AS (SELECT max(last_us) AS mx FROM u
       |), um AS (
       |  SELECT user_id, freq,
       |    (mx.mx - u.last_us) // 86400000000 AS rec_days,
       |    CAST(floor(u.mon) AS BIGINT) AS mon_units
       |  FROM u CROSS JOIN mx
       |), ${hb("um", "rec_days", "r")},
       |${hb("um", "freq", "f")},
       |${hb("um", "mon_units", "m")},
       |scored AS (
       |  SELECT mon_units,
       |    5 - (1 + CASE WHEN rec_days > rb.q1 THEN 1 ELSE 0 END
       |           + CASE WHEN rec_days > rb.q2 THEN 1 ELSE 0 END
       |           + CASE WHEN rec_days > rb.q3 THEN 1 ELSE 0 END) AS r_score,
       |    1 + CASE WHEN freq > fb.q1 THEN 1 ELSE 0 END
       |      + CASE WHEN freq > fb.q2 THEN 1 ELSE 0 END
       |      + CASE WHEN freq > fb.q3 THEN 1 ELSE 0 END AS f_score,
       |    1 + CASE WHEN mon_units > mb.q1 THEN 1 ELSE 0 END
       |      + CASE WHEN mon_units > mb.q2 THEN 1 ELSE 0 END
       |      + CASE WHEN mon_units > mb.q3 THEN 1 ELSE 0 END AS m_score
       |  FROM um CROSS JOIN rb CROSS JOIN fb CROSS JOIN mb
       |)
       |SELECT r_score, f_score, m_score, count(*) AS n_users,
       |  CAST(sum(mon_units) AS BIGINT) AS total_mon_units
       |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  // ------------------------------------------------ q245 k-core peel

  /** Core threshold: a vertex survives a peel round iff it keeps at
    * least this many neighbors among the still-alive vertices. */
  val KCoreK = 4

  /** Safety cap on peel rounds (the fixture reaches fixpoint in 8;
    * degeneracy cascades are bounded by the longest removal chain). */
  val KCoreMaxRounds = 30

  /** Oracle unroll depth: the DuckDB twin peels exactly this many
    * rounds. The gate fixture converges in 8, so two spare rounds
    * make the unrolled result the true fixpoint; if the data ever
    * needed more, the hash gate fails loudly rather than silently
    * comparing a half-peeled set. */
  val KCoreOracleRounds = 10

  /** q245: K-CORE DECOMPOSITION (the [[KCoreK]]-core) of the q116
    * user co-occurrence graph — the community-spam / engagement-core
    * read: iteratively peel vertices with fewer than K alive
    * neighbors until fixpoint, then report each surviving vertex with
    * its within-core degree. Completes the graph family (q75
    * PageRank, q116 triangles, q146 BFS, q153 profile, q158 label
    * propagation, q201 assortativity) with the standard
    * degeneracy-ordering primitive.
    *
    * Scale shape: the symmetric edge list is built ONCE and
    * localCheckpoint'd (the q146/q227 loop discipline — without it
    * every peel round re-runs the co-occurrence pair join); each
    * round is two equi-joins against the alive set (both sides
    * shuffle-partitioned on user id; AQE may broadcast the shrinking
    * alive set) plus one partial-aggregated degree count. Convergence
    * is count-based — alive strictly shrinks, so equal counts ⟺ equal
    * sets — costing one tiny action per round; rounds are bounded by
    * the peel cascade length (8 here), capped at [[KCoreMaxRounds]].
    * At 100 TB the edge build dominates and is shared with q116/q146;
    * the peel itself touches only the |V|-row vertex table. */
  def q245Kcore(s: SparkSession, dir: String): DataFrame = {
    val e0 = cooccurEdges(s, dir)
    val sym = e0.select(col("x").as("u"), col("y").as("v"))
      .unionAll(e0.select(col("y").as("u"), col("x").as("v")))
      .localCheckpoint(eager = true)
    def coreDeg(alive: DataFrame): DataFrame =
      sym.join(alive.select(col("u").as("au")), col("u") === col("au"))
        .drop("au")
        .join(alive.select(col("u").as("av")), col("v") === col("av"))
        .drop("av")
        .groupBy("u").agg(count(lit(1)).as("d"))
    var alive = sym.select("u").distinct().localCheckpoint(eager = true)
    var n = alive.count()
    var round = 0
    var changed = n > 0
    // the fixpoint round's survivor degrees ARE the output (the
    // filter kept every row), so carry (u, d) out of the loop instead
    // of paying one more edge-join pass to re-derive them
    var lastDeg: Option[DataFrame] = None
    while (changed && round < KCoreMaxRounds) {
      val kept = coreDeg(alive).filter(col("d") >= KCoreK)
        .localCheckpoint(eager = true)
      val m = kept.count()
      changed = m != n
      alive = kept.select("u")
      lastDeg = Some(kept)
      n = m
      round += 1
    }
    // converged: the last round's (u, d) is exact. Cap hit without
    // convergence (never on this corpus) or empty graph: recompute
    // against the final alive set for correctness.
    val deg =
      if (!changed && lastDeg.isDefined) lastDeg.get else coreDeg(alive)
    deg.select(col("u"), col("d").as("core_deg")).orderBy("u")
  }

  /** q245's oracle: the same peel unrolled [[KCoreOracleRounds]]
    * times over the shared e0 CTE (each round recomputes degrees
    * within the previous alive set and keeps ≥ K). */
  val q245Sql: String = {
    // AS MATERIALIZED: without it DuckDB inlines every CTE reference,
    // so the unrolled rounds re-expand the co-occurrence pair join
    // 2^rounds times — the oracle must evaluate each round ONCE, as
    // the Spark loop does
    val rounds = (1 to KCoreOracleRounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT e.u, count(*) AS c FROM e
         |  JOIN v${i - 1} a ON e.u = a.u JOIN v${i - 1} b ON e.v = b.u
         |  GROUP BY e.u
         |), v$i AS MATERIALIZED (SELECT u FROM d$i WHERE c >= $KCoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH $cooccurEdgesSql,
       |e AS MATERIALIZED (
       |  SELECT x AS u, y AS v FROM e0 UNION ALL SELECT y, x FROM e0),
       |v0 AS MATERIALIZED (SELECT DISTINCT u FROM e),
       |$rounds
       |SELECT e.u, CAST(count(*) AS BIGINT) AS core_deg FROM e
       |JOIN v$KCoreOracleRounds a ON e.u = a.u
       |JOIN v$KCoreOracleRounds b ON e.v = b.u
       |GROUP BY e.u ORDER BY e.u""".stripMargin
  }

  // --------------------------------------------------------------- registry

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q113_bloom_join", q113BloomJoin, q113Sql),
    QueryDef("q114_gapfill_locf", q114GapfillLocf, q114Sql),
    QueryDef("q115_rolling_peak", q115RollingPeak, q115Sql),
    QueryDef("q116_triangles", q116Triangles, q116Sql),
    QueryDef("q117_skyline", q117Skyline, q117Sql),
    QueryDef("q118_fuzzy_join", q118FuzzyJoin, q118Sql),
    QueryDef("q119_hll_incremental", q119HllIncremental, q119Sql),
    QueryDef("q120_scd2", q120Scd2, q120Sql),
    QueryDef("q121_table_checksum", q121TableChecksum, q121Sql),
    QueryDef("q122_ab_test", q122AbTest, q122Sql),
    QueryDef("q123_interval_peak", q123IntervalPeak, q123Sql),
    QueryDef("q124_json_extract", q124JsonExtract, q124Sql),
    QueryDef("q126_roc_auc", q126RocAuc, q126Sql),
    QueryDef("q127_ks_drift", q127KsDrift, q127Sql),
    QueryDef("q128_mutual_info", q128MutualInfo, q128Sql),
    QueryDef("q129_user_trend", q129UserTrend, q129Sql),
    QueryDef("q130_changepoint", q130Changepoint, q130Sql),
    QueryDef("q131_rollup_cascade", q131RollupCascade, q131Sql),
    QueryDef("q132_pit_join", q132PitJoin, q132Sql),
    QueryDef("q133_hierarchy", q133Hierarchy, q133Sql),
    QueryDef("q134_lateral_topk", q134LateralTopk, q134Sql),
    QueryDef("q135_profile", q135Profile, q135Sql),
    QueryDef("q136_benford", q136Benford, q136Sql),
    QueryDef("q153_graph_profile", q153GraphProfile, q153Sql),
    QueryDef("q193_neighbor_jaccard", q193NeighborJaccard, q193Sql),
    QueryDef("q201_assortativity", q201Assortativity, q201Sql),
    QueryDef("q209_cohort_retention", q209CohortRetention, q209Sql),
    QueryDef("q210_funnel_steps", q210FunnelSteps, q210Sql),
    QueryDef("q211_event_gaps", q211EventGaps, q211Sql),
    QueryDef("q233_rfm_segments", q233RfmSegments, q233Sql),
    QueryDef("q245_kcore", q245Kcore, q245Sql)
  )
}
