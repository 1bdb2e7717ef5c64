package graft.queries

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-9 Spark-4 SQL-surface operators (SURVEY.md §2.3): the pipe
  * (`|>`) query syntax, the VARIANT semi-structured type, collation-
  * aware grouping, and parameterized SQL — the features a user
  * switching to this engine from a 3.x deployment needs proven, each
  * pinned against a classic-SQL oracle (identity across surfaces:
  * new syntax, same answer).
  */
object SqlSurfaceOps {

  // ------------------------------------------------ q159 pipe syntax

  /** q159: SQL PIPE SYNTAX — the q10 pricing summary written in
    * Spark 4's `|>` operator chain (FROM … |> WHERE … |> AGGREGATE …
    * GROUP BY … |> ORDER BY): each pipe stage is a complete relational
    * step in reading order, the syntax the 2024 SQL-pipes work
    * standardized. The oracle is the CLASSIC formulation — a hash
    * match is the proof the two surfaces plan identically (Catalyst
    * parses pipes into the same logical plan; there is nothing new to
    * optimize, which is the point).
    *
    * Scale shape: identical to q10 — partial+final hash aggregation,
    * one shuffle on the group keys. */
  def q159PipeSyntax(s: SparkSession, dir: String): DataFrame =
    ScopedSql.run(s, dir,
      """FROM lineitem
        ||> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        ||> AGGREGATE count(*) AS n,
        |     CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |   GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "lineitem" -> Tables.read(s, dir, "lineitem"))

  /** The classic formulation — pipes must plan to exactly this. */
  val q159Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------ q160 VARIANT shred

  /** q160: VARIANT SEMI-STRUCTURED TYPE — `parse_json` shreds the
    * props column to Spark 4's binary VARIANT encoding once, then
    * typed access (`variant_get(v, '$.k', 'long')`) reads fields
    * WITHOUT a declared schema — the open-schema ingestion path that
    * replaces schema-on-read structs when producers evolve freely
    * (q124 is the closed-schema twin: same answer where the declared
    * schema fits, which this oracle pins). `try_variant_get` on a
    * missing path must be NULL for every row — the lenient-access
    * contract, counted and pinned.
    *
    * Scale shape: parse + typed get fuse into the scan projection
    * (one pass, no shuffle before the group agg); VARIANT's binary
    * form is the columnar-friendly representation that avoids
    * re-parsing JSON text per access at 100 TB. */
  def q160VariantShred(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"),
        expr("try_variant_get(parse_json(props), '$.missing', 'long')").as("miss"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        sum(col("miss").isNull.cast("long")).as("n_miss_null"))
      .orderBy("event_type")
  }

  val q160Sql: String =
    """SELECT event_type, count(*) AS n,
      |  count(CAST(props->>'k' AS BIGINT)) AS n_with_k,
      |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(*) AS n_miss_null
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------ q161 collation

  /** q161: COLLATION-AWARE GROUPING — Spark 4 string collations:
    * the input re-cases half its keys (`upper()` on odd event ids —
    * the dirty-data regime), then groups under `COLLATE UTF8_LCASE`
    * so case variants COLLAPSE at the comparison level, no
    * normalize-then-group rewrite. The canonical key surfaces via
    * lower() for output parity; the oracle is the classic
    * lower()-grouping — identity across the two mechanisms.
    *
    * Scale shape: collation participates in hash/sort directly, so
    * the group-by shuffles the collated key — one partial-agged
    * aggregation, same as any groupBy; no extra projection pass. */
  def q161Collation(s: SparkSession, dir: String): DataFrame =
    ScopedSql.run(s, dir,
      """SELECT lower(et_mixed COLLATE UTF8_LCASE) AS event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS soma
        |FROM mixed_events
        |GROUP BY et_mixed COLLATE UTF8_LCASE
        |ORDER BY event_type""".stripMargin,
      "mixed_events" -> Tables.events(s, dir)
        .select(when(col("event_id") % 2 === 1, upper(col("event_type")))
          .otherwise(col("event_type")).as("et_mixed"), col("value")))

  /** The classic normalize-then-group — collation must equal it. */
  val q161Sql: String =
    """SELECT lower(CASE WHEN event_id % 2 = 1 THEN upper(event_type)
      |                  ELSE event_type END) AS event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS soma
      |FROM events
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  // ------------------------------------------------ q162 parameterized SQL

  /** The binding the parameterized text runs under (also interpolated
    * into the oracle as literals — the parity contract). */
  val ParamPriority = "1-URGENT"
  val ParamMinTotal = 100000.0

  /** q162: PARAMETERIZED SQL — named parameter markers (`:prio`,
    * `:min_total`) bound through `spark.sql(text, args)`: the
    * injection-safe query surface a service exposes instead of string
    * interpolation (parameters bind as typed literals AT PARSE TIME,
    * so Catalyst constant-folds and pushes them down exactly like
    * hand-written literals — plan equality with the literal twin is
    * the point, and the oracle IS the literal twin).
    *
    * Scale shape: identical to the literal query — the priority
    * predicate reaches the parquet scan as a pushed filter. */
  def q162ParamSql(s: SparkSession, dir: String): DataFrame =
    ScopedSql.runWithArgs(s, dir,
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderpriority = :prio AND o_totalprice >= :min_total
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      Map("prio" -> ParamPriority, "min_total" -> ParamMinTotal),
      "orders" -> Tables.read(s, dir, "orders"))

  val q162Sql: String =
    s"""SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderpriority = '$ParamPriority' AND o_totalprice >= $ParamMinTotal
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------ q163 window zoo

  /** q163: ANALYTIC-FUNCTION COMPLETENESS — the window functions the
    * suite hadn't yet exercised, one pass, one partitioning:
    * percent_rank / cume_dist (exact integer-ratio ranks),
    * nth_value(2), lag/lead WITH DEFAULTS, and frame-bounded
    * first/last_value — computed over the FULL per-priority windows,
    * then projected to every 100th order so the output stays small
    * while the window math spans everything (a filter pushed below
    * the window would change the answer; its placement above is the
    * semantics under test).
    *
    * Scale shape: one shuffle on the partition key, one sort, all
    * seven functions ride the same window pass. */
  def q163WindowZoo(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.read(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("nth2", nth_value(col("o_totalprice"), 2).over(wf))
      .withColumn("prev_p", lag(col("o_totalprice"), 1, -1.0).over(w))
      .withColumn("next_p", lead(col("o_totalprice"), 1, -1.0).over(w))
      .withColumn("min_p", first(col("o_totalprice")).over(wf))
      .withColumn("max_p", last(col("o_totalprice")).over(wf))
      .filter(col("o_orderkey") % 100 === 0)
      .orderBy("o_orderkey")
  }

  val q163Sql: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice,
      |    percent_rank() OVER w AS pr,
      |    cume_dist() OVER w AS cd,
      |    nth_value(o_totalprice, 2) OVER
      |      (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth2,
      |    lag(o_totalprice, 1, -1.0) OVER w AS prev_p,
      |    lead(o_totalprice, 1, -1.0) OVER w AS next_p,
      |    first_value(o_totalprice) OVER
      |      (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS min_p,
      |    last_value(o_totalprice) OVER
      |      (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS max_p
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice, o_orderkey)
      |)
      |WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------ q164 multiset algebra

  /** q164: DUPLICATE-AWARE SET ALGEBRA — INTERSECT ALL / EXCEPT ALL
    * over multisets (part keys per return flag, WITH their
    * multiplicities): ALL keeps min/difference counts where the
    * DISTINCT forms collapse to membership — the semantics gap that
    * silently corrupts reconciliation counts when the wrong form
    * ships. One row pins all five forms side by side.
    *
    * Scale shape: Spark plans INTERSECT/EXCEPT ALL as count-compare
    * aggregations on the key — partial-agged, no row-level
    * materialization of the multisets. */
  def q164SetopsAll(s: SparkSession, dir: String): DataFrame =
    ScopedSql.run(s, dir, q164Sql, "lineitem" -> Tables.read(s, dir, "lineitem"))

  val q164Sql: String =
    """WITH a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
      |     b AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')
      |SELECT
      |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b))
      |    AS n_intersect_all,
      |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
      |    AS n_intersect,
      |  (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b))
      |    AS n_except_all,
      |  (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
      |    AS n_except,
      |  (SELECT count(*) FROM (SELECT * FROM a UNION ALL SELECT * FROM b))
      |    AS n_union_all""".stripMargin

  // ------------------------------------------------ q165 pagination

  /** Page geometry: rows per page, pages skipped. */
  val PageSize = 20
  val PageSkip = 2

  /** q165: KEYSET vs OFFSET PAGINATION — the same page two ways:
    * the oracle reads page 3 with `LIMIT 20 OFFSET 40` (scans and
    * discards every earlier row — the anti-pattern at depth); the
    * engine SEEKS with the keyset predicate `(price, key) >
    * last-of-page-2` (a 1-row bounded boundary read, then an
    * indexable filter + LIMIT). The hash match is the proof the seek
    * formulation returns the identical page — the rewrite that keeps
    * deep pagination O(page) instead of O(offset) at 100 TB.
    *
    * Scale shape: the boundary read is a top-k (rank ≤ 40) over the
    * sort key — at scale a parquet range scan; the page query then
    * pushes the boundary predicate down to the scan. */
  def q165Paginate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.read(s, dir, "orders")
    val ord = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
    // 1-row bounded action: the last key of the page before ours
    val boundary = o
      .withColumn("rn", row_number().over(Window.orderBy(ord: _*)))
      .filter(col("rn") === PageSize * PageSkip)
      .select("o_totalprice", "o_orderkey").collect()
    val page = boundary.headOption match {
      case None => o.filter(lit(false)) // fewer rows than the skip
      case Some(b) =>
        val (bp, bk) = (b.getDouble(0), b.getLong(1))
        o.filter(col("o_totalprice") < bp ||
          (col("o_totalprice") === bp && col("o_orderkey") > bk))
    }
    page.orderBy(ord: _*).limit(PageSize)
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  /** The OFFSET formulation — keyset must return the identical page. */
  val q165Sql: String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT $PageSize OFFSET ${PageSize * PageSkip}""".stripMargin

  // ------------------------------------------------ q166 GROUP BY ALL

  /** q166: GROUP BY ALL / ORDER BY ALL — the grouping-key inference
    * sugar (every non-aggregate select item becomes a key): the
    * maintainability surface that removes positional GROUP BY lists;
    * oracle = the explicit form, proving the inference picks exactly
    * the non-aggregate columns. */
  def q166GroupByAll(s: SparkSession, dir: String): DataFrame =
    ScopedSql.run(s, dir,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin,
      "lineitem" -> Tables.read(s, dir, "lineitem"))

  val q166Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY 1, 2
      |ORDER BY l_returnflag, l_linestatus, n, sum_qty""".stripMargin

  // ------------------------------------------------ q170 join hints

  /** q170: JOIN-STRATEGY HINTS — the physical-control surface: the
    * same customer⋈nation star leg executed under MERGE (sort-merge)
    * and SHUFFLE_HASH hints where the optimizer would choose
    * BROADCAST, unioned with the unhinted leg — all three must
    * produce identical per-nation profiles, and the spec asserts
    * the hints genuinely flipped the physical operator (a hint that
    * silently degrades to the default is a no-op, not a control).
    * The q51/q113 identity discipline applied to the OPERATOR-
    * SELECTION layer: strategy is never allowed to change the
    * answer, and the oracle is the plain SQL.
    *
    * Scale shape: this op is ABOUT the knob a 100 TB deployment
    * turns when the optimizer's estimate is wrong (a "small" side
    * that isn't; a broadcast OOM) — the engine must honor the
    * override and the override must be safe. */
  def q170JoinHints(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.read(s, dir, "customer")
    val nat = Tables.read(s, dir, "nation")
    def leg(hinted: DataFrame, tag: String): DataFrame =
      cust.join(hinted, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("bal"))
        .withColumn("strategy", lit(tag))
    leg(nat, "default")
      .unionByName(leg(nat.hint("merge"), "merge"))
      .unionByName(leg(nat.hint("shuffle_hash"), "shuffle_hash"))
      .orderBy("strategy", "n_name")
  }

  /** One plain-SQL leg per strategy tag — identical numbers thrice. */
  val q170Sql: String = {
    val leg = """SELECT n_name, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
      |  '%s' AS strategy
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin
    s"""SELECT n_name, n, bal, strategy FROM (
      |${leg.format("default")}
      |UNION ALL
      |${leg.format("merge")}
      |UNION ALL
      |${leg.format("shuffle_hash")}
      |) ORDER BY strategy, n_name""".stripMargin
  }

  // ------------------------------------------------ q171 HOF zoo

  /** q171: HIGHER-ORDER FUNCTION COMPLETENESS — the array-lambda
    * surface (`transform`, `filter`, `exists`, `forall`,
    * `aggregate`) over the embedding vectors in one pass, reduced to
    * a per-label profile: positive-component counts, max absolute
    * component, big-component flags, and the sum-of-squares fold —
    * the oracle's list_* twins evaluate the SAME sequential fold
    * (the q40 discipline: per-element double widening, left-to-right
    * accumulation → bit-identical cross-engine).
    *
    * Scale shape: every lambda fuses into the scan projection (HOFs
    * evaluate per-row, no explode, no shuffle); the only exchange is
    * the |labels|-sized final agg. */
  def q171HofZoo(s: SparkSession, dir: String): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    Tables.read(s, dir, "embeddings")
      .select(col("label"),
        size(filter(v, x => x > 0)).cast("long").as("n_pos"),
        array_max(transform(v, x => abs(x))).as("max_abs"),
        exists(v, x => abs(x) > 0.4).cast("long").as("has_big"),
        forall(v, x => !isnan(x)).cast("long").as("finite"),
        aggregate(v, lit(0.0), (acc, x) => acc + x * x).as("ssq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(col("n_pos")).as("total_pos"),
        max(col("max_abs")).as("max_abs"),
        sum(col("has_big")).as("n_big"),
        sum(col("finite")).as("n_finite"),
        (sum(col("ssq").cast(DecimalType(28, 6))).cast("double") / count(lit(1)))
          .as("mean_ssq"))
      .orderBy("label")
  }

  val q171Sql: String =
    """WITH d AS (
      |  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), m AS (
      |  SELECT label,
      |    CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
      |    list_max(list_transform(v, x -> abs(x))) AS max_abs,
      |    CASE WHEN len(list_filter(v, x -> abs(x) > 0.4)) > 0
      |      THEN 1 ELSE 0 END AS has_big,
      |    CASE WHEN len(list_filter(v, x -> isnan(x))) = 0
      |      THEN 1 ELSE 0 END AS finite,
      |    list_sum(list_transform(v, x -> x * x)) AS ssq
      |  FROM d
      |)
      |SELECT label, count(*) AS n,
      |  CAST(sum(n_pos) AS BIGINT) AS total_pos, max(max_abs) AS max_abs,
      |  CAST(sum(has_big) AS BIGINT) AS n_big,
      |  CAST(sum(finite) AS BIGINT) AS n_finite,
      |  CAST(sum(CAST(ssq AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mean_ssq
      |FROM m GROUP BY label ORDER BY label""".stripMargin

  // ------------------------------------------------ q172 calendar zoo

  /** q172: CALENDAR-FUNCTION COMPLETENESS — date_trunc to
    * quarter/month, last_day month-end detection, and dayofyear over
    * the order dates, collapsed to a per-quarter profile: the
    * calendar surface every reporting layer leans on, pinned where
    * the two engines' conventions actually AGREE (dayofweek is
    * deliberately absent: Spark counts 1=Sunday, DuckDB 0=Sunday —
    * the cross-engine trap this query documents by omission).
    *
    * Scale shape: pure derivations in the scan projection + one
    * partial-agged groupBy to quarters. */
  def q172CalendarZoo(s: SparkSession, dir: String): DataFrame = {
    val d = col("o_orderdate").cast("timestamp")
    Tables.read(s, dir, "orders")
      .select(unix_millis(date_trunc("quarter", d)).as("quarter_ms"),
        unix_millis(date_trunc("month", d)).as("month_ms"),
        dayofyear(d).as("doy"),
        (d.cast("date") === last_day(d)).cast("long").as("at_month_end"))
      .groupBy("quarter_ms")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("month_ms")).as("n_months"),
        min(col("doy")).as("min_doy"), max(col("doy")).as("max_doy"),
        sum(col("at_month_end")).as("n_month_end"))
      .orderBy("quarter_ms")
  }

  val q172Sql: String =
    """SELECT epoch_ms(date_trunc('quarter', CAST(o_orderdate AS TIMESTAMP)))
      |    AS quarter_ms,
      |  count(*) AS n,
      |  count(DISTINCT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)))
      |    AS n_months,
      |  min(dayofyear(CAST(o_orderdate AS TIMESTAMP))) AS min_doy,
      |  max(dayofyear(CAST(o_orderdate AS TIMESTAMP))) AS max_doy,
      |  CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) =
      |      last_day(CAST(o_orderdate AS DATE)) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_month_end
      |FROM orders GROUP BY 1 ORDER BY quarter_ms""".stripMargin

  // ------------------------------------------------ registry

  // ------------------------------------------------ q222 SQL UDFs

  /** The shared body: the UDF call sites (Spark) or their expanded
    * bodies (twin/oracle) slot into the same aggregate. */
  private def q222Body(rev: String, taxed: String): String =
    s"""SELECT l_returnflag, count(*) AS n,
       |  CAST(sum($rev) AS DOUBLE) AS revenue,
       |  CAST(sum($taxed) AS DOUBLE) AS revenue_taxed
       |FROM lineitem
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** The q222 function bodies as SQL text — used verbatim in the
    * CREATE FUNCTION statements and (parameter-substituted) in the
    * inline twin, so the two cannot drift.
    *
    * Numeric discipline, the hard-won form: the FIRST stage casts the
    * raw double product to DECIMAL(18,4) (ties are measure-zero on a
    * raw double product — the module's q10/q11 precedent); the SECOND
    * stage stays ENTIRELY in decimal (DECIMAL(18,4) × DECIMAL(8,4) →
    * DECIMAL(27,8), exact, no rounding anywhere). Two shapes that DO
    * diverge cross-engine, found the hard way: a 3-factor double
    * chain (Catalyst flattens to a commutative multi-multiply that
    * reassociates — the last ulp moves and a later cast flips), and a
    * double re-cast of a 4-decimal × 2-decimal product (the true
    * value has ≤6 decimal digits, so .xxxx5 TIES are structural and
    * Spark HALF_UP vs DuckDB HALF_EVEN split them). */
  private def revBody(p: String, d: String): String =
    s"CAST($p * (1 - $d) AS DECIMAL(18,4))"
  private def taxedBody(rev: String, t: String): String =
    s"($rev * CAST(1 + $t AS DECIMAL(8,4)))"

  /** q222: SQL-DEFINED FUNCTIONS — Spark 4's `CREATE FUNCTION …
    * RETURN <expr>` (SQL UDFs) as a first-class surface: a scalar
    * function and a second function COMPOSING the first, used inside
    * an aggregate over lineitem. The analyzer INLINES the SQL body
    * into the calling plan, so a SQL UDF costs exactly its
    * expression — no serialization wall, no codegen break, unlike a
    * Scala/Python UDF. That zero-cost claim is the scale story and is
    * spec-pinned: the optimized aggregate carries the arithmetic
    * itself (no UDF node anywhere), and the exchange inventory equals
    * the inline twin's (which is also the DuckDB oracle text — double
    * arithmetic in the function bodies, the module's DECIMAL cast at
    * the aggregation site, so the two engines sum exactly; strict
    * plan equality would be brittle — the analyzer leaves a zero-cost
    * parameter-binding Project and commutes the IEEE-commutative
    * multiply).
    *
    * `CREATE OR REPLACE TEMPORARY FUNCTION` is idempotent per
    * session; the definitions are session-scoped catalog entries, not
    * per-dir state (they reference only their parameters). */
  def q222SqlUdf(s: SparkSession, dir: String): DataFrame = {
    s.sql(
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_rev(price DOUBLE, disc DOUBLE)
         |RETURNS DECIMAL(18,4) RETURN ${revBody("price", "disc")}""".stripMargin)
    s.sql(
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_rev_taxed(
         |  price DOUBLE, disc DOUBLE, tax DOUBLE)
         |RETURNS DECIMAL(27,8)
         |RETURN ${taxedBody("graft_rev(price, disc)", "tax")}""".stripMargin)
    ScopedSql.run(s, dir,
      q222Body("graft_rev(l_extendedprice, l_discount)",
        "graft_rev_taxed(l_extendedprice, l_discount, l_tax)"),
      "lineitem" -> Tables.read(s, dir, "lineitem"))
  }

  /** The inline twin — the oracle text AND the baseline the
    * inlining spec compares against (same bodies, parameters
    * substituted). */
  val q222Sql: String =
    q222Body(revBody("l_extendedprice", "l_discount"),
      taxedBody(revBody("l_extendedprice", "l_discount"), "l_tax"))

  /** The inline twin executed Spark-side (for the plan-identity
    * spec). */
  private[graft] def q222InlineTwin(s: SparkSession, dir: String): DataFrame =
    ScopedSql.run(s, dir, q222Sql, "lineitem" -> Tables.read(s, dir, "lineitem"))

  // --------------------------------- q235 EXECUTE IMMEDIATE / variables

  /** q235 filter threshold. */
  final val ExecImmMinValue = 10.0

  /** q235: DYNAMIC SQL — a SESSION VARIABLE holds the query TEXT
    * (DECLARE VARIABLE + SET VARIABLE) and `EXECUTE IMMEDIATE ...
    * USING` runs it with a positional parameter bind: the Spark 4
    * dynamic-SQL surface a metadata-driven pipeline uses to run
    * queries assembled at runtime (q162 binds parameters into STATIC
    * text; this binds the TEXT itself). The inner query is the same
    * classic aggregation the oracle states directly — identity across
    * surfaces, the q159 proof shape. The variable name is
    * session-global, so the text is (re)SET on every call — two dirs
    * in one session cannot cross-talk (the scoped view name is baked
    * into the text at call time).
    *
    * Scale shape: whatever the inner query plans — here the q21-class
    * partial+final aggregation, one shuffle; EXECUTE IMMEDIATE adds
    * parse-time work only. */
  def q235ExecImmediate(s: SparkSession, dir: String): DataFrame = {
    val scoped = s"events_${ScopedSql.tag(dir)}"
    Tables.events(s, dir).createOrReplaceTempView(scoped)
    s.sql("DECLARE OR REPLACE VARIABLE graft_q235_text STRING")
    s.sql("SET VARIABLE graft_q235_text = " +
      s"'SELECT event_type, count(*) AS n, " +
      s"CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS soma " +
      s"FROM $scoped WHERE value >= ? " +
      s"GROUP BY event_type ORDER BY event_type'")
    s.sql(s"EXECUTE IMMEDIATE graft_q235_text USING $ExecImmMinValue")
  }

  val q235Sql: String =
    s"""SELECT event_type, count(*) AS n,
       |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS soma
       |FROM events WHERE value >= $ExecImmMinValue
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------ q236 SQL scripting

  /** q236: SQL SCRIPTING (BEGIN…END) — Spark 4's procedural SQL: a
    * script DECLAREs a variable, SETs it from a scalar subquery, and
    * BRANCHES (IF/ELSE) on it; the script's value is its last
    * statement's result. Here the branch is the classic "aggregate
    * when the relation is big enough, emit the raw marker row
    * otherwise" guard a SQL-only pipeline writes without leaving the
    * engine. Scripting ships ENABLED by default on this Spark (4.1;
    * `spark.sql.scripting.enabled` defaults true), but the knob is
    * still set-and-RESTORED around the one call (try/finally, the
    * ConfScope discipline) so the op also runs on a session where an
    * operator disabled it — restoration to the pre-call value is
    * spec-pinned, and a momentary scripting-permission flag cannot
    * affect a concurrent query's plan.
    *
    * The oracle is BRANCH-AWARE (the round-14 nasty sweep caught the
    * first draft stating only the THEN branch — the adversarial
    * events fixture sits under the threshold): both legs union under
    * mutually-exclusive count gates, so the oracle takes whichever
    * branch the script takes at any corpus size, empty included. */
  def q236SqlScript(s: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.scripting.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    try q236Body(s, dir)
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  private def q236Body(s: SparkSession, dir: String): DataFrame = {
    val scoped = s"events_${ScopedSql.tag(dir)}"
    Tables.events(s, dir).createOrReplaceTempView(scoped)
    s.sql(
      s"""BEGIN
         |  DECLARE n BIGINT;
         |  SET n = (SELECT count(*) FROM $scoped);
         |  IF n > 100 THEN
         |    SELECT 'agg' AS mode, event_type, count(*) AS c
         |    FROM $scoped GROUP BY event_type ORDER BY event_type;
         |  ELSE
         |    SELECT 'raw' AS mode, event_type, CAST(1 AS BIGINT) AS c
         |    FROM $scoped GROUP BY event_type ORDER BY event_type;
         |  END IF;
         |END""".stripMargin)
  }

  val q236Sql: String =
    """WITH nn AS (SELECT count(*) AS n FROM events),
      |br AS (
      |  SELECT 'agg' AS mode, event_type, count(*) AS c
      |  FROM events CROSS JOIN nn WHERE nn.n > 100 GROUP BY event_type
      |  UNION ALL
      |  SELECT 'raw' AS mode, event_type, CAST(1 AS BIGINT) AS c
      |  FROM events CROSS JOIN nn WHERE nn.n <= 100 GROUP BY event_type
      |)
      |SELECT mode, event_type, c FROM br ORDER BY event_type""".stripMargin

  // ------------------------------------ q237 SQL table functions

  /** q237 top-k (a BODY constant, not a function parameter — see the
    * scaladoc's pushdown note). */
  final val TableFnTopK = 3

  /** q237: SQL-DEFINED TABLE FUNCTIONS (Spark 4 `CREATE FUNCTION …
    * RETURNS TABLE`) — the table-valued sibling of q222's scalar SQL
    * UDFs: a parameterized top-k-per-priority relation defined once
    * in SQL, then invoked CORRELATED under LATERAL (the argument is
    * the outer row's priority — the q134 lateral shape through a
    * reusable named function instead of an inline subquery). The
    * analyzer inlines the function body exactly like the scalar
    * case, so the plan is the rank-window/limit plan the oracle
    * states — identity across surfaces, nothing opaque at runtime.
    *
    * Scale shape: after inlining, per-priority top-k as a rank
    * window; one shuffle on the priority. THREE engine lessons are
    * baked in (all measured while building the op): (1) `LIMIT k`
    * with k a function PARAMETER is rejected outright
    * (INVALID_LIMIT_LIKE_EXPRESSION — limit must fold); (2) a
    * parameterized `rk <= k` filter blocks InferWindowGroupLimit
    * (the pushdown pattern-matches rank ≤ LITERAL) — hence the body
    * constant [[TableFnTopK]]; (3) even WITH the literal cut, the
    * lateral-TVF subtree still misses the group-limit pushdown on
    * this Spark (the identical plain rank query plans
    * WindowGroupLimit; the TVF plan does not — probed side by side),
    * so above ~100× a hot path should state the rank query directly
    * (the oracle text IS that query). Round-14 verdict #6 drove that
    * declaration to a MECHANICAL decision: the op now SIZE-GATES the
    * surface (the q72 capped-broadcast shape applied to surface
    * choice) — below [[TableFnDispatchRows]] orders rows it runs the
    * lateral-TVF surface (the surface proof, plan cost flat to the
    * measured 100× rung); above, it dispatches to the window-rank
    * twin whose plan carries WindowGroupLimit (16.8 s → the twin's
    * rank plan at the 1000× rung). Both produce identical rows (same
    * rank, same tie-break); the threshold is conf-overridable
    * (`spark.graft.q237.dispatchRows`) so the PlanSpec pins BOTH
    * dispatch arms at the gate SF. The op's value is the SURFACE
    * proof: reusable, parameterized, correlated-lateral SQL
    * relations — with the scale path selected by the engine, not by a
    * reader of scaladoc. */
  def q237SqlTableFn(s: SparkSession, dir: String): DataFrame = {
    val scoped = s"orders_${ScopedSql.tag(dir)}"
    Tables.read(s, dir, "orders").createOrReplaceTempView(scoped)
    val rows = ordersCountCache.get(s, dir,
      graft.sources.FsSig.of(s"$dir/orders.parquet"))(
      Tables.read(s, dir, "orders").count())
    val threshold = s.conf.getOption("spark.graft.q237.dispatchRows")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(TableFnDispatchRows)
    if (rows > threshold) return s.sql(q237TwinSql(scoped))
    s.sql(
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_top_orders(prio STRING)
         |RETURNS TABLE (o_orderkey BIGINT, o_totalprice DOUBLE)
         |RETURN SELECT o_orderkey, o_totalprice FROM (
         |  SELECT o_orderkey, o_totalprice,
         |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
         |  FROM $scoped WHERE o_orderpriority = prio) WHERE rk <= $TableFnTopK"""
        .stripMargin)
    s.sql(
      s"""SELECT p.o_orderpriority, t.o_orderkey, t.o_totalprice
         |FROM (SELECT DISTINCT o_orderpriority FROM $scoped) p,
         |  LATERAL graft_top_orders(p.o_orderpriority) t
         |ORDER BY p.o_orderpriority, t.o_totalprice DESC, t.o_orderkey"""
        .stripMargin)
  }

  /** Orders-row threshold for q237's surface dispatch: the TVF
    * surface measured flat to the 100× rung (~1.5 M orders rows) and
    * paid the missing group-limit pushdown only at 1000× (~15 M) —
    * the gate sits between them. */
  final val TableFnDispatchRows = 2000000L

  /** Row count of the orders table per (session, dir) — one count on
    * first use, signature-guarded (the q51 hot-keys discipline); the
    * dispatch must not pay a count job per call. */
  private val ordersCountCache = new graft.operators.PlanCache[Long]("orders_count_tvf")()

  /** The window-rank twin stated against a given table name — the
    * >100× dispatch arm AND (via [[q237Sql]]) the oracle text. */
  def q237TwinSql(table: String): String =
    s"""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
       |  SELECT o_orderpriority, o_orderkey, o_totalprice,
       |    row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
       |  FROM $table) WHERE rk <= $TableFnTopK
       |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin

  /** The inline twin: per-priority rank ≤ 3 with the same tie-break. */
  val q237Sql: String = q237TwinSql("orders")

  // ------------------------------------------------ q253 LISTAGG

  /** Names kept per segment in the q253 ordered aggregation. */
  val ListaggTopK = 3

  /** q253: LISTAGG WITHIN GROUP (Spark 4's SQL:2023 ordered string
    * aggregation, SPARK-42746) — the report-layer surface that turns
    * a ranked group into one deterministic delimited cell. The
    * top-[[ListaggTopK]] cut runs FIRST through a raw-int row_number
    * filter (InferWindowGroupLimit pushes rank ≤ K map-side), so the
    * ordered aggregation only ever sees K rows per group — the
    * listagg state is bounded by construction, never by group
    * cardinality, which is what makes an ordered string agg safe at
    * 100 TB (an unbounded listagg over a hot group is an OOM by
    * design). Oracle: DuckDB's string_agg with the same ORDER BY and
    * tie-break. */
  def q253Listagg(s: SparkSession, dir: String): DataFrame =
    ScopedSql.run(s, dir,
      s"""WITH ranked AS (
         |  SELECT c_mktsegment, c_name, c_acctbal,
         |    row_number() OVER (PARTITION BY c_mktsegment
         |      ORDER BY c_acctbal DESC, c_name) AS rk
         |  FROM customer
         |)
         |SELECT c_mktsegment, count(*) AS n_top,
         |  listagg(c_name, ',')
         |    WITHIN GROUP (ORDER BY c_acctbal DESC, c_name) AS top_names
         |FROM ranked WHERE rk <= $ListaggTopK
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      "customer" -> Tables.read(s, dir, "customer"))

  val q253Sql: String =
    s"""WITH ranked AS (
       |  SELECT c_mktsegment, c_name, c_acctbal,
       |    row_number() OVER (PARTITION BY c_mktsegment
       |      ORDER BY c_acctbal DESC, c_name) AS rk
       |  FROM customer
       |)
       |SELECT c_mktsegment, count(*) AS n_top,
       |  string_agg(c_name, ',' ORDER BY c_acctbal DESC, c_name) AS top_names
       |FROM ranked WHERE rk <= $ListaggTopK
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q237_sql_table_fn", q237SqlTableFn, q237Sql),
    QueryDef("q235_exec_immediate", q235ExecImmediate, q235Sql),
    QueryDef("q236_sql_script", q236SqlScript, q236Sql),
    QueryDef("q222_sql_udf", q222SqlUdf, q222Sql),
    QueryDef("q159_pipe_syntax", q159PipeSyntax, q159Sql),
    QueryDef("q160_variant_shred", q160VariantShred, q160Sql),
    QueryDef("q161_collation", q161Collation, q161Sql),
    QueryDef("q162_param_sql", q162ParamSql, q162Sql),
    QueryDef("q163_window_zoo", q163WindowZoo, q163Sql),
    QueryDef("q164_setops_all", q164SetopsAll, q164Sql),
    QueryDef("q165_paginate", q165Paginate, q165Sql),
    QueryDef("q166_group_by_all", q166GroupByAll, q166Sql),
    QueryDef("q170_join_hints", q170JoinHints, q170Sql),
    QueryDef("q171_hof_zoo", q171HofZoo, q171Sql),
    QueryDef("q172_calendar_zoo", q172CalendarZoo, q172Sql),
    QueryDef("q253_listagg", q253Listagg, q253Sql)
  )
}
