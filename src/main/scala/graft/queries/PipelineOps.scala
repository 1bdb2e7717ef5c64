package graft.queries

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Round-10 corpus-lifecycle operators (SURVEY.md §2.3): the
  * version-to-version maintenance passes a production training-data
  * pipeline runs BETWEEN crawls — snapshot diffing, budget-bounded
  * corpus selection, and distribution-shift monitoring.
  *
  * Same oracle-parity rules as [[Queries]] (FIXTURES.md §D): integer
  * counts, one-division doubles rounded 6 dp, ordering-sensitive
  * float sums through round-10dp + DECIMAL(28,10) (the q128
  * discipline), stable ORDER BY in both dialects.
  */
object PipelineOps {

  private def dec(c: Column, p: Int, sc: Int): Column = c.cast(DecimalType(p, sc))

  // ------------------------------------------------ q173 corpus snapshot diff

  /** Deterministic "next crawl" twin of the documents table, derived
    * in-query so the diff is reproducible on any fixture: every 13th
    * doc is dropped (removed), every 7th survivor is re-crawled with
    * appended content (changed), and every 11th doc contributes a
    * fresh discovery under a disjoint id range (added). */
  private val AddedIdOffset = 10000000L

  private def corpusV2(v1: DataFrame): DataFrame = {
    val survivors = v1.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"),
        col("source"))
    val additions = v1.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + AddedIdOffset).as("doc_id"),
        concat(lit("addendum "), col("doc_id").cast("string")).as("text"),
        col("source"))
    survivors.unionByName(additions)
  }

  /** q173: CORPUS SNAPSHOT DIFF — the content-addressed CDC pass that
    * reconciles two corpus versions (crawl N vs crawl N+1) into
    * added / removed / changed / unchanged classes, the precursor to
    * every incremental-processing decision (what to re-tokenize,
    * re-embed, re-dedup).
    *
    * Scale shape: each side reduces to (doc_id, md5(text), length)
    * MAP-SIDE, so the full-outer join moves 32-char digests — never
    * document bodies — and a bucketed-by-doc_id layout makes it
    * exchange-free (the q50 discipline). Classification is a null /
    * digest-equality CASE on the joined row; the output collapses to
    * four count rows at the final partial agg. At 100 TB this is the
    * cheapest possible "what changed" pass: one co-partitioned join
    * over digests plus a four-group aggregate. */
  def q173CorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.read(s, dir, "documents")
    val a = v1.select(col("doc_id"), md5(col("text")).as("h1"),
      length(col("text")).as("len1"))
    val b = corpusV2(v1).select(col("doc_id"), md5(col("text")).as("h2"),
      length(col("text")).as("len2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed").as("status"),
        coalesce(col("len2"), col("len1")).as("len"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), sum("len").as("n_chars"))
      .orderBy("status")
  }

  val q173Sql: String =
    s"""WITH v1 AS (
       |  SELECT doc_id, text, source FROM documents
       |), v2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
       |  FROM v1 WHERE doc_id % 13 <> 0
       |  UNION ALL
       |  SELECT doc_id + $AddedIdOffset, 'addendum ' || CAST(doc_id AS VARCHAR)
       |  FROM v1 WHERE doc_id % 11 = 0
       |), d AS (
       |  SELECT
       |    CASE WHEN a.doc_id IS NULL THEN 'added'
       |         WHEN b.doc_id IS NULL THEN 'removed'
       |         WHEN md5(a.text) = md5(b.text) THEN 'unchanged'
       |         ELSE 'changed' END AS status,
       |    coalesce(length(b.text), length(a.text)) AS len
       |  FROM (SELECT doc_id, text FROM v1) a
       |  FULL OUTER JOIN v2 b USING (doc_id)
       |)
       |SELECT status, count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS n_chars
       |FROM d GROUP BY status ORDER BY status""".stripMargin

  // -------------------------------------------- q174 token-budget selection

  /** Selection budget as a fraction of the corpus: keep the
    * best-scoring fifth (integer division of the total token count). */
  val BudgetDenom = 5

  /** Ranking-score rounding: the greedy order is (score@4dp DESC,
    * doc_id ASC). Rounding the score IS the ranking definition, not a
    * display choice — it is what makes the scalable two-phase plan
    * below exactly equal to the naive global sort (the bucket key and
    * the ranking key coincide), and 4 dp keeps the bucket-level frame
    * ≤ 10⁴ rows at any corpus size. */
  val ScoreDp = 4

  /** q174: TOKEN-BUDGET CORPUS SELECTION — greedy quality-ranked
    * subsetting under a global token budget (the "best N tokens"
    * curation every mixture builder runs): rank docs by lexical
    * diversity (distinct/total tokens, the cheap quality proxy),
    * admit in rank order while the running token total fits the
    * budget, report the per-source outcome.
    *
    * The naive formulation is ONE GLOBAL cumulative-sum window — a
    * single-partition sort of the corpus, the q165 scale-killer. This
    * runs the two-phase equivalent: (1) per-score-bucket token totals
    * (score is rounded to [[ScoreDp]], so ≤ 10⁴+1 buckets at ANY
    * corpus size) with the cumulative-before-bucket sum computed on
    * that tiny bucket frame; (2) the within-bucket running sum as a
    * window PARTITIONED BY bucket (distributed, and only boundary-
    * bucket rows can straddle the budget). Because the ranking key
    * equals (bucket DESC, doc_id ASC), phase-1 + phase-2 compose to
    * EXACTLY the global prefix — the DuckDB oracle runs the naive
    * global window and must agree row-for-row. */
  def q174TokenBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"),
        size(array_distinct(split(col("text"), "\\s+"))).cast("long").as("nu"))
      .filter(col("nt") > 0)
      .withColumn("score", round(col("nu").cast("double") / col("nt"), ScoreDp))
    // the global budget: one scalar row, broadcast by the cross join
    val budget = tok.agg(graft.functions.GraftFunctions
      .idiv(sum("nt"), lit(BudgetDenom.toLong)).as("budget"))
    // phase 1: bucket totals + exclusive prefix over the TINY bucket
    // frame (≤ 10^ScoreDp + 1 rows — a driver-scale window, not a
    // corpus-scale one)
    val wBuckets = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = tok.groupBy("score").agg(sum("nt").as("bucket_nt"))
      .withColumn("before", coalesce(sum("bucket_nt").over(wBuckets), lit(0L)))
      .select("score", "before")
    // phase 2: within-bucket running sum, distributed by bucket
    val wIn = Window.partitionBy("score").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok
      .join(broadcast(buckets), Seq("score"))
      .crossJoin(broadcast(budget))
      .withColumn("cum", col("before") + sum("nt").over(wIn))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cum") <= col("budget"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("cum") <= col("budget"), col("nt")).otherwise(0L)).as("sel_tokens"))
      .orderBy("source")
  }

  val q174Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt,
       |    CAST(len(list_distinct(string_split_regex(text, '\\s+'))) AS BIGINT) AS nu
       |  FROM documents
       |), sc AS (
       |  SELECT doc_id, source, nt,
       |    round(CAST(nu AS DOUBLE) / nt, $ScoreDp) AS score
       |  FROM tok WHERE nt > 0
       |), b AS (
       |  SELECT sum(nt) // $BudgetDenom AS budget FROM sc
       |), r AS (
       |  SELECT source, nt,
       |    sum(nt) OVER (ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM sc
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(coalesce(sum(CASE WHEN cum <= budget THEN 1 END), 0) AS BIGINT)
       |    AS n_selected,
       |  CAST(coalesce(sum(CASE WHEN cum <= budget THEN nt END), 0) AS BIGINT)
       |    AS sel_tokens
       |FROM r, b GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------- q175 PSI drift

  /** Fixed-width value buckets: [0,50) [50,100) … capped at bucket 9
    * (the PSI convention of ~10 bins; the cap keeps the contingency
    * table bounded whatever the value range grows to). */
  val PsiBucketWidth = 50.0
  val PsiMaxBucket = 9

  /** Industry-standard PSI alarm threshold (≥ 0.2 = major shift). */
  val PsiThresh = 0.2

  /** q175: POPULATION STABILITY INDEX — the binned distribution-shift
    * monitor (the q127 KS test's banking-world sibling; KS compares
    * whole CDFs, PSI attributes the shift to value bands): per event
    * type, PSI = Σ_bands (p_a − p_b)·ln(p_a/p_b) between the two
    * user populations, Laplace-smoothed (+1 per observed band) so a
    * band empty on one side contributes a finite term.
    *
    * Defined over OBSERVED (type, band) groups — both engines compute
    * the identical group set, so smoothing never materializes
    * phantom bands. Float discipline is q128's: each band term
    * rounds to 10 dp and sums through DECIMAL(28,10); the counts and
    * totals are exact integers. Scale: the stream collapses to the
    * ≤ |types|·10-row contingency table at the first partial agg —
    * everything downstream is table-sized. */
  def q175PsiDrift(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .select(col("event_type"),
        least(floor(col("value") / PsiBucketWidth), lit(PsiMaxBucket))
          .cast("int").as("band"),
        (col("event_id") % 2).as("pop"))
      .groupBy("event_type", "band")
      .agg(sum(when(col("pop") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("pop") === 1, 1L).otherwise(0L)).as("cb"))
    val wt = Window.partitionBy("event_type")
    val base = g
      .withColumn("na", sum("ca").over(wt))
      .withColumn("nb", sum("cb").over(wt))
      .withColumn("nbands", count(lit(1)).over(wt))
    val pa = (col("ca") + 1).cast("double") / (col("na") + col("nbands"))
    val pb = (col("cb") + 1).cast("double") / (col("nb") + col("nbands"))
    base
      .groupBy("event_type")
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        sum(dec(round((pa - pb) * log(pa / pb), 10), 28, 10)).as("psi10"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("psi10").cast("double"), 6).as("psi"))
      .withColumn("drifted", col("psi") >= PsiThresh)
      .orderBy("event_type")
  }

  val q175Sql: String =
    s"""WITH g AS (
       |  SELECT event_type,
       |    CAST(least(floor(value / $PsiBucketWidth), $PsiMaxBucket) AS INTEGER)
       |      AS band,
       |    sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
       |    sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
       |  FROM events GROUP BY 1, 2
       |), b AS (
       |  SELECT event_type, ca, cb,
       |    sum(ca) OVER (PARTITION BY event_type) AS na,
       |    sum(cb) OVER (PARTITION BY event_type) AS nb,
       |    count(*) OVER (PARTITION BY event_type) AS nbands
       |  FROM g
       |), terms AS (
       |  SELECT event_type, na, nb,
       |    CAST(round((CAST(ca + 1 AS DOUBLE) / (na + nbands)
       |        - CAST(cb + 1 AS DOUBLE) / (nb + nbands))
       |      * ln((CAST(ca + 1 AS DOUBLE) / (na + nbands))
       |        / (CAST(cb + 1 AS DOUBLE) / (nb + nbands))), 10)
       |      AS DECIMAL(28,10)) AS term
       |  FROM b
       |), p AS (
       |  SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
       |    CAST(max(nb) AS BIGINT) AS n_b,
       |    round(CAST(sum(term) AS DOUBLE), 6) AS psi
       |  FROM terms GROUP BY event_type
       |)
       |SELECT event_type, n_a, n_b, psi, psi >= $PsiThresh AS drifted
       |FROM p ORDER BY event_type""".stripMargin

  // ------------------------------------------ q176 bottom-k hash sample

  /** Sample size per stratum. */
  val SampleK = 10

  /** q176: REPRODUCIBLE FIXED-SIZE STRATIFIED SAMPLE — bottom-k by
    * content-independent hash priority per source (the distributed
    * uniform-sample idiom: assign each row the priority
    * md5(salt‖doc_id), keep the k smallest per stratum). Unlike q57's
    * hash-PERCENT filter this yields EXACTLY k docs per stratum —
    * the "give me 10 auditable examples from every source, same ten
    * every run" sampler — and unlike `TABLESAMPLE` it is
    * deterministic across engines, partitionings and Spark versions.
    *
    * Scale shape: `row_number ≤ k` over (source, priority) is the
    * InferWindowGroupLimit pattern (the q55/q148 discipline) — each
    * map task keeps only its local top-k per stratum BEFORE the
    * shuffle, so the exchange carries ≤ k·parts rows per source, not
    * the corpus. Spec asserts WindowGroupLimit in the plan. */
  def q176BottomkSample(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.read(s, dir, "documents").select(col("doc_id"), col("source"),
      md5(concat(lit("k|"), col("doc_id").cast("string"))).as("pri"))
    val w = Window.partitionBy("source").orderBy("pri", "doc_id")
    keyed.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= SampleK)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("pri"))
      .orderBy("source", "rk")
  }

  val q176Sql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, source,
       |    md5('k|' || CAST(doc_id AS VARCHAR)) AS pri
       |  FROM documents
       |), rk AS (
       |  SELECT source, doc_id, pri,
       |    row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rk
       |  FROM keyed
       |)
       |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, pri
       |FROM rk WHERE rk <= $SampleK ORDER BY source, rk""".stripMargin

  // --------------------------------------------- q177 crawl novelty

  /** q177: CRAWL NOVELTY RATE — of the next crawl's NEW content (q173's
    * added + changed docs, derived by digest, never by knowing the
    * mutation rule), what fraction of its distinct word-trigrams was
    * never seen in the current corpus? The crawl-worth-it metric every
    * refresh decision reads: a crawl that is 95% re-hashed boilerplate
    * is not worth re-tokenizing.
    *
    * Scale shape: both sides reduce to DISTINCT trigram sets before
    * the membership join (the q59 decontamination shape — novelty is
    * an anti-join against the corpus vocabulary; at 100 TB the
    * vocabulary side is bloom-prefiltered exactly like q87 before the
    * exact join). Per-source outputs collapse at the final partial
    * agg. A document's distinct trigrams are its DocSketch `sh` set,
    * computed row-locally on either snapshot. */
  def q177CrawlNovelty(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.read(s, dir, "documents")
    val fresh = corpusV2(v1)
      .join(v1.select(col("doc_id"), md5(col("text")).as("h1")),
        Seq("doc_id"), "left")
      .filter(col("h1").isNull || md5(col("text")) =!= col("h1"))
      .select("doc_id", "source", "text")
    val g = explode(graft.functions.GraftFunctions.docSketch(col("text")).getField("sh")).as("g")
    val vocab = v1.select(g).distinct().withColumn("x_seen", lit(true))
    fresh.select(col("source"), g).distinct()
      .join(vocab, Seq("g"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("x_seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("source"), col("n_grams"), col("n_novel"),
        when(col("n_grams") > 0,
          round(col("n_novel").cast("double") / col("n_grams"), 6))
          .as("novelty_rate"))
      .orderBy("source")
  }

  private val triSql =
    """list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |      for i in range(1, len(w) - 1)])""".stripMargin

  val q177Sql: String =
    s"""WITH v1 AS (
       |  SELECT doc_id, text, source FROM documents
       |), v2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text,
       |    source
       |  FROM v1 WHERE doc_id % 13 <> 0
       |  UNION ALL
       |  SELECT doc_id + $AddedIdOffset, 'addendum ' || CAST(doc_id AS VARCHAR),
       |    source
       |  FROM v1 WHERE doc_id % 11 = 0
       |), fresh AS (
       |  SELECT v2.doc_id, v2.source, v2.text
       |  FROM v2 LEFT JOIN (SELECT doc_id, md5(text) AS h1 FROM v1) h
       |    USING (doc_id)
       |  WHERE h.h1 IS NULL OR md5(v2.text) <> h.h1
       |), vocab AS (
       |  SELECT DISTINCT unnest($triSql) AS g
       |  FROM (SELECT string_split_regex(text, '\\s+') AS w FROM v1)
       |), g2 AS (
       |  SELECT DISTINCT source, unnest($triSql) AS g
       |  FROM (SELECT source, string_split_regex(text, '\\s+') AS w FROM fresh)
       |), j AS (
       |  SELECT g2.source, g2.g, vocab.g IS NOT NULL AS seen
       |  FROM g2 LEFT JOIN vocab USING (g)
       |)
       |SELECT source, count(*) AS n_grams,
       |  CAST(coalesce(sum(CASE WHEN NOT seen THEN 1 END), 0) AS BIGINT)
       |    AS n_novel,
       |  CASE WHEN count(*) > 0 THEN
       |    round(CAST(coalesce(sum(CASE WHEN NOT seen THEN 1 END), 0) AS DOUBLE)
       |      / count(*), 6) END AS novelty_rate
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------ q178 quality-classifier training

  /** Gradient-descent step size and unrolled iteration count. */
  val LrRate = 0.5
  val LrIters = 3

  /** Feature rounding (4 dp — the feature vector IS the 4-dp value;
    * both engines train on bit-identical inputs) and the sigmoid grid
    * (6 dp — coarse enough that a 1-ulp libm `exp` disagreement
    * cannot flip the rounded probability, fine enough that the grid
    * error is invisible at the 6-dp output). */
  val LrFeatDp = 4
  val LrProbDp = 6

  /** One-row feature frame: intercept + three bounded [0,1]-ish
    * signals (lexical diversity, log-char scale/10, log-token
    * scale/10 — the /10 keeps every |w·x| ≤ ~3 across [[LrIters]]
    * steps, so the 6-dp sigmoid never saturates to 0/1 and the
    * log-loss stays finite). Label: the high-precision weak rule
    * `lang = 'en'` — the fastText-style setup where a cheap rule
    * labels and a linear model generalizes. */
  private def lrFeats(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"),
        size(array_distinct(split(col("text"), "\\s+"))).cast("long").as("nu"))
      .filter(col("nt") > 0)
      .select(
        when(col("lang") === "en", 1.0d).otherwise(0.0d).as("y"),
        round(col("nu").cast("double") / col("nt"), LrFeatDp).as("x1"),
        round(log(col("n_chars").cast("double") + 1d) / 10d, LrFeatDp).as("x2"),
        round(log(col("nt").cast("double") + 1d) / 10d, LrFeatDp).as("x3"))

  /** One exact gradient/loss aggregate at fixed literal weights.
    * Returns (n, g0..g3, loss) where each g/loss cell is a
    * DECIMAL(28,10) sum of per-row terms rounded to 10 dp — exact,
    * order-independent, cross-engine identical (the q128 discipline;
    * the sole float inputs are the 4-dp features, the 6-dp gridded
    * sigmoid, and the 6-dp literal weights, all deterministic). */
  private def lrStep(feats: DataFrame, w: Seq[Double]): DataFrame = {
    val m = lit(w(0)) + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    val p = round(lit(1.0d) / (lit(1.0d) + exp(-m)), LrProbDp)
    val pc = greatest(least(p, lit(1d - 1e-6)), lit(1e-6))
    def g(x: Column) = sum(dec(round((pc - col("y")) * x, 10), 28, 10))
    feats.agg(count(lit(1)).as("n"),
      g(lit(1.0d)).as("g0"), g(col("x1")).as("g1"),
      g(col("x2")).as("g2"), g(col("x3")).as("g3"),
      sum(dec(round(-(col("y") * log(pc) +
        (lit(1.0d) - col("y")) * log(lit(1.0d) - pc)), 10), 28, 10)).as("loss"))
  }

  /** Mirror of Spark's `round(_, dp)` (HALF_UP on the BigDecimal of
    * the double) for the driver-side weight fold. */
  private def r(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** q178: QUALITY-CLASSIFIER TRAINING — batch logistic regression
    * trained INSIDE the engine ([[LrIters]] full-gradient steps from
    * w = 0): the weak-supervision loop every corpus pipeline runs —
    * a high-precision rule labels a slice, a linear model over cheap
    * features generalizes the rule, the learned scores drive the
    * q174 selection. Output: one row per iteration with the
    * start-of-step log-loss and the post-step weights.
    *
    * Scale shape: each iteration is ONE map-side-combinable scalar
    * aggregate over the feature scan — no window, no join, no shuffle
    * beyond the 1-row partial-agg merge; the driver folds the 1-row
    * result into next step's literal weights (the q74 Lloyd
    * pattern — bounded K-row collect, never data). At 100 TB each
    * step is a single pass; the feature frame would be persisted
    * across steps (here the 3× re-scan is cheaper than the cache).
    * Determinism: exact-decimal gradient sums at 6-dp gridded
    * sigmoid → the weight fold is bit-identical in both engines. */
  /** The [[LrIters]]-step weight fold: per iteration, the
    * start-of-step loss and the post-step weights. Shared by the q178
    * trainer and the q180 calibration read. */
  private def lrFold(feats: DataFrame): Seq[(Long, Option[Double], Seq[Double])] = {
    var w = Seq(0.0d, 0.0d, 0.0d, 0.0d)
    (1 to LrIters).map { it =>
      val row = lrStep(feats, w).head()
      val n = row.getAs[Long]("n").toDouble
      // empty corpus: no gradient signal — weights hold, loss is null
      val loss =
        if (n == 0) None
        else Some(r(row.getAs[java.math.BigDecimal]("loss").doubleValue() / n, 6))
      if (n > 0) w = w.zipWithIndex.map { case (wj, j) =>
        r(wj - LrRate * row.getAs[java.math.BigDecimal](s"g$j").doubleValue() / n,
          6)
      }
      (it.toLong, loss, w)
    }
  }

  def q178LrQuality(s: SparkSession, dir: String): DataFrame = {
    val rows = lrFold(lrFeats(s, dir))
      .map { case (it, loss, w) => (it, loss, w(0), w(1), w(2), w(3)) }
    import s.implicits._
    rows.toDF("iter", "logloss", "w0", "w1", "w2", "w3")
      .orderBy("iter")
  }

  /** The per-step gradient CTE bodies, unrolled at SQL-text level —
    * step k reads step k−1's weight row. */
  private def lrStepSql(wRef: String): String =
    s"""  SELECT count(*) AS n,
       |    sum(CAST(round((pc - y) * 1.0, 10) AS DECIMAL(28,10))) AS g0,
       |    sum(CAST(round((pc - y) * x1, 10) AS DECIMAL(28,10))) AS g1,
       |    sum(CAST(round((pc - y) * x2, 10) AS DECIMAL(28,10))) AS g2,
       |    sum(CAST(round((pc - y) * x3, 10) AS DECIMAL(28,10))) AS g3,
       |    sum(CAST(round(-(y * ln(pc) + (1.0 - y) * ln(1.0 - pc)), 10)
       |      AS DECIMAL(28,10))) AS loss
       |  FROM (
       |    SELECT y, x1, x2, x3,
       |      greatest(least(round(1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2
       |        + w3 * x3))), $LrProbDp), 1.0 - 1e-6), 1e-6) AS pc
       |    FROM feats, $wRef)""".stripMargin

  /** `CASE n = 0` mirrors the Scala fold's empty-corpus hold (weights
    * unchanged, no NULL poisoning). */
  private def lrWeightSql(g: String, prev: String): String =
    s"""  SELECT
       |    CASE WHEN n = 0 THEN w0
       |      ELSE round(w0 - $LrRate * CAST(g0 AS DOUBLE) / n, 6) END AS w0,
       |    CASE WHEN n = 0 THEN w1
       |      ELSE round(w1 - $LrRate * CAST(g1 AS DOUBLE) / n, 6) END AS w1,
       |    CASE WHEN n = 0 THEN w2
       |      ELSE round(w2 - $LrRate * CAST(g2 AS DOUBLE) / n, 6) END AS w2,
       |    CASE WHEN n = 0 THEN w3
       |      ELSE round(w3 - $LrRate * CAST(g3 AS DOUBLE) / n, 6) END AS w3
       |  FROM $g, $prev""".stripMargin

  val q178Sql: String =
    s"""WITH feats AS (
       |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    round(CAST(nu AS DOUBLE) / nt, $LrFeatDp) AS x1,
       |    round(ln(CAST(n_chars AS DOUBLE) + 1.0) / 10.0, $LrFeatDp) AS x2,
       |    round(ln(CAST(nt AS DOUBLE) + 1.0) / 10.0, $LrFeatDp) AS x3
       |  FROM (
       |    SELECT lang, n_chars,
       |      CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt,
       |      CAST(len(list_distinct(string_split_regex(text, '\\s+')))
       |        AS BIGINT) AS nu
       |    FROM documents) WHERE nt > 0
       |), w0 AS (
       |  SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3
       |), s1 AS (
       |${lrStepSql("w0")}
       |), w1 AS (
       |${lrWeightSql("s1", "w0")}
       |), s2 AS (
       |${lrStepSql("w1")}
       |), w2 AS (
       |${lrWeightSql("s2", "w1")}
       |), s3 AS (
       |${lrStepSql("w2")}
       |), w3 AS (
       |${lrWeightSql("s3", "w2")}
       |)
       |SELECT CAST(1 AS BIGINT) AS iter,
       |  round(CAST((SELECT loss FROM s1) AS DOUBLE)
       |    / (SELECT n FROM s1), 6) AS logloss,
       |  w0, w1, w2, w3 FROM w1
       |UNION ALL
       |SELECT 2, round(CAST((SELECT loss FROM s2) AS DOUBLE)
       |    / (SELECT n FROM s2), 6), w0, w1, w2, w3 FROM w2
       |UNION ALL
       |SELECT 3, round(CAST((SELECT loss FROM s3) AS DOUBLE)
       |    / (SELECT n FROM s3), 6), w0, w1, w2, w3 FROM w3
       |ORDER BY iter""".stripMargin

  // ------------------------------------------- q179 exact midrank AUC

  /** q179: SLICED ROC-AUC BY MIDRANKS — q126's tie-corrected
    * rank-sum identity (2·midrank = 2·cum_before + cnt + 1, exact
    * integers until the final division) applied PER EVALUATION SLICE:
    * per source, the Mann-Whitney AUC of the lexical-diversity score
    * against the `lang = 'en'` weak label — the per-segment quality
    * readout a monitoring dashboard slices by (q126 answers "does the
    * score separate globally"; this answers "on which sources does it
    * fail"), and the eval twin of the q178 trainer.
    *
    * What changes vs q126 at scale: q126's cumulative runs as ONE
    * GLOBAL window over the distinct-score table; here the window is
    * PARTITIONED BY slice over the per-(source, 4-dp score) bucket
    * table — distributed across slices, each frame bounded by the
    * score space (≤ 10⁴+1 rows, the q174 frame discipline), never
    * per-doc rows. */
  def q179AucMidrank(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.read(s, dir, "documents")
      .select(col("source"), col("lang"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"),
        size(array_distinct(split(col("text"), "\\s+"))).cast("long").as("nu"))
      .filter(col("nt") > 0)
      .select(col("source"),
        round(col("nu").cast("double") / col("nt"), LrFeatDp).as("sc"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val buckets = scored.groupBy("source", "sc")
      .agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
    val wb = Window.partitionBy("source").orderBy("sc")
      .rowsBetween(Window.unboundedPreceding, -1)
    buckets
      .withColumn("r2", (coalesce(sum("cnt").over(wb), lit(0L)) * 2 +
        col("cnt") + 1) * col("pos"))
      .groupBy("source")
      .agg(sum("pos").as("n_pos"), sum(col("cnt") - col("pos")).as("n_neg"),
        sum("r2").as("r2"))
      .select(col("source"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round((col("r2") - col("n_pos") * (col("n_pos") + 1))
            .cast("double") / (col("n_pos") * col("n_neg") * 2), 6))
          .as("auc"))
      .orderBy("source")
  }

  val q179Sql: String =
    s"""WITH scored AS (
       |  SELECT source,
       |    round(CAST(nu AS DOUBLE) / nt, $LrFeatDp) AS sc,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM (
       |    SELECT source, lang,
       |      CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt,
       |      CAST(len(list_distinct(string_split_regex(text, '\\s+')))
       |        AS BIGINT) AS nu
       |    FROM documents) WHERE nt > 0
       |), buckets AS (
       |  SELECT source, sc, count(*) AS cnt, sum(y) AS pos
       |  FROM scored GROUP BY 1, 2
       |), ranked AS (
       |  SELECT source, cnt, pos,
       |    (coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY sc
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
       |      + cnt + 1) * pos AS r2
       |  FROM buckets
       |)
       |SELECT source, CAST(sum(pos) AS BIGINT) AS n_pos,
       |  CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
       |  CASE WHEN sum(pos) > 0 AND sum(cnt - pos) > 0 THEN
       |    round(CAST(sum(r2) - sum(pos) * (sum(pos) + 1) AS DOUBLE)
       |      / (sum(pos) * sum(cnt - pos) * 2), 6) END AS auc
       |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------- q180 calibration report

  /** Fixed-width probability bins for the reliability diagram. */
  val CalBins = 10

  /** q180: CALIBRATION REPORT — the two-scorer reliability diagram +
    * Brier decomposition that closes the classifier triple (q178
    * trains, q179 ranks, this asks "do the probabilities MEAN
    * anything"): every doc is scored by BOTH the q178-trained model
    * and the raw diversity heuristic read as a pseudo-probability;
    * each scorer's predictions bin into [[CalBins]] fixed-width bands
    * with per-band count, mean prediction, empirical positive rate,
    * absolute gap (the ECE summand) and Brier contribution. The
    * contrast is the op's point: the trained model is
    * near-base-rate concentrated but nearly calibrated; the raw
    * heuristic spreads across bands and the gap column exposes its
    * miscalibration — the decision input for "can this cheap score
    * gate documents directly, or does it need the trained map".
    *
    * Scale shape: the q178 fold first (three scalar-aggregate
    * passes), then ONE more map-side-combinable aggregate to a
    * ≤ 2·[[CalBins]]-row table — no window, no join anywhere.
    * Exactness: p is the 6-dp-gridded sigmoid at 6-dp literal
    * weights (the heuristic is already a 4-dp grid), per-band sums
    * ride the 10-dp + DECIMAL(28,10) discipline, each reported
    * double is one division off exact integers/decimals. */
  def q180Calibration(s: SparkSession, dir: String): DataFrame = {
    val feats = lrFeats(s, dir)
    val w = lrFold(feats).last._3
    val m = lit(w(0)) + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    val clamp = (c: Column) =>
      greatest(least(c, lit(1d - 1e-6)), lit(1e-6))
    val pModel = clamp(round(lit(1.0d) / (lit(1.0d) + exp(-m)), LrProbDp))
    val scored = feats
      .select(col("y"), lit("model").as("scorer"), pModel.as("p"))
      .unionByName(feats
        .select(col("y"), lit("raw").as("scorer"), clamp(col("x1")).as("p")))
    scored
      .withColumn("bin",
        least(floor(col("p") * CalBins), lit(CalBins - 1L)).cast("int"))
      .groupBy("scorer", "bin")
      .agg(count(lit(1)).as("n"),
        sum(dec(round(col("p"), 10), 28, 10)).as("sp"),
        sum(col("y").cast("long")).as("pos"),
        sum(dec(round((col("p") - col("y")) * (col("p") - col("y")), 10),
          28, 10)).as("sq"))
      .select(col("scorer"), col("bin"), col("n"),
        round(col("sp").cast("double") / col("n"), 6).as("avg_p"),
        round(col("pos").cast("double") / col("n"), 6).as("frac_pos"),
        round(abs(round(col("sp").cast("double") / col("n"), 6) -
          round(col("pos").cast("double") / col("n"), 6)), 6).as("gap"),
        round(col("sq").cast("double") / col("n"), 6).as("brier"))
      .orderBy("scorer", "bin")
  }

  val q180Sql: String =
    s"""WITH feats AS (
       |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    round(CAST(nu AS DOUBLE) / nt, $LrFeatDp) AS x1,
       |    round(ln(CAST(n_chars AS DOUBLE) + 1.0) / 10.0, $LrFeatDp) AS x2,
       |    round(ln(CAST(nt AS DOUBLE) + 1.0) / 10.0, $LrFeatDp) AS x3
       |  FROM (
       |    SELECT lang, n_chars,
       |      CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt,
       |      CAST(len(list_distinct(string_split_regex(text, '\\s+')))
       |        AS BIGINT) AS nu
       |    FROM documents) WHERE nt > 0
       |), w0 AS (
       |  SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3
       |), s1 AS (
       |${lrStepSql("w0")}
       |), w1 AS (
       |${lrWeightSql("s1", "w0")}
       |), s2 AS (
       |${lrStepSql("w1")}
       |), w2 AS (
       |${lrWeightSql("s2", "w1")}
       |), s3 AS (
       |${lrStepSql("w2")}
       |), w3 AS (
       |${lrWeightSql("s3", "w2")}
       |), scored AS (
       |  SELECT y, 'model' AS scorer,
       |    greatest(least(round(1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2
       |      + w3 * x3))), $LrProbDp), 1.0 - 1e-6), 1e-6) AS p
       |  FROM feats, w3
       |  UNION ALL
       |  SELECT y, 'raw' AS scorer,
       |    greatest(least(x1, 1.0 - 1e-6), 1e-6) AS p
       |  FROM feats
       |), binned AS (
       |  SELECT scorer,
       |    CAST(least(floor(p * $CalBins), ${CalBins - 1}) AS INTEGER) AS bin,
       |    count(*) AS n,
       |    sum(CAST(round(p, 10) AS DECIMAL(28,10))) AS sp,
       |    sum(CAST(y AS BIGINT)) AS pos,
       |    sum(CAST(round((p - y) * (p - y), 10) AS DECIMAL(28,10))) AS sq
       |  FROM scored GROUP BY 1, 2
       |)
       |SELECT scorer, bin, n,
       |  round(CAST(sp AS DOUBLE) / n, 6) AS avg_p,
       |  round(CAST(pos AS DOUBLE) / n, 6) AS frac_pos,
       |  round(abs(round(CAST(sp AS DOUBLE) / n, 6)
       |    - round(CAST(pos AS DOUBLE) / n, 6)), 6) AS gap,
       |  round(CAST(sq AS DOUBLE) / n, 6) AS brier
       |FROM binned ORDER BY scorer, bin""".stripMargin

  // ------------------------------------ q181 data-constrained epochs

  /** Token budget as a fraction of the corpus (numerator/denominator
    * of 5/2 = 2.5× — a budget that FORCES repeating data, the
    * data-constrained regime). */
  val EpochBudgetNum = 5
  val EpochBudgetDen = 2

  /** Per-source repeat-policy modulus: rep = 1 + (source suffix mod
    * [[EpochRepMod]]) epochs max. A stand-in for the policy table a
    * production run would join (per-source license/quality repeat
    * caps); deterministic here so both engines derive it identically. */
  val EpochRepMod = 5

  /** q181: DATA-CONSTRAINED EPOCH ALLOCATION — the waterfilling
    * answer to "the budget wants 2.5× the corpus but each source may
    * only repeat rep_s times; how many tokens does each source
    * contribute?" (the epoching decision of data-constrained LM
    * training; q143's mixing ops apportion a budget BELOW the corpus
    * size, this allocates one above it). Exact integer waterfill:
    * sources ascending by cap = rep·avail, a source is CAPPED while
    * cap·slots ≤ remaining budget; the first uncapped source fixes
    * the waterline — equal integer shares with the remainder going
    * +1 to the lowest-ranked uncapped sources. Every quantity is a
    * BIGINT (idiv discipline); epochs = alloc/avail is the single
    * rounded division.
    *
    * Scale shape: one partial-agg'd groupBy collapses the corpus to
    * the |sources|-row policy table; ranking, prefix and waterline
    * all run on that bounded frame (driver-scale windows, the q175
    * contingency-table discipline); the corpus is never re-touched. */
  def q181EpochAlloc(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.read(s, dir, "documents")
      .select(col("source"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"))
      .filter(col("nt") > 0)
      .groupBy("source").agg(sum("nt").as("avail"))
      .withColumn("rep", lit(1L) + expr(
        s"coalesce(try_cast(regexp_extract(source, '(\\\\d+)$$', 1) as bigint), 0)")
        % EpochRepMod)
      .withColumn("cap", col("avail") * col("rep"))
    val budget = src.agg(graft.functions.GraftFunctions
      .idiv(sum("avail") * EpochBudgetNum, lit(EpochBudgetDen.toLong))
      .as("t"), count(lit(1)).as("nsrc"))
    val wRank = Window.orderBy("cap", "source")
    val ranked = src
      .withColumn("i", row_number().over(wRank).cast("long"))
      .withColumn("before", coalesce(sum("cap").over(
        wRank.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(budget))
      .withColumn("slots", col("nsrc") - col("i") + 1)
    // the waterline: first source (ascending cap) whose full cap no
    // longer fits an equal split of what remains
    val star = ranked
      .filter(col("cap") * col("slots") > col("t") - col("before"))
      .orderBy("i").limit(1)
      .select(col("i").as("istar"), (col("t") - col("before")).as("remu"),
        col("slots").as("slotsu"))
    val share = graft.functions.GraftFunctions.idiv(col("remu"), col("slotsu"))
    ranked.join(broadcast(star), lit(true), "left")
      .withColumn("alloc",
        when(col("istar").isNull || col("i") < col("istar"), col("cap"))
          .otherwise(share +
            when(col("i") - col("istar") + 1 <=
              col("remu") - share * col("slotsu"), 1L).otherwise(0L)))
      .select(col("source"), col("avail"), col("rep"), col("cap"),
        col("alloc"),
        round(col("alloc").cast("double") / col("avail"), 4).as("epochs"))
      .orderBy("source")
  }

  val q181Sql: String =
    s"""WITH src AS (
       |  SELECT source, CAST(sum(nt) AS BIGINT) AS avail,
       |    1 + coalesce(try_cast(regexp_extract(source, '(\\d+)$$', 1)
       |      AS BIGINT), 0) % $EpochRepMod AS rep
       |  FROM (
       |    SELECT source,
       |      CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt
       |    FROM documents) WHERE nt > 0 GROUP BY source
       |), capped AS (
       |  SELECT source, avail, rep, avail * rep AS cap FROM src
       |), t AS (
       |  SELECT sum(avail) * $EpochBudgetNum // $EpochBudgetDen AS t,
       |    count(*) AS nsrc
       |  FROM capped
       |), ranked AS (
       |  SELECT source, avail, rep, cap,
       |    CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS i,
       |    coalesce(sum(cap) OVER (ORDER BY cap, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
       |    nsrc - CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) + 1
       |      AS slots,
       |    t
       |  FROM capped, t
       |), u AS (
       |  SELECT i AS istar, t - before AS remu, slots AS slotsu
       |  FROM ranked WHERE cap * slots > t - before ORDER BY i LIMIT 1
       |)
       |SELECT source, avail, CAST(rep AS BIGINT) AS rep, cap,
       |  CAST(CASE WHEN (SELECT istar FROM u) IS NULL
       |      OR i < (SELECT istar FROM u) THEN cap
       |    ELSE (SELECT remu FROM u) // (SELECT slotsu FROM u)
       |      + CASE WHEN i - (SELECT istar FROM u) + 1 <=
       |          (SELECT remu FROM u) - (SELECT slotsu FROM u)
       |            * ((SELECT remu FROM u) // (SELECT slotsu FROM u))
       |        THEN 1 ELSE 0 END
       |    END AS BIGINT) AS alloc,
       |  round(CAST(CASE WHEN (SELECT istar FROM u) IS NULL
       |      OR i < (SELECT istar FROM u) THEN cap
       |    ELSE (SELECT remu FROM u) // (SELECT slotsu FROM u)
       |      + CASE WHEN i - (SELECT istar FROM u) + 1 <=
       |          (SELECT remu FROM u) - (SELECT slotsu FROM u)
       |            * ((SELECT remu FROM u) // (SELECT slotsu FROM u))
       |        THEN 1 ELSE 0 END
       |    END AS DOUBLE) / avail, 4) AS epochs
       |FROM ranked ORDER BY source""".stripMargin

  // ------------------------------------ q182 deterministic train shuffle

  /** Shuffle seed: part of the sort-key text, so changing it re-deals
    * the entire training order deterministically. */
  val ShuffleSeed = 42

  /** Contiguous output shards cut from the shuffled order. */
  val NShards = 8

  /** q182: DETERMINISTIC TRAINING-ORDER SHUFFLE + SHARD MANIFEST —
    * the "global shuffle before training" pass: every doc gets the
    * seeded sort key md5(seed-doc_id) (identical text in both
    * engines), the corpus is totally ordered by that key, and the
    * order is cut into [[NShards]] contiguous shards of floor/ceil
    * size — shard = ⌊rank·S/total⌋. Emits the per-shard manifest
    * (count, token mass, key range); re-running with the same seed
    * reproduces it bit-for-bit, a new seed re-deals everything.
    *
    * Scale shape: the naive global rank is ONE unpartitioned window —
    * the q165 scale-killer. This runs the q174 two-phase equivalent
    * on the key's OWN leading byte: per-bucket counts + an exclusive
    * prefix over the 256-row bucket frame, then row_number
    * PARTITIONED BY bucket; because the bucket is a prefix of the
    * sort key, bucket-major order IS key order and the composition
    * equals the naive global rank exactly — the DuckDB oracle runs
    * the naive ORDER BY and must agree row-for-row. At 100 TB the
    * heavy op is one hash shuffle on the key prefix (≈ a range
    * exchange with 256 perfectly-sized, hash-balanced ranges — md5
    * prefixes are uniform); nothing ever single-partitions. */
  def q182TrainShuffle(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"),
        md5(concat(lit(s"$ShuffleSeed-"), col("doc_id").cast("string"))).as("k"))
      .withColumn("bucket", substring(col("k"), 1, 2))
    // phase 1: bucket counts + exclusive prefix on the 256-row frame
    val buckets = keyed.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .withColumn("before", coalesce(sum("bn").over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("bucket", "before")
    val total = keyed.agg(count(lit(1)).as("total"))
    // phase 2: within-bucket rank, distributed by bucket; + before =
    // the exact global 0-based rank
    val wIn = Window.partitionBy("bucket").orderBy("k")
    keyed
      .join(broadcast(buckets), Seq("bucket"))
      .crossJoin(broadcast(total))
      .withColumn("rn",
        row_number().over(wIn).cast("long") + col("before") - 1)
      .withColumn("shard", graft.functions.GraftFunctions
        .idiv(col("rn") * NShards, col("total")))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
        min("k").as("key_lo"), max("k").as("key_hi"))
      .orderBy("shard")
  }

  /** Oracle: the NAIVE global rank (one ORDER BY k window) — agreeing
    * with it is the proof the two-phase plan equals the global sort. */
  val q182Sql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt,
       |    md5('$ShuffleSeed-' || CAST(doc_id AS VARCHAR)) AS k
       |  FROM documents
       |), ranked AS (
       |  SELECT nt, k,
       |    CAST(row_number() OVER (ORDER BY k) AS BIGINT) - 1 AS rn,
       |    CAST(count(*) OVER () AS BIGINT) AS total
       |  FROM keyed
       |)
       |SELECT rn * $NShards // total AS shard,
       |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  min(k) AS key_lo, max(k) AS key_hi
       |FROM ranked GROUP BY 1 ORDER BY shard""".stripMargin

  // ------------------------------------ q183 preference-pair mining

  /** Pairs mined per group: rank-j best vs rank-j worst, j ≤ this. */
  val PrefPairsPerGroup = 2

  /** q183: PREFERENCE-PAIR CONSTRUCTION — the DPO/RLHF data-prep op:
    * within each group (source here; the prompt id in production),
    * pair the rank-j highest-quality doc with the rank-j lowest as
    * (chosen, rejected, margin), j ≤ [[PrefPairsPerGroup]], keeping
    * only pairs with a real signal (distinct docs, strictly positive
    * margin). Quality is the q174 lexical-diversity proxy
    * (distinct/total tokens @ 4 dp — swap in any scorer, e.g. q178's
    * trained classifier, without touching the pairing).
    *
    * Scale shape: two rank windows PARTITIONED BY group — both
    * WindowGroupLimit-eligible (rnk ≤ j prunes below the sort, the
    * q176 discipline) — then a join of two ≤ j-rows-per-group tables
    * on (group, j), co-partitioned by the window shuffle. The corpus
    * is touched once; everything after is j·|groups| rows. */
  def q183PreferencePairs(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"),
        size(array_distinct(split(col("text"), "\\s+"))).cast("long").as("nu"))
      .filter(col("nt") > 0)
      .withColumn("score", round(col("nu").cast("double") / col("nt"), ScoreDp))
      .select("doc_id", "source", "score")
    val best = scored
      .withColumn("j", row_number().over(
        Window.partitionBy("source").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("j") <= PrefPairsPerGroup)
      .select(col("source"), col("j"),
        col("doc_id").as("chosen_id"), col("score").as("chosen_score"))
    val worst = scored
      .withColumn("j", row_number().over(
        Window.partitionBy("source").orderBy(col("score").asc, col("doc_id").desc)))
      .filter(col("j") <= PrefPairsPerGroup)
      .select(col("source"), col("j"),
        col("doc_id").as("rejected_id"), col("score").as("rejected_score"))
    best.join(worst, Seq("source", "j"))
      .filter(col("chosen_id") =!= col("rejected_id") &&
        col("chosen_score") > col("rejected_score"))
      .select(col("source"), col("j"), col("chosen_id"), col("chosen_score"),
        col("rejected_id"), col("rejected_score"),
        round(col("chosen_score") - col("rejected_score"), ScoreDp).as("margin"))
      .orderBy("source", "j")
  }

  val q183Sql: String =
    s"""WITH sc AS (
       |  SELECT doc_id, source,
       |    round(CAST(len(list_distinct(string_split_regex(text, '\\s+')))
       |      AS DOUBLE) / len(string_split_regex(text, '\\s+')), $ScoreDp)
       |      AS score
       |  FROM documents
       |  WHERE len(string_split_regex(text, '\\s+')) > 0
       |), best AS (
       |  SELECT source, CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY score DESC, doc_id) AS INT) AS j,
       |    doc_id AS chosen_id, score AS chosen_score
       |  FROM sc QUALIFY j <= $PrefPairsPerGroup
       |), worst AS (
       |  SELECT source, CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY score ASC, doc_id DESC) AS INT) AS j,
       |    doc_id AS rejected_id, score AS rejected_score
       |  FROM sc QUALIFY j <= $PrefPairsPerGroup
       |)
       |SELECT source, j, chosen_id, chosen_score, rejected_id,
       |  rejected_score,
       |  round(chosen_score - rejected_score, $ScoreDp) AS margin
       |FROM best JOIN worst USING (source, j)
       |WHERE chosen_id <> rejected_id AND chosen_score > rejected_score
       |ORDER BY source, j""".stripMargin

  // ------------------------------------------ q185 k-anonymity audit

  /** Anonymity threshold: a quasi-identifier group smaller than this
    * is a re-identification risk. */
  val KAnonK = 5

  /** Length-band width for the quasi-identifier tuple. */
  val KAnonBand = 100L

  /** q185: K-ANONYMITY AUDIT — the data-governance read a corpus
    * release runs before publishing: treat (source, lang,
    * length band) as the quasi-identifier tuple and report, per
    * source, how much of the corpus sits in groups smaller than
    * [[KAnonK]] — documents whose metadata alone nearly singles them
    * out. Complements q95 (PII redaction scrubs content; this audits
    * the metadata side channel).
    *
    * Scale shape: two stacked partial aggs — corpus → quasi-group
    * sizes (one shuffle on the tuple), group sizes → per-source risk
    * rollup (|groups| rows in, |sources| out). Nothing else touches
    * the corpus; both aggs map-side combine. */
  def q185KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val groups = Tables.read(s, dir, "documents")
      .select(col("source"), col("lang"),
        graft.functions.GraftFunctions.idiv(col("n_chars"), lit(KAnonBand))
          .as("band"))
      .groupBy("source", "lang", "band").agg(count(lit(1)).as("gn"))
    groups.groupBy("source")
      .agg(sum("gn").as("n_docs"), count(lit(1)).as("n_groups"),
        sum(when(col("gn") < KAnonK, 1L).otherwise(0L)).as("n_groups_below_k"),
        sum(when(col("gn") < KAnonK, col("gn")).otherwise(0L)).as("n_docs_below_k"),
        min("gn").as("min_group"))
      .withColumn("risk_ratio",
        round(col("n_docs_below_k").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }

  val q185Sql: String =
    s"""WITH g AS (
       |  SELECT source, lang, n_chars // $KAnonBand AS band,
       |    count(*) AS gn
       |  FROM documents GROUP BY 1, 2, 3
       |)
       |SELECT source, CAST(sum(gn) AS BIGINT) AS n_docs,
       |  count(*) AS n_groups,
       |  CAST(sum(CASE WHEN gn < $KAnonK THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_groups_below_k,
       |  CAST(sum(CASE WHEN gn < $KAnonK THEN gn ELSE 0 END) AS BIGINT)
       |    AS n_docs_below_k,
       |  min(gn) AS min_group,
       |  round(CAST(sum(CASE WHEN gn < $KAnonK THEN gn ELSE 0 END) AS DOUBLE)
       |    / sum(gn), 6) AS risk_ratio
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  // ----------------------------------------- q246 l-diversity audit

  /** Diversity threshold: a quasi-identifier group whose sensitive
    * attribute takes fewer than this many distinct values is
    * homogeneous enough to leak the attribute by membership alone. */
  val LDivL = 3

  /** q246: L-DIVERSITY AUDIT (Machanavajjhala et al. 2007) — the
    * privacy read k-anonymity (q185) misses: a group can be large
    * (k-anonymous) yet HOMOGENEOUS in a sensitive attribute, so
    * membership alone discloses it. Here the quasi-identifier is
    * (source, length band) and `lang` plays the sensitive attribute:
    * per source, report how many QI groups are under-diverse
    * (distinct-l < [[LDivL]]), the worst group's distinct-l, the
    * documents exposed in under-diverse groups, and the worst
    * single-value skew max(freq)/|group| — the recursive-(c,l)
    * numerator. All counts are integer-exact; the skew is one
    * double division per group then an order-independent max (the
    * q10/q11 tie-measure-zero discipline).
    *
    * Scale shape: three stacked partial aggs, each strictly smaller —
    * corpus → (QI, lang) counts (the only corpus-wide shuffle) →
    * per-group l/max-freq → per-source rollup. No window, no join;
    * every stage map-side combines. The q185 companion shares the
    * first shuffle key prefix, so a fused governance pass would
    * co-partition both. */
  def q246LDiversity(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.read(s, dir, "documents")
      .select(col("source"),
        graft.functions.GraftFunctions.idiv(col("n_chars"), lit(KAnonBand))
          .as("band"),
        col("lang"))
      .groupBy("source", "band", "lang").agg(count(lit(1)).as("ln"))
    val groups = cells.groupBy("source", "band")
      .agg(count(lit(1)).as("l"), sum("ln").as("gn"), max("ln").as("maxf"))
    groups.groupBy("source")
      .agg(count(lit(1)).as("n_groups"),
        min("l").as("min_l"),
        sum(when(col("l") < LDivL, 1L).otherwise(0L)).as("n_groups_below_l"),
        sum(when(col("l") < LDivL, col("gn")).otherwise(0L))
          .as("n_docs_exposed"),
        max(col("maxf").cast("double") / col("gn")).as("skew_raw"))
      .withColumn("worst_skew", round(col("skew_raw"), 6))
      .drop("skew_raw")
      .orderBy("source")
  }

  val q246Sql: String =
    s"""WITH cells AS (
       |  SELECT source, n_chars // $KAnonBand AS band, lang,
       |    count(*) AS ln
       |  FROM documents GROUP BY 1, 2, 3
       |), g AS (
       |  SELECT source, band, count(*) AS l, sum(ln) AS gn,
       |    max(ln) AS maxf
       |  FROM cells GROUP BY 1, 2
       |)
       |SELECT source, count(*) AS n_groups,
       |  CAST(min(l) AS BIGINT) AS min_l,
       |  CAST(sum(CASE WHEN l < $LDivL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_groups_below_l,
       |  CAST(sum(CASE WHEN l < $LDivL THEN gn ELSE 0 END) AS BIGINT)
       |    AS n_docs_exposed,
       |  round(max(CAST(maxf AS DOUBLE) / gn), 6) AS worst_skew
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------- q252 noised release

  /** Bounded-noise half-width: released counts are perturbed by a
    * deterministic integer in [-B, B]. */
  val NoiseB = 5L

  /** LCG constants (the classic glibc pair) — 31-bit state, so every
    * intermediate product stays far below 2^63 in Spark (silent wrap)
    * and below BIGINT overflow in DuckDB (hard error). */
  val LcgA = 1103515245L
  val LcgC = 12345L
  val LcgM = 2147483648L

  /** q252: NOISED AGGREGATE RELEASE — the privacy-preserving stats
    * publication step after the q185/q246 audits: per (source, lang)
    * group, release a count perturbed by seeded bounded noise, with
    * small groups (< [[KAnonK]]) SUPPRESSED outright (releasing a
    * noised 2 still discloses existence — the suppression rule is
    * the release-side twin of q185's k threshold). The noise here is
    * a deterministic 31-bit LCG draw seeded from the group's id sum —
    * the REPRODUCIBLE-plumbing stand-in for a production secret-
    * seeded PRNG (the honesty pattern of the stubbed media decode:
    * the pipeline shape, suppression algebra and bounded-perturbation
    * contract are real and oracle-pinned; the entropy source is the
    * stub). All arithmetic is 31-bit integer — no float, no
    * engine-specific hash — so both engines draw the identical noise.
    *
    * Scale shape: one partial-aggregated groupBy; noise is a per-GROUP
    * scalar expression over the aggregated frame (|groups| rows), and
    * suppression is a HAVING — nothing touches the corpus twice. */
  def q252NoisedRelease(s: SparkSession, dir: String): DataFrame = {
    val seed = pmod(sum(col("doc_id")), lit(LcgM))
    val draw = pmod(seed * LcgA + LcgC, lit(LcgM))
    Tables.read(s, dir, "documents")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n"), draw.as("h"))
      .filter(col("n") >= KAnonK)
      .select(col("source"), col("lang"),
        (col("n") + pmod(col("h"), lit(2 * NoiseB + 1)) - NoiseB)
          .as("released"))
      .orderBy("source", "lang")
  }

  val q252Sql: String =
    s"""WITH g AS (
       |  SELECT source, lang, count(*) AS n,
       |    CAST(((sum(doc_id) % $LcgM) * $LcgA + $LcgC) % $LcgM
       |      AS BIGINT) AS h
       |  FROM documents GROUP BY 1, 2
       |  HAVING count(*) >= $KAnonK
       |)
       |SELECT source, lang, n + (h % ${2 * NoiseB + 1}) - $NoiseB AS released
       |FROM g ORDER BY source, lang""".stripMargin

  // -------------------------------------- q186 span-corruption stats

  /** Mask rule: token position p of doc d is masked iff
    * (p + d) mod [[CorruptMod]] < [[CorruptWidth]] — ~30% corruption
    * in runs of [[CorruptWidth]], with the doc id as phase so span
    * boundaries differ per doc. Deterministic stand-in for the RNG a
    * production run would seed per (doc, epoch). */
  val CorruptMod = 10
  val CorruptWidth = 3

  /** q186: SPAN-CORRUPTION OBJECTIVE CONSTRUCTION — the T5/UL2-style
    * denoising data-prep pass: select token spans to mask under the
    * deterministic rule above, merge adjacent masked positions into
    * sentinel spans, and report per source the corruption geometry a
    * trainer budgets around — tokens, masked tokens, sentinel spans
    * (= input-sequence sentinels), realized mask rate and mean span
    * length. A span STARTS at a masked position whose predecessor is
    * unmasked, so n_spans = |{p masked ∧ (p = 0 ∨ p−1 unmasked)}| —
    * pure element-wise integer arithmetic over the position range,
    * identical text in both engines.
    *
    * Scale shape: per-doc position arithmetic fuses into the scan
    * (two HOF filters over sequence(0, n−1) — no explode, no
    * shuffle), then ONE partial agg to the |sources|-row report. */
  def q186SpanCorruption(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast("long").as("n"))
      .filter(col("n") > 0)
    val masked = (p: Column) =>
      (p + col("doc_id")) % CorruptMod < CorruptWidth
    val perDoc = base
      .withColumn("pos", sequence(lit(0L), col("n") - 1))
      .withColumn("n_masked",
        size(filter(col("pos"), p => masked(p))).cast("long"))
      .withColumn("n_spans",
        size(filter(col("pos"), p =>
          masked(p) && (p === 0L || !masked(p - 1)))).cast("long"))
    perDoc.groupBy("source")
      .agg(sum("n").as("n_tokens"), sum("n_masked").as("n_masked"),
        sum("n_spans").as("n_spans"))
      .withColumn("mask_rate",
        round(col("n_masked").cast("double") / col("n_tokens"), 6))
      .withColumn("mean_span",
        round(col("n_masked").cast("double") / col("n_spans"), 6))
      .orderBy("source")
  }

  val q186Sql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n
       |  FROM documents
       |  WHERE len(string_split_regex(text, '\\s+')) > 0
       |), perdoc AS (
       |  SELECT source, n,
       |    CAST(len([p FOR p IN range(0, n)
       |      IF (p + doc_id) % $CorruptMod < $CorruptWidth]) AS BIGINT)
       |      AS n_masked,
       |    CAST(len([p FOR p IN range(0, n)
       |      IF (p + doc_id) % $CorruptMod < $CorruptWidth
       |        AND (p = 0 OR NOT ((p - 1 + doc_id) % $CorruptMod
       |          < $CorruptWidth))]) AS BIGINT) AS n_spans
       |  FROM base
       |)
       |SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_masked) AS BIGINT) AS n_masked,
       |  CAST(sum(n_spans) AS BIGINT) AS n_spans,
       |  round(CAST(sum(n_masked) AS DOUBLE) / sum(n), 6) AS mask_rate,
       |  round(CAST(sum(n_masked) AS DOUBLE) / sum(n_spans), 6) AS mean_span
       |FROM perdoc GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------- q187 soft-dedup loss weights

  /** q187: SOFT-DEDUP LOSS WEIGHTS — the alternative to hard removal
    * (q34/q79 drop duplicates; several production pipelines instead
    * KEEP every copy and down-weight its loss by 1/n_copies so the
    * k-way duplicated content contributes one document's worth of
    * gradient). Exact-dup groups are md5(text) fingerprints GLOBAL
    * across sources (cross-source duplication is down-weighted too);
    * the per-source report carries raw vs effective token mass and
    * the dedup discount a mixture builder feeds into its weights.
    *
    * Float discipline: effective tokens is an ordering-sensitive sum
    * of nt/n doubles — quantized per-row to 10 dp and summed as
    * DECIMAL(28,10) (the q128 discipline), one 6-dp round at the end.
    *
    * Scale shape: one partial-agg'd shuffle on the digest builds the
    * copy counts; the weighted rollup re-joins the corpus to the
    * count table on the digest (co-partitioned by the same key — at
    * 100 TB a bucketed-by-digest layout makes it exchange-free) and
    * collapses to |sources| rows. Digests move, bodies never do. */
  def q187SoftDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val fp = Tables.read(s, dir, "documents")
      .select(col("source"), md5(col("text")).as("fp"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"))
      .filter(col("nt") > 0)
    val copies = fp.groupBy("fp").agg(count(lit(1)).as("n"))
    fp.join(copies, Seq("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum("nt").as("raw_tokens"),
        sum(dec(round(col("nt").cast("double") / col("n"), 10), 28, 10))
          .as("eff"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        col("raw_tokens"),
        round(col("eff").cast("double"), 6).as("effective_tokens"),
        round(col("eff").cast("double") / col("raw_tokens"), 6)
          .as("dedup_discount"))
      .orderBy("source")
  }

  val q187Sql: String =
    s"""WITH fp AS (
       |  SELECT source, md5(text) AS fp,
       |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt
       |  FROM documents
       |  WHERE len(string_split_regex(text, '\\s+')) > 0
       |), copies AS (
       |  SELECT fp, count(*) AS n FROM fp GROUP BY fp
       |), j AS (
       |  SELECT source, nt, n FROM fp JOIN copies USING (fp)
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |  CAST(sum(nt) AS BIGINT) AS raw_tokens,
       |  round(CAST(sum(CAST(round(CAST(nt AS DOUBLE) / n, 10)
       |    AS DECIMAL(28,10))) AS DOUBLE), 6) AS effective_tokens,
       |  round(CAST(sum(CAST(round(CAST(nt AS DOUBLE) / n, 10)
       |    AS DECIMAL(28,10))) AS DOUBLE) / sum(nt), 6) AS dedup_discount
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------- q188 DSIR importance weights

  /** Target domain for the importance ratio (the "wants more of this"
    * set a production run would pass in; a fixed source here so both
    * engines derive it identically). */
  val DsirTarget = "src0"

  /** Hashed-feature space: tokens hash into this many buckets (the
    * hashed-n-gram trick that keeps both profiles broadcast-sized at
    * any vocabulary). */
  val DsirBuckets = 1024L

  /** q188: DSIR-STYLE IMPORTANCE WEIGHTS — data selection via
    * importance resampling (Xie et al., NeurIPS 2023): score every
    * document by how much more likely its tokens are under the
    * TARGET domain's hashed-unigram profile than under the corpus
    * profile — per-token llr = ln(p̂_target(b)/p̂_corpus(b)) over
    * md5-hashed buckets with add-one smoothing, per-doc weight = the
    * exact DECIMAL sum of 6-dp-rounded llrs (the q64 discipline —
    * order-independent), reported per source with the target-like
    * count (weight > 0). Bucket collisions are part of the method
    * (hashed DSIR), not an approximation of it.
    *
    * Scale shape: both profiles collapse to ≤ [[DsirBuckets]] rows at
    * the first partial agg and BROADCAST to the scoring join, so the
    * corpus is scanned twice (profile + score) and never shuffled
    * against anything bigger than 1024 rows; per-doc and per-source
    * rollups are stacked partial aggs. */
  def q188DsirWeights(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), "\\s+")).as("t"))
      .filter(col("t") =!= "")
      .withColumn("b",
        conv(substring(md5(col("t")), 1, 4), 16, 10).cast("long") % DsirBuckets)
    val tgt = toks.filter(col("source") === DsirTarget)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val allB = toks.groupBy("b").agg(count(lit(1)).as("ca"))
    val totals = allB.agg(sum("ca").as("na0"))
      .crossJoin(tgt.agg(coalesce(sum("ct"), lit(0L)).as("nt0")))
    val llr = allB.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"), round(
        log(((coalesce(col("ct"), lit(0L)) + 1).cast("double")
            / (col("nt0") + DsirBuckets))
          / ((col("ca") + 1).cast("double") / (col("na0") + DsirBuckets))), 6)
        .as("llr"))
    toks.join(broadcast(llr), Seq("b"))
      .groupBy("doc_id", "source")
      .agg(sum(col("llr").cast(DecimalType(18, 6))).as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (sum("w").cast("double") / count(lit(1))).as("mean_llr"),
        sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_target_like"))
      .orderBy("source")
  }

  val q188Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, t,
       |    ('0x' || substr(md5(t), 1, 4))::BIGINT % $DsirBuckets AS b
       |  FROM (SELECT doc_id, source,
       |          unnest(string_split_regex(text, '\\s+')) AS t
       |        FROM documents)
       |  WHERE t <> ''
       |), tgt AS (
       |  SELECT b, count(*) AS ct FROM toks
       |  WHERE source = '$DsirTarget' GROUP BY b
       |), allb AS (
       |  SELECT b, count(*) AS ca FROM toks GROUP BY b
       |), tot AS (
       |  SELECT (SELECT sum(ca) FROM allb) AS na0,
       |    (SELECT coalesce(sum(ct), 0) FROM tgt) AS nt0
       |), llr AS (
       |  SELECT allb.b, round(ln(
       |    (CAST(coalesce(ct, 0) + 1 AS DOUBLE) / (nt0 + $DsirBuckets))
       |    / (CAST(ca + 1 AS DOUBLE) / (na0 + $DsirBuckets))), 6) AS llr
       |  FROM allb LEFT JOIN tgt USING (b) CROSS JOIN tot
       |), perdoc AS (
       |  SELECT doc_id, source, sum(CAST(llr AS DECIMAL(18,6))) AS w
       |  FROM toks JOIN llr USING (b) GROUP BY doc_id, source
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(w) AS DOUBLE) / count(*) AS mean_llr,
       |  CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_target_like
       |FROM perdoc GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------- q189 scorer rank agreement

  /** q189: SCORER RANK AGREEMENT — tie-aware Spearman ρ between two
    * quality scorers per source (diversity x1 vs log-length x2, the
    * q178 features), closing the scorer-QA family: q179 asks "does a
    * scorer rank the label", q180 "do its probabilities mean
    * anything", this asks "do two scorers AGREE" — the decision input
    * for whether a cheap scorer can replace an expensive one as a
    * gate. Tie-aware Spearman IS Pearson over midranks; midranks are
    * half-integers, so the op carries DOUBLE-midranks (exact
    * BIGINTs, du = 2·before + cnt + 1 from the score-bucket tables —
    * Pearson is affine-invariant, so ρ is unchanged) and every moment
    * (Σu, Σu², Σuv) is an exact DECIMAL(38,0) sum; ρ is one double
    * expression over exact moments, rounded 6 dp, NULL when a scorer
    * is constant in a source (zero variance — agreement undefined).
    *
    * Scale shape: the q179/q174 bucket discipline twice — each
    * scorer's midranks come from its per-(source, 4-dp score) bucket
    * table (bounded by the score space, windowed on that frame, never
    * per-doc), broadcast back onto the corpus; the moment pass is one
    * map-side-combinable aggregate to |sources| rows. */
  def q189RankAgreement(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.read(s, dir, "documents")
      .select(col("source"), col("n_chars"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"),
        size(array_distinct(split(col("text"), "\\s+"))).cast("long").as("nu"))
      .filter(col("nt") > 0)
      .select(col("source"),
        round(col("nu").cast("double") / col("nt"), LrFeatDp).as("u"),
        round(log(col("n_chars").cast("double") + 1d) / 10d, LrFeatDp).as("v"))
    val wb = (c: String) => Window.partitionBy("source").orderBy(c)
      .rowsBetween(Window.unboundedPreceding, -1)
    def midranks(key: String, out: String): DataFrame =
      scored.groupBy("source", key).agg(count(lit(1)).as("cnt"))
        .withColumn(out,
          coalesce(sum("cnt").over(wb(key)), lit(0L)) * 2 + col("cnt") + 1)
        .select("source", key, out)
    val j = scored
      .join(broadcast(midranks("u", "du")), Seq("source", "u"))
      .join(broadcast(midranks("v", "dv")), Seq("source", "v"))
    j.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(dec(col("du"), 38, 0)).as("su"),
        sum(dec(col("dv"), 38, 0)).as("sv"),
        sum(dec(col("du") * col("du"), 38, 0)).as("suu"),
        sum(dec(col("dv") * col("dv"), 38, 0)).as("svv"),
        sum(dec(col("du") * col("dv"), 38, 0)).as("suv"))
      .select(col("source"), col("n_docs"),
        when((col("n_docs") * col("suu").cast("double") -
            col("su").cast("double") * col("su").cast("double")) > 0 &&
          (col("n_docs") * col("svv").cast("double") -
            col("sv").cast("double") * col("sv").cast("double")) > 0,
          round((col("n_docs") * col("suv").cast("double") -
              col("su").cast("double") * col("sv").cast("double")) /
            sqrt((col("n_docs") * col("suu").cast("double") -
                col("su").cast("double") * col("su").cast("double")) *
              (col("n_docs") * col("svv").cast("double") -
                col("sv").cast("double") * col("sv").cast("double"))), 6))
          .as("spearman_rho"))
      .orderBy("source")
  }

  val q189Sql: String =
    s"""WITH scored AS (
       |  SELECT source,
       |    round(CAST(nu AS DOUBLE) / nt, $LrFeatDp) AS u,
       |    round(ln(CAST(n_chars AS DOUBLE) + 1.0) / 10, $LrFeatDp) AS v
       |  FROM (
       |    SELECT source, n_chars,
       |      CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt,
       |      CAST(len(list_distinct(string_split_regex(text, '\\s+')))
       |        AS BIGINT) AS nu
       |    FROM documents) WHERE nt > 0
       |), bu AS (
       |  SELECT source, u,
       |    coalesce(sum(count(*)) OVER (PARTITION BY source ORDER BY u
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
       |      + count(*) + 1 AS du
       |  FROM scored GROUP BY source, u
       |), bv AS (
       |  SELECT source, v,
       |    coalesce(sum(count(*)) OVER (PARTITION BY source ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
       |      + count(*) + 1 AS dv
       |  FROM scored GROUP BY source, v
       |), m AS (
       |  SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CAST(du AS DECIMAL(38,0))) AS DOUBLE) AS su,
       |    CAST(sum(CAST(dv AS DECIMAL(38,0))) AS DOUBLE) AS sv,
       |    CAST(sum(CAST(du * du AS DECIMAL(38,0))) AS DOUBLE) AS suu,
       |    CAST(sum(CAST(dv * dv AS DECIMAL(38,0))) AS DOUBLE) AS svv,
       |    CAST(sum(CAST(du * dv AS DECIMAL(38,0))) AS DOUBLE) AS suv
       |  FROM scored s JOIN bu USING (source, u) JOIN bv USING (source, v)
       |  GROUP BY s.source
       |)
       |SELECT source, n_docs,
       |  CASE WHEN n_docs * suu - su * su > 0 AND n_docs * svv - sv * sv > 0
       |    THEN round((n_docs * suv - su * sv)
       |      / sqrt((n_docs * suu - su * su) * (n_docs * svv - sv * sv)), 6)
       |  END AS spearman_rho
       |FROM m ORDER BY source""".stripMargin

  // -------------------------------------- q190 retention threshold sweep

  /** Threshold grid: cutoffs k/[[SweepSteps]], k = 0..SweepSteps−1. */
  val SweepSteps = 10

  /** q190: RETENTION THRESHOLD SWEEP — the cutoff-tuning report run
    * before committing to a score-based filter: for every cutoff in a
    * fixed grid, how many documents and tokens survive `score ≥ t`,
    * globally and as a fraction — the curve a curation owner reads to
    * pick the quality bar (the decision q174 then executes as a
    * budget). Score is the 4-dp diversity proxy shared by the scorer
    * family.
    *
    * Scale shape: the corpus collapses ONCE to the per-(4-dp score)
    * bucket table (≤ 10⁴+1 rows at any corpus size — the q174 bound);
    * the sweep is a broadcast ≥-join of the [[SweepSteps]]-row grid
    * against that bucket table, never against the corpus. Exactly one
    * corpus-touching aggregate, whatever the grid resolution. */
  def q190RetentionSweep(s: SparkSession, dir: String): DataFrame = {
    val buckets = Tables.read(s, dir, "documents")
      .select(
        size(split(col("text"), "\\s+")).cast("long").as("nt"),
        size(array_distinct(split(col("text"), "\\s+"))).cast("long").as("nu"))
      .filter(col("nt") > 0)
      .withColumn("score", round(col("nu").cast("double") / col("nt"), ScoreDp))
      .groupBy("score").agg(count(lit(1)).as("bn"), sum("nt").as("bt"))
    val totals = buckets.agg(sum("bn").as("tot_docs"), sum("bt").as("tot_tokens"))
    val grid = s.range(0, SweepSteps)
      .select((col("id").cast("double") / SweepSteps).as("cutoff"))
    grid.join(broadcast(buckets), col("score") >= col("cutoff"), "left")
      .groupBy("cutoff")
      .agg(coalesce(sum("bn"), lit(0L)).as("n_docs"),
        coalesce(sum("bt"), lit(0L)).as("n_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("cutoff"), col("n_docs"), col("n_tokens"),
        when(col("tot_docs") > 0,
          round(col("n_docs").cast("double") / col("tot_docs"), 6))
          .as("doc_frac"),
        when(col("tot_tokens") > 0,
          round(col("n_tokens").cast("double") / col("tot_tokens"), 6))
          .as("token_frac"))
      .orderBy("cutoff")
  }

  val q190Sql: String =
    s"""WITH buckets AS (
       |  SELECT round(CAST(nu AS DOUBLE) / nt, $ScoreDp) AS score,
       |    count(*) AS bn, CAST(sum(nt) AS BIGINT) AS bt
       |  FROM (
       |    SELECT CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt,
       |      CAST(len(list_distinct(string_split_regex(text, '\\s+')))
       |        AS BIGINT) AS nu
       |    FROM documents) WHERE nt > 0 GROUP BY 1
       |), tot AS (
       |  SELECT CAST(coalesce(sum(bn), 0) AS BIGINT) AS tot_docs,
       |    CAST(coalesce(sum(bt), 0) AS BIGINT) AS tot_tokens
       |  FROM buckets
       |), grid AS (
       |  SELECT CAST(k AS DOUBLE) / $SweepSteps AS cutoff
       |  FROM range(0, $SweepSteps) t(k)
       |)
       |SELECT cutoff,
       |  CAST(coalesce(sum(bn), 0) AS BIGINT) AS n_docs,
       |  CAST(coalesce(sum(bt), 0) AS BIGINT) AS n_tokens,
       |  CASE WHEN tot_docs > 0 THEN
       |    round(CAST(coalesce(sum(bn), 0) AS DOUBLE) / tot_docs, 6)
       |  END AS doc_frac,
       |  CASE WHEN tot_tokens > 0 THEN
       |    round(CAST(coalesce(sum(bt), 0) AS DOUBLE) / tot_tokens, 6)
       |  END AS token_frac
       |FROM grid LEFT JOIN buckets ON score >= cutoff CROSS JOIN tot
       |GROUP BY cutoff, tot_docs, tot_tokens ORDER BY cutoff""".stripMargin

  // ---------------------------------------------- q191 RRF hybrid retrieval

  /** Candidate depth per retriever (the "top-K from each index" that
    * reaches the fusion stage). */
  val FuseK = 50
  /** The RRF smoothing constant (k=60, the value from the original
    * Cormack/Clarke/Buettcher TREC paper — convention, not tuning). */
  val RrfK = 60
  /** Fused rows returned to the caller. */
  val FuseOut = 20
  /** The pseudo-query: lexical terms + the embedding of this vec_id
    * (vec_id aligns 1:1 with doc_id on the fixture, so the semantic
    * side is "docs like doc 0"). */
  val QueryVecId = 0L
  val QueryTerms: Seq[String] = Seq("spark", "join")

  /** q191: RECIPROCAL-RANK-FUSION HYBRID RETRIEVAL — the standard way
    * a training-data pipeline (or a RAG stack) combines a lexical
    * index and a vector index: take top-[[FuseK]] from BM25 and
    * top-[[FuseK]] by embedding cosine, score each doc
    * `Σ 1/(RrfK + rank_i)` over the lists it appears in, return the
    * fused top-[[FuseOut]]. Rank fusion needs no score calibration
    * between the two retrievers — only ranks cross the boundary,
    * which is why it survives heterogeneous scorers at scale.
    *
    * Scale shape: each retriever ends in a rank-pushed top-K (the
    * q148/q165 WindowGroupLimit discipline — asserted in the spec),
    * so only 2·K candidate rows ever reach the fusion join, which is
    * a broadcast-able full-outer over ≤ 2K rows no matter the corpus
    * size. The lexical side touches only postings of the query terms
    * (the `t IN terms` filter lands before the tf aggregate); the
    * semantic side is one broadcast query row against the embedding
    * scan — map-side dot products, zero shuffle before the top-K. On
    * 100 TB the semantic scan is what the q44 IVF index replaces;
    * this is the certified exact formulation at fixture scale.
    *
    * Float discipline: BM25 per-term scores round 6 dp (the q81
    * formula verbatim), the ≤-2-term per-doc sum runs over
    * DECIMAL(18,6) so association order cannot shift a bit, cosine
    * rounds 6 dp (the q40 formula), and the RRF sum is two exact
    * reciprocals of small integers summed in one fixed order. */
  def q191RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val (lex, sem) = rrfLegs(s, dir)
    // --- fusion: ranks only cross this boundary
    val wF = Window.orderBy(col("rrf").desc, col("doc_id"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).cast("long").as("lex_rank"),
        coalesce(col("sem_rank"), lit(0)).cast("long").as("sem_rank"),
        round(
          when(col("lex_rank").isNotNull,
            lit(1.0) / (lit(RrfK) + col("lex_rank"))).otherwise(lit(0.0)) +
          when(col("sem_rank").isNotNull,
            lit(1.0) / (lit(RrfK) + col("sem_rank"))).otherwise(lit(0.0)),
          6).as("rrf"))
      .withColumn("fused_rank", row_number().over(wF).cast("long"))
      .filter(col("fused_rank") <= FuseOut)
      .select("fused_rank", "doc_id", "lex_rank", "sem_rank", "rrf")
      .orderBy("fused_rank")
  }

  /** The two retriever legs (top-[[FuseK]] rank lists) shared by q191
    * and the q238 parameter sweep — factored so the sweep can never
    * drift from the fusion it tunes. */
  private def rrfLegs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.llmops.TextOps.{Bm25B, Bm25K1}
    // --- lexical leg: BM25 restricted to the query-term postings
    val toksDf = Tables.read(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
    val dls = toksDf.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = toksDf.select(col("doc_id"), explode(col("w")).as("t"))
      .filter(col("t").isInCollection(QueryTerms))
      .groupBy("t", "doc_id").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val perTerm = tf
      .join(broadcast(dfs), Seq("t"))
      .join(dls, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        round(log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)), 6))
      .select(col("doc_id"),
        dec(round(col("idf") * (col("tf") * (lit(Bm25K1) + lit(1.0)))
          / (col("tf") + lit(Bm25K1) * (lit(1.0) - lit(Bm25B)
            + lit(Bm25B) * col("dl") / col("avgdl"))), 6), 18, 6).as("ts"))
    val wLex = Window.orderBy(col("lex_score").desc, col("doc_id"))
    val lex = perTerm.groupBy("doc_id")
      .agg(sum("ts").cast("double").as("lex_score"))
      .withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= FuseK)
      .select("doc_id", "lex_rank")
    // --- semantic leg: cosine against the broadcast query embedding
    val e = Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", graft.functions.VectorExprs.norm(col("v")))
    val qv = e.filter(col("vec_id") === QueryVecId)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val d = graft.functions.VectorExprs.dot(col("v"), col("qv"))
    val cos = when(col("nrm") * col("qn") === 0, lit(0.0))
      .otherwise(d / (col("nrm") * col("qn")))
    val wSem = Window.orderBy(col("sem_score").desc, col("doc_id"))
    val sem = e.filter(col("vec_id") =!= QueryVecId)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"), round(cos, 6).as("sem_score"))
      .withColumn("sem_rank", row_number().over(wSem))
      .filter(col("sem_rank") <= FuseK)
      .select("doc_id", "sem_rank")
    (lex, sem)
  }

  /** The lex/sem leg CTE chain (WITH … ending at `sem`) shared by the
    * q191 and q238 oracles. */
  private val rrfLegsSqlCtes: String = {
    val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
       |), dls AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks
       |), stats AS (
       |  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM dls
       |), tf AS (
       |  SELECT t, doc_id, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(w) AS t FROM toks)
       |  WHERE t IN ($termList) GROUP BY 1, 2
       |), dfs AS (
       |  SELECT t, count(*) AS df FROM tf GROUP BY 1
       |), per_term AS (
       |  SELECT tf.doc_id,
       |    CAST(round(
       |      round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
       |        * (tf * (${Bm25Lit._1} + 1.0))
       |        / (tf + ${Bm25Lit._1} * (1.0 - ${Bm25Lit._2}
       |            + ${Bm25Lit._2} * dl / avgdl)), 6) AS DECIMAL(18,6)) AS ts
       |  FROM tf JOIN dfs USING (t) JOIN dls ON tf.doc_id = dls.doc_id
       |  CROSS JOIN stats
       |), lex AS (
       |  SELECT doc_id, lex_rank FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY lex_score DESC, doc_id) AS lex_rank
       |    FROM (SELECT doc_id, CAST(sum(ts) AS DOUBLE) AS lex_score
       |          FROM per_term GROUP BY 1))
       |  WHERE lex_rank <= $FuseK
       |), ev AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), en AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM ev
       |), sem AS (
       |  SELECT doc_id, sem_rank FROM (
       |    SELECT a.vec_id AS doc_id,
       |      row_number() OVER (ORDER BY round(CASE WHEN a.nrm * q.nrm = 0
       |        THEN 0.0 ELSE list_sum([a.v[i] * q.v[i] for i in
       |          range(1, ${graft.llmops.VectorOps.Dim} + 1)]) / (a.nrm * q.nrm)
       |        END, 6) DESC, a.vec_id) AS sem_rank
       |    FROM en a CROSS JOIN (SELECT v, nrm FROM en
       |                          WHERE vec_id = $QueryVecId) q
       |    WHERE a.vec_id <> $QueryVecId)
       |  WHERE sem_rank <= $FuseK
       |)""".stripMargin
  }

  val q191Sql: String =
    s"""$rrfLegsSqlCtes
       |SELECT fused_rank, doc_id, lex_rank, sem_rank, rrf FROM (
       |  SELECT doc_id,
       |    CAST(coalesce(lex_rank, 0) AS BIGINT) AS lex_rank,
       |    CAST(coalesce(sem_rank, 0) AS BIGINT) AS sem_rank,
       |    round(coalesce(1.0 / ($RrfK + lex_rank), 0.0)
       |        + coalesce(1.0 / ($RrfK + sem_rank), 0.0), 6) AS rrf,
       |    row_number() OVER (ORDER BY
       |      round(coalesce(1.0 / ($RrfK + lex_rank), 0.0)
       |          + coalesce(1.0 / ($RrfK + sem_rank), 0.0), 6) DESC,
       |      doc_id) AS fused_rank
       |  FROM lex FULL OUTER JOIN sem USING (doc_id))
       |WHERE fused_rank <= $FuseOut ORDER BY fused_rank""".stripMargin

  // ------------------------------- q238 RRF k-parameter sweep

  /** The RRF smoothing-constant grid (the production [[RrfK]] = 60
    * sits inside it). */
  val RrfSweepKs: Seq[Int] = Seq(10, 20, 60, 120)

  /** q238: RRF PARAMETER SWEEP — the tuning audit for the q191
    * fusion's one free constant: the same two top-[[FuseK]] rank
    * lists (built ONCE through the shared legs — the sweep cannot
    * drift from the fusion it tunes) fused at every k in
    * [[RrfSweepKs]], reporting per k the fused-top-[[FuseOut]]
    * composition (candidates present in both legs / lex-only /
    * sem-only — small k favors whichever leg ranks a doc highest,
    * large k flattens toward consensus) and the overlap + Jaccard
    * against the production k = [[RrfK]] set — the evidence for
    * moving (or keeping) the constant. The k = 60 row overlaps
    * itself completely (jaccard 1.0), the in-grid conservation check.
    *
    * Scale shape: the legs end in rank-pushed top-K (the q191
    * analysis), so the sweep works over ≤ 2·[[FuseK]] candidate rows
    * × |grid| — a per-k window over a frame whose size is set by K
    * and the grid, not the corpus. */
  def q238RrfSweep(s: SparkSession, dir: String): DataFrame = {
    val (lex, sem) = rrfLegs(s, dir)
    val cands = lex.join(sem, Seq("doc_id"), "full_outer")
    val scored = cands
      .withColumn("rrf_k", explode(array(RrfSweepKs.map(lit): _*)))
      .withColumn("rrf", round(
        when(col("lex_rank").isNotNull,
          lit(1.0) / (col("rrf_k") + col("lex_rank"))).otherwise(lit(0.0)) +
        when(col("sem_rank").isNotNull,
          lit(1.0) / (col("rrf_k") + col("sem_rank"))).otherwise(lit(0.0)),
        6))
    val wF = Window.partitionBy("rrf_k").orderBy(col("rrf").desc, col("doc_id"))
    val top = scored.withColumn("fr", row_number().over(wF))
      .filter(col("fr") <= FuseOut)
    val prod = top.filter(col("rrf_k") === RrfK)
      .select(col("doc_id"), lit(1).as("inprod"))
    val prodN = prod.agg(count(lit(1)).as("prod_n"))
    top.join(broadcast(prod), Seq("doc_id"), "left")
      .groupBy("rrf_k")
      .agg(count(lit(1)).as("n_out"),
        sum(when(col("inprod").isNotNull, 1L).otherwise(0L))
          .as("n_overlap_prod"),
        sum(when(col("lex_rank").isNotNull && col("sem_rank").isNotNull, 1L)
          .otherwise(0L)).as("n_both_legs"),
        sum(when(col("lex_rank").isNotNull && col("sem_rank").isNull, 1L)
          .otherwise(0L)).as("n_lex_only"),
        sum(when(col("sem_rank").isNotNull && col("lex_rank").isNull, 1L)
          .otherwise(0L)).as("n_sem_only"))
      .crossJoin(broadcast(prodN))
      .select(col("rrf_k"), col("n_out"), col("n_overlap_prod"),
        round(col("n_overlap_prod").cast("double") /
          (col("n_out") + col("prod_n") - col("n_overlap_prod")), 6)
          .as("jaccard_vs_prod"),
        col("n_both_legs"), col("n_lex_only"), col("n_sem_only"))
      .orderBy("rrf_k")
  }

  /** Oracle: the shared leg CTEs, the same grid/score/top-K/overlap
    * arithmetic. */
  val q238Sql: String = {
    val grid = RrfSweepKs.mkString(", ")
    s"""$rrfLegsSqlCtes, cand AS (
       |  SELECT coalesce(l.doc_id, m.doc_id) AS doc_id, l.lex_rank, m.sem_rank
       |  FROM lex l FULL OUTER JOIN sem m ON l.doc_id = m.doc_id
       |), scored AS (
       |  SELECT g.rrf_k, c.doc_id, c.lex_rank, c.sem_rank,
       |    round(CASE WHEN c.lex_rank IS NOT NULL
       |            THEN 1.0 / (g.rrf_k + c.lex_rank) ELSE 0.0 END
       |        + CASE WHEN c.sem_rank IS NOT NULL
       |            THEN 1.0 / (g.rrf_k + c.sem_rank) ELSE 0.0 END, 6) AS rrf
       |  FROM cand c CROSS JOIN (SELECT unnest([$grid]) AS rrf_k) g
       |), topk AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY rrf_k
       |      ORDER BY rrf DESC, doc_id) AS fr
       |    FROM scored) WHERE fr <= $FuseOut
       |), prod AS (SELECT doc_id FROM topk WHERE rrf_k = $RrfK
       |), pn AS (SELECT count(*) AS prod_n FROM prod)
       |SELECT t.rrf_k, count(*) AS n_out,
       |  CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_overlap_prod,
       |  round(CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS DOUBLE)
       |    / (count(*) + pn.prod_n
       |       - sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)), 6)
       |    AS jaccard_vs_prod,
       |  CAST(sum(CASE WHEN t.lex_rank IS NOT NULL AND t.sem_rank IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_both_legs,
       |  CAST(sum(CASE WHEN t.lex_rank IS NOT NULL AND t.sem_rank IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_lex_only,
       |  CAST(sum(CASE WHEN t.sem_rank IS NOT NULL AND t.lex_rank IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_only
       |FROM topk t LEFT JOIN prod p USING (doc_id) CROSS JOIN pn
       |GROUP BY t.rrf_k, pn.prod_n ORDER BY t.rrf_k""".stripMargin
  }

  /** BM25 constants as SQL literals (shared with q81's formula). */
  private def Bm25Lit: (String, String) =
    (graft.llmops.TextOps.Bm25K1.toString, graft.llmops.TextOps.Bm25B.toString)

  // ------------------------------------------ q192 margin-based alignment

  /** Neighborhood size for the margin denominator (Artetxe & Schwenk's
    * ratio-margin criterion uses the mean of the k nearest cosines on
    * EACH side). */
  val MarginK = 4
  /** Pairs score as aligned when cos(x,y) exceeds the mean of the two
    * local neighborhoods — margin > 1 — by this factor. */
  val MarginThresh = 1.0

  /** q192: MARGIN-BASED CROSS-CORPUS ALIGNMENT — the bitext-mining
    * scorer (Artetxe & Schwenk 2019) a multilingual pipeline uses to
    * pair documents across two corpora by embedding: raw cosine
    * over-fires in dense "hubness" regions, so each candidate is
    * scored by `cos(x,y) / mean(topK_x ∪ topK_y)` — similarity
    * RELATIVE to the local neighborhood density — and x keeps only
    * its best-margin y, flagged `mutual` when y reciprocates.
    *
    * Side split on the fixture: labels 0–4 are corpus X, 5–9 are
    * corpus Y. The X×Y similarity pass is the declared exact baseline
    * (the q40 posture: at 100 TB the candidate generation is the q44
    * IVF index; margin scoring itself only ever touches each x's
    * candidate list + two k-row neighborhood sums). The margin
    * denominator sums run over DECIMAL(14,6) copies of the rounded
    * cosines, so the k-term additions are exact in both engines; the
    * single double division rounds 6 dp (the q128 discipline).
    *
    * Mutuality is rank-1-vs-rank-1 on the SAME margin matrix — the
    * forward and backward argmaxes are two window minima over one
    * already-computed frame, not a second similarity pass. */
  def q192MarginAlign(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"), col("label"))
      .withColumn("nrm", graft.functions.VectorExprs.norm(col("v")))
    val x = e.filter(col("label") < 5)
      .select(col("vec_id").as("x_id"), col("v").as("xv"), col("nrm").as("xn"))
    val y = e.filter(col("label") >= 5)
      .select(col("vec_id").as("y_id"), col("v").as("yv"), col("nrm").as("yn"))
    val d = graft.functions.VectorExprs.dot(col("xv"), col("yv"))
    val cos = when(col("xn") * col("yn") === 0, lit(0.0))
      .otherwise(d / (col("xn") * col("yn")))
    val sims = x.repartition(s.sparkContext.defaultParallelism, col("x_id"))
      .crossJoin(y)
      .select(col("x_id"), col("y_id"), round(cos, 6).as("cos"))
    val wx = Window.partitionBy("x_id").orderBy(col("cos").desc, col("y_id"))
    val wy = Window.partitionBy("y_id").orderBy(col("cos").desc, col("x_id"))
    val ranked = sims
      .withColumn("rx", row_number().over(wx))
      .withColumn("ry", row_number().over(wy))
    val sumX = ranked.filter(col("rx") <= MarginK)
      .groupBy("x_id").agg(sum(dec(col("cos"), 14, 6)).as("sx"))
    val sumY = ranked.filter(col("ry") <= MarginK)
      .groupBy("y_id").agg(sum(dec(col("cos"), 14, 6)).as("sy"))
    val margins = ranked
      .join(broadcast(sumX), Seq("x_id"))
      .join(broadcast(sumY), Seq("y_id"))
      .select(col("x_id"), col("y_id"),
        when((col("sx") + col("sy")).cast("double") > 0,
          round(col("cos") * lit(2 * MarginK)
            / (col("sx") + col("sy")).cast("double"), 6))
          .otherwise(lit(0.0)).as("margin"))
    val wmx = Window.partitionBy("x_id").orderBy(col("margin").desc, col("y_id"))
    val wmy = Window.partitionBy("y_id").orderBy(col("margin").desc, col("x_id"))
    margins
      .withColumn("fwd", row_number().over(wmx))
      .withColumn("bwd", row_number().over(wmy))
      .filter(col("fwd") === 1 && col("margin") >= MarginThresh)
      .select(col("x_id"), col("y_id"), col("margin"),
        (col("bwd") === 1).as("mutual"))
      .orderBy("x_id")
  }

  val q192Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
       |  FROM embeddings
       |), en AS (
       |  SELECT vec_id, label, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM e
       |), sims AS (
       |  SELECT a.vec_id AS x_id, b.vec_id AS y_id,
       |    round(CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
       |      ELSE list_sum([a.v[i] * b.v[i] for i in
       |        range(1, ${graft.llmops.VectorOps.Dim} + 1)]) / (a.nrm * b.nrm)
       |      END, 6) AS cos
       |  FROM en a CROSS JOIN en b
       |  WHERE a.label < 5 AND b.label >= 5
       |), ranked AS (
       |  SELECT x_id, y_id, cos,
       |    row_number() OVER (PARTITION BY x_id ORDER BY cos DESC, y_id) AS rx,
       |    row_number() OVER (PARTITION BY y_id ORDER BY cos DESC, x_id) AS ry
       |  FROM sims
       |), sum_x AS (
       |  SELECT x_id, sum(CAST(cos AS DECIMAL(14,6))) AS sx
       |  FROM ranked WHERE rx <= $MarginK GROUP BY 1
       |), sum_y AS (
       |  SELECT y_id, sum(CAST(cos AS DECIMAL(14,6))) AS sy
       |  FROM ranked WHERE ry <= $MarginK GROUP BY 1
       |), margins AS (
       |  SELECT x_id, y_id,
       |    CASE WHEN CAST(sx + sy AS DOUBLE) > 0
       |      THEN round(cos * ${2 * MarginK} / CAST(sx + sy AS DOUBLE), 6)
       |      ELSE 0.0 END AS margin
       |  FROM ranked JOIN sum_x USING (x_id) JOIN sum_y USING (y_id)
       |), ranked2 AS (
       |  SELECT x_id, y_id, margin,
       |    row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id)
       |      AS fwd,
       |    row_number() OVER (PARTITION BY y_id ORDER BY margin DESC, x_id)
       |      AS bwd
       |  FROM margins
       |)
       |SELECT x_id, y_id, margin, (bwd = 1) AS mutual
       |FROM ranked2 WHERE fwd = 1 AND margin >= $MarginThresh
       |ORDER BY x_id""".stripMargin

  // ---------------------------------- q206 source concentration audit

  /** q206: SOURCE CONCENTRATION AUDIT — the mixture-diversity
    * numbers a pretraining-data review reads before q68/q111
    * PRESCRIBE new weights: over realized token mass per source, the
    * Gini coefficient (inequality), Shannon entropy, and the
    * effective source count exp(H) — "we have 20 sources but
    * effectively 6.2". One row.
    *
    * Exactness: token mass collapses to the |sources|-row frame at
    * the first partial agg; Gini uses the sorted-cumulative integer
    * formula Σ(2i−n−1)·x_i with EXACT integer numerators and one
    * double division; entropy terms round 10 dp and sum through
    * DECIMAL(28,10) (the q110/q128 discipline), so double-sum
    * ordering can never flip a bit. Everything after the first agg
    * is frame-sized — at any corpus scale this costs one scan. */
  def q206SourceConcentration(s: SparkSession, dir: String): DataFrame = {
    val d10 = org.apache.spark.sql.types.DecimalType(28, 10)
    val m = Tables.read(s, dir, "documents")
      .select(col("source"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("x"))
    val wRank = Window.orderBy(col("x"), col("source"))
    val ranked = m.withColumn("i", row_number().over(wRank).cast("long"))
    ranked
      .crossJoin(broadcast(m.agg(sum("x").as("tot"),
        count(lit(1)).as("k"))))
      .select(col("x"), col("i"), col("tot"), col("k"),
        ((lit(2) * col("i") - col("k") - 1) * col("x")).as("gnum"),
        when(col("x") > 0,
          round((col("x").cast("double") / col("tot")) *
            log(col("x").cast("double") / col("tot")), 10))
          .otherwise(lit(0.0)).cast(d10).as("plnp"))
      .agg(max("k").as("n_sources"), max("tot").as("total_tokens"),
        when(max("k") > 1 && max("tot") > 0,
          round(sum("gnum").cast("double")
            / ((max("k") - 1).cast("double") * max("tot").cast("double")),
            6)).as("gini"),
        round(-sum("plnp").cast("double"), 6).as("entropy"))
      .withColumn("eff_sources",
        when(col("entropy").isNotNull, round(exp(col("entropy")), 6)))
  }

  val q206Sql: String =
    s"""WITH m AS (
       |  SELECT source,
       |    CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS x
       |  FROM documents GROUP BY source
       |), r AS (
       |  SELECT x,
       |    CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i,
       |    CAST(sum(x) OVER () AS BIGINT) AS tot,
       |    CAST(count(*) OVER () AS BIGINT) AS k
       |  FROM m
       |), terms AS (
       |  SELECT x, i, tot, k, (2 * i - k - 1) * x AS gnum,
       |    CAST(CASE WHEN x > 0
       |      THEN round((CAST(x AS DOUBLE) / tot)
       |        * ln(CAST(x AS DOUBLE) / tot), 10)
       |      ELSE 0.0 END AS DECIMAL(28,10)) AS plnp
       |  FROM r
       |)
       |SELECT max(k) AS n_sources, max(tot) AS total_tokens,
       |  CASE WHEN max(k) > 1 AND max(tot) > 0
       |    THEN round(CAST(sum(gnum) AS DOUBLE)
       |      / (CAST(max(k) - 1 AS DOUBLE) * CAST(max(tot) AS DOUBLE)), 6)
       |  END AS gini,
       |  round(-CAST(sum(plnp) AS DOUBLE), 6) AS entropy,
       |  CASE WHEN sum(plnp) IS NOT NULL
       |    THEN round(exp(round(-CAST(sum(plnp) AS DOUBLE), 6)), 6)
       |  END AS eff_sources
       |FROM terms""".stripMargin

  // -------------------------------------- q205 embedding coverage audit

  /** q205: EMBEDDING COVERAGE AUDIT — the referential-integrity gate
    * an index build runs before trusting the (documents, embeddings)
    * pair: per source, how many documents have no vector (encoder
    * backlog — they silently vanish from every retrieval path) and
    * how many vectors have no document (orphans — they surface
    * unattributable results). One full-outer reconciliation on the
    * id key (the q106 audit shape) aggregated to |sources| rows;
    * orphan vectors carry no source and land in a dedicated
    * `(orphan)` row so the audit's totals always reconcile to both
    * table counts. */
  def q205EmbedCoverage(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(s, dir, "documents").select(col("doc_id"), col("source"))
    val e = Tables.read(s, dir, "embeddings").select(col("vec_id"))
    d.join(e, col("doc_id") === col("vec_id"), "full_outer")
      .select(
        when(col("doc_id").isNotNull, col("source"))
          .otherwise(lit("(orphan)")).as("source"),
        col("doc_id"), col("vec_id"))
      .groupBy("source")
      .agg(sum(when(col("doc_id").isNotNull, 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("doc_id").isNotNull && col("vec_id").isNull, 1L)
          .otherwise(0L)).as("n_unembedded"),
        sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("n_orphans"),
        sum(when(col("doc_id").isNotNull && col("vec_id").isNotNull, 1L)
          .otherwise(0L)).as("n_covered"))
      .withColumn("coverage",
        when(col("n_docs") > 0,
          round(col("n_covered").cast("double") / col("n_docs"), 6)))
      .orderBy("source")
  }

  val q205Sql: String =
    s"""SELECT source,
       |  CAST(sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs,
       |  CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unembedded,
       |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_orphans,
       |  CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       |  CASE WHEN sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END) > 0
       |    THEN round(
       |      CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
       |        THEN 1 ELSE 0 END) AS DOUBLE)
       |      / sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END), 6)
       |  END AS coverage
       |FROM (
       |  SELECT CASE WHEN d.doc_id IS NOT NULL THEN d.source
       |    ELSE '(orphan)' END AS source, d.doc_id, e.vec_id
       |  FROM documents d
       |  FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
       |)
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------ q204 RAG context assembly

  /** Context-window token budget and per-source diversity cap. */
  val CtxBudgetTokens = 600L
  val CtxPerSourceCap = 3

  /** q204: RAG CONTEXT ASSEMBLY — the last stage of the retrieval
    * path: take the q191 fused ranking and PACK the actual context
    * window — walk the list in fused order, keep at most
    * [[CtxPerSourceCap]] docs per source (diversity cap), and
    * prefix-truncate at [[CtxBudgetTokens]] whitespace tokens
    * (inclusive running total — the first overflowing doc and
    * everything after it is cut). Emits the packed context in
    * position order with the running token count: the table that
    * becomes the prompt.
    *
    * Scale: every window here runs over the ≤[[FuseOut]]-row fused
    * list — bounded BY CONSTRUCTION before this operator starts (the
    * q194 posture: the corpus-sized work happened in the retriever
    * legs, which are rank-pushed); the doc-token join is a broadcast
    * of the 20-row list against the narrow (doc_id, tokens)
    * projection. */
  def q204ContextPack(s: SparkSession, dir: String): DataFrame = {
    val fused = q191RrfFusion(s, dir).select("fused_rank", "doc_id")
    val meta = Tables.read(s, dir, "documents").select(col("doc_id"), col("source"),
      size(split(col("text"), "\\s+")).cast("long").as("nt"))
    val wSrc = Window.partitionBy("source").orderBy("fused_rank")
    val wCum = Window.orderBy("fused_rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPos = Window.orderBy("fused_rank")
    broadcast(fused).join(meta, Seq("doc_id"))
      .withColumn("rs", row_number().over(wSrc))
      .filter(col("rs") <= CtxPerSourceCap)
      .withColumn("cum_tokens", sum("nt").over(wCum))
      .filter(col("cum_tokens") <= CtxBudgetTokens)
      .withColumn("ctx_pos", row_number().over(wPos).cast("long"))
      .select("ctx_pos", "doc_id", "source", "nt", "cum_tokens",
        "fused_rank")
      .orderBy("ctx_pos")
  }

  val q204Sql: String =
    s"""WITH fused AS MATERIALIZED (
       |$q191Sql
       |), meta AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt
       |  FROM documents
       |), capped AS (
       |  SELECT fused_rank, doc_id, source, nt
       |  FROM fused JOIN meta USING (doc_id)
       |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY fused_rank)
       |    <= $CtxPerSourceCap
       |), packed AS (
       |  SELECT *,
       |    sum(nt) OVER (ORDER BY fused_rank
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |  FROM capped
       |  QUALIFY cum_tokens <= $CtxBudgetTokens
       |)
       |SELECT CAST(row_number() OVER (ORDER BY fused_rank) AS BIGINT)
       |    AS ctx_pos,
       |  doc_id, source, nt, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |  fused_rank
       |FROM packed ORDER BY ctx_pos""".stripMargin

  // ---------------------------------------- q203 shuffle-quality audit

  /** q203: TRAINING-SHUFFLE QUALITY AUDIT — did the q182 shuffle
    * actually decorrelate sources? The statistic a data-loader QA pass
    * checks: among ADJACENT documents in shuffled order, the fraction
    * sharing a source (`p_same`), against the expected collision rate
    * of a perfectly random order (`Σ n_s² / n²`); `clump_ratio` ≈ 1
    * means batch diversity is what i.i.d. sampling would give, ≫ 1
    * means source runs survived the shuffle (curriculum leakage into
    * batches).
    *
    * Adjacency is measured WITHIN the q182 key's leading-byte bucket
    * (256 frames) — deliberately: it keeps the audit free of any
    * global-order window (the same two-phase discipline as the
    * shuffle itself — at 100 TB nothing sorts globally to be audited),
    * loses only the ≤255 bucket-boundary pairs, and the oracle
    * measures the identical within-bucket adjacency. The expected
    * rate uses exact integer Σ n_s² with one double division. */
  def q203ShuffleQuality(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(lit(s"$ShuffleSeed-"), col("doc_id").cast("string")))
          .as("k"))
      .withColumn("bucket", substring(col("k"), 1, 2))
    val wIn = Window.partitionBy("bucket").orderBy("k")
    val adj = keyed.withColumn("prev", lag("source", 1).over(wIn))
      .filter(col("prev").isNotNull)
    val pairs = adj.agg(count(lit(1)).as("n_pairs"),
      coalesce(sum(when(col("source") === col("prev"), 1L).otherwise(0L)),
        lit(0L)).as("n_same"))
    val e = keyed.groupBy("source").agg(count(lit(1)).as("ns"))
      .agg(sum(col("ns") * col("ns")).as("sum2"), sum(col("ns")).as("n"))
    pairs.crossJoin(e)
      .select(coalesce(col("n"), lit(0L)).as("n_docs"),
        col("n_pairs"), col("n_same"),
        when(col("n_pairs") > 0,
          round(col("n_same").cast("double") / col("n_pairs"), 6))
          .as("p_same"),
        when(col("n") > 0,
          round(col("sum2").cast("double")
            / (col("n").cast("double") * col("n").cast("double")), 6))
          .as("expected_p"),
        when(col("n_pairs") > 0 && col("sum2") > 0,
          round((col("n_same").cast("double") / col("n_pairs"))
            / (col("sum2").cast("double")
              / (col("n").cast("double") * col("n").cast("double"))), 6))
          .as("clump_ratio"))
  }

  val q203Sql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, source,
       |    md5('$ShuffleSeed-' || CAST(doc_id AS VARCHAR)) AS k
       |  FROM documents
       |), b AS (
       |  SELECT source, k, substring(k, 1, 2) AS bucket FROM keyed
       |), adj AS (
       |  SELECT source,
       |    lag(source) OVER (PARTITION BY bucket ORDER BY k) AS prev
       |  FROM b
       |), p AS (
       |  SELECT count(*) AS n_pairs,
       |    coalesce(CAST(sum(CASE WHEN source = prev THEN 1 ELSE 0 END)
       |      AS BIGINT), 0) AS n_same
       |  FROM adj WHERE prev IS NOT NULL
       |), e AS (
       |  SELECT CAST(sum(ns * ns) AS BIGINT) AS sum2,
       |    CAST(sum(ns) AS BIGINT) AS n
       |  FROM (SELECT count(*) AS ns FROM keyed GROUP BY source)
       |)
       |SELECT coalesce(n, 0) AS n_docs, n_pairs, n_same,
       |  CASE WHEN n_pairs > 0
       |    THEN round(CAST(n_same AS DOUBLE) / n_pairs, 6) END AS p_same,
       |  CASE WHEN n > 0
       |    THEN round(CAST(sum2 AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) END AS expected_p,
       |  CASE WHEN n_pairs > 0 AND sum2 > 0
       |    THEN round((CAST(n_same AS DOUBLE) / n_pairs)
       |      / (CAST(sum2 AS DOUBLE)
       |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
       |  END AS clump_ratio
       |FROM p CROSS JOIN e""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q173_corpus_diff", q173CorpusDiff, q173Sql),
    QueryDef("q174_token_budget_select", q174TokenBudgetSelect, q174Sql),
    QueryDef("q175_psi_drift", q175PsiDrift, q175Sql),
    QueryDef("q176_bottomk_sample", q176BottomkSample, q176Sql),
    QueryDef("q177_crawl_novelty", q177CrawlNovelty, q177Sql),
    QueryDef("q178_lr_quality", q178LrQuality, q178Sql),
    QueryDef("q179_auc_midrank", q179AucMidrank, q179Sql),
    QueryDef("q180_calibration", q180Calibration, q180Sql),
    QueryDef("q181_epoch_alloc", q181EpochAlloc, q181Sql),
    QueryDef("q182_train_shuffle", q182TrainShuffle, q182Sql),
    QueryDef("q183_preference_pairs", q183PreferencePairs, q183Sql),
    QueryDef("q185_k_anonymity", q185KAnonymity, q185Sql),
    QueryDef("q246_l_diversity", q246LDiversity, q246Sql),
    QueryDef("q252_noised_release", q252NoisedRelease, q252Sql),
    QueryDef("q186_span_corruption", q186SpanCorruption, q186Sql),
    QueryDef("q187_soft_dedup_weights", q187SoftDedupWeights, q187Sql),
    QueryDef("q188_dsir_weights", q188DsirWeights, q188Sql),
    QueryDef("q189_rank_agreement", q189RankAgreement, q189Sql),
    QueryDef("q190_retention_sweep", q190RetentionSweep, q190Sql),
    QueryDef("q191_rrf_fusion", q191RrfFusion, q191Sql),
    QueryDef("q238_rrf_sweep", q238RrfSweep, q238Sql),
    QueryDef("q192_margin_align", q192MarginAlign, q192Sql),
    QueryDef("q203_shuffle_quality", q203ShuffleQuality, q203Sql),
    QueryDef("q204_context_pack", q204ContextPack, q204Sql),
    QueryDef("q205_embed_coverage", q205EmbedCoverage, q205Sql),
    QueryDef("q206_source_concentration", q206SourceConcentration, q206Sql)
  )
}
