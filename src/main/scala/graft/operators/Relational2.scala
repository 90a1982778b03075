package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second batch of analytics-layer coverage (SURVEY §2.4-2.8 "inherited
  * from Spark" claims, evidenced): correlated-subquery shapes, HAVING,
  * date arithmetic, conditional aggregation, string reporting.
  */
object Relational2 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val Window = org.apache.spark.sql.expressions.Window

  /** The shared m=256 HLL estimator text, identical on both engines
    * (q169's formula): alpha_256 · m² / harmonic, linear counting
    * below 2.5m when zero registers remain. Leading literals are CAST
    * to double explicitly — Spark parses bare decimal-literal division
    * as scale-limited DECIMAL arithmetic, silently off the IEEE value
    * DuckDB computes. */
  private def hllEstSql(harmonic: String, zeros: String): String =
    s"""CASE WHEN (CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0)) * 65536.0 / $harmonic <= 640.0
          AND $zeros > 0
        THEN 256.0 * ln(CAST(256.0 AS DOUBLE) / $zeros)
        ELSE (CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0)) * 65536.0 / $harmonic END"""

  /** Correlated-subquery shape (TPC-H Q17-like): lineitems below 20% of
    * their part's average quantity — decorrelated as agg + join. */
  val q70BelowAvgParts: QueryDef = QueryDef(
    "q70_below_avg_parts",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val avgQ = li.groupBy(col("l_partkey").as("p_key"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      li.join(avgQ, col("l_partkey") === col("p_key"))
        .filter(col("l_quantity") < col("avg_qty") * 0.2)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_small"), round(sum(col("l_extendedprice")), 2).as("small_revenue"))
        .orderBy(col("l_partkey"))
    },
    Some("""SELECT l_partkey, count(*) AS n_small,
      round(sum(l_extendedprice), 2) AS small_revenue
      FROM lineitem l
      WHERE l_quantity < (SELECT avg(l_quantity) * 0.2 FROM lineitem
                          WHERE l_partkey = l.l_partkey)
      GROUP BY l_partkey ORDER BY l_partkey"""))

  /** HAVING: high-volume customers only (TPC-H Q18 flavor). */
  val q71Having: QueryDef = QueryDef(
    "q71_big_customers",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("spend"))
        .filter(col("n_orders") >= 15)
        .orderBy(col("o_custkey")),
    Some("""SELECT o_custkey, count(*) AS n_orders,
      round(sum(o_totalprice), 2) AS spend
      FROM orders GROUP BY o_custkey HAVING count(*) >= 15
      ORDER BY o_custkey"""))

  /** Date arithmetic: shipping delay stats per month. */
  val q72ShipDelay: QueryDef = QueryDef(
    "q72_ship_delay",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(date_trunc("month", col("o_orderdate")).cast("date").as("order_month"),
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")).cast("long").as("delay_days"))
        .groupBy(col("order_month"))
        .agg(count(lit(1)).as("n_items"),
          round(avg(col("delay_days")), 4).as("avg_delay"),
          max(col("delay_days")).as("max_delay"))
        .orderBy(col("order_month"))
    },
    Some("""SELECT order_month, count(*) AS n_items,
      round(avg(delay_days), 4) AS avg_delay,
      CAST(max(delay_days) AS BIGINT) AS max_delay FROM (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
          CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS delay_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey) x
      GROUP BY order_month ORDER BY order_month"""))

  /** Conditional aggregation (CASE inside agg — TPC-H Q8/Q12 flavor). */
  val q73ConditionalAgg: QueryDef = QueryDef(
    "q73_conditional_agg",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("n_discounted"),
          round(sum(when(col("l_discount") > 0.05, col("l_extendedprice") * col("l_discount"))
            .otherwise(lit(0.0))), 2).as("discount_given"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag, count(*) AS n_total,
      CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
      round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice * l_discount ELSE 0.0 END), 2) AS discount_given
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** String reporting: formatted label + concatenation (F10 shape). */
  val q74StringReport: QueryDef = QueryDef(
    "q74_string_report",
    (s, dir) => {
      val c = t(s, dir, "customer")
      c.select(col("c_custkey"),
          concat_ws(" / ", upper(col("c_mktsegment")),
            format_string("cust-%05d", col("c_custkey"))).as("label"),
          length(col("c_name")).cast("long").as("name_len"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
      upper(c_mktsegment) || ' / ' || format('cust-{:05d}', c_custkey) AS label,
      CAST(length(c_name) AS BIGINT) AS name_len
      FROM customer ORDER BY c_custkey"""))

  /** EXCEPT (SO completion): segments present in one half of customers
    * but not the other. */
  val q75Except: QueryDef = QueryDef(
    "q75_except",
    (s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_custkey") % 2 === 0).select(col("c_mktsegment"))
        .except(c.filter(col("c_acctbal") > 9990).select(col("c_mktsegment")))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment FROM customer WHERE c_custkey % 2 = 0
      EXCEPT SELECT c_mktsegment FROM customer WHERE c_acctbal > 9990
      ORDER BY c_mktsegment"""))

  /** Exact percentiles (median/p90) — Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition. */
  val q76Percentiles: QueryDef = QueryDef(
    "q76_percentiles",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_price"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
      round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
      round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Sketch tier: approximate distinct counts + approximate median,
    * every estimate EXACTLY oracle-checked. Spark's built-in
    * `approx_count_distinct`/`approx_percentile` sketches are
    * engine-opaque (non-portable hashes, sequential GK state), so this
    * query instead composes the repo's portable sketch kit:
    *
    *  - distincts: the native [[graft.functions.expressions.HyperLogLogAgg]]
    *    (256 sha-256-derived registers, element-wise-max merge — the
    *    q169 sketch) per return flag over l_partkey / l_orderkey; the
    *    DuckDB oracle REBUILDS both register grids and replays the
    *    identical estimator text, so the approximation itself is
    *    deterministic and exactly checked.
    *  - median: a fixed-width histogram quantile (bucket width δ=16 on
    *    l_extendedprice, estimate = midpoint of the bucket holding the
    *    lower-median rank — additive value error ≤ δ/2). The grid is
    *    integer-exact, so the oracle replays it bucket-for-bucket.
    *
    * Scale: HLL partials are 256 B per (task, flag) however large the
    * table; the histogram shuffles (flag, bucket) cells — range/δ
    * counters, not rows — and both merge associatively, so the whole
    * sketch tier is one map-side-combined pass. */
  /** Spark-side estimate over a register-array column: harmonic fold +
    * zero count fed to [[hllEstSql]]. */
  private def hllEstExpr(regs: String): String = hllEstSql(
    s"aggregate($regs, cast(0.0 as double), " +
      "(a, x) -> a + 1.0 / cast(shiftleft(cast(1 as bigint), x) as double))",
    s"cast(size(filter($regs, x -> x = 0)) as bigint)")

  val q77Sketches: QueryDef = {
    import graft.functions.expressions.HyperLogLogAgg
    def estExpr(regs: String): String = hllEstExpr(regs)
    QueryDef(
      "q77_sketches",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val hll = li.groupBy(col("l_returnflag")).agg(
            expr("hll_sketch(cast(l_partkey as string))").as("rp"),
            expr("hll_sketch(cast(l_orderkey as string))").as("ro"))
          .select(col("l_returnflag"),
            round(expr(estExpr("rp")), 4).as("approx_parts"),
            round(expr(estExpr("ro")), 4).as("approx_orders"))
        val byB = Window.partitionBy(col("l_returnflag")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.partitionBy(col("l_returnflag"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val med = li
          .groupBy(col("l_returnflag"),
            floor(col("l_extendedprice") / lit(16.0)).cast("long").as("b"))
          .agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(byB))
          .withColumn("n", sum(col("c")).over(wAll))
          .filter(col("cum") >= ((col("n") + 1) / 2).cast("long"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("b")).as("mb"))
          .select(col("l_returnflag"),
            (col("mb").cast("double") * 16.0 + 8.0).as("approx_median_price"))
        hll.join(med, "l_returnflag").orderBy(col("l_returnflag"))
      },
      Some(s"""WITH hp AS (SELECT l_returnflag,
            sha256(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
        cp AS (SELECT l_returnflag, ${HyperLogLogAgg.bucketSql("h")} AS b,
            max(${HyperLogLogAgg.rhoSql("h")}) AS r FROM hp GROUP BY 1, 2),
        ap AS (SELECT l_returnflag,
            sum(1.0 / CAST((CAST(1 AS BIGINT) << r) AS DOUBLE))
              + (256 - count(*)) AS harmonic,
            CAST(256 - count(*) AS BIGINT) AS zero_regs
          FROM cp GROUP BY 1),
        ho AS (SELECT l_returnflag,
            sha256(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem),
        co AS (SELECT l_returnflag, ${HyperLogLogAgg.bucketSql("h")} AS b,
            max(${HyperLogLogAgg.rhoSql("h")}) AS r FROM ho GROUP BY 1, 2),
        ao AS (SELECT l_returnflag,
            sum(1.0 / CAST((CAST(1 AS BIGINT) << r) AS DOUBLE))
              + (256 - count(*)) AS harmonic,
            CAST(256 - count(*) AS BIGINT) AS zero_regs
          FROM co GROUP BY 1),
        grid AS (SELECT l_returnflag,
            CAST(floor(l_extendedprice / 16.0) AS BIGINT) AS b,
            CAST(count(*) AS BIGINT) AS c
          FROM lineitem GROUP BY 1, 2),
        st AS (SELECT *, CAST(sum(c) OVER (PARTITION BY l_returnflag
              ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
            CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
          FROM grid),
        med AS (SELECT l_returnflag, CAST(min(b) AS BIGINT) AS mb
          FROM st WHERE cum >= (n + 1) // 2 GROUP BY 1)
        SELECT ap.l_returnflag,
          round(${hllEstSql("ap.harmonic", "ap.zero_regs")}, 4) AS approx_parts,
          round(${hllEstSql("ao.harmonic", "ao.zero_regs")}, 4) AS approx_orders,
          CAST(med.mb AS DOUBLE) * 16.0 + 8.0 AS approx_median_price
        FROM ap JOIN ao USING (l_returnflag) JOIN med USING (l_returnflag)
        ORDER BY ap.l_returnflag"""))
  }

  // ---------------------------------------------------------------
  // q133: Misra-Gries heavy hitters over the document token stream
  // ---------------------------------------------------------------

  /** Top-20 frequent tokens via the Misra-Gries summary
    * (`functions/expressions/MisraGriesAgg`): per-partition k-counter
    * summaries merged associatively, never a full-vocabulary shuffle.
    * On this corpus k = 64 exceeds the distinct-token count, so no
    * eviction fires and the summary is EXACT — which is what lets the
    * DuckDB oracle check it with a plain count(*). The approximation
    * regime (k below the vocabulary, the 100 TB configuration where
    * the vocab itself is too big to shuffle) is pinned by
    * MisraGriesSpec: the est ≤ f ≤ est + N/(k+1) bound and the
    * no-missed-heavy-hitter guarantee hold under any partitioning.
    *
    * Scale: one narrow explode feeds partial aggregation — map-side
    * combine reduces every partition to ≤ k counters before the
    * single-row final merge; the corpus is scanned once and the only
    * shuffled bytes are k-sized summaries. */
  val q133HeavyHitters: QueryDef = QueryDef(
    "q133_heavy_hitters",
    (s, dir) => {
      Tables.loadParallel(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .agg(expr("misra_gries(token, 64)").as("hh"))
        .select(posexplode(col("hh")).as(Seq("pos", "e")))
        .filter(col("pos") < 20)
        .select((col("pos") + 1).cast("long").as("rank"),
          col("e.token").as("token"), col("e.est").as("est_count"))
        .orderBy(col("rank"))
    },
    Some("""WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents),
      counts AS (SELECT token, CAST(count(*) AS BIGINT) AS est_count
        FROM toks GROUP BY token)
      SELECT CAST(row_number() OVER (ORDER BY est_count DESC, token) AS BIGINT) AS rank,
        token, est_count
      FROM counts ORDER BY est_count DESC, token LIMIT 20"""))

  // ---------------------------------------------------------------
  // q154: Count-Min Sketch point queries (the second sketch family)
  // ---------------------------------------------------------------

  /** Count-Min Sketch frequency estimation: build the 4×256 counter
    * grid over the token stream with the native [[graft.functions.expressions.CountMinAgg]]
    * aggregate, then point-query the 20 true-heaviest tokens and report
    * estimate vs truth. CMS only ever OVER-counts (`overcount >= 0`
    * row-by-row in the oracle-checked output), with overcount ≤ e·N/w
    * w.h.p. — the audit that sizes the width before trusting the
    * sketch in telemetry. The row hashes are portable sha-256 hex
    * arithmetic, so the DuckDB oracle REBUILDS the full grid with a
    * GROUP BY and must agree counter-for-counter — an exactly-checked
    * sketch, unlike the estimate-tolerance HLL tier (q77).
    *
    * Scale: partials are 8 KiB per map task regardless of corpus size
    * (element-wise-add merge = perfect map-side combine); the final
    * sketch is ONE row broadcast onto the TakeOrdered top-k table; the
    * probe arithmetic is codegen'd hex math, no second corpus pass
    * beyond the count the truth column needs anyway. */
  val q154CmsFrequency: QueryDef = {
    import graft.functions.expressions.CountMinAgg
    val (depth, width) = (4, 256)
    def estCol: Column = (0 until depth).map { j =>
      expr(s"element_at(sk, ${j * width} + " +
        CountMinAgg.bucketSql("sha2(tok, 256)", j.toString, width) + " + 1)")
    }.reduce(least(_, _))
    QueryDef(
      "q154_cms_frequency",
      (s, dir) => {
        val toks = Tables.loadParallel(s, dir, "documents")
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        val sk = toks.agg(expr(s"cms_sketch(tok, $depth, $width)").as("sk"))
        val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("true_n"))
          .orderBy(col("true_n").desc, col("tok")).limit(20)
        top.crossJoin(broadcast(sk))
          .withColumn("est", estCol)
          .select(col("tok"), col("true_n"), col("est"),
            (col("est") - col("true_n")).as("overcount"))
          .orderBy(col("true_n").desc, col("tok"))
      },
      Some(s"""WITH toks AS (
          SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          FROM documents),
        h AS (SELECT tok, sha256(tok) AS hx FROM toks),
        rws AS (SELECT unnest(range(0, $depth)) AS j),
        cells AS (SELECT r.j AS j, ${CountMinAgg.bucketSql("hx", "r.j", width)} AS b,
            CAST(count(*) AS BIGINT) AS n
          FROM h, rws r GROUP BY 1, 2),
        top AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_n FROM toks
          GROUP BY tok ORDER BY true_n DESC, tok LIMIT 20),
        probe AS (SELECT t.tok, t.true_n, CAST(min(c.n) AS BIGINT) AS est
          FROM top t CROSS JOIN rws r
          JOIN cells c ON c.j = r.j
            AND c.b = ${CountMinAgg.bucketSql("sha256(t.tok)", "r.j", width)}
          GROUP BY 1, 2)
        SELECT tok, true_n, est, est - true_n AS overcount
        FROM probe ORDER BY true_n DESC, tok"""))
  }

  // ---------------------------------------------------------------
  // q169: HyperLogLog distinct-count sketch with exact register parity
  // ---------------------------------------------------------------

  /** Per-source distinct-token cardinality via the native
    * [[graft.functions.expressions.HyperLogLogAgg]] (Flajolet 2007):
    * 256 max-rho registers per source, merged element-wise-max. The
    * registers use portable sha-256 hex arithmetic, so the DuckDB
    * oracle REBUILDS the grid (`GROUP BY bucket, max(rho)`) and the
    * exact integer fingerprints — `reg_sum` and `zero_regs` — must
    * agree register-set-for-register-set; the harmonic sum is exact
    * in doubles for any summation order (every term a multiple of
    * 2^-41, sum < 2^9), so only the final estimate's `ln` (linear-
    * counting branch) needs rounding. This upgrades q77's
    * tolerance-only `approx_count_distinct` story to an
    * exactly-checked cardinality sketch, completing the mergeable-
    * sketch triple: identity (MG q133), frequency (CMS q154),
    * cardinality (HLL).
    *
    * Scale: partials are 256 bytes per (task, source) regardless of
    * corpus size — the shuffle carries register grids, never token
    * sets; max-merge is idempotent, so speculative re-execution and
    * re-ingestion cannot corrupt the count (CMS's add-merge cannot
    * claim that). The exact `true_distinct` column is the sf-scale
    * audit only — at 100 TB the sketch replaces it, with the realized
    * `rel_err` column here as the calibration evidence. */
  val q169HllDistinct: QueryDef = {
    import graft.functions.expressions.HyperLogLogAgg
    // Identical ESTIMATE TEXT on both engines — see [[hllEstSql]].
    def estSql(harmonic: String, zeros: String): String =
      hllEstSql(harmonic, zeros)
    QueryDef(
      "q169_hll_distinct",
      (s, dir) => {
        // Registers are dedup-invariant (max-merge is idempotent), so
        // sketch the DISTINCT (source, tok) set: one aggregation and a
        // plain count(*) instead of the Expand a mixed
        // countDistinct+sketch agg would plan — and the same rows
        // serve both columns.
        val toks = Tables.loadParallel(s, dir, "documents")
          .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
          .distinct()
        toks.groupBy(col("source")).agg(
            expr("hll_sketch(tok)").as("regs"),
            count(lit(1)).as("true_distinct"))
          .withColumn("reg_sum", expr("aggregate(regs, 0L, (a, x) -> a + x)"))
          .withColumn("zero_regs",
            expr("cast(size(filter(regs, x -> x = 0)) as bigint)"))
          .withColumn("harmonic", expr(
            "aggregate(regs, cast(0.0 as double), (a, x) -> a + 1.0 / cast(shiftleft(cast(1 as bigint), x) as double))"))
          .withColumn("e", expr(estSql("harmonic", "zero_regs")))
          .select(col("source"), col("true_distinct"), col("reg_sum"),
            col("zero_regs"), round(col("e"), 4).as("est_distinct"),
            round(col("e") / col("true_distinct") - 1.0, 4).as("rel_err"))
          .orderBy(col("source"))
      },
      Some(s"""WITH toks AS (SELECT source,
          unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents),
        dv AS (SELECT DISTINCT source, tok FROM toks),
        hx AS (SELECT source, sha256(tok) AS h FROM dv),
        cells AS (SELECT source, ${HyperLogLogAgg.bucketSql("h")} AS b,
            max(${HyperLogLogAgg.rhoSql("h")}) AS r
          FROM hx GROUP BY 1, 2),
        agg AS (SELECT source,
            CAST(sum(r) AS BIGINT) AS reg_sum,
            CAST(256 - count(*) AS BIGINT) AS zero_regs,
            sum(1.0 / CAST((CAST(1 AS BIGINT) << r) AS DOUBLE))
              + (256 - count(*)) AS harmonic
          FROM cells GROUP BY source),
        tru AS (SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS true_distinct
          FROM toks GROUP BY source),
        est AS (SELECT source, reg_sum, zero_regs,
            ${estSql("harmonic", "zero_regs")} AS e
          FROM agg)
        SELECT t.source, t.true_distinct, e.reg_sum, e.zero_regs,
          round(e.e, 4) AS est_distinct,
          round(e.e / t.true_distinct - 1.0, 4) AS rel_err
        FROM tru t JOIN est e USING (source) ORDER BY source"""),
      headline = true)
  }

  // ---------------------------------------------------------------
  // q240: bottom-k quantile sketch (mergeable one-pass quantiles)
  // ---------------------------------------------------------------

  /** Per-source document-length quantiles from a MERGEABLE bottom-k
    * row sample ([[graft.functions.expressions.BottomKAgg]]): the K
    * rows with the smallest id-hash are a uniform sample of the
    * group, min-k merge is associative/commutative/idempotent, so the
    * whole estimate is one partial-aggregatable pass — the 100 TB
    * quantile shape, vs `percentile`'s per-group value collection or
    * a global sort. The kept set is reproducible in portable SQL
    * (`row_number() OVER (ORDER BY hash) <= K`), so the oracle
    * rebuilds the SAME sample and the estimate is exactly checked —
    * completing the mergeable-sketch family: identity (MG q133),
    * frequency (CMS q154), cardinality (HLL q169), quantiles (here).
    *
    * The quantile read is the value at rank ⌊(m−1)·q⌋ (0-based) of
    * the ascending sample — identical index arithmetic in both
    * engines. `exact_*`/`err_*` columns are the sf-scale audit only
    * (they collect the full group, q169's true_distinct discipline);
    * at 100 TB the sketch replaces them. */
  val q240QuantileSketch: QueryDef = {
    import graft.functions.expressions.BottomKAgg
    def idx(m: String, q: String): String =
      s"cast(floor((cast($m as double) - 1.0) * $q) as int) + 1"
    QueryDef(
      "q240_quantile_sketch",
      (s, dir) => {
        Tables.loadParallel(s, dir, "documents")
          .select(col("source"), col("n_chars").cast("long").as("v"),
            expr("sha2(cast(doc_id as string), 256)").as("h"))
          .groupBy(col("source"))
          .agg(expr("bottomk_sample(h, v)").as("vs"),
            sort_array(collect_list(col("v"))).as("allv"),
            count(lit(1)).as("n_docs"))
          .select(col("source"), col("n_docs"),
            size(col("vs")).cast("long").as("sample_m"),
            expr(s"element_at(vs, ${idx("size(vs)", "0.5")})").as("est_p50"),
            expr(s"element_at(vs, ${idx("size(vs)", "0.9")})").as("est_p90"),
            expr(s"element_at(allv, ${idx("size(allv)", "0.5")})").as("exact_p50"),
            expr(s"element_at(allv, ${idx("size(allv)", "0.9")})").as("exact_p90"))
          .withColumn("err_p50", abs(col("est_p50") - col("exact_p50")))
          .withColumn("err_p90", abs(col("est_p90") - col("exact_p90")))
          .orderBy(col("source"))
      },
      Some({
        def didx(m: String, q: String): String =
          s"CAST(floor((CAST($m AS DOUBLE) - 1.0) * $q) AS INT) + 1"
        s"""WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
            sha256(CAST(doc_id AS VARCHAR)) AS h FROM documents),
          rk AS (SELECT source, v,
              row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM d),
          smp AS (SELECT source, list(v ORDER BY v) AS vs
            FROM rk WHERE r <= ${BottomKAgg.K} GROUP BY source),
          ful AS (SELECT source, list(v ORDER BY v) AS allv,
              CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY source),
          est AS (SELECT f.source, f.n_docs,
              CAST(len(s.vs) AS BIGINT) AS sample_m,
              s.vs[${didx("len(s.vs)", "0.5")}] AS est_p50,
              s.vs[${didx("len(s.vs)", "0.9")}] AS est_p90,
              f.allv[${didx("len(f.allv)", "0.5")}] AS exact_p50,
              f.allv[${didx("len(f.allv)", "0.9")}] AS exact_p90
            FROM ful f JOIN smp s USING (source))
          SELECT source, n_docs, sample_m, est_p50, est_p90,
            exact_p50, exact_p90,
            abs(est_p50 - exact_p50) AS err_p50,
            abs(est_p90 - exact_p90) AS err_p90
          FROM est ORDER BY source"""
      }))
  }

  // ---------------------------------------------------------------
  // q186: data-profiling pass (per-column completeness + cardinality)
  // ---------------------------------------------------------------

  /** Table profile — the pre-flight every warehouse runs before
    * trusting a new feed (null fractions catch broken extractors,
    * cardinalities catch key collisions and constant columns): per
    * column of `orders`, row count, null count/fraction, and exact
    * distinct count. Columns melt to (col, value) rows via `stack`
    * with an injective string cast — the cast only keys the distinct
    * aggregation, it is never output, so engine string-format
    * differences cannot matter — and the profile is two grouped
    * aggregations over that stream.
    *
    * Scale: ONE table scan melted into (col, value) pairs; the first
    * aggregation is partial (map-side combine caps shuffle volume at
    * per-column cardinality, not row count); at 100 TB swap the exact
    * distinct for q169's HLL registers per column — the melt and the
    * aggregation shape are unchanged, the state drops to 256 B/column. */
  val q186Profile: QueryDef = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    QueryDef(
      "q186_profile",
      (s, dir) => {
        val melted = t(s, dir, "orders").select(expr(
          s"stack(${cols.length}, " +
            cols.map(c => s"'$c', cast($c as string)").mkString(", ") +
            ") as (col, v)"))
        melted.groupBy(col("col"), col("v")).agg(count(lit(1)).as("c"))
          .groupBy(col("col")).agg(
            sum(col("c")).as("n_rows"),
            sum(when(col("v").isNull, col("c")).otherwise(0L)).as("n_nulls"),
            count(when(col("v").isNotNull, lit(1))).as("n_distinct"))
          .withColumn("null_frac",
            round(col("n_nulls").cast("double") / col("n_rows"), 6))
          .orderBy(col("col"))
      },
      Some(s"""WITH melted AS (${cols.map(c =>
          s"SELECT '$c' AS col, CAST($c AS VARCHAR) AS v FROM orders")
          .mkString(" UNION ALL ")}),
        vc AS (SELECT col, v, CAST(count(*) AS BIGINT) AS c
          FROM melted GROUP BY 1, 2)
        SELECT col, CAST(sum(c) AS BIGINT) AS n_rows,
          CAST(sum(CASE WHEN v IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_nulls,
          CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct,
          round(CAST(sum(CASE WHEN v IS NULL THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS null_frac
        FROM vc GROUP BY col ORDER BY col"""))
  }

  // ---------------------------------------------------------------
  // q230: HLL register algebra — union-by-max = sketch-of-union
  // ---------------------------------------------------------------

  /** The set-algebra property that makes HLL a 100 TB tool: the
    * element-wise MAX of per-source register grids IS the union's
    * sketch (never re-scan to union sketches), demonstrated and
    * oracle-checked. One corpus pass builds the per-source token
    * sketches (q169's aggregate); the union estimate is computed by
    * FOLDING the S register arrays with zip_with/greatest — no second
    * pass over any token — and the DuckDB oracle rebuilds the union
    * grid from scratch (GROUP BY bucket over all distinct tokens),
    * which must agree register-for-register. The Σ(per-source est) /
    * union-est ratio is the duplication factor a mixture designer
    * reads (1.0 = disjoint sources; S = identical sources) — q122's
    * headline number from 256·S bytes of state.
    *
    * Scale: the (source, tok) DISTINCT reduce is the only corpus
    * shuffle; per-source partials are 256 B; the union fold touches
    * S arrays driver-free inside one 1-row aggregation. */
  val q230HllUnion: QueryDef = {
    import graft.functions.expressions.HyperLogLogAgg
    QueryDef(
      "q230_hll_union",
      (s, dir) => {
        val dv = Tables.loadParallel(s, dir, "documents")
          .select(col("source"),
            explode(split(trim(col("text")), "\\s+")).as("tok"))
          .distinct()
        val per = dv.groupBy(col("source")).agg(
          expr("hll_sketch(tok)").as("regs"))
          .withColumn("est", expr(hllEstExpr("regs")))
        val exactUnion = dv.select(col("tok")).distinct()
          .agg(count(lit(1)).as("exact_union"))
        per.agg(
            count(lit(1)).as("n_sources"),
            sum(col("est")).as("sum_est"),
            expr("""aggregate(collect_list(regs),
              |  array_repeat(0, 256),
              |  (acc, r) -> zip_with(acc, r, (x, y) -> greatest(x, y)))"""
              .stripMargin).as("uregs"))
          .withColumn("union_est", expr(hllEstExpr("uregs")))
          .crossJoin(broadcast(exactUnion))
          .select(col("n_sources"),
            round(col("sum_est"), 4).as("sum_est"),
            round(col("union_est"), 4).as("union_est"),
            col("exact_union"),
            round(col("sum_est") / col("union_est"), 4).as("dup_factor"),
            round(col("union_est") / col("exact_union") - 1.0, 4)
              .as("union_rel_err"))
      },
      Some(s"""WITH toks AS (SELECT source,
            unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          FROM documents),
        dv AS (SELECT DISTINCT source, tok FROM toks),
        hx AS (SELECT source, sha256(tok) AS h FROM dv),
        cells AS (SELECT source, ${HyperLogLogAgg.bucketSql("h")} AS b,
            max(${HyperLogLogAgg.rhoSql("h")}) AS r
          FROM hx GROUP BY 1, 2),
        agg AS (SELECT source,
            sum(1.0 / CAST((CAST(1 AS BIGINT) << r) AS DOUBLE))
              + (256 - count(*)) AS harmonic,
            CAST(256 - count(*) AS BIGINT) AS zero_regs
          FROM cells GROUP BY source),
        per AS (SELECT source,
            ${hllEstSql("harmonic", "zero_regs")} AS est FROM agg),
        ucells AS (SELECT ${HyperLogLogAgg.bucketSql("h")} AS b,
            max(${HyperLogLogAgg.rhoSql("h")}) AS r
          FROM (SELECT DISTINCT sha256(tok) AS h FROM dv) u GROUP BY 1),
        uagg AS (SELECT
            sum(1.0 / CAST((CAST(1 AS BIGINT) << r) AS DOUBLE))
              + (256 - count(*)) AS harmonic,
            CAST(256 - count(*) AS BIGINT) AS zero_regs
          FROM ucells),
        uest AS (SELECT ${hllEstSql("harmonic", "zero_regs")} AS union_est
          FROM uagg),
        ex AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS exact_union
          FROM dv)
        SELECT CAST((SELECT count(*) FROM per) AS BIGINT) AS n_sources,
          round((SELECT sum(est) FROM per), 4) AS sum_est,
          round(u.union_est, 4) AS union_est,
          ex.exact_union,
          round((SELECT sum(est) FROM per) / u.union_est, 4) AS dup_factor,
          round(u.union_est / ex.exact_union - 1.0, 4) AS union_rel_err
        FROM uest u, ex"""),
      headline = false)
  }

  val all: Seq[QueryDef] = Seq(
    q70BelowAvgParts, q71Having, q72ShipDelay, q73ConditionalAgg,
    q74StringReport, q75Except, q76Percentiles, q77Sketches,
    q133HeavyHitters, q154CmsFrequency, q169HllDistinct, q186Profile,
    q230HllUnion, q240QuantileSketch)
}
