package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{Conform, Flatten, Incremental}

/** Oracle-checked queries realizing the reference's operator surface
  * (SURVEY.md §2) over the driver's star-schema testdata.
  *
  * Conventions for DuckDB-oracle determinism (SURVEY.md §7.4):
  *  - every query ends in a total-order sort;
  *  - float aggregates rounded (2-4 dp) in BOTH engines;
  *  - timestamps surfaced as `unix_micros` BIGINT (Spark) =
  *    `epoch_us` (DuckDB) to dodge ns-vs-us parquet precision;
  *  - result column names aliased identically on both sides.
  */
object ReferenceQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // ---------------------------------------------------------------- S2/2.4
  /** Incremental replication window: closed range filter on the event
    * timestamp, newest-first sort — the reference's
    * `filter[updatedAt]=lo..hi` + `sort=-updatedAt`
    * (reference: outreach_etl.py:115-117). Filter is pushed to the
    * parquet scan (PushedFilters), at scale = partition pruning.
    */
  def incrementalWindow(s: SparkSession, dir: String): DataFrame = {
    // filter on the physical event-time column so the range reaches
    // the parquet scan (row-group pruning), then project to µs
    val raw = Incremental.windowFilterRaw(
      Tables.raw(s, dir, "events"), "ts",
      java.time.Instant.parse("2024-01-10T00:00:00Z"),
      java.time.Instant.parse("2024-01-20T00:00:00Z"))
    raw
      .select(col("event_id"), Tables.microsOf(raw, "ts").as("ts_us"),
        col("user_id"), col("event_type"), round(col("value"), 4).as("value_r"))
      .orderBy(col("ts_us").desc, col("event_id"))
  }

  // ------------------------------------------------------------------- P1
  /** JSON flatten: parse the dynamic `props` JSON payload and flatten
    * to underscore columns (reference: flatten_json etl_tools.py:177-193).
    */
  def flattenProps(s: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", LongType)))
    Flatten.flattenJsonColumn(t(s, dir, "events"), "props", schema)
      .select(col("event_id"), col("props_k"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- P3/P5/P6
  /** Conform pipeline: cast-from-schema + prefix rename + column drop
    * (reference: etl_tools.py:45-61, outreach_etl.py:105-107,215-216).
    * Declared schema casts l_quantity to long (safe: generator emits
    * integral quantities) and the ship date to DATE; `l_` prefix is
    * stripped reference-style; tax/discount are dropped.
    */
  def conformCast(s: SparkSession, dir: String): DataFrame = {
    val declared = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", LongType),
      StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_shipdate", DateType)))
    val conformed = Conform.castFromSchema(t(s, dir, "lineitem"), declared)
    Conform.renameReplace(conformed, "l_", "")
      .orderBy(col("orderkey"), col("linenumber"))
  }

  /** PERMISSIVE schema-drift mode driven end to end (SURVEY.md §7.4;
    * `conform_cast` covers the strict default). The reference's
    * runtime TOLERATES drift: `update_dF_dtypes_from_schema` types
    * only declared columns and leaves everything else untouched
    * (etl_tools.py:45-61), so an undeclared attribute or a list
    * element beyond the schema's declared indices (e.g. `tags_1`
    * when only `tags_0` is declared — flatten is unbounded, the
    * schema caps at 16 slots, SURVEY.md §1.2) rides through UNTYPED
    * and lands in the warehouse via autodetect. This query replays
    * exactly that: a drifted "page" (raw string-typed declared
    * columns + an over-arity list slot + an undeclared scalar) through
    * `castFromSchema(strict = false)` — declared columns cast to
    * their types, the absent `loaded_at` seeded as a typed NULL, the
    * two drift columns carried through as-is. Same narrow codegen
    * projection as strict mode: free at any scale.
    */
  def conformDrift(s: SparkSession, dir: String): DataFrame = {
    // the drifted page: declared fields arrive as raw JSON strings,
    // plus the over-arity list slot tags_1 and undeclared channel
    val page = t(s, dir, "lineitem").select(
      col("l_orderkey").cast("string").as("orderkey"),
      col("l_linenumber").cast("string").as("linenumber"),
      col("l_quantity").cast("string").as("quantity"),
      col("l_returnflag").as("tags_0"),
      col("l_linestatus").as("tags_1"),
      col("l_tax").as("extra_tax"))
    val declared = StructType(Seq(
      StructField("orderkey", LongType),
      StructField("linenumber", LongType),
      StructField("quantity", DoubleType),
      StructField("tags_0", StringType),
      StructField("loaded_at", DateType))) // declared, absent → NULL
    Conform.castFromSchema(page, declared, strict = false)
      .orderBy(col("orderkey"), col("linenumber"))
  }

  // ------------------------------------------------------------------- U1
  /** Union-accumulate: page-wise vertical union by name with missing
    * columns → NULL (reference: pd.concat outreach_etl.py:154,183,212).
    * Two "pages" with different column sets union into the superset.
    */
  def unionAccumulate(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), round(col("value"), 4).as("value_r"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"))
    Conform.unionAccumulate(Seq(clicks, views))
      .orderBy(col("event_id"))
  }

  // ------------------------------------------------------------------ §2.8
  /** Latest-row dedup per key — the window-function upsert the
    * reference defers to BigQuery (SURVEY.md §2.8).
    */
  def dedupLatest(s: SparkSession, dir: String): DataFrame =
    Incremental.dedupLatest(t(s, dir, "events"),
        Seq("user_id"), "ts", tieBreak = Seq("event_id"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      .orderBy(col("user_id"))

  // ------------------------------------------------------------------ §2.6
  /** Rollup-count recompute: the pre-aggregated analytics columns the
    * reference's data model carries (clickCount/openCount/… —
    * schemas/sequences.json:6-83) recomputed as a real hash aggregate.
    * Partial (map-side) aggregation halves the shuffle at scale.
    */
  def aggRollupCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"),
        round(avg(col("value")), 4).as("avg_value"))
      .orderBy(col("event_type"))

  /** TPC-H Q1-shaped aggregate over lineitem. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ------------------------------------------------------------------ §2.7
  /** FK equi-join chain (mailings→prospects→accounts analog,
    * reference: schemas/mailings.json:140-169): fact lineitem joined
    * to orders then the small customer dim, broadcast-hinted — no
    * shuffle of the fact for the dim side at scale.
    */
  def joinFk(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("c_mktsegment"), col("o_orderpriority"))
  }

  /** TPC-H q3-shaped shipping-priority query: selective filters on
    * the segment dim and BOTH date columns, 3-table join, per-order
    * revenue rollup, top 10. The plan to want (and get): customer
    * filter broadcast into orders, that join broadcast into the
    * lineitem scan when it fits, partial+final aggregate, then
    * TakeOrderedAndProject — the full sort never materializes. Revenue
    * is rounded on both engines; ties broken on l_orderkey.
    */
  def q3Shipping(s: SparkSession, dir: String): DataFrame = {
    val cutoff = "1997-01-01"
    t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      .join(t(s, dir, "orders").filter(col("o_orderdate") < cutoff),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_date"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H q5-shaped regional supplier volume: 6-table join where the
    * customer and supplier must share a nation. All four dims
    * (customer, supplier, nation, region) are broadcast — the two fact
    * tables meet in the one shuffle join on l_orderkey; at 100 TB
    * that single fact-fact exchange is the only data movement that
    * scales with the data.
    */
  def q5RegionVolume(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= "1996-01-01" &&
            col("o_orderdate") < "1998-01-01"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region"))
          .filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** TPC-H q14-shaped promo revenue share per ship month: fact ⋈
    * broadcast part dim, conditional aggregation. Revenue is rounded
    * to integer cents PER ROW before the sum (double-sum ordering is
    * engine/plan-dependent; per-row round → BIGINT sum is exact and
    * portable), share reported in integer basis points.
    */
  def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey"),
      (year(col("l_shipdate")).cast("long") * 100 +
        month(col("l_shipdate"))).as("ym"),
      round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
        .cast("long").as("cents"))
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("ym"))
      .agg(sum(when(col("p_type") === "PROMO", col("cents"))
          .otherwise(0L)).as("promo_cents"),
        sum(col("cents")).as("total_cents"))
      .withColumn("promo_bp", expr("promo_cents * 10000 DIV total_cents"))
      .orderBy(col("ym"))
  }

  // ------------------------------------------------------- §2.7 subqueries
  // The TPC-H subquery family (q17/q18/q21/q22 shapes, reshaped to the
  // driver's partsupp-less star schema): exercised THROUGH spark.sql so
  // Catalyst's subquery machinery — RewriteCorrelatedScalarSubquery,
  // IN→left-semi, [NOT] EXISTS→left-semi/anti decorrelation — is the
  // surface under test, not a hand-built join equivalent. Money stays
  // in integer cents (per-row round before any sum) and quantities are
  // integral doubles (sum exact at any order), so both engines agree
  // bit-for-bit; the one floating comparison (q17's 0.2*avg) divides
  // an exactly-summed integral numerator by a count in BOTH engines.

  private def tpchViews(s: SparkSession, dir: String): Unit =
    Seq("lineitem", "orders", "customer", "supplier", "part",
        "nation", "region")
      .foreach(n => t(s, dir, n).createOrReplaceTempView(s"graft_$n"))

  /** TPC-H q17 shape — small-quantity revenue: lineitems of selected
    * brands whose quantity is under 20% of that part's average, via a
    * CORRELATED SCALAR subquery (decorrelated by Catalyst into an
    * aggregate + join; the inner aggregate shuffles once on
    * l_partkey, the same key as the outer probe).
    */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      SELECT p.p_brand,
             CAST(count(*) AS BIGINT) AS n_small,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
               AS revenue_cents
      FROM graft_lineitem l JOIN graft_part p
        ON p.p_partkey = l.l_partkey
      WHERE p.p_brand IN ('Brand#23', 'Brand#13')
        AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                            FROM graft_lineitem l2
                            WHERE l2.l_partkey = p.p_partkey)
      GROUP BY p.p_brand
      ORDER BY p.p_brand""")
  }

  /** TPC-H q18 shape — large-volume orders: `o_orderkey IN (GROUP BY
    * … HAVING)` (rewritten to a left-semi join on the aggregated
    * lineitem), then the customer/order/lineitem rollup. The HAVING
    * aggregate and the outer rollup share the l_orderkey shuffle key.
    */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      SELECT c.c_custkey, c.c_name, o.o_orderkey,
             CAST(year(o.o_orderdate) * 10000 + month(o.o_orderdate) * 100
                  + day(o.o_orderdate) AS BIGINT) AS order_ymd,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
             CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
      FROM graft_customer c
      JOIN graft_orders o ON c.c_custkey = o.o_custkey
      JOIN graft_lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey IN (SELECT l2.l_orderkey FROM graft_lineitem l2
                             GROUP BY l2.l_orderkey
                             HAVING sum(l2.l_quantity) > 150)
      GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
               o.o_totalprice
      ORDER BY total_cents DESC, o.o_orderkey
      LIMIT 100""")
  }

  /** TPC-H q21 shape — sole late supplier per multi-supplier finished
    * order (no l_receiptdate/l_commitdate in this schema, so "late" is
    * shipped >60 days after the order date): a correlated EXISTS and a
    * correlated NOT EXISTS whose predicate references BOTH outer
    * tables (l1 and o) — the anti-join leg Catalyst must decorrelate
    * with the o_orderdate comparison inside. All three lineitem legs
    * shuffle on l_orderkey; nothing is quadratic.
    */
  def q21LateSuppliers(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM graft_supplier s
      JOIN graft_lineitem l1 ON s.s_suppkey = l1.l_suppkey
      JOIN graft_orders o ON o.o_orderkey = l1.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM graft_lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM graft_lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o.o_orderdate
                                              + INTERVAL 60 DAY)
      GROUP BY s.s_name
      ORDER BY numwait DESC, s.s_name
      LIMIT 50""")
  }

  /** TPC-H q22 shape — idle above-average balances: customers whose
    * balance beats the positive-balance average (UNCORRELATED scalar
    * subqueries — planned as subquery broadcasts; the avg comparison
    * is exact integer cross-multiplication, no division) and who have
    * no high-value order (correlated NOT EXISTS → left-anti join).
    */
  def q22IdleBalance(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      WITH c AS (SELECT c_custkey, c_mktsegment,
                        CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                 FROM graft_customer)
      SELECT c_mktsegment,
             CAST(count(*) AS BIGINT) AS numcust,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM c
      WHERE cents * (SELECT count(*) FROM c WHERE cents > 0)
              > (SELECT sum(cents) FROM c WHERE cents > 0)
        AND NOT EXISTS (SELECT 1 FROM graft_orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 400000)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")
  }

  /** TPC-H q13 shape — customer order-count distribution: LEFT OUTER
    * join with an extra predicate INSIDE the join condition (customers
    * with zero qualifying orders must survive with c_count = 0 — a
    * WHERE would silently turn the join inner), then a second
    * aggregation over the first's output (count-of-counts). Both aggs
    * shuffle tiny domains: |customers| keys, then |distinct counts|.
    */
  def q13OrderCounts(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      FROM (SELECT c.c_custkey,
                   CAST(count(o.o_orderkey) AS BIGINT) AS c_count
            FROM graft_customer c LEFT OUTER JOIN graft_orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY c.c_custkey)
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")
  }

  /** TPC-H q19 shape — disjunctive OR-of-ANDs over both join sides:
    * three (brand, size-range, quantity-range) arms. The per-table
    * halves of the disjunction (p_brand IN (...), ranges) are
    * pushable; the cross-table residue evaluates post-join — the shape
    * CNF-conversion/partial-pushdown exists for. Revenue is exact:
    * cents × (100 − discount-percent) per row, summed as int64.
    */
  def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      SELECT CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS revenue_e4
      FROM graft_lineitem l JOIN graft_part p
        ON p.p_partkey = l.l_partkey
      WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
             AND l.l_quantity BETWEEN 1 AND 11)
         OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
             AND l.l_quantity BETWEEN 10 AND 20)
         OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 20 AND 30)""")
  }

  /** TPC-H q20 shape — bulk suppliers of a part family: an IN whose
    * subquery GROUPs and filters through a HAVING that itself holds a
    * CORRELATED scalar subquery (per-part average, scaled), plus a nested
    * uncorrelated IN for the part family. Quantities are integral
    * doubles, so sums and the avg comparison are IEEE-exact in both
    * engines; every lineitem leg shuffles on its join key only.
    */
  def q20BulkSuppliers(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      SELECT s.s_name,
             CAST(round(s.s_acctbal * 100) AS BIGINT) AS acctbal_cents
      FROM graft_supplier s
      WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM graft_lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM graft_part
                              WHERE p_name LIKE 'large%')
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING sum(l.l_quantity) > (SELECT 4.0 * avg(l2.l_quantity)
                                    FROM graft_lineitem l2
                                    WHERE l2.l_partkey = l.l_partkey))
      ORDER BY s.s_name""")
  }

  // ------------------------------------------- full TPC-H shape coverage
  // The remaining 11 of the 22 TPC-H shapes, reshaped to the driver's
  // partsupp-less star schema (no partsupp/shipmode/commitdate columns —
  // the part↔supplier relation rides through lineitem, lateness through
  // l_shipdate vs o_orderdate, cost through p_retailprice). Subquery
  // shapes run THROUGH spark.sql so Catalyst decorrelation is the
  // surface under test; plain join/agg shapes use the DataFrame API
  // with explicit broadcast hints on every dim. Money follows the
  // suite's exact-cents convention: per-row round to int64 BEFORE any
  // sum, so both engines agree bit-for-bit at any shuffle order.

  /** TPC-H q2 shape — minimum-cost supplier per part: a CORRELATED
    * scalar subquery whose inner block repeats the outer's 4-table
    * dim chain (supplier→nation→region filter). Catalyst decorrelates
    * to a per-partkey min aggregate joined back on (partkey, price) —
    * the inner agg shuffles on l_partkey, the same key as the probe.
    * DISTINCT folds lineitems that tie at the minimum price.
    */
  def q2MinCost(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      SELECT DISTINCT
             CAST(round(s.s_acctbal * 100) AS BIGINT) AS acctbal_cents,
             s.s_name, n.n_name, p.p_partkey, p.p_name,
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               AS min_price_cents
      FROM graft_part p, graft_lineitem l, graft_supplier s,
           graft_nation n, graft_region r
      WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
        AND s.s_nationkey = n.n_nationkey
        AND n.n_regionkey = r.r_regionkey
        AND r.r_name = 'EUROPE' AND p.p_size <= 10
        AND l.l_extendedprice =
            (SELECT min(l2.l_extendedprice)
             FROM graft_lineitem l2, graft_supplier s2, graft_nation n2,
                  graft_region r2
             WHERE l2.l_partkey = p.p_partkey
               AND s2.s_suppkey = l2.l_suppkey
               AND s2.s_nationkey = n2.n_nationkey
               AND n2.n_regionkey = r2.r_regionkey
               AND r2.r_name = 'EUROPE')
      ORDER BY acctbal_cents DESC, n.n_name, s.s_name, p.p_partkey
      LIMIT 100""")
  }

  /** TPC-H q4 shape — order-priority checking: EXISTS over lineitem
    * with the lateness predicate correlated on BOTH the join key and
    * the outer's o_orderdate. Catalyst plans a left-semi join on
    * l_orderkey; the date window prunes orders before the semi probe.
    */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      FROM graft_orders o
      WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
        AND EXISTS (SELECT 1 FROM graft_lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate)
      GROUP BY o.o_orderpriority
      ORDER BY o.o_orderpriority""")
  }

  /** TPC-H q6 shape — forecast revenue change: the pure
    * scan-filter-agg. All three predicates and the 2-column projection
    * must reach the parquet scan (PushedFilters + pruned ReadSchema —
    * plan-pinned in PlanSpec); at 100 TB this query IS its scan, and
    * the exchange carries exactly one partial-agg row per partition.
    */
  def q6Forecast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= "1997-01-01" &&
        col("l_shipdate") < "1998-01-01" &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * 100).cast("long") *
            round(col("l_discount") * 100).cast("long")).as("revenue_e4"))

  /** nation⋈region locality dim shared by the q7/q8 star shapes:
    * nationkey aliased to `keyAlias`, region name optionally surfaced
    * as `regionAlias`, optionally pre-filtered to one region. A pure
    * 25×5-row dim — callers wrap it in `broadcast(...)`.
    */
  private def nationRegionDim(s: SparkSession, dir: String,
      keyAlias: String, regionAlias: Option[String] = None,
      regionName: Option[String] = None): DataFrame = {
    val region = regionName.foldLeft(t(s, dir, "region")) {
      (r, n) => r.filter(col("r_name") === n)
    }
    val out = col("n_nationkey").as(keyAlias) +:
      regionAlias.map(a => col("r_name").as(a)).toSeq
    t(s, dir, "nation")
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .select(out: _*)
  }

  /** TPC-H q7 shape — volume shipping between two localities (regions
    * here: nations are supplier-sparse at small SF): the disjunctive
    * two-sided locality predicate evaluates AFTER both dim chains
    * resolve, so it cannot push into either scan — the shape that
    * forces a post-join filter. One fact-fact shuffle (lineitem ⋈
    * orders on orderkey); supplier/customer/nation×2/region×2 all
    * broadcast.
    */
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val n1 = nationRegionDim(s, dir, "s_nk", regionAlias = Some("supp_region"))
    val n2 = nationRegionDim(s, dir, "c_nk", regionAlias = Some("cust_region"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1998-01-01")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_region") === "EUROPE" && col("cust_region") === "ASIA") ||
        (col("supp_region") === "ASIA" && col("cust_region") === "EUROPE"))
      .groupBy(col("supp_region"), col("cust_region"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 100).cast("long")).as("revenue_cents"))
      .orderBy(col("supp_region"), col("cust_region"), col("l_year"))
  }

  /** TPC-H q8 shape — market share: conditional aggregation (share of
    * one supplier locality inside one customer market) over the
    * 8-table star. Share reported in integer basis points via
    * truncating division — numerator and denominator also surfaced so
    * the oracle comparison is exact, not float-ratio.
    */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val sn = nationRegionDim(s, dir, "s_nk", regionAlias = Some("supp_region"))
    val cn = nationRegionDim(s, dir, "c_nk", regionName = Some("AMERICA"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= "1996-01-01" &&
            col("o_orderdate") < "1998-01-01"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "part").filter(col("p_type") === "LARGE")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(sn), col("s_nationkey") === col("s_nk"))
      .join(broadcast(cn), col("c_nationkey") === col("c_nk"))
      .select(year(col("o_orderdate")).cast("long").as("o_year"),
        col("supp_region"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("cents"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("supp_region") === "EUROPE", col("cents"))
          .otherwise(0L)).as("europe_cents"),
        sum(col("cents")).as("total_cents"))
      .withColumn("share_bp", expr("europe_cents * 10000 DIV total_cents"))
      .orderBy(col("o_year"))
  }

  /** TPC-H q9 shape — product-type profit by supplier nation and
    * year, cost proxied by p_retailprice (no partsupp in this
    * schema). The p_name LIKE filter lands on the broadcast part dim
    * BEFORE the fact join, so the fact scan is pruned by the join
    * itself; profit is an exact int64 per row.
    */
  def q9ProfitShape(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
          .filter(col("p_name").like("%widget%"))),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"),
        (round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long") -
          round(col("p_retailprice") * 100).cast("long") *
            col("l_quantity").cast("long")).as("profit_cents"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(sum(col("profit_cents")).as("profit_cents"))
      .orderBy(col("n_name"), col("o_year"))

  /** TPC-H q10 shape — returned-item losses: quarter window, fact ⋈
    * fact shuffle on orderkey, broadcast customer/nation dims, top-20
    * by revenue. The ORDER BY + LIMIT plans as TakeOrderedAndProject —
    * no global sort ever materializes; tie-break on c_custkey makes
    * the cut deterministic in both engines.
    */
  def q10Returned(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= "1997-01-01" &&
            col("o_orderdate") < "1997-04-01"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 100).cast("long")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H q11 shape — important stock value: group-by-sum gated by a
    * HAVING against an UNCORRELATED scalar subquery (1.05× the mean
    * per-supplier value — scale-free where the reference's fixed
    * fraction is SF-dependent). Catalyst evaluates the scalar once
    * and broadcasts the single-row result into the filter.
    */
  def q11ImportantValue(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      SELECT l.l_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                      * CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS value_e2
      FROM graft_lineitem l
      JOIN graft_supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY l.l_suppkey
      HAVING sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * CAST(l.l_quantity AS BIGINT))
           > (SELECT 1.05 * avg(v) FROM
                (SELECT sum(CAST(round(l2.l_extendedprice * 100) AS BIGINT)
                            * CAST(l2.l_quantity AS BIGINT)) AS v
                 FROM graft_lineitem l2 GROUP BY l2.l_suppkey))
      ORDER BY value_e2 DESC, l.l_suppkey""")
  }

  /** TPC-H q12 shape — lateness vs order priority (no shipmode
    * column: buckets are l_shipdate − o_orderdate bands). The
    * conditional two-column count over a fact-fact join; the CASE
    * computes at scan side of the agg, so the exchange carries 3
    * buckets × 2 counters, nothing else.
    */
  def q12LatePriority(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= "1997-01-01" &&
            col("o_orderdate") < "1998-01-01"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
          "late60plus")
          .when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 21 DAY"),
            "late21to60")
          .otherwise("within21").as("late_bucket"))
      .groupBy(col("late_bucket"))
      .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("late_bucket"))

  /** TPC-H q15 shape — top supplier: a named revenue CTE read twice
    * (join probe + MAX scalar). Catalyst inlines both references; the
    * scalar side collapses to a single broadcast row, so revenue is
    * computed in one shuffle and the "= max" filter never re-scans.
    */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS total_cents
        FROM graft_lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey)
      SELECT s.s_suppkey, s.s_name, r.total_cents
      FROM graft_supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
      WHERE r.total_cents = (SELECT max(total_cents) FROM revenue)
      ORDER BY s.s_suppkey""")
  }

  /** TPC-H q16 shape — supplier count by part attributes: NOT IN
    * anti-join against a "bad supplier" subquery, then COUNT DISTINCT
    * per (brand, size). The part↔supplier relation rides through
    * lineitem (no partsupp); the distinct count re-shuffles only
    * (brand, size, suppkey) triples.
    */
  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      SELECT p.p_brand, p.p_size,
             CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
      FROM graft_lineitem l JOIN graft_part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand <> 'Brand#12'
        AND p.p_type NOT IN ('PROMO', 'ECONOMY')
        AND p.p_size <= 25
        AND l.l_suppkey NOT IN (SELECT s_suppkey FROM graft_supplier
                                WHERE s_acctbal < 1000)
      GROUP BY p.p_brand, p.p_size
      ORDER BY supplier_cnt DESC, p.p_brand, p.p_size""")
  }

  /** Left-semi join: customers having orders (EXISTS). */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Left-anti join: customers with no high-value order (NOT EXISTS).
    * The filter on the right side keeps the result non-degenerate at
    * every scale factor.
    */
  def joinAnti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  // ------------------------------------------------------------------ §2.5
  /** Top-k with pushed-down limit: TakeOrderedAndProject, no global
    * sort — per-partition top-k then merge on the driver
    * (reference: page[limit] + server sort, outreach_etl.py:115-116).
    */
  def topkOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price_r"))
      .orderBy(col("price_r").desc, col("o_orderkey"))
      .limit(100)

  // ------------------------------------------------------------------ §2.9
  /** Day-bucketed histogram (contactHistogram analog,
    * reference: schemas/prospects.json:44-115): date_trunc + count.
    */
  def dayHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day"), col("event_type"))

  /** Day-list expansion: sequence + explode over a per-group date range
    * (reference: the per-day chunk loop, outreach_etl.py:159-160).
    */
  def dayExpansion(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi"))
      .select(col("user_id"),
        Incremental.dayExpansion(col("lo"), col("hi")).as("day"))
      .orderBy(col("user_id"), col("day"))

  // ------------------------------------------------------------------ §2.8
  /** Running windowed aggregate per key (capability parity: window
    * frames over the incremental stream).
    */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("running_value", round(sum(col("value")).over(w), 2))
      .select(col("user_id"), col("event_id"), col("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Value-RANGE window frame (the §2.8 family's remaining frame
    * kind): per-user sliding 1-hour totals — `RANGE BETWEEN 3.6e9
    * PRECEDING AND CURRENT ROW` over epoch-microseconds. Unlike a
    * ROWS frame, peers (equal timestamps) enter the frame together in
    * both engines, so the result is deterministic without a unique
    * order key; values ride as exact integer cents. At scale this is
    * the windowed-rate primitive (events/hour, spend/hour) computed
    * in one pass per user partition — no self-join time-range probe.
    */
  def windowRangeFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val base = ev.select(col("event_id"), col("user_id"),
      Tables.microsOf(ev, "ts").as("ts_us"),
      round(col("value") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, Window.currentRow)
    base
      .withColumn("hour_cents", sum(col("cents")).over(w))
      .withColumn("n_in_hour", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("hour_cents"), col("n_in_hour"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** GROUPING SETS (the §2.6 family beyond rollup/cube): one scan
    * produces all four aggregation granularities — (priority, year),
    * priority, year, grand total — with the set-marker NULLs folded
    * to sentinel labels so the frame is hash-comparable. Spark plans
    * a single Expand + one aggregate exchange: the input is read ONCE
    * however many sets are requested, which is the operator's whole
    * advantage over unioned re-scans at 100 TB.
    */
  def groupingSetsRev(s: SparkSession, dir: String): DataFrame = {
    tpchViews(s, dir)
    s.sql("""
      SELECT COALESCE(priority, 'ALL') AS priority,
             COALESCE(o_year, -1) AS o_year,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM (SELECT o_orderpriority AS priority,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM graft_orders)
      GROUP BY GROUPING SETS ((priority, o_year), (priority), (o_year), ())
      ORDER BY priority, o_year""")
  }

  // ------------------------------------------------------------------ §2.3
  /** Set ops the reference lacks (∅ in SURVEY §2.3) but a complete
    * engine provides: users who clicked, minus users with a late-
    * window error event (the filters keep both sides non-degenerate
    * at every scale factor).
    */
  def setExcept(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.filter(col("event_type") === "click").select(col("user_id"))
      .except(ev.filter(col("event_type") === "error" &&
          col("ts") > to_timestamp(lit("2024-01-25 00:00:00")))
        .select(col("user_id")))
      .orderBy(col("user_id"))
  }

  /** Intersect: users who both clicked and purchased. */
  def setIntersect(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.filter(col("event_type") === "click").select(col("user_id"))
      .intersect(ev.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy(col("user_id"))
  }

  // ------------------------------------------------------------------ §2.6
  /** Multi-dimensional rollup (grouping-sets family — ∅ in the
    * reference, first-class here). NULL group markers replaced with
    * sentinel strings so both engines order identically.
    */
  def aggCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  /** Statistical aggregate family (§2.6 breadth): per-returnflag
    * stddev/variance/correlation/covariance over lineitem. Both
    * engines compute these by co-moment merging in doubles; the
    * 4-dp round absorbs the summation-order drift (same policy as
    * every float aggregate oracle here).
    */
  def statsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4)
          .as("covar_qty_disc"))
      .orderBy(col("l_returnflag"))

  /** Run-log report (K2/K3, reference: outreach_etl.py:124-219 log
    * grammar + :237-243 email step): per-resource sync summary built
    * INSIDE the distributed plan — three single-row aggregates
    * unioned, page math in exact integers, report lines via
    * [[graft.ops.RunLog]]'s column grammar (byte-identical to the
    * reference's logging strings). The MIME/email rendering around
    * these lines is [[graft.ops.RunLog.renderEmail]] (unit-tested;
    * the network send is out of scope by design).
    */
  def runReport(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.RunLog
    val perResource = Seq("events", "lineitem", "orders").map { r =>
      t(s, dir, r).agg(count(lit(1)).as("n_rows"))
        .select(lit(r).as("resource"), col("n_rows"))
    }.reduce(_.unionByName(_))
    perResource
      .withColumn("n_pages", expr("(n_rows + 999) DIV 1000"))
      .select(col("resource"), col("n_rows"), col("n_pages"),
        RunLog.countMsgCol(col("resource"), col("n_rows")).as("first_msg"),
        RunLog.pageMsgCol(col("n_pages"), col("n_pages")).as("last_msg"))
      .orderBy(col("resource"))
  }

  /** Checked-in JSON:API fixture pages for [[jsonapiSync]] — resolved
    * from the main classpath (exploded classes dir in the harness;
    * extracted to a [[graft.TempDirs.create]] dir if ever run from a
    * jar) so the query is location-independent.
    */
  private def fixtureDirFor(sub: String, files: Seq[String]): String = {
    val res = getClass.getResource(s"/jsonapi_sync/$sub")
    if (res != null && res.getProtocol == "file")
      new java.io.File(res.toURI).getAbsolutePath
    else {
      val tmp = graft.TempDirs.create("jsonapi_sync")
      files.foreach { p =>
        val in = getClass.getResourceAsStream(s"/jsonapi_sync/$sub/$p")
        require(in != null, s"fixture $p missing from classpath")
        try java.nio.file.Files.copy(in, tmp.resolve(p))
        finally in.close()
      }
      tmp.toString
    }
  }

  private lazy val syncFixtureDir: String =
    fixtureDirFor("prospects", Seq("page1.json", "page2.json", "page3.json"))

  private lazy val accountsFixtureDir: String =
    fixtureDirFor("accounts", Seq("page1.json", "page2.json"))

  /** The full sync lifecycle THROUGH the DSv2 source, driver-visible
    * (S1–S4 + P1/P5/P6 + §2.8 dedup in one row-checked query): three
    * checked-in JSON:API fixture pages (one scan partition each) are
    * read by [[graft.sources.JsonApiSource]], schema-typed and
    * flattened in-source against the declared prospects schema,
    * window-filtered (full replication, 2019-01-01..2019-12-31 —
    * fixture id 6 sits outside and must vanish), prefix-renamed, and
    * dedup-latest'ed (fixture id 2 appears on two pages; the newer
    * page-2 version must win). The oracle re-reads the SAME fixture
    * files as raw JSON in DuckDB and replays flatten/window/upsert —
    * an independent byte-to-value check of the whole ingest path
    * (reference: outreach_etl.py:111-218).
    */
  def jsonapiSync(s: SparkSession, dir: String): DataFrame = {
    val conformed = graft.ops.OutreachPipeline.conformed(s,
      graft.ops.OutreachPipeline.SyncConfig(
        resource = "prospects", pagesDir = syncFixtureDir, outDir = "",
        replicationType = "full",
        startDate = java.time.LocalDate.of(2019, 1, 1),
        today = java.time.LocalDate.of(2020, 1, 1)))
    prospectsSyncSelect(conformed)
  }

  private def prospectsSyncSelect(conformed: DataFrame): DataFrame =
    conformed.select(col("id"), col("type"),
        col("firstName").as("firstname"),
        col("lastName").as("lastname"),
        col("clickCount").as("clickcount"),
        col("score"),
        col("optedOut").as("optedout"),
        col("emails_0"), col("emails_1"), col("tags_0"),
        col("contactHistogram_0_0").as("hist_0_0"),
        col("contactHistogram_0_1").as("hist_0_1"),
        col("relationships_account_data_id").as("account_id"),
        unix_micros(col("updatedAt")).as("updated_us"))
      .orderBy(col("id"))

  /** The OPAQUE-CURSOR pagination path driven end-to-end — the
    * reference's NATIVE page loop (outreach_etl.py:124-131 follows
    * `links.next` blindly; it never extrapolates page URLs): the same
    * three checked-in prospects fixture pages served by an in-process
    * localhost JSON:API ([[graft.sources.FixtureApiServer]]) whose
    * `links.next` carries a base64 cursor no number parser can
    * extrapolate, so the DSv2 source MUST fall back to the sequential
    * `JsonApiChainPartition` walk — pinned here by the 1-partition
    * require (the numeric path would plan 3). OAuth token fetch, the
    * chain walk, window filter, rename, and dedup-latest all run
    * through the same lifecycle as `jsonapi_sync`, and the oracle
    * re-reads the same fixture bytes — so the chained read is
    * value-checked, not unit-only.
    */
  def jsonapiSyncChain(s: SparkSession, dir: String): DataFrame =
    syncThroughServer(s, flaky = false)

  /** The RETRY path driven end-to-end — the reference's transient-
    * failure weather (outreach_etl.py:152-155's bare retry loop,
    * minus its double-append bug): the SAME opaque-cursor chain sync,
    * but every page URL 500s exactly once before serving, so the
    * bounded retry+backoff in [[graft.sources.JsonApiHttp.get]] must
    * absorb one failure per page to produce the identical result —
    * which the shared prospects oracle then value-checks. The
    * `flakyFailures` require pins that the retry path actually
    * ENGAGED (≥3 distinct URLs took their 500): a healthy server
    * would make this row meaningless. Turns the §2.12 retry infra
    * from unit-only into a driver-checked component.
    */
  def jsonapiSyncRetry(s: SparkSession, dir: String): DataFrame =
    syncThroughServer(s, flaky = true)

  private def syncThroughServer(s: SparkSession,
                                flaky: Boolean): DataFrame = {
    graft.sources.JsonApiToken.clear()
    val server = new graft.sources.FixtureApiServer(
      "prospects", syncFixtureDir, flaky = flaky)
    try {
      val pages = s.read.format("graft.sources.JsonApiSource")
        .option("resource", "prospects")
        .options(server.sourceOptions)
        .load()
      // toRdd: `pages.rdd` would run a SQL execution of its own just
      // to report the count
      val chains = pages.queryExecution.toRdd.getNumPartitions
      require(chains == 1,
        s"opaque cursor must plan ONE sequential chain partition, got $chains")
      val conformed = graft.ops.OutreachPipeline.conformedFrom(pages,
        graft.ops.OutreachPipeline.SyncConfig(
          resource = "prospects", pagesDir = "", outDir = "",
          replicationType = "full",
          startDate = java.time.LocalDate.of(2019, 1, 1),
          today = java.time.LocalDate.of(2020, 1, 1)))
      // pin: materialize while the server is up (the frame is lazy;
      // the caller's action would otherwise hit a stopped server)
      val out = graft.ops.Dedup.materialize(prospectsSyncSelect(conformed))
      if (flaky) require(server.flakyFailures >= 3,
        s"retry path did not engage: only ${server.flakyFailures} " +
          "URLs took their transient 500 (expected one per page)")
      out
    } finally server.stop()
  }

  /** The S5 extension point DRIVEN end-to-end: `accounts` is routable
    * in the reference's URL dispatch but ships NO schema file
    * (outreach_etl.py:81-84 would crash in create_dF_from_schema) —
    * here a user-authored schema is registered AT RUNTIME
    * ([[graft.schema.SchemaRegistry.registerJson]], the documented
    * extension mechanism) and the full [[jsonapiSync]] lifecycle runs
    * through it over two checked-in accounts fixture pages: DSv2
    * parallel page scan, schema-typed flatten, 2019 replication
    * window (id 12's 2020 update must vanish), prefix rename, and
    * dedup-latest upsert (id 11 appears on both pages; the newer
    * page-2 version must win). The oracle re-reads the SAME fixture
    * pages as raw JSON in DuckDB — so the runtime-registered schema
    * path is value-checked byte-to-result, not unit-only.
    */
  def jsonapiSyncAccounts(s: SparkSession, dir: String): DataFrame = {
    val in = getClass.getResourceAsStream("/jsonapi_sync/accounts_schema.json")
    require(in != null, "accounts schema fixture missing from classpath")
    val json =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    graft.schema.SchemaRegistry.registerJson("accounts", json)
    val conformed = graft.ops.OutreachPipeline.conformed(s,
      graft.ops.OutreachPipeline.SyncConfig(
        resource = "accounts", pagesDir = accountsFixtureDir, outDir = "",
        replicationType = "full",
        startDate = java.time.LocalDate.of(2019, 1, 1),
        today = java.time.LocalDate.of(2020, 1, 1)))
    conformed.select(col("id"), col("type"),
        col("name"), col("domain"), col("industry"),
        col("numberOfEmployees").as("employees"),
        col("annualRevenue").as("revenue"),
        col("named"), col("locality"),
        col("tags_0"), col("tags_1"), col("custom1"),
        col("relationships_owner_data_id").as("owner_id"),
        unix_micros(col("updatedAt")).as("updated_us"))
      .orderBy(col("id"))
  }

  /** The OTHER S5 extension mechanism driven end-to-end:
    * `opportunities` ingested through a schema FILE resolved from
    * `-Dgraft.schemas.dir` ([[graft.schema.SchemaRegistry
    * .SchemasDirProp]]) — the config-driven twin of
    * [[jsonapiSyncAccounts]]'s programmatic registration, so BOTH
    * documented extension paths carry a green CORRECTNESS row. The
    * checked-in schema file (`schemas_ext/opportunities.json`) plays
    * the deployment's config directory for the duration of the
    * schema-resolving `conformed` call (resolution is eager at plan
    * build and cached), then the property is restored — the query
    * neither depends on nor permanently alters a deployment's own
    * `-Dgraft.schemas.dir`.
    */
  def jsonapiSyncOpportunities(s: SparkSession, dir: String): DataFrame = {
    val prop = graft.schema.SchemaRegistry.SchemasDirProp
    val prior = sys.props.get(prop)
    sys.props(prop) = fixtureDirFor("schemas_ext", Seq("opportunities.json"))
    val conformed =
      try graft.ops.OutreachPipeline.conformed(s,
        graft.ops.OutreachPipeline.SyncConfig(
          resource = "opportunities", pagesDir = opportunitiesFixtureDir,
          outDir = "", replicationType = "full",
          startDate = java.time.LocalDate.of(2019, 1, 1),
          today = java.time.LocalDate.of(2020, 1, 1)))
      finally prior match {
        case Some(v) => sys.props(prop) = v
        case None    => sys.props.remove(prop)
      }
    conformed.select(col("id"), col("type"), col("name"),
        col("amount"), col("probability"),
        col("opportunityType").as("opp_type"),
        col("nextStep").as("next_step"),
        unix_micros(col("closeDate")).as("close_us"),
        col("tags_0"),
        col("relationships_account_data_id").as("account_id"),
        col("relationships_stage_data_id").as("stage_id"),
        unix_micros(col("updatedAt")).as("updated_us"))
      .orderBy(col("id"))
  }

  private lazy val opportunitiesFixtureDir: String =
    fixtureDirFor("opportunities", Seq("page1.json", "page2.json"))

  // ------------------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "run_report" -> (runReport _),
    "jsonapi_sync" -> (jsonapiSync _),
    "jsonapi_sync_chain" -> (jsonapiSyncChain _),
    "jsonapi_sync_retry" -> (jsonapiSyncRetry _),
    "jsonapi_sync_accounts" -> (jsonapiSyncAccounts _),
    "jsonapi_sync_opportunities" -> (jsonapiSyncOpportunities _),
    "incremental_window" -> (incrementalWindow _),
    "flatten_props" -> (flattenProps _),
    "conform_cast" -> (conformCast _),
    "conform_drift" -> (conformDrift _),
    "union_accumulate" -> (unionAccumulate _),
    "dedup_latest" -> (dedupLatest _),
    "agg_rollup_counts" -> (aggRollupCounts _),
    "q1_agg" -> (q1Agg _),
    "stats_agg" -> (statsAgg _),
    "join_fk" -> (joinFk _),
    "q3_shipping" -> (q3Shipping _),
    "q5_region_volume" -> (q5RegionVolume _),
    "q14_promo_share" -> (q14PromoShare _),
    "q17_small_qty" -> (q17SmallQty _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q21_late_suppliers" -> (q21LateSuppliers _),
    "q22_idle_balance" -> (q22IdleBalance _),
    "q13_order_counts" -> (q13OrderCounts _),
    "q19_disjunctive" -> (q19Disjunctive _),
    "q20_bulk_suppliers" -> (q20BulkSuppliers _),
    "q2_min_cost" -> (q2MinCost _),
    "q4_order_priority" -> (q4OrderPriority _),
    "q6_forecast" -> (q6Forecast _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q8_market_share" -> (q8MarketShare _),
    "q9_profit_shape" -> (q9ProfitShape _),
    "q10_returned" -> (q10Returned _),
    "q11_important_value" -> (q11ImportantValue _),
    "q12_late_priority" -> (q12LatePriority _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q16_supplier_cnt" -> (q16SupplierCnt _),
    "window_range_frame" -> (windowRangeFrame _),
    "grouping_sets_rev" -> (groupingSetsRev _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "topk_orders" -> (topkOrders _),
    "day_histogram" -> (dayHistogram _),
    "day_expansion" -> (dayExpansion _),
    "window_running" -> (windowRunning _),
    "set_except" -> (setExcept _),
    "set_intersect" -> (setIntersect _),
    "agg_cube" -> (aggCube _))

  /** Shared replay for `jsonapi_sync` and `jsonapi_sync_chain` — the
    * chained HTTP read serves the SAME checked-in fixture bytes, so
    * one oracle value-checks both ingest paths.
    */
  private val prospectsSyncOracle: String =
    """WITH raw AS (
           SELECT unnest(data) AS r
           FROM read_json(
             '/root/repo/src/main/resources/jsonapi_sync/prospects/page*.json',
             union_by_name=true)),
         f AS (
           SELECT CAST(r.id AS BIGINT) AS id, r.type AS type,
                  r.attributes.firstName AS firstname,
                  r.attributes.lastName AS lastname,
                  CAST(r.attributes.clickCount AS BIGINT) AS clickcount,
                  CAST(r.attributes.score AS DOUBLE) AS score,
                  r.attributes.optedOut AS optedout,
                  r.attributes.emails[1] AS emails_0,
                  r.attributes.emails[2] AS emails_1,
                  r.attributes.tags[1] AS tags_0,
                  r.attributes.contactHistogram[1][1] AS hist_0_0,
                  r.attributes.contactHistogram[1][2] AS hist_0_1,
                  CAST(r.relationships.account.data.id AS BIGINT)
                    AS account_id,
                  r.attributes.updatedAt AS u
           FROM raw),
         w AS (SELECT * FROM f
               WHERE u BETWEEN TIMESTAMP '2019-01-01 00:00:00'
                           AND TIMESTAMP '2019-12-31 23:59:59.999999'),
         d AS (SELECT *, row_number() OVER (PARTITION BY id
                         ORDER BY u DESC, type DESC) AS rn FROM w)
         SELECT id, type, firstname, lastname, clickcount, score,
                optedout, emails_0, emails_1, tags_0, hist_0_0, hist_0_1,
                account_id, epoch_us(u) AS updated_us
         FROM d WHERE rn = 1 ORDER BY id"""

  val oracle: Map[String, String] = Map(
    // independent replay of the whole ingest path: DuckDB reads the
    // SAME checked-in fixture pages as raw JSON (absolute repo path —
    // the one oracle input that is not a parquet table), flattens by
    // struct access, applies the replication window, and upserts via
    // row_number — so the DSv2 source's parse/flatten/type/dedup chain
    // is value-checked against a second JSON parser
    "jsonapi_sync" -> prospectsSyncOracle,
    // identical bytes through the opaque-cursor CHAIN partition
    "jsonapi_sync_chain" -> prospectsSyncOracle,
    // identical bytes through per-page transient 500s + bounded retry
    "jsonapi_sync_retry" -> prospectsSyncOracle,
    // same independent-replay pattern as jsonapi_sync, over the
    // accounts fixture pages ingested through the RUNTIME-registered
    // schema — proving the extension path end-to-end
    "jsonapi_sync_accounts" ->
      """WITH raw AS (
           SELECT unnest(data) AS r
           FROM read_json(
             '/root/repo/src/main/resources/jsonapi_sync/accounts/page*.json',
             union_by_name=true)),
         f AS (
           SELECT CAST(r.id AS BIGINT) AS id, r.type AS type,
                  r.attributes.name AS name,
                  r.attributes.domain AS domain,
                  r.attributes.industry AS industry,
                  CAST(r.attributes.numberOfEmployees AS BIGINT)
                    AS employees,
                  CAST(r.attributes.annualRevenue AS DOUBLE) AS revenue,
                  r.attributes.named AS named,
                  r.attributes.locality AS locality,
                  r.attributes.tags[1] AS tags_0,
                  r.attributes.tags[2] AS tags_1,
                  r.attributes.custom1 AS custom1,
                  CAST(r.relationships.owner.data.id AS BIGINT)
                    AS owner_id,
                  r.attributes.updatedAt AS u
           FROM raw),
         w AS (SELECT * FROM f
               WHERE u BETWEEN TIMESTAMP '2019-01-01 00:00:00'
                           AND TIMESTAMP '2019-12-31 23:59:59.999999'),
         d AS (SELECT *, row_number() OVER (PARTITION BY id
                         ORDER BY u DESC, type DESC) AS rn FROM w)
         SELECT id, type, name, domain, industry, employees, revenue,
                named, locality, tags_0, tags_1, custom1, owner_id,
                epoch_us(u) AS updated_us
         FROM d WHERE rn = 1 ORDER BY id""",
    // the -Dgraft.schemas.dir file-based extension path, independently
    // replayed from the same fixture pages
    "jsonapi_sync_opportunities" ->
      """WITH raw AS (
           SELECT unnest(data) AS r
           FROM read_json(
             '/root/repo/src/main/resources/jsonapi_sync/opportunities/page*.json',
             union_by_name=true)),
         f AS (
           SELECT CAST(r.id AS BIGINT) AS id, r.type AS type,
                  r.attributes.name AS name,
                  CAST(r.attributes.amount AS DOUBLE) AS amount,
                  CAST(r.attributes.probability AS BIGINT) AS probability,
                  r.attributes.opportunityType AS opp_type,
                  r.attributes.nextStep AS next_step,
                  epoch_us(CAST(r.attributes.closeDate AS TIMESTAMP))
                    AS close_us,
                  r.attributes.tags[1] AS tags_0,
                  CAST(r.relationships.account.data.id AS BIGINT)
                    AS account_id,
                  CAST(r.relationships.stage.data.id AS BIGINT)
                    AS stage_id,
                  r.attributes.updatedAt AS u
           FROM raw),
         w AS (SELECT * FROM f
               WHERE u BETWEEN TIMESTAMP '2019-01-01 00:00:00'
                           AND TIMESTAMP '2019-12-31 23:59:59.999999'),
         d AS (SELECT *, row_number() OVER (PARTITION BY id
                         ORDER BY u DESC, type DESC) AS rn FROM w)
         SELECT id, type, name, amount, probability, opp_type,
                next_step, close_us, tags_0, account_id, stage_id,
                epoch_us(u) AS updated_us
         FROM d WHERE rn = 1 ORDER BY id""",
    // page math in exact integer arithmetic on both sides; report
    // strings concatenated from the same grammar (BIGINT renders
    // identically in both engines)
    "run_report" ->
      """WITH s AS (
           SELECT 'events' AS resource,
                  CAST(count(*) AS BIGINT) AS n_rows FROM events
           UNION ALL
           SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
           UNION ALL
           SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders)
         SELECT resource, n_rows,
                CAST((n_rows + 999) // 1000 AS BIGINT) AS n_pages,
                'Number of ' || resource || ' is ' || n_rows AS first_msg,
                'Completed Page ' || ((n_rows + 999) // 1000)
                  || ' out of ' || ((n_rows + 999) // 1000) AS last_msg
         FROM s ORDER BY resource""",
    "q14_promo_share" ->
      """WITH l AS (
           SELECT l_partkey,
                  year(l_shipdate) * 100 + month(l_shipdate) AS ym,
                  CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
                       AS BIGINT) AS cents
           FROM lineitem),
         g AS (
           SELECT ym,
                  CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
                       AS BIGINT) AS promo_cents,
                  CAST(sum(cents) AS BIGINT) AS total_cents
           FROM l JOIN part ON l_partkey = p_partkey
           GROUP BY ym)
         SELECT ym, promo_cents, total_cents,
                promo_cents * 10000 // total_cents AS promo_bp
         FROM g ORDER BY ym""",
    // the subquery family replays the SAME query text (modulo view
    // prefixes) so DuckDB's own decorrelation independently re-derives
    // the semantics Catalyst's rewrites must preserve
    "q17_small_qty" ->
      """SELECT p.p_brand,
                CAST(count(*) AS BIGINT) AS n_small,
                CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                     AS BIGINT) AS revenue_cents
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand IN ('Brand#23', 'Brand#13')
           AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                               FROM lineitem l2
                               WHERE l2.l_partkey = p.p_partkey)
         GROUP BY p.p_brand
         ORDER BY p.p_brand""",
    "q18_large_orders" ->
      """SELECT c.c_custkey, c.c_name, o.o_orderkey,
                CAST(year(o.o_orderdate) * 10000
                     + month(o.o_orderdate) * 100
                     + day(o.o_orderdate) AS BIGINT) AS order_ymd,
                CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
                CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         WHERE o.o_orderkey IN (SELECT l2.l_orderkey FROM lineitem l2
                                GROUP BY l2.l_orderkey
                                HAVING sum(l2.l_quantity) > 150)
         GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
                  o.o_totalprice
         ORDER BY total_cents DESC, o.o_orderkey
         LIMIT 100""",
    "q21_late_suppliers" ->
      """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
         FROM supplier s
         JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
         WHERE o.o_orderstatus = 'F'
           AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o.o_orderdate
                                                 + INTERVAL 60 DAY)
         GROUP BY s.s_name
         ORDER BY numwait DESC, s.s_name
         LIMIT 50""",
    "q22_idle_balance" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
                           CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                    FROM customer)
         SELECT c_mktsegment,
                CAST(count(*) AS BIGINT) AS numcust,
                CAST(sum(cents) AS BIGINT) AS total_cents
         FROM c
         WHERE cents * (SELECT count(*) FROM c WHERE cents > 0)
                 > (SELECT sum(cents) FROM c WHERE cents > 0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_totalprice > 400000)
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
    "q13_order_counts" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
         FROM (SELECT c.c_custkey,
                      CAST(count(o.o_orderkey) AS BIGINT) AS c_count
               FROM customer c LEFT OUTER JOIN orders o
                 ON c.c_custkey = o.o_custkey
                AND o.o_orderpriority <> '4-NOT SPECIFIED'
               GROUP BY c.c_custkey)
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "q19_disjunctive" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                     AS BIGINT) AS revenue_e4
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
                AND l.l_quantity BETWEEN 1 AND 11)
            OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
                AND l.l_quantity BETWEEN 10 AND 20)
            OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
                AND l.l_quantity BETWEEN 20 AND 30)""",
    "q20_bulk_suppliers" ->
      """SELECT s.s_name,
                CAST(round(s.s_acctbal * 100) AS BIGINT) AS acctbal_cents
         FROM supplier s
         WHERE s.s_suppkey IN (
           SELECT l.l_suppkey
           FROM lineitem l
           WHERE l.l_partkey IN (SELECT p_partkey FROM part
                                 WHERE p_name LIKE 'large%')
           GROUP BY l.l_suppkey, l.l_partkey
           HAVING sum(l.l_quantity) > (SELECT 4.0 * avg(l2.l_quantity)
                                       FROM lineitem l2
                                       WHERE l2.l_partkey = l.l_partkey))
         ORDER BY s.s_name""",
    "q2_min_cost" ->
      """SELECT DISTINCT
                CAST(round(s.s_acctbal * 100) AS BIGINT) AS acctbal_cents,
                s.s_name, n.n_name, p.p_partkey, p.p_name,
                CAST(round(l.l_extendedprice * 100) AS BIGINT)
                  AS min_price_cents
         FROM part p, lineitem l, supplier s, nation n, region r
         WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
           AND s.s_nationkey = n.n_nationkey
           AND n.n_regionkey = r.r_regionkey
           AND r.r_name = 'EUROPE' AND p.p_size <= 10
           AND l.l_extendedprice =
               (SELECT min(l2.l_extendedprice)
                FROM lineitem l2, supplier s2, nation n2, region r2
                WHERE l2.l_partkey = p.p_partkey
                  AND s2.s_suppkey = l2.l_suppkey
                  AND s2.s_nationkey = n2.n_nationkey
                  AND n2.n_regionkey = r2.r_regionkey
                  AND r2.r_name = 'EUROPE')
         ORDER BY acctbal_cents DESC, n.n_name, s.s_name, p.p_partkey
         LIMIT 100""",
    "q4_order_priority" ->
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate)
         GROUP BY o.o_orderpriority
         ORDER BY o.o_orderpriority""",
    "q6_forecast" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                         * CAST(round(l_discount * 100) AS BIGINT))
                     AS BIGINT) AS revenue_e4
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",
    "q7_volume_shipping" ->
      """SELECT supp_region, cust_region, l_year,
                CAST(sum(cents) AS BIGINT) AS revenue_cents
         FROM (SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
                      CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
                      CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                 * 100) AS BIGINT) AS cents
               FROM lineitem l
               JOIN orders o ON o.o_orderkey = l.l_orderkey
               JOIN supplier s ON s.s_suppkey = l.l_suppkey
               JOIN customer c ON c.c_custkey = o.o_custkey
               JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
               JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
               JOIN region r1 ON r1.r_regionkey = n1.n_regionkey
               JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
               WHERE ((r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA')
                   OR (r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'))
                 AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
         GROUP BY supp_region, cust_region, l_year
         ORDER BY supp_region, cust_region, l_year""",
    "q8_market_share" ->
      """SELECT o_year,
                CAST(sum(CASE WHEN supp_region = 'EUROPE' THEN cents
                              ELSE 0 END) AS BIGINT) AS europe_cents,
                CAST(sum(cents) AS BIGINT) AS total_cents,
                CAST(sum(CASE WHEN supp_region = 'EUROPE' THEN cents
                              ELSE 0 END) * 10000 // sum(cents)
                     AS BIGINT) AS share_bp
         FROM (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                      r1.r_name AS supp_region,
                      CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                 * 100) AS BIGINT) AS cents
               FROM lineitem l
               JOIN orders o ON o.o_orderkey = l.l_orderkey
               JOIN supplier s ON s.s_suppkey = l.l_suppkey
               JOIN customer c ON c.c_custkey = o.o_custkey
               JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
               JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
               JOIN region r1 ON r1.r_regionkey = n1.n_regionkey
               JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
               JOIN part p ON p.p_partkey = l.l_partkey
               WHERE r2.r_name = 'AMERICA' AND p.p_type = 'LARGE'
                 AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
         GROUP BY o_year
         ORDER BY o_year""",
    "q9_profit_shape" ->
      """SELECT n_name, o_year,
                CAST(sum(profit_cents) AS BIGINT) AS profit_cents
         FROM (SELECT n.n_name,
                      CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                      CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                 * 100) AS BIGINT)
                      - CAST(round(p.p_retailprice * 100) AS BIGINT)
                        * CAST(l.l_quantity AS BIGINT) AS profit_cents
               FROM lineitem l
               JOIN orders o ON o.o_orderkey = l.l_orderkey
               JOIN supplier s ON s.s_suppkey = l.l_suppkey
               JOIN nation n ON n.n_nationkey = s.s_nationkey
               JOIN part p ON p.p_partkey = l.l_partkey
               WHERE p.p_name LIKE '%widget%')
         GROUP BY n_name, o_year
         ORDER BY n_name, o_year""",
    "q10_returned" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
                CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                    * 100) AS BIGINT)) AS BIGINT)
                  AS revenue_cents
         FROM lineitem l
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         JOIN customer c ON c.c_custkey = o.o_custkey
         JOIN nation n ON n.n_nationkey = c.c_nationkey
         WHERE l.l_returnflag = 'R'
           AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
         GROUP BY c.c_custkey, c.c_name, n.n_name
         ORDER BY revenue_cents DESC, c.c_custkey
         LIMIT 20""",
    "q11_important_value" ->
      """SELECT l.l_suppkey,
                CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                         * CAST(l.l_quantity AS BIGINT)) AS BIGINT)
                  AS value_e2
         FROM lineitem l
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         GROUP BY l.l_suppkey
         HAVING sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * CAST(l.l_quantity AS BIGINT))
              > (SELECT 1.05 * avg(v) FROM
                   (SELECT sum(CAST(round(l2.l_extendedprice * 100)
                                    AS BIGINT)
                               * CAST(l2.l_quantity AS BIGINT)) AS v
                    FROM lineitem l2 GROUP BY l2.l_suppkey))
         ORDER BY value_e2 DESC, l.l_suppkey""",
    "q12_late_priority" ->
      """SELECT late_bucket,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT)
                  AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 0 ELSE 1 END) AS BIGINT)
                  AS low_line_count
         FROM (SELECT o.o_orderpriority,
                      CASE WHEN l.l_shipdate > o.o_orderdate
                                + INTERVAL 60 DAY THEN 'late60plus'
                           WHEN l.l_shipdate > o.o_orderdate
                                + INTERVAL 21 DAY THEN 'late21to60'
                           ELSE 'within21' END AS late_bucket
               FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
               WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                 AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
         GROUP BY late_bucket
         ORDER BY late_bucket""",
    "q15_top_supplier" ->
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                      * 100) AS BIGINT)) AS BIGINT)
                    AS total_cents
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s.s_suppkey, s.s_name, r.total_cents
         FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
         WHERE r.total_cents = (SELECT max(total_cents) FROM revenue)
         ORDER BY s.s_suppkey""",
    "q16_supplier_cnt" ->
      """SELECT p.p_brand, p.p_size,
                CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand <> 'Brand#12'
           AND p.p_type NOT IN ('PROMO', 'ECONOMY')
           AND p.p_size <= 25
           AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                   WHERE s_acctbal < 1000)
         GROUP BY p.p_brand, p.p_size
         ORDER BY supplier_cnt DESC, p.p_brand, p.p_size""",
    "window_range_frame" ->
      """SELECT event_id, user_id, ts_us,
                CAST(sum(cents) OVER
                  (PARTITION BY user_id ORDER BY ts_us
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS hour_cents,
                CAST(count(*) OVER
                  (PARTITION BY user_id ORDER BY ts_us
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_in_hour
         FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events)
         ORDER BY user_id, ts_us, event_id""",
    "grouping_sets_rev" ->
      """SELECT COALESCE(priority, 'ALL') AS priority,
                COALESCE(o_year, -1) AS o_year,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(cents) AS BIGINT) AS total_cents
         FROM (SELECT o_orderpriority AS priority,
                      CAST(year(o_orderdate) AS BIGINT) AS o_year,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders)
         GROUP BY GROUPING SETS ((priority, o_year), (priority),
                                 (o_year), ())
         ORDER BY priority, o_year""",
    "incremental_window" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
         round(value, 4) AS value_r
         FROM events
         WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                      AND TIMESTAMP '2024-01-20 00:00:00'
         ORDER BY ts_us DESC, event_id""",
    "flatten_props" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
         FROM events ORDER BY event_id""",
    "conform_cast" ->
      """SELECT l_orderkey AS orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
         l_quantity AS quantity, l_returnflag AS returnflag,
         CAST(l_shipdate AS DATE) AS shipdate
         FROM lineitem ORDER BY orderkey, linenumber""",
    // permissive drift mode: declared columns round-trip through the
    // raw-string page back to their declared types; the absent
    // loaded_at is a typed NULL; the over-arity tags_1 and undeclared
    // extra_tax ride through with their ARRIVAL types (string/double)
    "conform_drift" ->
      """SELECT l_orderkey AS orderkey,
         CAST(l_linenumber AS BIGINT) AS linenumber,
         l_quantity AS quantity, l_returnflag AS tags_0,
         CAST(NULL AS DATE) AS loaded_at,
         l_linestatus AS tags_1, l_tax AS extra_tax
         FROM lineitem ORDER BY orderkey, linenumber""",
    "union_accumulate" ->
      """SELECT event_id, user_id, round(value, 4) AS value_r
         FROM events WHERE event_type = 'click'
         UNION ALL
         SELECT event_id, user_id, NULL AS value_r
         FROM events WHERE event_type = 'view'
         ORDER BY event_id""",
    "dedup_latest" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us
         FROM events
         QUALIFY row_number() OVER
           (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         ORDER BY user_id""",
    "agg_rollup_counts" ->
      """SELECT event_type, count(*) AS n_events,
         count(DISTINCT user_id) AS n_users,
         round(sum(value), 2) AS sum_value,
         round(avg(value), 4) AS avg_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "stats_agg" ->
      """SELECT l_returnflag,
                round(stddev_samp(l_quantity), 4) AS sd_qty,
                round(var_samp(l_quantity), 4) AS var_qty,
                round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
                round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "join_fk" ->
      """SELECT c_mktsegment, o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment, o_orderpriority
         ORDER BY c_mktsegment, o_orderpriority""",
    "q3_shipping" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date,
           o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-01-01'
           AND l_shipdate > TIMESTAMP '1997-01-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q5_region_volume" ->
      """SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 450000)
         ORDER BY c_custkey""",
    "topk_orders" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price_r
         FROM orders ORDER BY price_r DESC, o_orderkey LIMIT 100""",
    "day_histogram" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
         FROM events GROUP BY day, event_type ORDER BY day, event_type""",
    "day_expansion" ->
      """SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
         FROM (SELECT user_id, CAST(min(ts) AS DATE) AS lo,
                      CAST(max(ts) AS DATE) AS hi
               FROM events GROUP BY user_id)
         ORDER BY user_id, day""",
    "window_running" ->
      """SELECT user_id, event_id,
         round(sum(value) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_value
         FROM events ORDER BY user_id, event_id""",
    "set_except" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         EXCEPT
         SELECT user_id FROM events
         WHERE event_type = 'error' AND ts > TIMESTAMP '2024-01-25 00:00:00'
         ORDER BY user_id""",
    "set_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'purchase'
         ORDER BY user_id""",
    "agg_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
         coalesce(o_orderpriority, 'ALL') AS priority,
         count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY status, priority""")
}
