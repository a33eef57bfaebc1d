"""TPC-DS-shaped query subset over the driver schema.

The reference ships a TPC-DS benchmark suite (reference:
presto-benchto-benchmarks/src/main/resources/benchmarks/presto/tpcds.yaml
+ .../sql/presto/tpcds/*.sql, ~90 queries).  The driver's testdata is
TPC-H-shaped, so these re-create the *query shapes* that make TPC-DS
harder than TPC-H — grouping-set/window interplay, multi-bucket
conditional aggregation, week-over-week self-joins, cumulative-window
comparisons, moving averages with deviation filters — over the
available tables.  Each query cites the TPC-DS query whose shape it
exercises.

Determinism follows the engine-wide conventions (queries/base.py):
money math through DECIMAL casts, every computed column aliased
identically on both engines.
"""

from presto_spark.queries.base import dual_sql_query, sql_query

# q88 shape: one scan, many disjoint-range conditional counts.
sql_query(
    "tpcds_multi_bucket_counts",
    """
    SELECT
      count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
                         AND o_totalprice < 100000) AS urgent_small,
      count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
                         AND o_totalprice >= 100000) AS urgent_big,
      count(*) FILTER (WHERE o_orderpriority = '5-LOW'
                         AND o_totalprice < 100000) AS low_small,
      count(*) FILTER (WHERE o_orderpriority = '5-LOW'
                         AND o_totalprice >= 100000) AS low_big,
      count(*) FILTER (WHERE o_orderstatus = 'F') AS finished
    FROM orders
    """,
    doc="TPC-DS q88 shape (8 time-bucket counts in one scan via FILTER "
        "aggregates — ImplementFilteredAggregations.java): one pass, "
        "map-side partials only, no shuffle beyond the single-group agg.",
    tags=("tpcds",),
)

# q36 shape: ROLLUP margins + rank() partitioned by grouping level.
sql_query(
    "tpcds_rollup_rank_interplay",
    """
    WITH m AS (
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS net,
             grouping(l_returnflag) + grouping(l_linestatus) AS lvl
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
    )
    SELECT l_returnflag, l_linestatus, net, lvl,
           rank() OVER (PARTITION BY lvl ORDER BY net DESC) AS rk
    FROM m
    ORDER BY lvl, rk, l_returnflag, l_linestatus
    """,
    doc="TPC-DS q36 shape: ROLLUP(gross-margin hierarchy) + rank() "
        "PARTITION BY grouping level — the grouping-set × window "
        "interplay (GroupIdOperator.java + WindowOperator.java).",
    tags=("tpcds",),
)

# q67 shape: rollup over item hierarchy, top-k rows per group by window.
sql_query(
    "tpcds_rollup_topk_per_group",
    """
    WITH s AS (
      SELECT p_brand, p_type,
             CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sales,
             grouping(p_type) AS g
      FROM part
      GROUP BY ROLLUP(p_brand, p_type)
    ),
    r AS (
      SELECT p_brand, p_type, sales, g,
             row_number() OVER (PARTITION BY p_brand, g
                                ORDER BY sales DESC, p_type) AS rn
      FROM s WHERE p_brand IS NOT NULL
    )
    SELECT p_brand, p_type, sales, g, rn
    FROM r WHERE rn <= 3
    ORDER BY p_brand, g, rn
    """,
    doc="TPC-DS q67 shape: rollup over the item hierarchy then "
        "row_number-limited top-k inside each (brand, grouping-level) "
        "partition (WindowFilterPushDown.java rank-filter fusion).",
    tags=("tpcds",),
)

# q59 shape: week-over-week revenue comparison via self-join.
sql_query(
    "tpcds_week_over_week",
    """
    WITH w AS (
      SELECT year(o_orderdate) AS y, weekofyear(o_orderdate) AS wk,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS rev
      FROM orders
      GROUP BY year(o_orderdate), weekofyear(o_orderdate)
    )
    SELECT a.y AS y, a.wk AS wk, a.rev AS rev_this,
           b.rev AS rev_next,
           CAST(round(b.rev / a.rev, 6) AS DOUBLE) AS wow_ratio
    FROM w a JOIN w b ON a.y = b.y AND b.wk = a.wk + 1
    WHERE a.y = 1995
    ORDER BY a.wk
    """,
    doc="TPC-DS q59 shape: weekly rollup self-joined on (year, week+1) "
        "for week-over-week ratios — one agg shuffle, one small "
        "self-join on the aggregated table.",
    tags=("tpcds",),
)

# q51 shape: two cumulative windows compared row-by-row.
sql_query(
    "tpcds_cumulative_compare",
    """
    WITH d AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS rev
      FROM orders WHERE o_custkey <= 300
      GROUP BY o_custkey, CAST(o_orderdate AS DATE)
    )
    SELECT o_custkey, od,
           CAST(sum(CAST(rev AS DECIMAL(14,2)))
                OVER (PARTITION BY o_custkey ORDER BY od) AS DOUBLE) AS cum_rev,
           CAST(max(CAST(rev AS DECIMAL(14,2)))
                OVER (PARTITION BY o_custkey ORDER BY od) AS DOUBLE) AS run_max,
           CASE WHEN CAST(sum(CAST(rev AS DECIMAL(14,2)))
                     OVER (PARTITION BY o_custkey ORDER BY od) AS DOUBLE)
                     > 2 * CAST(max(CAST(rev AS DECIMAL(14,2)))
                     OVER (PARTITION BY o_custkey ORDER BY od) AS DOUBLE)
                THEN 1 ELSE 0 END AS cum_exceeds_2x_max
    FROM d
    ORDER BY o_custkey, od
    """,
    doc="TPC-DS q51 shape: two cumulative windows (running sum vs "
        "running max) compared per row — exercises ordered-frame "
        "aggregation determinism (decimal inside, double out).",
    tags=("tpcds",),
)

# q47 shape: centered moving average + lag, deviation filter.
sql_query(
    "tpcds_moving_avg_deviation",
    """
    WITH m AS (
      SELECT p_brand,
             month(l_shipdate) AS mo,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(l_shipdate) = 1995
      GROUP BY p_brand, month(l_shipdate)
    ),
    w AS (
      SELECT p_brand, mo, rev,
             CAST(sum(CAST(rev AS DECIMAL(14,2)))
                    OVER (PARTITION BY p_brand ORDER BY mo
                          ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE)
               / count(rev) OVER (PARTITION BY p_brand ORDER BY mo
                                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
               AS mavg,
             lag(rev) OVER (PARTITION BY p_brand ORDER BY mo) AS prev_rev
      FROM m
    )
    SELECT p_brand, mo,
           CAST(round(rev, 2) AS DOUBLE) AS rev,
           CAST(round(mavg, 2) AS DOUBLE) AS mavg,
           CAST(round(coalesce(prev_rev, 0), 2) AS DOUBLE) AS prev_rev
    FROM w
    WHERE rev > 1.2 * mavg
    ORDER BY p_brand, mo
    """,
    doc="TPC-DS q47 shape: centered 3-month moving average + lag with a "
        "deviation predicate over the windowed result (monthly brand "
        "series; v_shape = the classic seasonality-outlier detector).",
    tags=("tpcds",),
)

# q11/q4 shape: year-over-year growth ratio per customer via CTE reuse.
sql_query(
    "tpcds_yoy_growth_ratio",
    """
    WITH yr AS (
      SELECT o_custkey, year(o_orderdate) AS y,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS rev
      FROM orders
      GROUP BY o_custkey, year(o_orderdate)
    )
    SELECT a.o_custkey AS o_custkey, a.y AS y1,
           CAST(round(a.rev, 2) AS DOUBLE) AS rev1,
           CAST(round(b.rev, 2) AS DOUBLE) AS rev2,
           CAST(round(b.rev / a.rev, 6) AS DOUBLE) AS growth
    FROM yr a JOIN yr b
      ON a.o_custkey = b.o_custkey AND b.y = a.y + 1
    WHERE a.y = 1996 AND a.rev > 50000 AND b.rev / a.rev > 1.1
    ORDER BY growth DESC, o_custkey
    """,
    doc="TPC-DS q11/q4 shape: per-customer year buckets self-joined for "
        "YoY growth with a ratio threshold — CTE reused twice "
        "(LogicalCteOptimizer.java materialization candidate).",
    tags=("tpcds",),
)

# q35 shape: EXISTS-gated demographic aggregation.
sql_query(
    "tpcds_exists_gated_stats",
    """
    SELECT n_name,
           count(*) AS n_customers,
           CAST(round(avg(c_acctbal), 2) AS DOUBLE) AS avg_bal,
           CAST(round(max(c_acctbal), 2) AS DOUBLE) AS max_bal,
           CAST(round(min(c_acctbal), 2) AS DOUBLE) AS min_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 150000)
      AND c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY n_name
    HAVING count(*) > 5
    ORDER BY n_name
    """,
    doc="TPC-DS q35 shape: EXISTS-gated (semi-join) customer stats per "
        "geography with segment filter and HAVING — decorrelated to a "
        "semi join by both engines (TransformExistsApplyToLateralNode).",
    tags=("tpcds",),
)

# q70 shape: grouping sets over geo hierarchy + rank by grouping_id.
sql_query(
    "tpcds_grouping_sets_geo_rank",
    """
    WITH rev AS (
      SELECT r_name, n_name,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    )
    SELECT r_name, n_name, total,
           rank() OVER (PARTITION BY (CASE WHEN n_name IS NULL THEN 1 ELSE 0 END)
                                    + (CASE WHEN r_name IS NULL THEN 1 ELSE 0 END)
                        ORDER BY total DESC) AS rk
    FROM rev
    ORDER BY rk, r_name, n_name
    """,
    doc="TPC-DS q70 shape: GROUPING SETS over the geo hierarchy "
        "(nation ⊂ region ⊂ all) + rank within each aggregation level "
        "(GroupIdOperator.java; level derived from the null pattern so "
        "both engines agree without grouping_id numbering).",
    tags=("tpcds",),
)

# q93 shape: returns-adjusted customer spend.
sql_query(
    "tpcds_returns_adjusted_spend",
    """
    WITH adj AS (
      SELECT o_custkey,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                           THEN CAST(0 AS DECIMAL(12,2))
                           ELSE CAST(l_extendedprice AS DECIMAL(12,2)) END)
                  AS DOUBLE) AS kept_spend,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                           THEN CAST(l_extendedprice AS DECIMAL(12,2))
                           ELSE CAST(0 AS DECIMAL(12,2)) END)
                  AS DOUBLE) AS returned_spend
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(round(kept_spend, 2) AS DOUBLE) AS kept_spend,
           CAST(round(returned_spend, 2) AS DOUBLE) AS returned_spend
    FROM adj
    WHERE returned_spend > kept_spend AND returned_spend > 100000
    ORDER BY returned_spend DESC, o_custkey
    LIMIT 50
    """,
    doc="TPC-DS q93 shape: returns-adjusted spend per customer "
        "(conditional decimal sums over the fact join), filtered to "
        "return-heavy customers, top-50.",
    tags=("tpcds",),
)

# q5 shape: multi-channel UNION ALL rolled up with margins.
sql_query(
    "tpcds_channel_union_rollup",
    """
    WITH ch AS (
      SELECT 'orders' AS channel, o_orderpriority AS grp,
             CAST(o_totalprice AS DECIMAL(14,2)) AS amt
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT 'returns' AS channel, l_returnflag AS grp,
             CAST(l_extendedprice AS DECIMAL(14,2)) AS amt
      FROM lineitem WHERE l_returnflag = 'R'
    )
    SELECT channel, grp,
           CAST(sum(amt) AS DOUBLE) AS total,
           CAST(count(*) AS BIGINT) AS n,
           grouping(channel) + grouping(grp) AS lvl
    FROM ch
    GROUP BY ROLLUP(channel, grp)
    ORDER BY lvl, channel NULLS LAST, grp NULLS LAST
    """,
    doc="TPC-DS q5 shape: two 'channels' unioned (sales vs returns) "
        "then ROLLUP over (channel, group) with per-level margins — "
        "UNION ALL interleaving (LocalExecutionPlanner.java visitUnion) "
        "feeding GroupIdOperator.java expansion.",
    tags=("tpcds",),
)

# q14 shape: cross-channel item intersection feeding an aggregate.
sql_query(
    "tpcds_cross_channel_intersect",
    """
    WITH seg_a AS (
      SELECT DISTINCT l_partkey AS pk
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
    ),
    seg_b AS (
      SELECT DISTINCT l_partkey AS pk
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '5-LOW'
    ),
    both_ch AS (SELECT pk FROM seg_a INTERSECT SELECT pk FROM seg_b)
    SELECT CAST(count(*) AS BIGINT) AS n_cross_parts,
           CAST(round(avg(p_retailprice), 2) AS DOUBLE) AS avg_price,
           CAST(round(max(p_retailprice), 2) AS DOUBLE) AS max_price
    FROM part
    WHERE p_partkey IN (SELECT pk FROM both_ch)
    """,
    doc="TPC-DS q14 shape: the cross-channel item set (INTERSECT of "
        "per-channel DISTINCT part sets — ImplementIntersectAndExcept"
        "AsUnion.java lowering) gating a dimension aggregate via IN "
        "(semi join).",
    tags=("tpcds",),
)

# q86 shape: ROLLUP + rank WITHIN PARENT (window partitioned by the
# grouping level AND the parent key).
sql_query(
    "tpcds_rank_within_parent",
    """
    WITH m AS (
      SELECT r_name, n_name,
             CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal,
             grouping(n_name) AS g
      FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
    )
    SELECT r_name, n_name, bal, g,
           rank() OVER (PARTITION BY g, CASE WHEN g = 0 THEN r_name END
                        ORDER BY bal DESC) AS rank_within_parent
    FROM m
    ORDER BY g DESC, r_name NULLS LAST, rank_within_parent, n_name NULLS LAST
    """,
    doc="TPC-DS q86 shape: rank_within_parent — rollup margins ranked "
        "inside their parent grouping (window PARTITION BY grouping "
        "level + parent key), the canonical windows-over-rollup "
        "interplay (GroupIdOperator.java + WindowOperator.java).",
    tags=("tpcds",),
)

# q12 shape: revenue share via ratio-to-report window over an agg.
sql_query(
    "tpcds_revenue_share_window",
    """
    WITH t AS (
      SELECT l_returnflag,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(round(rev, 2) AS DOUBLE) AS rev,
           CAST(round(rev / CAST(sum(CAST(rev AS DECIMAL(18,2))) OVER ()
                              AS DOUBLE), 6) AS DOUBLE) AS share
    FROM t
    ORDER BY l_returnflag
    """,
    doc="TPC-DS q12 shape: ratio-to-report — per-flag revenue divided "
        "by an unpartitioned window total (exact DECIMAL window sum so "
        "the share is order-insensitive across engines).",
    tags=("tpcds",),
)

# q67-adjacent: CUBE margins + dense_rank per grouping-level cell.
sql_query(
    "tpcds_dense_rank_over_cube",
    """
    WITH m AS (
      SELECT l_returnflag AS rf, l_linestatus AS sm,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
             grouping(l_returnflag) AS grf, grouping(l_linestatus) AS gsm
      FROM lineitem
      GROUP BY CUBE(l_returnflag, l_linestatus)
    )
    SELECT rf, sm, qty, grf, gsm,
           dense_rank() OVER (PARTITION BY grf, gsm ORDER BY qty DESC) AS dr
    FROM m
    ORDER BY grf, gsm, dr, rf NULLS LAST, sm NULLS LAST
    """,
    doc="TPC-DS q67-adjacent: CUBE over (returnflag, linestatus) — all "
        "four grouping levels in one pass — then dense_rank within each "
        "level cell; exercises duplicate-total ranking determinism on "
        "rollup margins.",
    tags=("tpcds",),
)

# q31 shape: two-channel quarter-over-quarter growth ratio comparison
# per geography.
sql_query(
    "tpcds_q31_channel_growth",
    """
    WITH rev AS (
      SELECT n.n_name,
             year(o.o_orderdate) AS y, quarter(o.o_orderdate) AS q,
             o.o_orderstatus AS chan,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
               AS r
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderstatus IN ('F', 'O')
        AND o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY n.n_name, year(o.o_orderdate), quarter(o.o_orderdate),
               o.o_orderstatus
    ),
    g AS (
      SELECT n_name, y, q, chan,
             r / lag(r) OVER (PARTITION BY n_name, chan
                              ORDER BY y, q) AS growth
      FROM rev
    )
    SELECT f.n_name, f.y, f.q,
           round(f.growth, 6) AS f_growth,
           round(o.growth, 6) AS o_growth,
           f.growth > o.growth AS f_faster
    FROM g f
    JOIN g o ON f.n_name = o.n_name AND f.y = o.y AND f.q = o.q
    WHERE f.chan = 'F' AND o.chan = 'O'
      AND f.growth IS NOT NULL AND o.growth IS NOT NULL
    ORDER BY f.n_name, f.y, f.q
    """,
    doc="TPC-DS q31 shape (county web-vs-store quarter-over-quarter "
        "growth comparison): per-geography per-channel QoQ growth via "
        "lag() windows over an exact-decimal revenue agg, then a "
        "channel self-join compares the ratios. One shuffle per agg "
        "key + windows on the same (name, chan) partitioning.",
    tags=("tpcds",),
)

# q57 shape: monthly deviation from the yearly average with lag/lead
# neighbor emission.
sql_query(
    "tpcds_q57_outlier_months",
    """
    WITH m AS (
      SELECT p.p_brand, year(l.l_shipdate) AS y, month(l.l_shipdate) AS mo,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        AND p.p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
      GROUP BY p.p_brand, year(l.l_shipdate), month(l.l_shipdate)
    ),
    d AS (
      SELECT p_brand, y, mo, qty,
             avg(qty) OVER (PARTITION BY p_brand, y) AS yr_avg,
             lag(qty) OVER (PARTITION BY p_brand ORDER BY y, mo)
               AS prev_qty,
             lead(qty) OVER (PARTITION BY p_brand ORDER BY y, mo)
               AS next_qty
      FROM m
    )
    SELECT p_brand, y, mo, qty,
           round(yr_avg, 6) AS yr_avg,
           prev_qty, next_qty,
           round(abs(qty - yr_avg) / yr_avg, 6) AS deviation
    FROM d
    WHERE yr_avg > 0 AND abs(qty - yr_avg) / yr_avg > 0.1
    ORDER BY p_brand, y, mo
    """,
    doc="TPC-DS q57 shape (call-center monthly outliers vs yearly "
        "average, with the neighboring months' values emitted via "
        "lag/lead): one agg shuffle on (brand, y, mo), three windows "
        "sharing the (brand) sort — Spark plans one window exchange.",
    tags=("tpcds",),
)

# q75 shape: year-over-year decline per brand across channels.
sql_query(
    "tpcds_q75_yoy_decline",
    """
    WITH sales AS (
      SELECT CASE WHEN l.l_linenumber <= 3 THEN 'store' ELSE 'web' END
               AS chan,
             p.p_brand, year(l.l_shipdate) AS y,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               AS qty,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l.l_discount AS DECIMAL(4,2)))
                  AS DOUBLE) AS amt
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand LIKE 'Brand#1%'
        AND l.l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY CASE WHEN l.l_linenumber <= 3 THEN 'store' ELSE 'web' END,
               p.p_brand, year(l.l_shipdate)
    )
    SELECT cur.chan, cur.p_brand, cur.y AS sale_year,
           prev.qty AS prev_qty, cur.qty AS cur_qty,
           round(cur.qty - prev.qty, 2) AS qty_diff,
           round(cur.amt - prev.amt, 2) AS amt_diff
    FROM sales cur
    JOIN sales prev ON cur.chan = prev.chan
                   AND cur.p_brand = prev.p_brand
                   AND cur.y = prev.y + 1
    WHERE cur.qty < prev.qty
    ORDER BY cur.chan, cur.p_brand, cur.y
    """,
    doc="TPC-DS q75 shape (prior-year comparison of quantity and "
        "amount per brand across sales channels, declining rows only): "
        "channelized agg then an equi self-join on (chan, brand, "
        "y = y+1) — broadcastable agg output, no window needed.",
    tags=("tpcds",),
)

# q54/q31-flavored windowed market share with year-over-year delta.
sql_query(
    "tpcds_market_share_delta",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             year(o.o_orderdate) AS y,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
               AS r
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY r.r_name, n.n_name, year(o.o_orderdate)
    ),
    sh AS (
      SELECT region, nation, y,
             r / sum(r) OVER (PARTITION BY region, y) AS share
      FROM rev
    )
    SELECT region, nation, y,
           round(share, 6) AS share,
           round(share - lag(share) OVER (PARTITION BY region, nation
                                          ORDER BY y), 6) AS share_delta
    FROM sh
    ORDER BY region, nation, y
    """,
    doc="Windowed market share (TPC-DS q54/q31 flavor): nation revenue "
        "share within (region, year) via a ratio-to-report window over "
        "the agg, plus the year-over-year share delta via lag — two "
        "windows on different partitionings over a dim-joined fact agg "
        "(all three dim joins broadcast).",
    tags=("tpcds",),
)

# q34/q73 shape: order-count band, joined back for buyer detail.
sql_query(
    "tpcds_q34_frequent_buyers",
    """
    WITH counts AS (
      SELECT o_custkey, count(*) AS n_orders
      FROM orders
      GROUP BY o_custkey
      HAVING count(*) BETWEEN 8 AND 15
    )
    SELECT c.c_mktsegment,
           count(*) AS n_buyers,
           CAST(sum(cnt.n_orders) AS BIGINT) AS total_orders,
           round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2)))
                      AS DOUBLE) / count(*), 4) AS avg_acctbal
    FROM counts cnt JOIN customer c ON cnt.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc="TPC-DS q34/q73 shape (households with order counts inside a "
        "band, joined back to the dimension for detail): group-by-"
        "having on the fact, then a join back to customer — the "
        "count-band output is tiny, so AQE broadcasts it against the "
        "dimension; avg computed as exact-decimal sum / count.",
    tags=("tpcds",),
)

# q23 shape: two reused CTEs (frequent items x best customers) feeding
# a final restricted-sales aggregate.
sql_query(
    "tpcds_q23_frequent_items_best_customers",
    """
    WITH frequent_parts AS (
      SELECT l_partkey
      FROM lineitem
      GROUP BY l_partkey
      HAVING count(*) >= 4
    ),
    spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
               AS total_spend
      FROM orders GROUP BY o_custkey
    ),
    best_customers AS (
      SELECT o_custkey FROM spend
      WHERE total_spend > (SELECT avg(total_spend) FROM spend)
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_lines,
      CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
      CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE)
        AS restricted_revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_partkey IN (SELECT l_partkey FROM frequent_parts)
      AND o.o_custkey IN (SELECT o_custkey FROM best_customers)
    """,
    doc="TPC-DS q23 shape: frequent-item and best-customer CTEs (one "
        "with a scalar-subquery threshold over its own sibling CTE) "
        "restricting a fact-table aggregate — the multi-CTE semi-join "
        "reuse pattern (reference tpcds/q23.sql; CTE materialization "
        "SURVEY §2.9).",
    tags=("tpcds",),
)

# q78 shape: per-key channel split with a NULLIF-guarded ratio and a
# ratio-ordered top slice.
sql_query(
    "tpcds_q78_channel_ratio",
    """
    WITH per_part AS (
      SELECT l_partkey,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                           THEN CAST(l_extendedprice AS DECIMAL(12,2))
                           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
               AS returned_rev,
             CAST(sum(CASE WHEN l_returnflag <> 'R'
                           THEN CAST(l_extendedprice AS DECIMAL(12,2))
                           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
               AS kept_rev,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem
      GROUP BY l_partkey
      HAVING count(*) >= 8
    )
    SELECT l_partkey, n, returned_rev, kept_rev,
           round(returned_rev / nullif(kept_rev, 0.0), 6) AS return_ratio
    FROM per_part
    WHERE kept_rev > 0
    ORDER BY return_ratio DESC, l_partkey
    LIMIT 25
    """,
    doc="TPC-DS q78 shape: one scan split into channel aggregates per "
        "key, NULLIF-guarded cross-channel ratio, ratio-ordered top "
        "slice (reference tpcds/q78.sql) — map-side conditional "
        "partials, single shuffle, TopN sort.",
    tags=("tpcds",),
)

# q1 shape: per-group above-average gate via a correlated scalar
# subquery over a derived aggregate CTE.
sql_query(
    "tpcds_q1_above_average_returns",
    """
    WITH cust_returns AS (
      SELECT o.o_custkey AS ck, c.c_nationkey AS nk,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS ret_total
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE l.l_returnflag = 'R'
      GROUP BY o.o_custkey, c.c_nationkey
    )
    SELECT ck, nk, round(ret_total, 2) AS ret_total
    FROM cust_returns r1
    WHERE ret_total > (SELECT avg(ret_total) * 1.2
                       FROM cust_returns r2
                       WHERE r2.nk = r1.nk)
    ORDER BY nk, ret_total DESC, ck
    LIMIT 50
    """,
    doc="TPC-DS q1 shape (reference tpcds/q1.sql): a returns "
        "aggregate CTE gated by a CORRELATED scalar subquery over "
        "itself (per-nation 1.2x-average threshold) — the "
        "decorrelation-into-aggregate-join pattern, then TopN.",
    tags=("tpcds",),
)

# q33/q56 shape: three restricted channel aggregates UNION ALL'd and
# re-aggregated per key.
sql_query(
    "tpcds_q33_multi_channel_union_sum",
    """
    WITH by_flag AS (
      SELECT l_partkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
             AS DOUBLE) AS rev
      FROM lineitem WHERE l_returnflag = 'A' AND l_partkey % 5 = 0
      GROUP BY l_partkey
      UNION ALL
      SELECT l_partkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
             AS DOUBLE) AS rev
      FROM lineitem WHERE l_returnflag = 'N' AND l_partkey % 5 = 0
      GROUP BY l_partkey
      UNION ALL
      SELECT l_partkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
             AS DOUBLE) AS rev
      FROM lineitem WHERE l_returnflag = 'R' AND l_partkey % 5 = 0
      GROUP BY l_partkey
    )
    SELECT l_partkey, round(sum(rev), 2) AS total_rev,
           CAST(count(*) AS BIGINT) AS n_channels
    FROM by_flag
    GROUP BY l_partkey
    HAVING count(*) = 3
    ORDER BY total_rev DESC, l_partkey
    LIMIT 30
    """,
    doc="TPC-DS q33/q56 shape (reference tpcds/q33.sql): three "
        "channel-restricted aggregates over the same fact table "
        "UNION ALL'd and re-aggregated per item, keeping items "
        "present in every channel — the repeated-scan-union-reagg "
        "pattern (each branch scans with its own pushed filter).",
    tags=("tpcds",),
)


# q5 shape: per-channel sales/returns/profit report rolled up across
# the geography hierarchy.
sql_query(
    "tpcds_q5_channel_rollup_report",
    """
    WITH base AS (
      -- integer cents through the rollup: double re-summation order
      -- would skew the 2-decimal rounding boundary between engines
      SELECT o.o_orderstatus AS channel, n.n_name AS id,
             CAST(sum(CASE WHEN l.l_returnflag <> 'R'
                           THEN CAST(l.l_extendedprice AS DECIMAL(14,2))
                           ELSE CAST(0 AS DECIMAL(14,2)) END) * 100
                  AS BIGINT) AS sales_c,
             CAST(sum(CASE WHEN l.l_returnflag = 'R'
                           THEN CAST(l.l_extendedprice AS DECIMAL(14,2))
                           ELSE CAST(0 AS DECIMAL(14,2)) END) * 100
                  AS BIGINT) AS returns_c
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
      GROUP BY o.o_orderstatus, n.n_name
    )
    SELECT channel, id,
           round(CAST(sum(sales_c) AS DOUBLE) / 100.0, 2) AS sales,
           round(CAST(sum(returns_c) AS DOUBLE) / 100.0, 2) AS returns,
           round(CAST(sum(sales_c) - sum(returns_c) AS DOUBLE) / 100.0, 2)
             AS profit,
           grouping(channel) + grouping(id) AS lvl
    FROM base
    GROUP BY ROLLUP(channel, id)
    ORDER BY lvl, channel, id
    """,
    doc="TPC-DS q5 shape (store/catalog/web sales-returns-profit "
        "report rolled up over the channel x id hierarchy): one "
        "fact-side agg with conditional return splitting, then "
        "ROLLUP margins with grouping() level — partial aggregation "
        "feeds the rollup re-agg, no extra fact rescan.",
    tags=("tpcds",),
)


# q29 shape: sold in period 1, returned in a later window, re-ordered
# after that — a three-aggregate chain joined on the item/geo pair.
sql_query(
    "tpcds_q29_sold_returned_resold",
    """
    WITH sold AS (
      SELECT p.p_brand AS brand, l.l_linestatus AS mode,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               AS sold_qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY p.p_brand, l.l_linestatus
    ),
    returned AS (
      SELECT p.p_brand AS brand, l.l_linestatus AS mode,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               AS ret_qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_returnflag = 'R'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY p.p_brand, l.l_linestatus
    ),
    resold AS (
      SELECT p.p_brand AS brand, l.l_linestatus AS mode,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               AS resold_qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
      GROUP BY p.p_brand, l.l_linestatus
    )
    SELECT s.brand, s.mode, s.sold_qty, r.ret_qty, rs.resold_qty
    FROM sold s
    JOIN returned r ON s.brand = r.brand AND s.mode = r.mode
    JOIN resold rs ON s.brand = rs.brand AND s.mode = rs.mode
    ORDER BY s.brand, s.mode
    LIMIT 100
    """,
    doc="TPC-DS q29 shape (quantity sold in one period, returned in a "
        "later window, then re-purchased — three period-filtered "
        "aggregates over the same fact joined on the item/channel "
        "pair): each CTE pushes its own date filter to the scan; the "
        "joins are agg-output-sized, not fact-sized.",
    tags=("tpcds",),
)


# q49 shape: worst return ratios per channel, dual-ranked by quantity
# ratio and by currency ratio.
sql_query(
    "tpcds_q49_worst_return_ratios",
    """
    WITH base AS (
      SELECT l_linestatus AS channel, l_partkey AS item,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                           THEN CAST(l_quantity AS DECIMAL(12,2))
                           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
               / CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               AS return_ratio,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                           THEN CAST(l_extendedprice AS DECIMAL(14,2))
                           ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)))
                      AS DOUBLE) AS currency_ratio
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY l_linestatus, l_partkey
      HAVING sum(l_quantity) >= 60
    ),
    ranked AS (
      SELECT channel, item,
             round(return_ratio, 6) AS return_ratio,
             round(currency_ratio, 6) AS currency_ratio,
             rank() OVER (PARTITION BY channel
                          ORDER BY return_ratio DESC, item) AS qty_rank,
             rank() OVER (PARTITION BY channel
                          ORDER BY currency_ratio DESC, item) AS amt_rank
      FROM base
    )
    SELECT channel, item, return_ratio, currency_ratio,
           qty_rank, amt_rank
    FROM ranked
    WHERE qty_rank <= 10 OR amt_rank <= 10
    ORDER BY channel, qty_rank, amt_rank, item
    """,
    doc="TPC-DS q49 shape (worst return ratios per channel, ranked "
        "simultaneously by quantity ratio and by currency ratio): one "
        "fact agg with a HAVING floor, two rank() windows sharing the "
        "channel partitioning, rank-disjunction filter. Item breaks "
        "rank ties so both engines agree on the cut.",
    tags=("tpcds", "bench"),
)


# q63 shape: monthly sales of CASE-bucketed item classes vs the
# manager's yearly average.
sql_query(
    "tpcds_q63_monthly_vs_avg_buckets",
    """
    WITH m AS (
      -- integer cents end to end: a DOUBLE cent value is not
      -- binary-exact, so window summation order would skew the .005
      -- rounding boundary between engines
      SELECT p.p_brand AS mgr,
             year(l.l_shipdate) AS y, month(l.l_shipdate) AS mo,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))) * 100
                  AS BIGINT) AS sales_c
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        AND ((p.p_type LIKE 'PROMO%%' AND p.p_size <= 15)
             OR (p.p_type LIKE 'STANDARD%%' AND p.p_size >= 35))
      GROUP BY p.p_brand, year(l.l_shipdate), month(l.l_shipdate)
    ),
    w AS (
      SELECT mgr, y, mo, sales_c,
             sum(sales_c) OVER (PARTITION BY mgr, y) AS yr_sum_c,
             count(sales_c) OVER (PARTITION BY mgr, y) AS yr_n
      FROM m
    ),
    d AS (
      SELECT mgr, y, mo, sales_c,
             CAST(yr_sum_c AS DOUBLE) / yr_n AS yr_avg_c,
             -- the yearly average rounded half up to whole cents in
             -- exact integer arithmetic, (2 sum + n) div (2 n): an
             -- average of exactly x.5 cents is not binary-exact as a
             -- DOUBLE, and Spark and DuckDB round that DOUBLE apart
             ((2 * yr_sum_c + yr_n) - (2 * yr_sum_c + yr_n) % (2 * yr_n))
               / (2 * yr_n) AS yr_avg_rounded_c
      FROM w
    )
    SELECT mgr, y, mo,
           round(CAST(sales_c AS DOUBLE) / 100.0, 2) AS sales,
           yr_avg_rounded_c / 100.0 AS yr_avg
    FROM d
    WHERE yr_avg_c > 0
      AND abs(CAST(sales_c AS DOUBLE) - yr_avg_c) / yr_avg_c > 0.1
    ORDER BY mgr, y, mo
    """,
    doc="TPC-DS q63 shape (manager monthly sales of CASE-bucketed "
        "item classes compared to the yearly average): the disjunctive "
        "type/size bucket predicate stays on the dimension side "
        "of the join, one (mgr, y, mo) agg shuffle, one partition-wide "
        "avg() window, deviation filter.  The yearly average is "
        "rounded to cents in integers, so an exact half-cent average "
        "rounds up on both engines.",
    tags=("tpcds", "bench"),
)


# q14 shape: items present in every channel (chained INTERSECT) +
# average-sales scalar threshold in HAVING.
sql_query(
    "tpcds_q14_cross_channel_intersect_sales",
    """
    WITH cross_items AS (
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
      INTERSECT
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
      INTERSECT
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    ),
    avg_sales AS (
      SELECT CAST(avg(CAST(l_extendedprice AS DECIMAL(14,2)) * 100)
                  AS DOUBLE) AS a_c
      FROM lineitem
    )
    SELECT l.l_returnflag AS channel, p.p_brand,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                          ) AS DOUBLE) / 100.0, 2) AS sales
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_partkey IN (SELECT l_partkey FROM cross_items)
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag, p.p_brand
    HAVING CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100)
                AS DOUBLE)
           > 20 * (SELECT a_c FROM avg_sales)
    ORDER BY channel, p_brand
    LIMIT 100
    """,
    doc="TPC-DS q14 shape (items sold in ALL channels via chained "
        "INTERSECT, channel sales of those items gated by an "
        "average-sales scalar subquery in HAVING): the INTERSECT "
        "chain plans as two semi-joins over distinct partkeys, the "
        "IN-subquery is a third; the scalar threshold broadcasts.",
    tags=("tpcds",),
)


# q51 shape: cumulative per-channel revenue series compared through a
# FULL OUTER JOIN on the series key.
sql_query(
    "tpcds_q51_cumulative_channel_compare",
    """
    WITH f AS (
      SELECT n.n_name, year(o.o_orderdate) * 12 + month(o.o_orderdate)
               AS d,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100)
                  AS BIGINT) AS rev_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderstatus = 'F'
        AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n.n_name, year(o.o_orderdate) * 12 + month(o.o_orderdate)
    ),
    o AS (
      SELECT n.n_name, year(o.o_orderdate) * 12 + month(o.o_orderdate)
               AS d,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100)
                  AS BIGINT) AS rev_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderstatus = 'O'
        AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n.n_name, year(o.o_orderdate) * 12 + month(o.o_orderdate)
    ),
    fc AS (
      SELECT n_name, d,
             sum(rev_c) OVER (PARTITION BY n_name ORDER BY d) AS cum_c
      FROM f
    ),
    oc AS (
      SELECT n_name, d,
             sum(rev_c) OVER (PARTITION BY n_name ORDER BY d) AS cum_c
      FROM o
    )
    SELECT coalesce(fc.n_name, oc.n_name) AS n_name,
           coalesce(fc.d, oc.d) AS d,
           round(CAST(fc.cum_c AS DOUBLE) / 100.0, 2) AS f_cum,
           round(CAST(oc.cum_c AS DOUBLE) / 100.0, 2) AS o_cum
    FROM fc
    FULL OUTER JOIN oc ON fc.n_name = oc.n_name AND fc.d = oc.d
    WHERE oc.cum_c IS NULL OR fc.cum_c IS NULL OR fc.cum_c > oc.cum_c
    ORDER BY n_name, d
    LIMIT 200
    """,
    doc="TPC-DS q51 shape (web-vs-store cumulative daily sales per "
        "item compared through a FULL OUTER JOIN): two channel "
        "aggregates, running-total windows on the same (key, series) "
        "partitioning, outer-join null-completion rows kept by the "
        "disjunctive filter. Revenue stays in integer cents so the "
        "running sums are exact.",
    tags=("tpcds", "bench"),
)


# q17 shape: quantity mean / stdev / coefficient of variation with a
# CoV floor, derived from exact integer power sums.
sql_query(
    "tpcds_q17_quantity_variation_stats",
    """
    WITH s AS (
      SELECT p.p_brand, l.l_linestatus AS channel,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(l.l_quantity AS BIGINT)
                      * CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS s2
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY p.p_brand, l.l_linestatus
      HAVING count(*) >= 5
    )
    SELECT p_brand, channel, n,
           round(CAST(s1 AS DOUBLE) / n, 6) AS mean_qty,
           round(sqrt((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)), 6)
             AS stdev_qty,
           round(sqrt((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
                 / (CAST(s1 AS DOUBLE) / n), 6) AS cov
    FROM s
    WHERE CAST(s1 AS DOUBLE) / n > 0
      AND sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
               / (n - 1)) / (CAST(s1 AS DOUBLE) / n) > 0.5
    ORDER BY p_brand, channel
    """,
    doc="TPC-DS q17 shape (store/catalog quantity statistics: count, "
        "mean, stdev, coefficient of variation with a CoV floor): the "
        "moments come from exact integer power sums (count/sum/sum-of-"
        "squares) so both engines derive identical doubles — "
        "stddev_samp()'s incremental accumulation rounds differently "
        "at the emission precision.",
    tags=("tpcds",),
)


# q39 shape: consecutive-period variance pairs — self-join of monthly
# CoV rows on (key, month+1).
sql_query(
    "tpcds_q39_consecutive_month_variance",
    """
    WITH m AS (
      SELECT p.p_brand,
             year(l.l_shipdate) * 12 + month(l.l_shipdate) AS mo,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(l.l_quantity AS BIGINT)
                      * CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS s2
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY p.p_brand, year(l.l_shipdate) * 12 + month(l.l_shipdate)
      HAVING count(*) >= 3
    ),
    cov AS (
      SELECT p_brand, mo,
             round(sqrt((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
                   / (CAST(s1 AS DOUBLE) / n), 6) AS cv
      FROM m
      WHERE s1 > 0
    )
    SELECT a.p_brand, a.mo AS mo1, a.cv AS cv1,
           b.mo AS mo2, b.cv AS cv2
    FROM cov a
    JOIN cov b ON a.p_brand = b.p_brand AND b.mo = a.mo + 1
    WHERE a.cv > 0.5 AND b.cv > 0.5
    ORDER BY a.p_brand, a.mo
    """,
    doc="TPC-DS q39 shape (inventory coefficient-of-variation pairs "
        "for consecutive months, both above a threshold, via a "
        "(key, month+1) self-join): monthly moments from exact integer "
        "power sums, CoV filter on both sides of the join.",
    tags=("tpcds",),
)


# q44 shape: best and worst performers by the same metric, joined on
# rank position.
sql_query(
    "tpcds_q44_best_worst_rank_join",
    """
    WITH perf AS (
      SELECT l_partkey AS item,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2)) * 10000
                      ) AS BIGINT) AS net_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY l_partkey
    ),
    asc_rank AS (
      SELECT item, rank() OVER (ORDER BY net_c ASC, item) AS rnk
      FROM perf
    ),
    desc_rank AS (
      SELECT item, rank() OVER (ORDER BY net_c DESC, item) AS rnk
      FROM perf
    )
    SELECT a.rnk,
           b.item AS best_performing,
           w.item AS worst_performing
    FROM (SELECT DISTINCT rnk FROM desc_rank WHERE rnk <= 10) a
    JOIN desc_rank b ON a.rnk = b.rnk
    JOIN asc_rank w ON a.rnk = w.rnk
    ORDER BY a.rnk
    """,
    doc="TPC-DS q44 shape (best and worst performing items paired by "
        "rank position — two opposite-order rank() passes over one "
        "aggregate, joined on the rank): the global windows run over "
        "agg-sized input, item breaks ties deterministically, and the "
        "rank spine join emits exactly the top-10 pairs.",
    tags=("tpcds",),
)


# q54 shape: per-customer spend bucketized into fixed-width segments,
# then the segment histogram.
sql_query(
    "tpcds_q54_spend_segment_histogram",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)) * 100)
                  AS BIGINT) AS rev_c
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY o_custkey
    ),
    segments AS (
      SELECT CAST(floor(CAST(rev_c AS DOUBLE) / 100.0 / 50000.0)
                  AS BIGINT) AS segment
      FROM spend
    )
    SELECT segment,
           segment * 50000 AS segment_base,
           CAST(count(*) AS BIGINT) AS num_customers
    FROM segments
    GROUP BY segment
    HAVING count(*) >= 2
    ORDER BY segment
    """,
    doc="TPC-DS q54 shape (revenue per customer bucketized into "
        "fixed-width spend segments, then the segment histogram with "
        "a support floor): two aggregation levels — per-customer spend "
        "with map-side combine, then the bucket count over "
        "customer-sized input.",
    tags=("tpcds",),
)


# q58 shape: items whose per-channel sales all sit within a tolerance
# band of the cross-channel average.
sql_query(
    "tpcds_q58_channel_parity_band",
    """
    WITH ch AS (
      SELECT p_brand, l_returnflag AS channel,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * 100)
                  AS BIGINT) AS rev_c
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY p_brand, l_returnflag
    ),
    pivoted AS (
      SELECT p_brand,
             CAST(sum(CASE WHEN channel = 'A' THEN rev_c ELSE 0 END)
                  AS DOUBLE) AS a_rev,
             CAST(sum(CASE WHEN channel = 'N' THEN rev_c ELSE 0 END)
                  AS DOUBLE) AS n_rev,
             CAST(sum(CASE WHEN channel = 'R' THEN rev_c ELSE 0 END)
                  AS DOUBLE) AS r_rev
      FROM ch
      GROUP BY p_brand
      HAVING count(*) = 3
    )
    SELECT p_brand,
           round(a_rev / 100.0, 2) AS a_rev,
           round(n_rev / 100.0, 2) AS n_rev,
           round(r_rev / 100.0, 2) AS r_rev,
           round((a_rev + n_rev + r_rev) / 3.0 / 100.0, 2) AS avg_rev
    FROM pivoted
    WHERE a_rev BETWEEN 0.9 * (a_rev + n_rev + r_rev) / 3.0
                    AND 1.1 * (a_rev + n_rev + r_rev) / 3.0
      AND n_rev BETWEEN 0.9 * (a_rev + n_rev + r_rev) / 3.0
                    AND 1.1 * (a_rev + n_rev + r_rev) / 3.0
      AND r_rev BETWEEN 0.9 * (a_rev + n_rev + r_rev) / 3.0
                    AND 1.1 * (a_rev + n_rev + r_rev) / 3.0
    ORDER BY p_brand
    """,
    doc="TPC-DS q58 shape (items whose store/catalog/web sales each "
        "sit within 10% of the three-channel average): channel pivot "
        "via conditional sums over one agg, the parity band applied to "
        "all three columns. Integer-cent sums keep the band edges "
        "deterministic.",
    tags=("tpcds",),
)


# q59 shape: day-of-week sales pivot per key, self-joined across years
# to emit weekday-over-weekday ratios.
dual_sql_query(
    "tpcds_q59_weekday_pivot_yoy",
    """
    WITH wk AS (
      SELECT n.n_name, year(o.o_orderdate) AS y,
             CAST(sum(CASE WHEN dayofweek(o.o_orderdate) = 1
                           THEN CAST(o.o_totalprice AS DECIMAL(14,2))
                           ELSE CAST(0 AS DECIMAL(14,2)) END) * 100
                  AS BIGINT) AS sun_c,
             CAST(sum(CASE WHEN dayofweek(o.o_orderdate) = 2
                           THEN CAST(o.o_totalprice AS DECIMAL(14,2))
                           ELSE CAST(0 AS DECIMAL(14,2)) END) * 100
                  AS BIGINT) AS mon_c,
             CAST(sum(CASE WHEN dayofweek(o.o_orderdate) = 6
                           THEN CAST(o.o_totalprice AS DECIMAL(14,2))
                           ELSE CAST(0 AS DECIMAL(14,2)) END) * 100
                  AS BIGINT) AS fri_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, year(o.o_orderdate)
    )
    SELECT t.n_name, t.y,
           round(CAST(t.sun_c AS DOUBLE) / p.sun_c, 6) AS sun_ratio,
           round(CAST(t.mon_c AS DOUBLE) / p.mon_c, 6) AS mon_ratio,
           round(CAST(t.fri_c AS DOUBLE) / p.fri_c, 6) AS fri_ratio
    FROM wk t
    JOIN wk p ON t.n_name = p.n_name AND t.y = p.y + 1
    WHERE p.sun_c > 0 AND p.mon_c > 0 AND p.fri_c > 0
    ORDER BY t.n_name, t.y
    """,
    """
    WITH wk AS (
      SELECT n.n_name, year(o.o_orderdate) AS y,
             CAST(sum(CASE WHEN dayofweek(o.o_orderdate) = 0
                           THEN CAST(o.o_totalprice AS DECIMAL(14,2))
                           ELSE CAST(0 AS DECIMAL(14,2)) END) * 100
                  AS BIGINT) AS sun_c,
             CAST(sum(CASE WHEN dayofweek(o.o_orderdate) = 1
                           THEN CAST(o.o_totalprice AS DECIMAL(14,2))
                           ELSE CAST(0 AS DECIMAL(14,2)) END) * 100
                  AS BIGINT) AS mon_c,
             CAST(sum(CASE WHEN dayofweek(o.o_orderdate) = 5
                           THEN CAST(o.o_totalprice AS DECIMAL(14,2))
                           ELSE CAST(0 AS DECIMAL(14,2)) END) * 100
                  AS BIGINT) AS fri_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, year(o.o_orderdate)
    )
    SELECT t.n_name, t.y,
           round(CAST(t.sun_c AS DOUBLE) / p.sun_c, 6) AS sun_ratio,
           round(CAST(t.mon_c AS DOUBLE) / p.mon_c, 6) AS mon_ratio,
           round(CAST(t.fri_c AS DOUBLE) / p.fri_c, 6) AS fri_ratio
    FROM wk t
    JOIN wk p ON t.n_name = p.n_name AND t.y = p.y + 1
    WHERE p.sun_c > 0 AND p.mon_c > 0 AND p.fri_c > 0
    ORDER BY t.n_name, t.y
    """,
    doc="TPC-DS q59 shape (weekly sales pivoted into day-of-week "
        "columns, self-joined on (store, week+52) to emit "
        "weekday-over-weekday year ratios): the pivot is conditional "
        "sums in one pass; the self-join runs over agg-sized input "
        "keyed (name, year+1). Dual texts: Spark dayofweek() is "
        "1=Sunday, DuckDB's is 0=Sunday.",
    tags=("tpcds",),
)


# q6 shape: customers who bought items priced well above the average
# of the item's own category — a correlated scalar aggregate on the
# dimension side.
sql_query(
    "tpcds_q6_above_category_average",
    """
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1995-07-01 00:00:00'
      -- p > 1.005 * category average, compared in exact integer cents
      -- (1000 * p_cents * n > 1005 * sum_cents) so the boundary cannot
      -- flip between engines' avg() roundings (the synthetic price
      -- spread over the category average shrinks with SF — 1.2% at
      -- sf0.001 — so q6's literal 1.2x would select nothing anywhere)
      AND CAST(CAST(p.p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
          * 1000
          * (SELECT count(*) FROM part p2 WHERE p2.p_type = p.p_type)
          > 1005 * (SELECT CAST(sum(CAST(p2.p_retailprice AS DECIMAL(12,2))
                                    * 100) AS BIGINT)
                    FROM part p2 WHERE p2.p_type = p.p_type)
    GROUP BY n.n_name
    HAVING count(*) >= 2
    ORDER BY cnt, n.n_name
    """,
    doc="TPC-DS q6 shape (states whose customers bought items priced "
        ">= 1.2x the average of the item's category — a correlated "
        "scalar aggregate over the dimension): both correlated scalars "
        "decorrelate into one (p_type) aggregate joined back; the "
        "threshold compares exact integer cents so the ratio boundary "
        "is engine-independent (1.005x for the SF-dependent synthetic "
        "price spread).",
    tags=("tpcds",),
)


# q87 shape: count of customers in channel A minus those present in
# channels B or C — a chained EXCEPT over distinct key sets.
sql_query(
    "tpcds_q87_except_chain_count",
    """
    SELECT CAST(count(*) AS BIGINT) AS lost_customers
    FROM (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderstatus = 'P'
    ) t
    """,
    doc="TPC-DS q87 shape (customers in the store channel but absent "
        "from catalog and web — a chained EXCEPT over distinct "
        "customer sets, counted): each EXCEPT plans as a left-anti "
        "join over distinct keys; one scan per channel with the "
        "status filter pushed down.",
    tags=("tpcds",),
)


# q97 shape: FULL OUTER JOIN of two channels' buyer sets, classifying
# every customer as store-only / web-only / both.
sql_query(
    "tpcds_q97_channel_overlap_matrix",
    """
    WITH f AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    ),
    o AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT
      CAST(sum(CASE WHEN f.k IS NOT NULL AND o.k IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
      CAST(sum(CASE WHEN f.k IS NULL AND o.k IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS web_only,
      CAST(sum(CASE WHEN f.k IS NOT NULL AND o.k IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS both_channels
    FROM f FULL OUTER JOIN o ON f.k = o.k
    """,
    doc="TPC-DS q97 shape (store/catalog buyer overlap matrix via a "
        "FULL OUTER JOIN of distinct buyer sets with null-pattern "
        "classification): two distinct aggregates, one outer join on "
        "the key, conditional counts over the completion rows.",
    tags=("tpcds",),
)


# q66 shape: wide month-pivot report — twelve conditional sums per
# group in one pass.
sql_query(
    "tpcds_q66_monthly_pivot_report",
    """
    SELECT n.n_name,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 1
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS jan,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 2
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS feb,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 3
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS mar,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 4
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS apr,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 5
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS may,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 6
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS jun,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 7
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS jul,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 8
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS aug,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 9
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS sep,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 10
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS oct_,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 11
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS nov,
      round(CAST(sum(CASE WHEN month(o.o_orderdate) = 12
        THEN CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE) / 100.0, 2) AS dec_
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    doc="TPC-DS q66 shape (warehouse yearly report pivoted into twelve "
        "monthly columns): all twelve conditional sums evaluate in ONE "
        "scan+agg pass (map-side combinable), integer cents per column "
        "for engine-independent rounding; the dimension joins "
        "broadcast.",
    tags=("tpcds",),
)


# q64 shape: the wide cross-year repeat-purchase report — same
# customer re-buys the same item in a later year at a lower price,
# with customer/geography dimensions carried through both sides.
sql_query(
    "tpcds_q64_cross_year_repeat_purchases",
    """
    WITH sale AS (
      SELECT o.o_custkey AS cust, l.l_partkey AS item,
             year(o.o_orderdate) AS y,
             -- IEEE division of exact integer cents by the integer
             -- quantity: both engines divide identical doubles, where
             -- DECIMAL division rounds at engine-specific scales
             min(CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                           AS BIGINT) AS DOUBLE)
                 / l.l_quantity) AS unit_min_c
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_quantity > 0
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY o.o_custkey, l.l_partkey, year(o.o_orderdate)
    )
    SELECT c.c_name, n.n_name, p.p_brand,
           s1.item,
           -- floored integer cents: floor() of identical doubles is
           -- identical, where round() half-boundary behavior differs
           -- between engines
           CAST(floor(s1.unit_min_c) AS BIGINT) AS y1_unit_cents,
           CAST(floor(s2.unit_min_c) AS BIGINT) AS y2_unit_cents
    FROM sale s1
    JOIN sale s2 ON s1.cust = s2.cust AND s1.item = s2.item
                AND s1.y = 1996 AND s2.y = 1997
    JOIN customer c ON s1.cust = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN part p ON s1.item = p.p_partkey
    WHERE s2.unit_min_c < s1.unit_min_c
    ORDER BY c.c_name, s1.item
    LIMIT 100
    """,
    doc="TPC-DS q64 shape (the wide cross-sale report: customers who "
        "re-bought the same item in the following year at a lower unit "
        "price, with customer/geography/item dimensions joined onto "
        "both sale years): one fact aggregate feeding a (cust, item) "
        "self-join across years, three broadcast dimension joins, and "
        "a cross-side price predicate. Unit prices in integer cents.",
    tags=("tpcds",),
)


# q4 shape: one per-(nation, channel, year) aggregate CTE referenced
# SIX times — three channels x two years — with cross-channel growth-
# ratio predicates.
sql_query(
    "tpcds_q4_triple_channel_growth",
    """
    WITH yt AS (
      SELECT c.c_nationkey AS nk, o.o_orderstatus AS st,
             year(o.o_orderdate) AS y,
             sum(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE year(o.o_orderdate) IN (1996, 1997)
      GROUP BY c.c_nationkey, o.o_orderstatus, year(o.o_orderdate)
    )
    SELECT n.n_name,
           CAST(round(CAST(f2.cents AS DOUBLE) / f1.cents, 6) AS DOUBLE)
             AS store_growth,
           CAST(round(CAST(o2.cents AS DOUBLE) / o1.cents, 6) AS DOUBLE)
             AS web_growth,
           CAST(round(CAST(p2.cents AS DOUBLE) / p1.cents, 6) AS DOUBLE)
             AS catalog_growth
    FROM yt f1 JOIN yt f2 ON f1.nk = f2.nk
     AND f1.st = 'F' AND f2.st = 'F' AND f1.y = 1996 AND f2.y = 1997
    JOIN yt o1 ON o1.nk = f1.nk AND o1.st = 'O' AND o1.y = 1996
    JOIN yt o2 ON o2.nk = f1.nk AND o2.st = 'O' AND o2.y = 1997
    JOIN yt p1 ON p1.nk = f1.nk AND p1.st = 'P' AND p1.y = 1996
    JOIN yt p2 ON p2.nk = f1.nk AND p2.st = 'P' AND p2.y = 1997
    JOIN nation n ON n.n_nationkey = f1.nk
    WHERE CAST(o2.cents AS DOUBLE) / o1.cents
          > CAST(f2.cents AS DOUBLE) / f1.cents
    ORDER BY n.n_name
    """,
    doc="TPC-DS q4 shape (the year_total CTE referenced six times — "
        "store/web/catalog channels x two consecutive years — keeping "
        "customers whose web growth beats store growth; here at nation "
        "grain over the o_orderstatus channels): one fact aggregate "
        "fanned into a six-way self-join on the group key plus a "
        "cross-channel ratio predicate. Integer-cent sums; ratios are "
        "divisions of identical doubles on both engines.",
    tags=("tpcds",),
)


# q9 shape: bucketed scalar subqueries inside CASE — the outer row
# chooses per bucket between two aggregate subqueries by comparing a
# third (count) subquery against a threshold.
sql_query(
    "tpcds_q9_bucket_case_subqueries",
    """
    SELECT
      CASE WHEN (SELECT count(*) FROM lineitem
                 WHERE l_quantity BETWEEN 1 AND 10)
               > (SELECT count(*) FROM lineitem) / 10
           THEN (SELECT CAST(floor(avg(
                   CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                        AS BIGINT))) AS BIGINT)
                 FROM lineitem WHERE l_quantity BETWEEN 1 AND 10)
           ELSE (SELECT CAST(floor(avg(
                   CAST(CAST(l_tax AS DECIMAL(6,4)) * 10000
                        AS BIGINT))) AS BIGINT)
                 FROM lineitem WHERE l_quantity BETWEEN 1 AND 10)
      END AS bucket1,
      CASE WHEN (SELECT count(*) FROM lineitem
                 WHERE l_quantity BETWEEN 11 AND 20)
               > (SELECT count(*) FROM lineitem) / 4
           THEN (SELECT CAST(floor(avg(
                   CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                        AS BIGINT))) AS BIGINT)
                 FROM lineitem WHERE l_quantity BETWEEN 11 AND 20)
           ELSE (SELECT CAST(floor(avg(
                   CAST(CAST(l_tax AS DECIMAL(6,4)) * 10000
                        AS BIGINT))) AS BIGINT)
                 FROM lineitem WHERE l_quantity BETWEEN 11 AND 20)
      END AS bucket2,
      CASE WHEN (SELECT count(*) FROM lineitem
                 WHERE l_quantity BETWEEN 21 AND 30)
               > (SELECT count(*) FROM lineitem) / 10
           THEN (SELECT CAST(floor(avg(
                   CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                        AS BIGINT))) AS BIGINT)
                 FROM lineitem WHERE l_quantity BETWEEN 21 AND 30)
           ELSE (SELECT CAST(floor(avg(
                   CAST(CAST(l_tax AS DECIMAL(6,4)) * 10000
                        AS BIGINT))) AS BIGINT)
                 FROM lineitem WHERE l_quantity BETWEEN 21 AND 30)
      END AS bucket3,
      CASE WHEN (SELECT count(*) FROM lineitem
                 WHERE l_quantity BETWEEN 31 AND 40)
               > (SELECT count(*) FROM lineitem) / 4
           THEN (SELECT CAST(floor(avg(
                   CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                        AS BIGINT))) AS BIGINT)
                 FROM lineitem WHERE l_quantity BETWEEN 31 AND 40)
           ELSE (SELECT CAST(floor(avg(
                   CAST(CAST(l_tax AS DECIMAL(6,4)) * 10000
                        AS BIGINT))) AS BIGINT)
                 FROM lineitem WHERE l_quantity BETWEEN 31 AND 40)
      END AS bucket4,
      CASE WHEN (SELECT count(*) FROM lineitem
                 WHERE l_quantity BETWEEN 41 AND 50)
               > (SELECT count(*) FROM lineitem) / 10
           THEN (SELECT CAST(floor(avg(
                   CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                        AS BIGINT))) AS BIGINT)
                 FROM lineitem WHERE l_quantity BETWEEN 41 AND 50)
           ELSE (SELECT CAST(floor(avg(
                   CAST(CAST(l_tax AS DECIMAL(6,4)) * 10000
                        AS BIGINT))) AS BIGINT)
                 FROM lineitem WHERE l_quantity BETWEEN 41 AND 50)
      END AS bucket5
    """,
    doc="TPC-DS q9 shape (five quantity buckets, each a CASE choosing "
        "between an avg-price and an avg-tax scalar subquery by "
        "comparing the bucket's count subquery to a threshold — 15 "
        "scalar subqueries total): thresholds are FRACTIONS of the "
        "table count (total/10 always passes a ~20% uniform bucket, "
        "total/4 never does) so both CASE branches are exercised "
        "deterministically at every scale factor. Averages emitted as "
        "floored integer cents/basis-points.",
    tags=("tpcds",),
)


# q10 shape: a conjunctive EXISTS gate plus a DISJUNCTION of two more
# correlated EXISTS — the OR prevents a plain semi-join plan.
sql_query(
    "tpcds_q10_disjunctive_exists",
    """
    SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'F')
      AND (EXISTS (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_orderstatus = 'O'
                     AND year(o.o_orderdate) = 1997)
           OR EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'P'
                        AND year(o.o_orderdate) = 1997))
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc="TPC-DS q10 shape (customers active in store AND in web-or-"
        "catalog during the window, counted by demographic): one "
        "conjunctive EXISTS (plans as a semi join) plus a DISJUNCTION "
        "of two correlated EXISTS — the OR branch exercises the "
        "existence-join/aggregate decorrelation path a bare semi join "
        "never hits.",
    tags=("tpcds",),
)


# q13 shape: a join whose WHERE is an OR of three conjunctive
# (segment, price-band) arms — no single predicate can be pushed
# whole; CNF conversion extracts the common pieces.
sql_query(
    "tpcds_q13_disjunctive_band_join",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(floor(CAST(sum(CAST(l.l_quantity AS BIGINT)) * 100
                           AS DOUBLE) / count(*)) AS BIGINT)
             AS avg_qty_x100,
           CAST(floor(CAST(sum(CAST(CAST(l.l_extendedprice
                                         AS DECIMAL(14,2)) * 100
                                    AS BIGINT)) AS DOUBLE)
                      / count(*)) AS BIGINT) AS avg_price_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE (c.c_mktsegment = 'BUILDING'
           AND o.o_totalprice BETWEEN 0 AND 100000)
       OR (c.c_mktsegment = 'MACHINERY'
           AND o.o_totalprice BETWEEN 50000 AND 200000)
       OR (c.c_mktsegment = 'HOUSEHOLD'
           AND o.o_totalprice BETWEEN 100000 AND 300000)
    """,
    doc="TPC-DS q13 shape (store sales joined to demographics under an "
        "OR of three conjunctive segment+band arms): disjunctive "
        "predicates spanning two tables — CNF conversion can push the "
        "segment IN-list and the price envelope, but the arm pairing "
        "must be evaluated post-join. Averages as exact integer-sum "
        "ratios floored.",
    tags=("tpcds",),
)


# q16 shape: EXISTS (same order, another supplier) AND NOT EXISTS
# (a return) gating a count + sum.
sql_query(
    "tpcds_q16_multi_supplier_no_returns",
    """
    SELECT CAST(count(*) AS BIGINT) AS order_count,
           CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders o
    WHERE o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1
                  FROM lineitem l1 JOIN lineitem l2
                    ON l1.l_orderkey = l2.l_orderkey
                   AND l1.l_suppkey <> l2.l_suppkey
                  WHERE l1.l_orderkey = o.o_orderkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem lr
                      WHERE lr.l_orderkey = o.o_orderkey
                        AND lr.l_returnflag = 'R')
    """,
    doc="TPC-DS q16 shape (catalog orders shipped from more than one "
        "warehouse with no returns — EXISTS over a self-joined fact "
        "plus NOT EXISTS on the returns set, feeding count + money "
        "sum): a semi join whose subquery itself contains a join, and "
        "an anti join, on the same correlation key.",
    tags=("tpcds",),
)


# q21 shape: per-key quantity split before/after a pivot date with a
# bounded-ratio HAVING.
sql_query(
    "tpcds_q21_before_after_ratio",
    """
    WITH inv AS (
      SELECT l_suppkey,
             CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
               AS qty_before,
             CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
                      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
               AS qty_after
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-08-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_name, i.qty_before, i.qty_after
    FROM inv i JOIN supplier s ON i.l_suppkey = s.s_suppkey
    WHERE i.qty_before > 0 AND i.qty_after > 0
      AND CAST(i.qty_after AS DOUBLE) / i.qty_before
          BETWEEN 2.0 / 3.0 AND 3.0 / 2.0
    ORDER BY s.s_name
    LIMIT 100
    """,
    doc="TPC-DS q21 shape (warehouse inventory counted before/after a "
        "sale date per (warehouse, item), kept when the ratio stays "
        "within [2/3, 3/2]): one conditional-split aggregate, a "
        "broadcast dimension join, and a bounded-ratio filter on "
        "exact integer sums divided as identical doubles.",
    tags=("tpcds",),
)


# q24 shape: a multi-join aggregate CTE consumed twice — once as rows,
# once inside the scalar-average threshold subquery.
sql_query(
    "tpcds_q24_paid_above_threshold",
    """
    WITH ssales AS (
      SELECT c.c_name AS name, n.n_name AS nation,
             CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS BIGINT) AS paid_cents
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'A'
      GROUP BY c.c_name, n.n_name
    )
    SELECT name, nation, paid_cents
    FROM ssales
    WHERE CAST(paid_cents AS DOUBLE)
          > 0.05 * (SELECT avg(CAST(paid_cents AS DOUBLE)) FROM ssales)
    ORDER BY name
    LIMIT 100
    """,
    doc="TPC-DS q24 shape (customer net-paid per store joined through "
        "returns and dimensions, returning customers whose paid "
        "exceeds 5% of the average over the SAME aggregate — the CTE "
        "is consumed both as the row source and inside the scalar "
        "threshold subquery, the materialization-reuse case). Cent "
        "sums are < 2^53 so the double average is order-independent.",
    tags=("tpcds",),
)


# q28 shape: independent bucket aggregates (avg / count / count
# distinct per price band) cross-joined into one row.
sql_query(
    "tpcds_q28_bucket_aggregate_crossjoin",
    """
    SELECT b1.b1_avg, b1.b1_n, b1.b1_nd,
           b2.b2_avg, b2.b2_n, b2.b2_nd,
           b3.b3_avg, b3.b3_n, b3.b3_nd,
           b4.b4_avg, b4.b4_n, b4.b4_nd
    FROM
      (SELECT CAST(floor(avg(cents)) AS BIGINT) AS b1_avg,
              CAST(count(*) AS BIGINT) AS b1_n,
              CAST(count(DISTINCT cents) AS BIGINT) AS b1_nd
       FROM (SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT) AS cents
             FROM lineitem WHERE l_quantity BETWEEN 1 AND 12) t1) b1,
      (SELECT CAST(floor(avg(cents)) AS BIGINT) AS b2_avg,
              CAST(count(*) AS BIGINT) AS b2_n,
              CAST(count(DISTINCT cents) AS BIGINT) AS b2_nd
       FROM (SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT) AS cents
             FROM lineitem WHERE l_quantity BETWEEN 13 AND 25) t2) b2,
      (SELECT CAST(floor(avg(cents)) AS BIGINT) AS b3_avg,
              CAST(count(*) AS BIGINT) AS b3_n,
              CAST(count(DISTINCT cents) AS BIGINT) AS b3_nd
       FROM (SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT) AS cents
             FROM lineitem WHERE l_quantity BETWEEN 26 AND 38) t3) b3,
      (SELECT CAST(floor(avg(cents)) AS BIGINT) AS b4_avg,
              CAST(count(*) AS BIGINT) AS b4_n,
              CAST(count(DISTINCT cents) AS BIGINT) AS b4_nd
       FROM (SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT) AS cents
             FROM lineitem WHERE l_quantity BETWEEN 39 AND 50) t4) b4
    """,
    doc="TPC-DS q28 shape (six independent price-band aggregates — "
        "avg, count, count-distinct each — cross-joined into a single "
        "row; four bands here): every band is its own scan+aggregate "
        "subtree with a DISTINCT aggregate inside, composed by "
        "single-row cross joins (trivially broadcast).",
    tags=("tpcds",),
)


# q62 shape: order-to-ship lag bucketed into 5 ranges, pivoted as
# FILTER counts per group. datediff argument orders differ between
# the engines, hence the dual text.
dual_sql_query(
    "tpcds_q62_ship_lag_buckets",
    """
    SELECT l_linestatus,
      CAST(count(*) FILTER (WHERE lag_days <= 30) AS BIGINT) AS d30,
      CAST(count(*) FILTER (WHERE lag_days > 30 AND lag_days <= 60)
           AS BIGINT) AS d60,
      CAST(count(*) FILTER (WHERE lag_days > 60 AND lag_days <= 90)
           AS BIGINT) AS d90,
      CAST(count(*) FILTER (WHERE lag_days > 90 AND lag_days <= 120)
           AS BIGINT) AS d120,
      CAST(count(*) FILTER (WHERE lag_days > 120) AS BIGINT) AS d_over
    FROM (
      SELECT l.l_linestatus,
             datediff(CAST(l.l_shipdate AS DATE),
                      CAST(o.o_orderdate AS DATE)) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ) t
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    """
    SELECT l_linestatus,
      CAST(count(*) FILTER (WHERE lag_days <= 30) AS BIGINT) AS d30,
      CAST(count(*) FILTER (WHERE lag_days > 30 AND lag_days <= 60)
           AS BIGINT) AS d60,
      CAST(count(*) FILTER (WHERE lag_days > 60 AND lag_days <= 90)
           AS BIGINT) AS d90,
      CAST(count(*) FILTER (WHERE lag_days > 90 AND lag_days <= 120)
           AS BIGINT) AS d120,
      CAST(count(*) FILTER (WHERE lag_days > 120) AS BIGINT) AS d_over
    FROM (
      SELECT l.l_linestatus,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ) t
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="TPC-DS q62 shape (web-sales ship lag bucketed 30/60/90/120/"
        "over days, pivoted into count columns per ship mode): a "
        "fact-fact join feeding five disjoint-range FILTER counts in "
        "one aggregate pass. Spark datediff(end, start) vs DuckDB "
        "date_diff('day', start, end) — dual texts.",
    tags=("tpcds",),
)


# q65 shape: (supplier, part) revenue kept when at or below 10% of
# that supplier's average part revenue — aggregate joined to the
# re-aggregation of itself.
sql_query(
    "tpcds_q65_low_revenue_parts",
    """
    WITH sa AS (
      SELECT l_suppkey AS sk, l_partkey AS pk,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem
      GROUP BY l_suppkey, l_partkey
    ),
    sb AS (
      SELECT sk, avg(CAST(rev_cents AS DOUBLE)) AS avg_rev
      FROM sa GROUP BY sk
    )
    SELECT s.s_name, p.p_name, sa.rev_cents
    FROM sa
    JOIN sb ON sa.sk = sb.sk
    JOIN supplier s ON sa.sk = s.s_suppkey
    JOIN part p ON sa.pk = p.p_partkey
    WHERE CAST(sa.rev_cents AS DOUBLE) <= 0.1 * sb.avg_rev
    ORDER BY s.s_name, p.p_name
    LIMIT 100
    """,
    doc="TPC-DS q65 shape (store/item revenue kept when <= 10% of the "
        "store's average item revenue): the (supplier, part) aggregate "
        "re-aggregated per supplier and joined back to itself, plus "
        "two broadcast dimension joins. Exact cent sums; the average "
        "and the 0.1 threshold compare as identical doubles.",
    tags=("tpcds",),
)


# ---- round-9 tranche: correlated NOT EXISTS, windowed thresholds,
# multi-CTE reuse (VERDICT r8 what's-missing #2 / next-round #6) ----

# q2 shape: per-period totals of consecutive years joined on the
# period for a year-over-year ratio, both arms reading ONE shared CTE.
sql_query(
    "tpcds_q2_monthly_yoy_ratio",
    """
    WITH m AS (
      SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      GROUP BY year(o_orderdate), month(o_orderdate)
    )
    SELECT a.mon AS mon, a.cents AS cents_1995, b.cents AS cents_1996,
           CAST(floor(CAST(b.cents AS DOUBLE) * 1000 / a.cents)
                AS BIGINT) AS ratio_x1000
    FROM m a JOIN m b ON a.mon = b.mon
    WHERE a.yr = 1995 AND b.yr = 1996
    ORDER BY mon
    """,
    doc="TPC-DS q2 shape (weekly sales of consecutive years from one "
        "shared CTE, self-joined on the week for YoY ratios — "
        "presto-benchto-benchmarks/.../tpcds/q02.sql): the CTE "
        "materializes once and both year arms read it; ratio emitted "
        "as floored integer per-mille, never a raw double.",
    tags=("tpcds",),
)

# q11/q74 shape: per-customer year totals in TWO channels, the same
# two CTEs each consumed twice, keeping customers whose growth in one
# channel outpaces the other (cross-multiplied, no division).
sql_query(
    "tpcds_q11_two_channel_growth_compare",
    """
    WITH yt AS (
      SELECT o_custkey AS ck, year(o_orderdate) AS yr,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey, year(o_orderdate)
    ),
    lt AS (
      SELECT o.o_custkey AS ck, year(l.l_shipdate) AS yr,
             CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_returnflag <> 'R'
      GROUP BY o.o_custkey, year(l.l_shipdate)
    )
    SELECT c.c_name AS name,
           o1.cents AS ord_1995, o2.cents AS ord_1996,
           s1.cents AS ship_1995, s2.cents AS ship_1996
    FROM customer c
    JOIN yt o1 ON o1.ck = c.c_custkey AND o1.yr = 1995
    JOIN yt o2 ON o2.ck = c.c_custkey AND o2.yr = 1996
    JOIN lt s1 ON s1.ck = c.c_custkey AND s1.yr = 1995
    JOIN lt s2 ON s2.ck = c.c_custkey AND s2.yr = 1996
    WHERE o2.cents * s1.cents > s2.cents * o1.cents
    ORDER BY name
    LIMIT 100
    """,
    doc="TPC-DS q11/q74 shape (store vs web year totals per customer, "
        "each CTE consumed twice, retained when one channel's YoY "
        "growth beats the other's — q11.sql/q74.sql): growth "
        "comparison as exact integer cross-multiplication, the "
        "division-free spelling of first_year/second_year ratios.",
    tags=("tpcds",),
)

# q30/q81 shape: per-customer return totals vs 1.2x the per-nation
# average, the returns CTE consumed twice (rows + threshold).
sql_query(
    "tpcds_q30_returners_above_nation_avg",
    """
    WITH ret AS (
      SELECT c.c_custkey AS ck, c.c_name AS name,
             c.c_nationkey AS nk,
             CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS BIGINT) AS ret_cents
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE l.l_returnflag = 'R'
      GROUP BY c.c_custkey, c.c_name, c.c_nationkey
    ),
    nat AS (
      SELECT nk, sum(ret_cents) AS tot,
             CAST(count(*) AS BIGINT) AS n
      FROM ret GROUP BY nk
    )
    SELECT r.name AS name, n.n_name AS nation,
           r.ret_cents AS ret_cents
    FROM ret r
    JOIN nat a ON a.nk = r.nk
    JOIN nation n ON n.n_nationkey = r.nk
    WHERE r.ret_cents * 5 * a.n > a.tot * 6
    ORDER BY r.ret_cents DESC, r.name
    LIMIT 100
    """,
    doc="TPC-DS q30/q81 shape (customers whose total return amount "
        "exceeds 1.2x their state's average, the returns CTE read "
        "both as output rows and as the threshold population — "
        "q30.sql/q81.sql): threshold spelled ret*5*n > tot*6, exact "
        "integers, no avg() re-division.",
    tags=("tpcds",),
)

# q38 shape: COUNT over a 3-way INTERSECT of per-channel customer sets.
sql_query(
    "tpcds_q38_triple_intersect_customers",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_all_three
    FROM (
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      INTERSECT
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      INTERSECT
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    ) t
    """,
    doc="TPC-DS q38 shape (customers present in all three channels via "
        "a chained INTERSECT, counted — q38.sql): set semantics make "
        "each branch DISTINCT before the semi joins; one number out.",
    tags=("tpcds",),
)

# q41 shape: DISTINCT names gated by a correlated EXISTS whose body is
# a disjunction of conjunctive attribute envelopes.
sql_query(
    "tpcds_q41_distinct_names_disjunctive_exists",
    """
    SELECT DISTINCT p1.p_name AS name
    FROM part p1
    WHERE p1.p_size BETWEEN 10 AND 15
      AND EXISTS (
        SELECT 1 FROM part p2
        WHERE p2.p_brand = p1.p_brand
          AND p2.p_partkey <> p1.p_partkey
          AND ((p2.p_size BETWEEN 1 AND 5
                AND p2.p_type IN ('STANDARD', 'PROMO'))
            OR (p2.p_size BETWEEN 20 AND 30
                AND p2.p_type IN ('ECONOMY', 'SMALL')))
      )
    ORDER BY name
    LIMIT 100
    """,
    doc="TPC-DS q41 shape (distinct product names where a correlated "
        "count over OR-ed conjunctive manufacturer/attribute arms is "
        "positive — q41.sql, count > 0 spelled as EXISTS): the "
        "correlated semi join carries a disjunctive payload that "
        "cannot collapse to one pushable envelope.",
    tags=("tpcds",),
)

# q45 shape: membership disjunction — a literal geography IN-list OR
# an IN-subquery item list (ExistenceJoin: neither side can become a
# plain semi join because of the OR).
sql_query(
    "tpcds_q45_geo_or_item_subquery",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS rev_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE n.n_name IN ('FRANCE', 'GERMANY', 'EGYPT')
       OR l.l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
    GROUP BY n.n_name
    ORDER BY nation
    """,
    doc="TPC-DS q45 shape (sales where the customer zip is in a "
        "literal list OR the item is in a subquery list — q45.sql): "
        "the OR forces an existence-join plan; the subquery side "
        "becomes a boolean column, not a filterable semi join.",
    tags=("tpcds",),
)

# q69/q35 shape: EXISTS in one channel AND NOT EXISTS in the other
# two, demographic aggregate over the survivors.
sql_query(
    "tpcds_q69_exists_not_exists_demographics",
    """
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS bal_cents
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND year(o.o_orderdate) = 1995)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND year(o.o_orderdate) = 1996)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND year(o.o_orderdate) = 1997)
    GROUP BY n.n_name, c.c_mktsegment
    ORDER BY nation, segment
    """,
    doc="TPC-DS q69 shape (customers active in the store channel and "
        "absent from web AND catalog — one semi join plus two anti "
        "joins on the same correlation key — q69.sql/q35.sql), "
        "demographic counts + balance sums over the survivors.",
    tags=("tpcds",),
)

# q89 shape: monthly sums vs the year average via window functions,
# keeping months deviating more than 10% (the windowed-subquery
# threshold mechanic).
sql_query(
    "tpcds_q89_monthly_deviation_window",
    """
    WITH m AS (
      SELECT o_orderpriority AS pri, year(o_orderdate) AS yr,
             month(o_orderdate) AS mon,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      GROUP BY o_orderpriority, year(o_orderdate), month(o_orderdate)
    ),
    w AS (
      SELECT pri, yr, mon, cents,
             CAST(sum(cents) OVER (PARTITION BY pri, yr) AS BIGINT)
               AS yr_cents,
             CAST(count(*) OVER (PARTITION BY pri, yr) AS BIGINT)
               AS n_mon
      FROM m
    )
    SELECT pri, yr, mon, cents,
           CAST(floor(CAST(cents AS DOUBLE) * 1000 * n_mon
                      / yr_cents) AS BIGINT) AS vs_avg_x1000
    FROM w
    WHERE cents * n_mon * 10 > yr_cents * 11
       OR cents * n_mon * 10 < yr_cents * 9
    ORDER BY pri, yr, mon
    """,
    doc="TPC-DS q89 shape (monthly category sales kept when they "
        "deviate from the yearly average, average via window "
        "functions over the aggregate CTE — q89.sql): the 10% "
        "deviation gate is cross-multiplied integers; the reported "
        "ratio is a floored per-mille of exact integers.",
    tags=("tpcds",),
)

# q93 shape: sales net of returns — per-customer totals where returned
# lines flip sign / drop out.
sql_query(
    "tpcds_q93_sales_net_of_returns",
    """
    SELECT o.o_custkey AS custkey,
           CAST(sum(CASE WHEN l.l_returnflag = 'R'
                         THEN -CAST(l.l_quantity AS BIGINT)
                         ELSE CAST(l.l_quantity AS BIGINT) END)
                AS BIGINT) AS net_qty,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 0
                         ELSE CAST(CAST(l.l_extendedprice
                                        AS DECIMAL(14,2)) * 100
                                   AS BIGINT) END)
                AS BIGINT) AS kept_cents
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_custkey
    ORDER BY net_qty DESC, custkey
    LIMIT 100
    """,
    doc="TPC-DS q93 shape (store sales joined to returns; returned "
        "quantity subtracts from the activity total — q93.sql, the "
        "left-join+COALESCE spelled as a CASE over the return flag): "
        "one fact pass, conditional signed sums, top-100 by net.",
    tags=("tpcds",),
)

# q98/q12/q20 shape: revenue share of each class within its category
# via a window sum over the aggregate.
sql_query(
    "tpcds_q98_class_share_within_brand",
    """
    WITH t AS (
      SELECT p_brand AS brand, p_type AS ptype,
             CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100
                      AS BIGINT)) AS BIGINT) AS cents
      FROM part GROUP BY p_brand, p_type
    )
    SELECT brand, ptype, cents,
           CAST(floor(CAST(cents AS DOUBLE) * 100000
                      / CAST(sum(cents) OVER (PARTITION BY brand)
                             AS DOUBLE)) AS BIGINT) AS share_x100000
    FROM t
    ORDER BY brand, ptype
    """,
    doc="TPC-DS q98 shape (item revenue plus its ratio to the class "
        "total computed by sum() OVER (PARTITION BY class) on top of "
        "the grouped aggregate — q98.sql/q12.sql/q20.sql): the "
        "windowed-total ratio mechanic, emitted as floored 1e-5 "
        "shares of exact integer cents.",
    tags=("tpcds",),
)


# ---- round-9 tranche 5: scalar thresholds, correlated averages,
# interval-lag joins, ratio reports ----

# q15 shape: groups kept when their total beats a share of the grand
# total computed by a scalar subquery over the SAME CTE.
sql_query(
    "tpcds_q15_nations_above_share",
    """
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name
    )
    SELECT nation, cents
    FROM rev
    WHERE cents * 10000 > (SELECT sum(cents) FROM rev) * 405
    ORDER BY nation
    """,
    doc="TPC-DS q15 shape (zip codes whose catalog sales exceed a "
        "share threshold of the total — q15.sql variant with the "
        "threshold as a scalar subquery over the same CTE): grand "
        "total computed once, compared cross-multiplied.  Threshold "
        "4.05%: the 25 nations' shares concentrate toward the uniform "
        "4% as SF grows (max share 8.4% @ sf0.001 -> 4.3% @ sf0.1), "
        "so a 5% gate zeroes out at sf0.1 — scale-proofed per the "
        "synthetic-data threshold rule.",
    tags=("tpcds",),
)

# q32/q92 shape: lines whose discount exceeds 1.3x the per-part
# average, the average via a correlated scalar subquery.
sql_query(
    "tpcds_q32_excess_discount",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS excess_cents
    FROM lineitem l
    WHERE CAST(CAST(l.l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)
          * 10.0 >
          (SELECT 13.0 * sum(CAST(CAST(l2.l_discount AS DECIMAL(4,2))
                                  * 100 AS BIGINT))
                  / count(*)
           FROM lineitem l2
           WHERE l2.l_partkey = l.l_partkey)
    """,
    doc="TPC-DS q32/q92 shape (excess discount: lines whose discount "
        "beats 1.3x the item's average, average via a correlated "
        "scalar subquery on the same fact — q32.sql): decorrelates to "
        "a per-part aggregate joined back; discounts held as integer "
        "hundredths so both engines derive the identical double "
        "threshold from exact sums.",
    tags=("tpcds",),
)

# q37/q82 shape: DISTINCT parts in a price band with sales activity
# inside a date window (EXISTS against the fact).
sql_query(
    "tpcds_q37_parts_in_band_with_sales",
    """
    SELECT DISTINCT p.p_partkey AS partkey, p.p_name AS name,
           CAST(CAST(p.p_retailprice AS DECIMAL(12,2)) * 100
                AS BIGINT) AS price_cents
    FROM part p
    WHERE p.p_retailprice BETWEEN 900 AND 1100
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey
                    AND l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
                    AND l.l_shipdate < TIMESTAMP '1998-07-01 00:00:00')
    ORDER BY partkey
    LIMIT 100
    """,
    doc="TPC-DS q37/q82 shape (items in a price band with on-hand "
        "inventory in a date window that also sold — q37.sql, the "
        "inventory arm spelled as the date-window EXISTS): dimension "
        "band filter + semi join against the windowed fact.",
    tags=("tpcds",),
)

# q46/q68 shape: per-order spend split by whether the supplier sits in
# a DIFFERENT nation than the customer, orders kept when the
# cross-nation share dominates.
sql_query(
    "tpcds_q46_cross_nation_orders",
    """
    WITH x AS (
      SELECT o.o_orderkey AS okey, c.c_name AS cname,
             n1.n_name AS cust_nation,
             CAST(sum(CASE WHEN s.s_nationkey <> c.c_nationkey
                      THEN CAST(CAST(l.l_extendedprice
                                     AS DECIMAL(14,2)) * 100 AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS cross_cents,
             CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS BIGINT) AS total_cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      GROUP BY o.o_orderkey, c.c_name, n1.n_name
    )
    SELECT okey, cname, cust_nation, cross_cents, total_cents
    FROM x
    WHERE cross_cents * 2 > total_cents
    ORDER BY total_cents DESC, okey
    LIMIT 100
    """,
    doc="TPC-DS q46/q68 shape (sales to customers in a city different "
        "from the store's, reported per (customer, ticket) — q46.sql "
        "with nations for cities): the cross-geography CASE rides the "
        "per-order aggregate; orders kept when the cross share "
        "dominates (integer cross-multiplication).",
    tags=("tpcds",),
)

# q61 shape: promotional vs total revenue ratio per geography.
sql_query(
    "tpcds_q61_promo_revenue_ratio",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(CAST(l.l_extendedprice
                                        AS DECIMAL(14,2)) * 100
                                   AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS promo_cents,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(floor(CAST(sum(CASE WHEN p.p_type = 'PROMO'
                                    THEN CAST(CAST(l.l_extendedprice
                                                   AS DECIMAL(14,2)) * 100
                                              AS BIGINT)
                                    ELSE 0 END) AS DOUBLE) * 1000
                      / sum(CAST(CAST(l.l_extendedprice
                                      AS DECIMAL(14,2)) * 100
                                 AS BIGINT))) AS BIGINT)
             AS promo_x1000
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
    doc="TPC-DS q61 shape (promotional-channel revenue over total "
        "revenue per geography, the two aggregates of q61.sql's "
        "numerator/denominator fused into one pass with a CASE): "
        "ratio emitted as floored per-mille of exact integer cents — "
        "the TPC-H q14 promo-share mechanic at TPC-DS report shape.",
    tags=("tpcds",),
)

# q72 shape: fact-to-fact date-lag condition (shipped more than 90
# days after the order date), bucketed per priority.
sql_query(
    "tpcds_q72_ship_delay_per_priority",
    """
    SELECT o.o_orderpriority AS pri,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (WHERE l.l_shipdate >
                                       o.o_orderdate + INTERVAL 90 DAY)
                AS BIGINT) AS delayed,
           CAST(floor(CAST(count(*) FILTER
                           (WHERE l.l_shipdate >
                                  o.o_orderdate + INTERVAL 90 DAY)
                           AS DOUBLE) * 1000 / count(*)) AS BIGINT)
             AS delayed_x1000
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY pri
    """,
    doc="TPC-DS q72 shape (catalog lines where the inventory date "
        "lags the sale date by a bound — q72.sql's d3.d_date > "
        "d1.d_date + 5 — spelled as ship-vs-order interval "
        "arithmetic): the date-lag join condition evaluates post-join "
        "per row; delay share as floored per-mille.",
    tags=("tpcds",),
)

# q90 shape: ratio of two disjoint time-bucket counts (am/pm).
sql_query(
    "tpcds_q90_half_month_ratio",
    """
    SELECT CAST(count(*) FILTER (WHERE day(o_orderdate) <= 15)
                AS BIGINT) AS first_half,
           CAST(count(*) FILTER (WHERE day(o_orderdate) > 15)
                AS BIGINT) AS second_half,
           CAST(floor(CAST(count(*) FILTER
                           (WHERE day(o_orderdate) <= 15) AS DOUBLE)
                      * 1000
                      / count(*) FILTER (WHERE day(o_orderdate) > 15))
                AS BIGINT) AS ratio_x1000
    FROM orders
    """,
    doc="TPC-DS q90 shape (am_pm_ratio: one scan, two disjoint "
        "time-bucket counts and their quotient — q90.sql, hours "
        "spelled as month halves): FILTER aggregates share the scan; "
        "the ratio is floored per-mille of exact counts.",
    tags=("tpcds",),
)


# ---- round-9 tranche 6 ----

# q3 shape: (year, brand) revenue with a per-year rank gate.
sql_query(
    "tpcds_q3_brand_rank_per_year",
    """
    WITH s AS (
      SELECT year(o.o_orderdate) AS yr, p.p_brand AS brand,
             CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY year(o.o_orderdate), p.p_brand
    )
    SELECT yr, brand, cents
    FROM (SELECT yr, brand, cents,
                 row_number() OVER (PARTITION BY yr
                                    ORDER BY cents DESC, brand) AS rn
          FROM s) t
    WHERE rn <= 5
    ORDER BY yr, cents DESC, brand
    """,
    doc="TPC-DS q3 shape (brand revenue by sold year, top rows per "
        "year — q3.sql's ORDER BY d_year, sum_agg desc with the "
        "report cut spelled as a per-year row_number gate): "
        "deterministic rank ties broken by brand.",
    tags=("tpcds",),
)

# q26 shape: catalog averages by demographic with a support HAVING.
sql_query(
    "tpcds_q26_segment_averages",
    """
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(floor(CAST(sum(CAST(l.l_quantity AS BIGINT)) * 100
                           AS DOUBLE) / count(*)) AS BIGINT)
             AS avg_qty_x100,
           CAST(floor(CAST(sum(CAST(CAST(l.l_extendedprice
                                         AS DECIMAL(14,2)) * 100
                                    AS BIGINT)) AS DOUBLE) / count(*))
                AS BIGINT) AS avg_price_cents,
           CAST(floor(CAST(sum(CAST(CAST(l.l_discount
                                         AS DECIMAL(4,2)) * 100
                                    AS BIGINT)) * 100 AS DOUBLE)
                      / count(*)) AS BIGINT) AS avg_disc_x10000
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    HAVING count(*) >= 100
    ORDER BY segment
    """,
    doc="TPC-DS q26 shape (avg quantity/list-price/coupon by "
        "demographic — q26.sql): averages as floored exact-integer "
        "ratios (never re-summed doubles), support floor via HAVING.",
    tags=("tpcds",),
)

# q40 shape: value before/after a pivot date counting only
# non-returned lines, the returns matched by LEFT JOIN and tested
# with IS NULL.
sql_query(
    "tpcds_q40_brand_netted_before_after",
    """
    WITH r AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      WHERE l_returnflag = 'R'
    )
    SELECT p.p_brand AS brand,
           CAST(sum(CASE WHEN r.l_orderkey IS NULL
                     AND l.l_shipdate <
                         TIMESTAMP '1998-01-01 00:00:00'
                    THEN CAST(CAST(l.l_extendedprice
                                   AS DECIMAL(14,2)) * 100 AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS cents_before,
           CAST(sum(CASE WHEN r.l_orderkey IS NULL
                     AND l.l_shipdate >=
                         TIMESTAMP '1998-01-01 00:00:00'
                    THEN CAST(CAST(l.l_extendedprice
                                   AS DECIMAL(14,2)) * 100 AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS cents_after
    FROM lineitem l
    LEFT JOIN r ON r.l_orderkey = l.l_orderkey
               AND r.l_linenumber = l.l_linenumber
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-08-01 00:00:00'
    GROUP BY p.p_brand
    ORDER BY brand
    LIMIT 100
    """,
    doc="TPC-DS q40 shape (catalog sales net of returns split "
        "before/after a pivot date per (warehouse, item) — q40.sql's "
        "catalog_returns LEFT JOIN with the IS NULL netting): the "
        "returns set joins back on the compound line key; un-matched "
        "rows carry value, matched rows zero out.",
    tags=("tpcds",),
)


# q76 shape: heterogeneous channel scans tagged with literals,
# UNION ALL'd, then counted per (channel, year).
sql_query(
    "tpcds_q76_tagged_channel_union",
    """
    SELECT channel, yr,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM (
      SELECT 'orders' AS channel, year(o_orderdate) AS yr,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                  AS BIGINT) AS cents
      FROM orders
      UNION ALL
      SELECT 'lines' AS channel, year(l_shipdate) AS yr,
             CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                  AS BIGINT) AS cents
      FROM lineitem
    ) u
    GROUP BY channel, yr
    ORDER BY channel, yr
    """,
    doc="TPC-DS q76 shape (rows from three channel facts tagged with "
        "literal channel names, UNION ALL'd and counted per channel/"
        "year — q76.sql): the heterogeneous-scan union report; each "
        "branch keeps its own scan shape and the aggregate sees one "
        "tagged stream.",
    tags=("tpcds",),
)

# q91 shape: returns loss report by demographic and month under
# dimension filters.
sql_query(
    "tpcds_q91_returns_loss_report",
    """
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           month(l.l_shipdate) AS mon,
           CAST(count(*) AS BIGINT) AS n_returns,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS returned_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND year(l.l_shipdate) = 1996
      AND c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY n.n_name, c.c_mktsegment, month(l.l_shipdate)
    ORDER BY returned_cents DESC, nation, segment, mon
    LIMIT 50
    """,
    doc="TPC-DS q91 shape (call-center returns loss by manager/"
        "demographic for one month under education/marital filters — "
        "q91.sql with segment/nation dims): filtered returns fact, "
        "two dimension joins, loss ranked per group.",
    tags=("tpcds",),
)


# ---- round-9 tranche 7 ----

# q22 shape: average quantity over a ROLLUP hierarchy ordered by the
# aggregate.
sql_query(
    "tpcds_q22_rollup_avg_quantity",
    """
    SELECT p.p_brand AS brand, p.p_type AS ptype,
           CAST(grouping(p.p_brand) + grouping(p.p_type) AS BIGINT)
             AS lvl,
           CAST(count(*) AS BIGINT) AS n,
           CAST(floor(CAST(sum(CAST(l.l_quantity AS BIGINT)) * 100
                           AS DOUBLE) / count(*)) AS BIGINT)
             AS avg_qty_x100
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= 10
    GROUP BY ROLLUP(p.p_brand, p.p_type)
    ORDER BY avg_qty_x100 DESC, brand, ptype
    LIMIT 100
    """,
    doc="TPC-DS q22 shape (average inventory quantity over the "
        "product ROLLUP hierarchy, ordered by the average itself — "
        "q22.sql): margins rank among detail rows; the average is a "
        "floored exact-integer ratio so ordering is identical on both "
        "engines.",
    tags=("tpcds",),
)

# q50 shape: latency between two linked facts bucketed into day-range
# counts per group (order date → ship date here).
sql_query(
    "tpcds_q50_ship_latency_buckets",
    """
    SELECT s.s_name AS supplier,
           CAST(count(*) FILTER (WHERE l.l_shipdate <=
                                       o.o_orderdate + INTERVAL 30 DAY)
                AS BIGINT) AS d30,
           CAST(count(*) FILTER (WHERE l.l_shipdate >
                                       o.o_orderdate + INTERVAL 30 DAY
                                   AND l.l_shipdate <=
                                       o.o_orderdate + INTERVAL 60 DAY)
                AS BIGINT) AS d60,
           CAST(count(*) FILTER (WHERE l.l_shipdate >
                                       o.o_orderdate + INTERVAL 60 DAY
                                   AND l.l_shipdate <=
                                       o.o_orderdate + INTERVAL 90 DAY)
                AS BIGINT) AS d90,
           CAST(count(*) FILTER (WHERE l.l_shipdate >
                                       o.o_orderdate + INTERVAL 90 DAY)
                AS BIGINT) AS d90plus
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE year(o.o_orderdate) = 1996
    GROUP BY s.s_name
    ORDER BY supplier
    LIMIT 100
    """,
    doc="TPC-DS q50 shape (store returns bucketed by days-to-return "
        "30/60/90/120 per store — q50.sql, sale→return latency "
        "spelled as order→ship): the inter-fact date-lag lands in "
        "disjoint FILTER buckets on one pass over the join.",
    tags=("tpcds",),
)

# q77 shape: per-channel sales and returns side by side with
# GROUPING SETS totals.
sql_query(
    "tpcds_q77_channel_profit_totals",
    """
    SELECT o_orderpriority AS pri,
           CAST(grouping(o_orderpriority) AS BIGINT) AS lvl,
           CAST(sum(CASE WHEN l_returnflag <> 'R'
                         THEN CAST(CAST(l_extendedprice
                                        AS DECIMAL(14,2)) * 100
                                   AS BIGINT) ELSE 0 END)
                AS BIGINT) AS sales_cents,
           CAST(sum(CASE WHEN l_returnflag = 'R'
                         THEN CAST(CAST(l_extendedprice
                                        AS DECIMAL(14,2)) * 100
                                   AS BIGINT) ELSE 0 END)
                AS BIGINT) AS returns_cents
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY GROUPING SETS ((o_orderpriority), ())
    ORDER BY lvl, pri
    """,
    doc="TPC-DS q77 shape (sales vs returns per channel plus the "
        "grand-total row via ROLLUP — q77.sql): both measures ride "
        "one fact pass as conditional sums; the () grouping set is "
        "the all-channel total.",
    tags=("tpcds",),
)

# q83 shape: one group's share of the sum of three symmetric sets,
# each defined by a date-window, joined on the item.
sql_query(
    "tpcds_q83_three_window_share",
    """
    WITH w1 AS (
      SELECT l_partkey AS pk, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-03-01 00:00:00'
      GROUP BY l_partkey
    ),
    w2 AS (
      SELECT l_partkey AS pk, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-05-01 00:00:00'
      GROUP BY l_partkey
    ),
    w3 AS (
      SELECT l_partkey AS pk, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-05-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
      GROUP BY l_partkey
    )
    SELECT w1.pk AS partkey, w1.qty AS q1, w2.qty AS q2, w3.qty AS q3,
           CAST(floor(CAST(w1.qty AS DOUBLE) * 1000
                      / (w1.qty + w2.qty + w3.qty)) AS BIGINT)
             AS share1_x1000
    FROM w1 JOIN w2 ON w2.pk = w1.pk JOIN w3 ON w3.pk = w1.pk
    ORDER BY share1_x1000 DESC, partkey
    LIMIT 100
    """,
    doc="TPC-DS q83 shape (store/catalog/web returns for the same "
        "item over three symmetric date windows, each channel's share "
        "of the three-way total — q83.sql): three windowed aggregates "
        "of one fact equi-joined on the item key; shares as floored "
        "per-mille of exact integer sums.",
    tags=("tpcds",),
)


# ---- round-9 tranche 8 ----

# q8 shape: fact revenue restricted to a geography set defined by a
# dimension-side subquery threshold.
sql_query(
    "tpcds_q8_supplier_rich_nations",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE n.n_nationkey IN (
      SELECT s_nationkey FROM supplier
      GROUP BY s_nationkey
      HAVING count(*) >= 1
    )
    GROUP BY n.n_name
    ORDER BY nation
    """,
    doc="TPC-DS q8 shape (store sales for stores whose zip sits in a "
        "preferred set computed by a dimension subquery — q8.sql's "
        "substr(zip) IN (...) intersection): the membership set is "
        "itself an aggregate-HAVING subquery, planned as a semi join "
        "against the grouped dimension.  Threshold >= 1 keeps the set "
        "selective at sf0.001 (10 of 25 nations have any supplier) "
        "and non-empty at every SF (scale-proofing rule).",
    tags=("tpcds",),
)

# q18 shape: integer-ratio averages over a two-dimension ROLLUP.
sql_query(
    "tpcds_q18_rollup_dimension_averages",
    """
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           CAST(grouping(n.n_name) + grouping(c.c_mktsegment)
                AS BIGINT) AS lvl,
           CAST(count(*) AS BIGINT) AS n,
           CAST(floor(CAST(sum(CAST(l.l_quantity AS BIGINT)) * 100
                           AS DOUBLE) / count(*)) AS BIGINT)
             AS avg_qty_x100,
           CAST(floor(CAST(sum(CAST(CAST(l.l_discount
                                         AS DECIMAL(4,2)) * 100
                                    AS BIGINT)) * 100 AS DOUBLE)
                      / count(*)) AS BIGINT) AS avg_disc_x10000
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE n.n_regionkey <= 1
    GROUP BY ROLLUP(n.n_name, c.c_mktsegment)
    ORDER BY lvl, nation, segment
    """,
    doc="TPC-DS q18 shape (catalog averages by demographic over the "
        "ROLLUP(country, state, county) hierarchy — q18.sql): "
        "rollup-margin averages as floored exact-integer ratios at "
        "every grouping level.",
    tags=("tpcds",),
)

# q35 shape: customers active in ANY of two channels (OR of EXISTS),
# multi-statistic demographic aggregate.
sql_query(
    "tpcds_q35_or_exists_demographic_stats",
    """
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS bal_cents,
           CAST(max(CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS max_bal_cents,
           CAST(min(CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS min_bal_cents
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND year(o.o_orderdate) = 1998
                    AND o.o_orderpriority = '1-URGENT')
       OR EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND year(o.o_orderdate) = 1998
                    AND o.o_orderpriority = '5-LOW')
    GROUP BY n.n_name, c.c_mktsegment
    ORDER BY nation, segment
    """,
    doc="TPC-DS q35 shape (customers with a purchase in web OR "
        "catalog — an OR of two EXISTS, which must plan as existence "
        "joins feeding the disjunction, not filtering semi joins — "
        "q35.sql): count/sum/max/min stats per demographic bucket.",
    tags=("tpcds",),
)

# q71 shape: one brand revenue report broken down by tagged time
# buckets from a UNION ALL of time-dimension slices.
sql_query(
    "tpcds_q71_brand_time_bucket_breakdown",
    """
    SELECT p.p_brand AS brand, u.bucket AS bucket,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT 'h1' AS bucket, 1 AS lo, 6 AS hi
      UNION ALL SELECT 'h2', 7, 12
    ) u ON month(l.l_shipdate) BETWEEN u.lo AND u.hi
    WHERE year(l.l_shipdate) = 1997 AND p.p_size <= 5
    GROUP BY p.p_brand, u.bucket
    ORDER BY brand, bucket
    """,
    doc="TPC-DS q71 shape (brand revenue broken down by breakfast/"
        "dinner/night time buckets from a UNION ALL of time-dim "
        "slices joined back to the fact — q71.sql): the tagged-bucket "
        "dimension union drives a theta(range) join on the time "
        "attribute.",
    tags=("tpcds",),
)


# ---- round-9 tranche 9 ----

# q48 shape: one quantity sum under an OR of (segment x measure-band)
# conjunctive arms.
sql_query(
    "tpcds_q48_segment_quantity_bands",
    """
    SELECT CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT)
             AS total_qty,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE (c.c_mktsegment = 'AUTOMOBILE'
           AND l.l_quantity BETWEEN 1 AND 20
           AND l.l_discount BETWEEN 0.00 AND 0.05)
       OR (c.c_mktsegment = 'FURNITURE'
           AND l.l_quantity BETWEEN 21 AND 35
           AND l.l_discount BETWEEN 0.03 AND 0.08)
       OR (c.c_mktsegment = 'BUILDING'
           AND l.l_quantity BETWEEN 36 AND 50
           AND l.l_discount BETWEEN 0.05 AND 0.10)
    """,
    doc="TPC-DS q48 shape (store quantity sum under an OR of three "
        "(marital-status x net-profit band x sales-price band) arms — "
        "q48.sql): the disjunction spans measure bands on the FACT "
        "plus a dimension attribute, so only the hull of the bands "
        "can push to the scan.",
    tags=("tpcds",),
)

# q52/q42/q55 shape: brand revenue for one (year, month), ranked.
sql_query(
    "tpcds_q52_brand_monthly_revenue",
    """
    SELECT year(o.o_orderdate) AS yr, p.p_brand AS brand,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE year(o.o_orderdate) = 1997 AND month(o.o_orderdate) = 12
    GROUP BY year(o.o_orderdate), p.p_brand
    ORDER BY cents DESC, brand
    LIMIT 100
    """,
    doc="TPC-DS q52 shape (brand extended-price for one d_moy/d_year, "
        "ordered by the aggregate — q52.sql, the q42/q55 family): "
        "time-dim filter pushed below the star join, deterministic "
        "tie-break on brand.",
    tags=("tpcds",),
)

# q79 shape: best single ticket per customer via a window over the
# per-(customer, order) aggregate.
sql_query(
    "tpcds_q79_best_ticket_per_customer",
    """
    WITH t AS (
      SELECT o.o_custkey AS ck, o.o_orderkey AS okey,
             CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                      AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_custkey, o.o_orderkey
    )
    SELECT c.c_name AS name, t.okey AS okey, t.cents AS cents
    FROM (SELECT ck, okey, cents,
                 row_number() OVER (PARTITION BY ck
                                    ORDER BY cents DESC, okey) AS rn
          FROM t) t
    JOIN customer c ON c.c_custkey = t.ck
    WHERE t.rn = 1
    ORDER BY t.cents DESC, name
    LIMIT 100
    """,
    doc="TPC-DS q79 shape (a customer's maximal store ticket — per-"
        "(customer, ticket) aggregate then the best row per customer "
        "— q79.sql): two-key aggregate feeding a per-customer "
        "window-rank gate, joined back to the dimension.",
    tags=("tpcds",),
)

# q96 shape: a bare count under a three-way dimension filter.
sql_query(
    "tpcds_q96_three_dim_filter_count",
    """
    SELECT CAST(count(*) AS BIGINT) AS cnt
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderpriority = '2-HIGH'
      AND c.c_mktsegment = 'MACHINERY'
      AND n.n_regionkey = 2
    """,
    doc="TPC-DS q96 shape (count of store sales for one half-hour x "
        "household-demographic x store triple — q96.sql): three "
        "broadcast dimension semijoins collapsing to a count; every "
        "filter sits on its own dimension.",
    tags=("tpcds",),
)


# ---- round-9 tranche 10: final family representatives ----

# q7 shape: averages by demographic under a promotion-attribute filter.
sql_query(
    "tpcds_q7_promo_demographic_averages",
    """
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(floor(CAST(sum(CAST(l.l_quantity AS BIGINT)) * 100
                           AS DOUBLE) / count(*)) AS BIGINT)
             AS avg_qty_x100,
           CAST(floor(CAST(sum(CAST(CAST(p.p_retailprice
                                         AS DECIMAL(12,2)) * 100
                                    AS BIGINT)) AS DOUBLE) / count(*))
                AS BIGINT) AS avg_list_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type = 'PROMO'
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
    doc="TPC-DS q7 shape (item averages by customer demographic where "
        "the promotion dimension filters the fact — q7.sql's "
        "p_channel_email/p_channel_event arms spelled as the PROMO "
        "part type): four-table star with the filter on a second "
        "dimension, integer-ratio averages.",
    tags=("tpcds",),
)

# q19 shape: brand revenue where the buyer's geography differs from
# the seller's, grouped by the brand hierarchy.
sql_query(
    "tpcds_q19_brand_geo_mismatch_revenue",
    """
    SELECT p.p_brand AS brand,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE s.s_nationkey <> c.c_nationkey
      AND year(o.o_orderdate) = 1997
    GROUP BY p.p_brand
    ORDER BY cents DESC, brand
    LIMIT 100
    """,
    doc="TPC-DS q19 shape (brand revenue where the customer's zip "
        "differs from the store's zip — q19.sql's substr(ca_zip,1,5) "
        "<> substr(s_zip,1,5) as a nation inequality): the mismatch "
        "predicate spans two dimensions and only evaluates post-join.",
    tags=("tpcds",),
)

# q25 shape: sold-then-returned-then-repurchased chain with aggregate
# stats per grouping (the q29 family at stat shape).
sql_query(
    "tpcds_q25_return_repurchase_stats",
    """
    SELECT n.n_name AS nation,
           CAST(count(DISTINCT r.l_partkey) AS BIGINT) AS n_parts,
           CAST(sum(CAST(r.l_quantity AS BIGINT)) AS BIGINT)
             AS returned_qty,
           CAST(sum(CAST(rep.l_quantity AS BIGINT)) AS BIGINT)
             AS repurchased_qty
    FROM lineitem r
    JOIN orders o1 ON o1.o_orderkey = r.l_orderkey
    JOIN customer c ON c.c_custkey = o1.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN lineitem rep ON rep.l_partkey = r.l_partkey
                     AND rep.l_returnflag <> 'R'
                     AND rep.l_shipdate > r.l_shipdate
    JOIN orders o2 ON o2.o_orderkey = rep.l_orderkey
                  AND o2.o_custkey = o1.o_custkey
    WHERE r.l_returnflag = 'R' AND year(r.l_shipdate) = 1996
    GROUP BY n.n_name
    ORDER BY nation
    """,
    doc="TPC-DS q25 shape (store sale, store return, then catalog "
        "repurchase by the same customer of the same item, aggregate "
        "stats per store — q25.sql): the fact self-joins on (item, "
        "same-customer, later-date), stats per geography.",
    tags=("tpcds",),
)

# q80 shape: channel sales/returns/profit columns with a ROLLUP total
# over the channel union.
sql_query(
    "tpcds_q80_channel_report_rollup",
    """
    WITH u AS (
      SELECT o_orderpriority AS channel,
             CASE WHEN l_returnflag <> 'R'
                  THEN CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                            AS BIGINT) ELSE 0 END AS sales_c,
             CASE WHEN l_returnflag = 'R'
                  THEN CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                            AS BIGINT) ELSE 0 END AS returns_c
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE year(l_shipdate) = 1997
    )
    SELECT channel,
           CAST(grouping(channel) AS BIGINT) AS lvl,
           CAST(sum(sales_c) AS BIGINT) AS sales_cents,
           CAST(sum(returns_c) AS BIGINT) AS returns_cents,
           CAST(sum(sales_c) - sum(returns_c) AS BIGINT)
             AS profit_cents
    FROM u
    GROUP BY ROLLUP(channel)
    ORDER BY lvl, channel
    """,
    doc="TPC-DS q80 shape (sales/returns/profit per channel with the "
        "ROLLUP grand total over the three-channel union — q80.sql): "
        "conditional measures from one fact pass, rollup margin as "
        "the 'total' channel row.",
    tags=("tpcds",),
)

# q95 shape: orders shipped through more than one supplier where BOTH
# existence conditions hold (the q16 family with a second positive
# EXISTS instead of the NOT EXISTS).
sql_query(
    "tpcds_q95_multi_supplier_with_returns",
    """
    SELECT CAST(count(*) AS BIGINT) AS order_count,
           CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders o
    WHERE o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1
                  FROM lineitem l1 JOIN lineitem l2
                    ON l1.l_orderkey = l2.l_orderkey
                   AND l1.l_suppkey <> l2.l_suppkey
                  WHERE l1.l_orderkey = o.o_orderkey)
      AND EXISTS (SELECT 1 FROM lineitem lr
                  WHERE lr.l_orderkey = o.o_orderkey
                    AND lr.l_returnflag = 'R')
    """,
    doc="TPC-DS q95 shape (web orders shipped from two warehouses "
        "that WERE returned — q95.sql's ws_wh self-join EXISTS plus a "
        "positive returns EXISTS; contrast q16's NOT EXISTS arm): two "
        "semi joins on one correlation key, one of them over a "
        "self-joined fact.",
    tags=("tpcds",),
)

# ---------------------------------------------------------------------------
# Round 12: the eight TPC-DS query numbers with no shape row yet
# (q27, q43, q53, q60, q84, q85, q94, q99) — closes the suite to 99/99
# cited shapes over the driver schema.

# q27 shape: fixed demographic filter, ROLLUP(item, state) margins with
# a grouping() marker and four averages.
sql_query(
    "tpcds_q27_rollup_demo_avgs",
    """
    SELECT p_brand,
           n_name,
           CAST(grouping(n_name) AS BIGINT) AS g_nation,
           CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE)
             / count(*) AS agg1,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
             / count(*) AS agg2,
           CAST(sum(CAST(l_discount AS DECIMAL(14,2))) AS DOUBLE)
             / count(*) AS agg3,
           CAST(sum(CAST(l_tax AS DECIMAL(14,2))) AS DOUBLE)
             / count(*) AS agg4
    FROM lineitem, orders, customer, nation, part
    WHERE l_orderkey = o_orderkey
      AND o_custkey = c_custkey
      AND c_nationkey = n_nationkey
      AND l_partkey = p_partkey
      AND c_mktsegment = 'BUILDING'
      AND year(o_orderdate) IN (1995, 1996)
      AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4',
                     'NATION_5', 'NATION_6')
    GROUP BY ROLLUP(p_brand, n_name)
    ORDER BY p_brand, n_name
    """,
    doc="TPC-DS q27 shape (store_sales × cd/date/store/item with a "
        "fixed demographic slice, GROUP BY ROLLUP(i_item_id, s_state), "
        "GROUPING(s_state) marker, four avg() measures — q27.sql): the "
        "demographic filter is the BUILDING/1-URGENT slice, the rollup "
        "hierarchy brand→nation.  Dim filters broadcast; the rollup is "
        "one shuffle with partial aggregation per grouping set.",
    tags=("tpcds",),
)

# q43 shape: day-of-week pivot — seven conditional sums off one scan.
# Spark spells ISO day-of-week extract(DAYOFWEEK_ISO ...), DuckDB
# extract(isodow ...) — same 1=Monday..7=Sunday numbering.
_Q43_TEXT = """
    SELECT n_name,
           {sun}
    FROM orders, customer, nation
    WHERE o_custkey = c_custkey
      AND c_nationkey = n_nationkey
      AND year(o_orderdate) = 1995
    GROUP BY n_name
    ORDER BY n_name
"""


def _q43_buckets(dow_expr: str) -> str:
    cols = []
    for i, day in enumerate(
            ["mon", "tue", "wed", "thu", "fri", "sat", "sun"], start=1):
        cols.append(
            f"CAST(sum(CASE WHEN {dow_expr} = {i} "
            f"THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) "
            f"AS {day}_sales")
    return ",\n           ".join(cols)


dual_sql_query(
    "tpcds_q43_weekday_pivot",
    _Q43_TEXT.format(sun=_q43_buckets("weekday(o_orderdate) + 1")),
    _Q43_TEXT.format(sun=_q43_buckets("extract(isodow FROM o_orderdate)")),
    doc="TPC-DS q43 shape (store sales pivoted into sun_sales..sat_sales "
        "via CASE-per-weekday conditional sums — q43.sql): one fact "
        "scan, seven FILTER-style partial aggregates, no extra shuffle. "
        "Dual text only for the ISO day-of-week spelling "
        "(weekday()+1 vs isodow, both 1=Monday).",
    tags=("tpcds",),
)

# q53 shape: per-quarter sums, window avg per manufacturer, keep rows
# deviating >10% from their group mean.  The window average is taken
# as exact-decimal sum / count so both engines derive the identical
# double.
sql_query(
    "tpcds_q53_quarterly_deviation",
    """
    SELECT p_brand, sum_sales, avg_quarterly_sales
    FROM (
      SELECT p_brand,
             CAST(qsum AS DOUBLE) AS sum_sales,
             CAST(sum(qsum) OVER (PARTITION BY p_brand) AS DOUBLE)
               / count(*) OVER (PARTITION BY p_brand)
               AS avg_quarterly_sales
      FROM (
        SELECT p_brand,
               sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS qsum
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND ((p_type LIKE 'SMALL%' AND p_size IN (1, 5, 10))
            OR (p_type LIKE 'LARGE%' AND p_size IN (15, 25, 40)))
          AND year(l_shipdate) = 1995
        GROUP BY p_brand, quarter(l_shipdate)
      ) q
    ) t
    WHERE CASE WHEN avg_quarterly_sales > 0
               THEN abs(sum_sales - avg_quarterly_sales)
                    / avg_quarterly_sales
          END > 0.1
    ORDER BY avg_quarterly_sales, sum_sales, p_brand
    """,
    doc="TPC-DS q53 shape (quarterly manufacturer sales vs the "
        "manufacturer's window average, keep |sum-avg|/avg > 0.1 — "
        "q53.sql; the disjunctive category/class/brand slice is the "
        "p_type/p_size OR block): grouped partial agg, then one window "
        "shuffle on p_brand.  The window mean is sum/count over exact "
        "decimals so the filter threshold is engine-stable.",
    tags=("tpcds",),
)

# q60 shape: three channel CTEs (disjoint priority slices play the
# store/catalog/web roles), IN-subquery item filter in each, UNION ALL
# re-aggregated per item.
sql_query(
    "tpcds_q60_channel_category_totals",
    """
    WITH ss AS (
      SELECT p_brand AS item_id,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS total_sales
      FROM lineitem, orders, part
      WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
        AND p_brand IN (SELECT p_brand FROM part
                        WHERE p_type LIKE 'PROMO%')
        AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        AND year(o_orderdate) = 1995
      GROUP BY p_brand
    ),
    cs AS (
      SELECT p_brand AS item_id,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS total_sales
      FROM lineitem, orders, part
      WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
        AND p_brand IN (SELECT p_brand FROM part
                        WHERE p_type LIKE 'PROMO%')
        AND o_orderpriority = '3-MEDIUM'
        AND year(o_orderdate) = 1995
      GROUP BY p_brand
    ),
    ws AS (
      SELECT p_brand AS item_id,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS total_sales
      FROM lineitem, orders, part
      WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
        AND p_brand IN (SELECT p_brand FROM part
                        WHERE p_type LIKE 'PROMO%')
        AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
        AND year(o_orderdate) = 1995
      GROUP BY p_brand
    )
    SELECT item_id,
           CAST(sum(total_sales) AS DOUBLE) AS total_sales
    FROM (SELECT * FROM ss
          UNION ALL SELECT * FROM cs
          UNION ALL SELECT * FROM ws) u
    GROUP BY item_id
    ORDER BY item_id, total_sales
    """,
    doc="TPC-DS q60 shape (per-channel item sales for one category, "
        "IN-subquery item filter repeated per channel CTE, UNION ALL "
        "then re-sum per item — q60.sql): the priority slices play "
        "store/catalog/web.  Each CTE is an independent partial agg; "
        "the semi-join item filter broadcasts; decimals stay exact "
        "until the final double.",
    tags=("tpcds",),
)

# q84 shape: a pure multi-dim equi-join lookup chain with a band
# predicate playing income_band, projecting a concat'd display name.
sql_query(
    "tpcds_q84_band_lookup_chain",
    """
    SELECT c_custkey AS customer_id,
           concat(substr(c_name, 1, 18), ', ', n_name) AS customername
    FROM customer, nation, region, orders
    WHERE c_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND c_acctbal >= 3812.80
      AND c_acctbal <= 3812.80 + 5000
      AND o_custkey = c_custkey
      AND o_orderstatus = 'F'
    ORDER BY customer_id
    """,
    doc="TPC-DS q84 shape (customer lookup through the "
        "address→demographics→household→income_band join chain with an "
        "ib_lower/upper band predicate, concat(last, ', ', first) "
        "display column, one row per store_return — q84.sql): the "
        "acctbal band plays income_band, orders plays store_returns "
        "(row multiplicity preserved, no DISTINCT).  All dims "
        "broadcast under AQE.",
    tags=("tpcds",),
)

# q85 shape: disjunctive (demographic band × price band) OR-blocks ANDed
# with a second (geography × quantity band) OR-block over the returns
# slice, three averages by reason prefix.
sql_query(
    "tpcds_q85_disjunctive_band_report",
    """
    SELECT substr(n_name, 1, 20) AS reason_prefix,
           CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE)
             / count(*) AS avg_qty,
           CAST(sum(CAST(l_discount AS DECIMAL(14,2))) AS DOUBLE)
             / count(*) AS avg_disc,
           CAST(sum(CAST(l_tax AS DECIMAL(14,2))) AS DOUBLE)
             / count(*) AS avg_tax
    FROM lineitem, orders, customer, nation
    WHERE l_orderkey = o_orderkey
      AND o_custkey = c_custkey
      AND c_nationkey = n_nationkey
      AND l_returnflag = 'R'
      AND ((c_mktsegment = 'BUILDING'
            AND l_extendedprice BETWEEN 100 AND 30000)
        OR (c_mktsegment = 'AUTOMOBILE'
            AND l_extendedprice BETWEEN 20000 AND 45000)
        OR (c_mktsegment = 'MACHINERY'
            AND l_extendedprice BETWEEN 40000 AND 60000))
      AND ((n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
            AND l_quantity BETWEEN 1 AND 20)
        OR (n_name IN ('NATION_4', 'NATION_5', 'NATION_6')
            AND l_quantity BETWEEN 10 AND 40)
        OR (n_name IN ('NATION_7', 'NATION_8', 'NATION_9')
            AND l_quantity BETWEEN 20 AND 50))
    GROUP BY substr(n_name, 1, 20)
    ORDER BY reason_prefix
    """,
    doc="TPC-DS q85 shape (web returns × two demographics × address × "
        "reason with OR'd (marital/education × sales-price band) and "
        "(state-set × net-profit band) predicate blocks, avg measures "
        "by substr(reason) — q85.sql): mktsegment×price and "
        "nation×quantity play the two disjunctive band blocks.  The "
        "OR blocks can't push below the joins but prune after them; "
        "everything else is broadcast-joined fact flow.",
    tags=("tpcds",),
)

# q94 shape: date-window fact slice where a positive EXISTS (same order,
# different supplier) and a NOT EXISTS (no returned line) both gate —
# q95's sibling with the anti arm.
sql_query(
    "tpcds_q94_multi_supplier_no_returns",
    """
    SELECT CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS order_count,
           CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(14,2)))
                AS DOUBLE) AS total_price,
           CAST(sum(CAST(l1.l_quantity AS DECIMAL(14,2)))
                AS DOUBLE) AS total_qty
    FROM lineitem l1, orders o, customer c, nation n
    WHERE o.o_orderdate >= DATE '1995-02-01'
      AND o.o_orderdate <= DATE '1995-04-02'
      AND l1.l_orderkey = o.o_orderkey
      AND o.o_custkey = c.c_custkey
      AND c.c_nationkey = n.n_nationkey
      AND n.n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l1.l_orderkey = l2.l_orderkey
                    AND l1.l_suppkey <> l2.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l1.l_orderkey = l3.l_orderkey
                        AND l3.l_returnflag = 'R')
    """,
    doc="TPC-DS q94 shape (60-day ship window, one state, orders "
        "shipped from >1 warehouse with NO web_returns row — q94.sql; "
        "the EXISTS arm correlates on order+warehouse inequality, the "
        "NOT EXISTS on returns): semi + anti join on the same key, "
        "count(DISTINCT)+sums on the survivors.  Both subqueries "
        "shuffle on l_orderkey once under AQE.",
    tags=("tpcds",),
)

# q99 shape: order→ship latency buckets (30/60/90/120/120+) counted per
# (warehouse-prefix, ship-mode, call-center) triple.
_Q99_TEXT = """
    SELECT substr(s_name, 1, 20) AS warehouse_prefix,
           l_returnflag AS sm_type,
           o_orderpriority AS cc_name,
           CAST(sum(CASE WHEN {d} <= 30 THEN 1 ELSE 0 END)
                AS BIGINT) AS d_30,
           CAST(sum(CASE WHEN {d} > 30 AND {d} <= 60 THEN 1 ELSE 0 END)
                AS BIGINT) AS d_31_60,
           CAST(sum(CASE WHEN {d} > 60 AND {d} <= 90 THEN 1 ELSE 0 END)
                AS BIGINT) AS d_61_90,
           CAST(sum(CASE WHEN {d} > 90 AND {d} <= 120 THEN 1 ELSE 0 END)
                AS BIGINT) AS d_91_120,
           CAST(sum(CASE WHEN {d} > 120 THEN 1 ELSE 0 END)
                AS BIGINT) AS d_over_120
    FROM lineitem, orders, supplier
    WHERE l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND year(o_orderdate) = 1996
    GROUP BY substr(s_name, 1, 20), l_returnflag, o_orderpriority
    ORDER BY warehouse_prefix, sm_type, cc_name
"""

dual_sql_query(
    "tpcds_q99_ship_latency_buckets",
    _Q99_TEXT.format(d="datediff(l_shipdate, o_orderdate)"),
    _Q99_TEXT.format(d="datediff('day', o_orderdate, l_shipdate)"),
    doc="TPC-DS q99 shape (catalog-sales shipping latency bucketed "
        "30/60/90/120/120+ days, counted per warehouse×ship_mode×"
        "call_center — q99.sql): order→ship days plays the "
        "sold→ship latency; supplier/returnflag/priority play the "
        "three grouping dims.  One fact pass, five conditional "
        "partial counts, single group-by shuffle.  Dual text only "
        "for datediff argument order.",
    tags=("tpcds",),
)
