"""Modern SQL-surface operators (SURVEY.md §2.12, round 8 continued).

Four Spark-4 SQL forms a user migrating real warehouse scripts hits
early, none previously exercised by the catalog/DDL family:

- ``SELECT * EXCEPT (...)`` — projection by exclusion (the wide-table
  idiom: drop the PII / join-key columns, keep the other 200).
- SQL scripting ``REPEAT ... UNTIL`` — a data-dependent loop (the
  WHILE op, functions/scalar.py:1262, runs a FIXED 6 iterations; here
  the iteration count is decided by the data, so a wrong loop body
  changes the row's values, not just a factor).
- SQL scripting ``FOR r AS <query> DO`` — cursor-style iteration over
  an ordered result set with cross-row state (chained year-over-year
  growth), the scripting form that replaces client-side fetch loops.
- ``VALUES`` inline relation — literal dimension tables joined against
  facts (priority -> SLA-weight lookup) without any file or view.

Oracle discipline: the scripting loops round every float update to
6 dp on BOTH sides (compat rule 3), so DuckDB's recursive-CTE replay
of the identical recurrence is bit-stable; everything else uses the
exact-decimal-sum templates.

Scale notes: loop state is a handful of session-variable scalars —
the only distributed work is the one aggregate that seeds them (and
in the FOR op, the per-year aggregate it iterates over: 7 rows). The
star-except and VALUES ops are a pure projection and a broadcast-able
literal-dim join; nothing here shuffles more than once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import dsum_sql
from ..session import session_conf
from ..sources.tables import load_table

QUERIES: dict = {}
ORACLE: dict = {}


def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT * EXCEPT (cols)``: customer joined to nation, then the
    join keys and free-text name dropped by exclusion rather than by
    enumerating survivors. The driver's schema compare IS the check —
    a silently-ignored EXCEPT would surface the dropped columns (or a
    wrong EXCEPT would drop the wrong ones) and mismatch before any
    value is hashed. Rows pass through unaggregated so the projection
    itself is what's graded."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "sx_customer"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("sx_nation")
    return spark.sql(
        """
        SELECT * EXCEPT (c_name, c_nationkey, n_nationkey, n_regionkey)
        FROM sx_customer JOIN sx_nation ON c_nationkey = n_nationkey
        """
    ).select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_acctbal",
        "c_mktsegment",
        "n_name",
    )


_STAR_EXCEPT_SQL = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_acctbal, c_mktsegment, n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""

QUERIES["sql_star_except"] = sql_star_except
ORACLE["sql_star_except"] = _STAR_EXCEPT_SQL


def sql_scripting_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting REPEAT/UNTIL with a data-dependent trip count: a
    sinking-fund projection. One aggregate seeds two scalars (monthly
    contribution = total revenue / 84 months, target = 35% of total),
    then the loop compounds ``bal = round(bal * 1.02 + monthly, 6)``
    until the target is reached. The emitted row carries the number of
    periods AND the terminal balance, so an off-by-one loop (check
    before vs after the body — REPEAT is do-while) flips both values.

    Oracle: DuckDB replays the identical recurrence as a recursive CTE
    on identically-rounded seeds; exactly one generated row satisfies
    ``bal >= target`` (generation stops there), and its index equals
    the REPEAT body's execution count."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rep_orders")
    # The script is parsed and run inside spark.sql(), so the flag can
    # be restored before the caller collects.
    with session_conf(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
BEGIN
  DECLARE total DOUBLE;
  DECLARE monthly DOUBLE;
  DECLARE target DOUBLE;
  DECLARE bal DOUBLE = 0.0;
  DECLARE i BIGINT = 0;
  SET total = (
    SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
    FROM rep_orders);
  SET monthly = round(total / 84.0, 6);
  SET target = round(total * 0.35, 6);
  REPEAT
    SET bal = round(bal * 1.02 + monthly, 6);
    SET i = i + 1;
  UNTIL bal >= target END REPEAT;
  SELECT i AS n_periods, bal AS terminal_balance,
         monthly AS monthly_contribution, target AS target_balance;
END
"""
        )


_REPEAT_SQL = f"""
WITH seed AS (
  SELECT round({dsum_sql('o_totalprice')} / 84.0, 6) AS monthly,
         round({dsum_sql('o_totalprice')} * 0.35, 6) AS target
  FROM orders
), sim AS (
  WITH RECURSIVE s(i, bal) AS (
    SELECT CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
    UNION ALL
    SELECT i + 1, round(bal * 1.02 + (SELECT monthly FROM seed), 6)
    FROM s WHERE bal < (SELECT target FROM seed)
  )
  SELECT i, bal FROM s WHERE bal >= (SELECT target FROM seed)
)
SELECT CAST(sim.i AS BIGINT) AS n_periods,
       sim.bal AS terminal_balance,
       seed.monthly AS monthly_contribution,
       seed.target AS target_balance
FROM sim, seed
"""

QUERIES["sql_scripting_repeat"] = sql_scripting_repeat
ORACLE["sql_scripting_repeat"] = _REPEAT_SQL


def sql_scripting_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting FOR-cursor: iterate the per-year revenue series in
    year order, chaining round(curr/prev, 6) growth links into a
    compounded index (round(chain * link, 6) each step) — the pattern
    that replaces a client-side fetchall loop. The telescoped product
    does NOT equal last/first because every link is rounded before it
    compounds, so the oracle must replay the chain, not shortcut it.

    Oracle: recursive CTE over the ordered year list applying the
    identical two-level rounding."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("for_orders")
    # The script is parsed and run inside spark.sql(), so the flag can
    # be restored before the caller collects.
    with session_conf(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
BEGIN
  DECLARE n_years BIGINT = 0;
  DECLARE prev DOUBLE = 0.0;
  DECLARE chain DOUBLE = 1.0;
  DECLARE last_year BIGINT = 0;
  FOR r AS
    SELECT year(o_orderdate) AS y,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS rev
    FROM for_orders GROUP BY year(o_orderdate) ORDER BY y
  DO
    IF prev > 0.0 THEN
      SET chain = round(chain * round(r.rev / prev, 6), 6);
    END IF;
    SET prev = r.rev;
    SET n_years = n_years + 1;
    SET last_year = r.y;
  END FOR;
  SELECT n_years, chain AS compounded_index, last_year;
END
"""
        )


_FOR_SQL = """
WITH yr0 AS (
  SELECT CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS y,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
), yr AS (
  SELECT y, rev,
         CAST(ROW_NUMBER() OVER (ORDER BY y) AS BIGINT) AS rn
  FROM yr0
), walk AS (
  WITH RECURSIVE w(rn, chain, prev) AS (
    SELECT rn, CAST(1.0 AS DOUBLE), rev FROM yr WHERE rn = 1
    UNION ALL
    SELECT yr.rn,
           round(w.chain * round(yr.rev / w.prev, 6), 6),
           yr.rev
    FROM w JOIN yr ON yr.rn = w.rn + 1
  )
  SELECT chain FROM w ORDER BY rn DESC LIMIT 1
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM yr) AS n_years,
       walk.chain AS compounded_index,
       (SELECT MAX(y) FROM yr) AS last_year
FROM walk
"""

QUERIES["sql_scripting_for"] = sql_scripting_for
ORACLE["sql_scripting_for"] = _FOR_SQL


def sql_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES relation as a literal dimension: an order-priority
    -> SLA-weight lookup declared in the query text itself, joined to
    orders (weights chosen non-uniform so a mis-joined row changes the
    weighted sum). The lookup deliberately omits '4-NOT SPECIFIED' so
    the LEFT join + COALESCE(weight, 1.0) default path is exercised,
    not just declared. At scale the literal relation is a 4-row
    broadcast — the join adds no exchange on the fact side."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("val_orders")
    return spark.sql(
        """
        SELECT COALESCE(w.weight, 1.0) AS sla_weight,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice * COALESCE(w.weight, 1.0)
                 AS DECIMAL(30,6))) AS DOUBLE) AS weighted_revenue
        FROM val_orders o
        LEFT JOIN VALUES ('1-URGENT', 4.0), ('2-HIGH', 2.5),
                         ('3-MEDIUM', 1.5), ('5-LOW', 0.5)
          AS w(priority, weight) ON o.o_orderpriority = w.priority
        GROUP BY COALESCE(w.weight, 1.0)
        """
    )


_VALUES_SQL = """
WITH w(priority, weight) AS (
  VALUES ('1-URGENT', 4.0), ('2-HIGH', 2.5), ('3-MEDIUM', 1.5),
         ('5-LOW', 0.5)
)
SELECT COALESCE(w.weight, 1.0) AS sla_weight,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice * COALESCE(w.weight, 1.0)
         AS DECIMAL(30,6))) AS DOUBLE) AS weighted_revenue
FROM orders o LEFT JOIN w ON o.o_orderpriority = w.priority
GROUP BY 1
"""

QUERIES["sql_values_inline"] = sql_values_inline
ORACLE["sql_values_inline"] = _VALUES_SQL


def sql_tvf_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued ``range()`` in FROM as a dense spine: twelve price
    buckets LEFT-join the bucketed order histogram so EMPTY buckets
    surface as zero rows — the gap-free-axis idiom (a bare GROUP BY
    silently drops empty buckets; the TVF spine is how you keep them).
    Identical text runs on DuckDB (`range(0,12) t(b)` works in both).
    The spine is 12 rows — broadcast side of the join at any SF."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("tvf_orders")
    return spark.sql(_TVF_RANGE_SQL.format(orders="tvf_orders"))


_TVF_RANGE_SQL = """
SELECT CAST(t.b AS BIGINT) AS bucket,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(h.rev, 0.0) AS DOUBLE) AS revenue
FROM range(0, 12) t(b)
LEFT JOIN (
  SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS rev
  FROM {orders} GROUP BY 1) h ON h.b = t.b
"""

QUERIES["sql_tvf_range"] = sql_tvf_range
ORACLE["sql_tvf_range"] = _TVF_RANGE_SQL.format(orders="orders")


def sql_pivot_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT ... FOR ... IN clause and its UNPIVOT inverse as
    parser-level surfaces (agg_pivot/agg_unpivot cover the DataFrame
    API; warehouse SQL scripts use the clauses): revenue pivots to one
    column per order status, then unpivots straight back to long form
    — the composition must be the identity on the (priority, status)
    aggregate. Sums ride DECIMAL inside the pivot cell (exact) and
    cast to double at the cell boundary."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("pvt_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, status, revenue
        FROM (
          SELECT * FROM (
            SELECT o_orderpriority, o_orderstatus,
                   CAST(o_totalprice AS DECIMAL(30,6)) AS v
            FROM pvt_orders)
          PIVOT (CAST(SUM(v) AS DOUBLE)
                 FOR o_orderstatus IN ('O' AS st_o, 'F' AS st_f, 'P' AS st_p))
        )
        UNPIVOT (revenue FOR status IN (st_o AS `O`, st_f AS `F`,
                                        st_p AS `P`))
        """
    )


_PIVOT_CLAUSE_SQL = """
SELECT o_orderpriority, o_orderstatus AS status,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM orders GROUP BY 1, 2
"""

QUERIES["sql_pivot_unpivot_clause"] = sql_pivot_unpivot_clause
ORACLE["sql_pivot_unpivot_clause"] = _PIVOT_CLAUSE_SQL


# Named-window text shared verbatim by both engines (DuckDB supports
# the WINDOW clause): three analytics reuse two named windows.
_NAMED_WINDOW_SQL = """
WITH cell AS (
  SELECT o_orderpriority AS pri, o_orderstatus AS st,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS rev
  FROM {orders} GROUP BY 1, 2)
SELECT pri, st, rev,
       CAST(ROW_NUMBER() OVER w_rank AS BIGINT) AS rnk,
       round(rev / SUM(rev) OVER w_status, 6) AS share_of_status,
       round(rev - AVG(rev) OVER w_status, 6) AS delta_vs_avg
FROM cell
WINDOW w_rank AS (PARTITION BY st ORDER BY rev DESC, pri),
       w_status AS (PARTITION BY st)
"""


def sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WINDOW clause (named, reused window specs): one ordered and
    one unordered window feed a rank, a share-of-total and a
    delta-vs-average — declared once, referenced three times, the way
    analysts de-duplicate OVER() blocks. The identical text runs on
    DuckDB. Note AVG here is over the 5 per-status cells (not raw
    rows), so the double mean is a fixed 5-term sum — deterministic
    without decimal help."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("nw_orders")
    return spark.sql(_NAMED_WINDOW_SQL.format(orders="nw_orders"))


QUERIES["sql_named_window"] = sql_named_window
ORACLE["sql_named_window"] = _NAMED_WINDOW_SQL.format(orders="orders")
