"""Query inventory: the SURVEY.md §2 conformance surface as (PSQL, oracle) pairs.

Every entry runs the SAME piped-SQL text through our Spark engine that a
reference user would write, and carries a DuckDB-ANSI oracle the driver
executes side-by-side (BASELINE.json t2 metric). Numeric results are
explicitly rounded/cast IN BOTH DIALECTS so value-hashes are
float-stable; every LIMIT is paired with a unique tie-breaking ORDER BY.

Float-stability rules (sums of doubles are accumulation-order-dependent,
and Spark rounds the shortest decimal repr while DuckDB multiplies then
rounds the binary value, so exact-boundary values flip):

* sums over the 2-decimal money grid → ``round(sum(x), 2)``: results stay
  on the cents grid, whose points are never on the .005 boundaries;
* sums of PRODUCT expressions (4/6-decimal grids at 1e7+ magnitudes,
  where fp noise exceeds the grid spacing) → scale each row to an exact
  integer first (``sum(cast(round(expr * 10^k, 0) as bigint))``) —
  per-row arithmetic is bit-identical in both engines, integer sums are
  exact;
* ratio/score columns → compare integer-scaled (``round(x*10000, 0)``):
  half-integers are binary-exact so both engines round them away from
  zero; fractional rounding of rationals is not reproducible;
* running/windowed sums are frame-ordered in both engines → same
  accumulation order → deterministic; group sums of arbitrary (non-grid)
  reals have measure-zero boundary risk and are left at round(x, 2).

Conventions:
* ``$SF`` in PSQL text is replaced by the sf directory path,
* oracle SQL references the driver's pre-registered DuckDB views
  (region nation customer supplier part orders lineitem events documents
  embeddings),
* column aliases match exactly between both dialects (driver sorts columns
  by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .session import PsqlSession

_SESSIONS: dict[int, PsqlSession] = {}


def _psql(spark: SparkSession) -> PsqlSession:
    key = id(spark)
    cached = _SESSIONS.get(key)
    # identity check guards against id() reuse after a session is stopped
    # and garbage-collected (stale resolver caches bound to a dead context)
    if cached is not None and cached.spark is spark:
        return cached
    session = PsqlSession(spark)
    _SESSIONS[key] = session
    return session


def _pipe(template: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _psql(spark).sql(template.replace("$SF", sf_dir))

    run.__doc__ = template
    return run


# ---------------------------------------------------------------------------
# (psql, oracle) pairs. oracle=None → rows-only check (non-SQL-expressible).
# ---------------------------------------------------------------------------

PAIRS: dict[str, tuple[str | Callable, str | None]] = {}


def _q(name: str, psql: str | Callable, oracle: str | None) -> None:
    # a dict would silently let a later registration shadow an earlier
    # one (bit round 7: a second q_columns_expr vanished without a trace)
    assert name not in PAIRS, f"duplicate inventory entry name: {name}"
    PAIRS[name] = (psql, oracle)


# --- aggregation / filter / sort / limit (SURVEY §2.B B3-B8, §2.C) --------

_q(
    "q01_pricing_summary",
    """
    from '$SF/lineitem.parquet' |>
    where l_shipdate <= date '2000-09-02' |>
    select
      l_returnflag,
      l_linestatus,
      cast(round(sum(l_quantity), 0) as bigint) as sum_qty,
      round(sum(l_extendedprice), 2) as sum_base_price,
      sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as sum_disc_price,
      sum(cast(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) as bigint)) as sum_charge,
      round(avg(l_quantity), 4) as avg_qty,
      round(avg(l_extendedprice), 4) as avg_price,
      round(avg(l_discount), 4) as avg_disc,
      count() as count_order
      group by l_returnflag, l_linestatus |>
    order by l_returnflag, l_linestatus
    """,
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(l_quantity), 0) AS BIGINT) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_disc_price,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) AS BIGINT)) AS BIGINT) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

_q(
    "q03_shipping_priority",
    """
    from '$SF/customer.parquet' |>
    where c_mktsegment = 'BUILDING' |>
    as c join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey |>
    as co join '$SF/lineitem.parquet' as l on co.o_orderkey = l.l_orderkey |>
    select
      l_orderkey,
      sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as revenue,
      o_orderdate,
      o_orderpriority
      group by l_orderkey, o_orderdate, o_orderpriority |>
    order by revenue desc, l_orderkey |>
    limit 10
    """,
    """
    SELECT l_orderkey,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)

_q(
    "q05_nation_volume",
    """
    from '$SF/region.parquet' |>
    as r join '$SF/nation.parquet' as n on r.r_regionkey = n.n_regionkey |>
    as rn join '$SF/supplier.parquet' as s on rn.n_nationkey = s.s_nationkey |>
    as rns join '$SF/lineitem.parquet' as l on rns.s_suppkey = l.l_suppkey |>
    as rnsl join '$SF/orders.parquet' as o on rnsl.l_orderkey = o.o_orderkey |>
    select
      r_name,
      n_name,
      sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as revenue,
      count() as n_items
      group by r_name, n_name |>
    order by revenue desc, n_name
    """,
    """
    SELECT r_name, n_name,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue,
           count(*) AS n_items
    FROM region
    JOIN nation ON r_regionkey = n_regionkey
    JOIN supplier ON n_nationkey = s_nationkey
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY r_name, n_name
    ORDER BY revenue DESC, n_name
    """,
)

_q(
    "q06_revenue_forecast",
    """
    from '$SF/lineitem.parquet' |>
    where l_shipdate >= date '1996-01-01' |>
    where l_shipdate < date '1997-01-01' |>
    where l_discount between 0.03 and 0.07 |>
    where l_quantity < 24 |>
    select sum(cast(round(l_extendedprice * l_discount * 10000, 0) as bigint)) as revenue, count() as n_rows
    """,
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue, count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """,
)

_q(
    "q09_profit_by_nation",
    """
    from '$SF/part.parquet' |>
    where p_name like '%a%' |>
    as p join '$SF/lineitem.parquet' as l on p.p_partkey = l.l_partkey |>
    as pl join '$SF/supplier.parquet' as s on pl.l_suppkey = s.s_suppkey |>
    as pls join '$SF/orders.parquet' as o on pls.l_orderkey = o.o_orderkey |>
    as plso join '$SF/nation.parquet' as n on plso.s_nationkey = n.n_nationkey |>
    select n_name as supp_nation, extract(year from o_orderdate) as o_year,
      sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as profit,
      count() as n_items
      group by supp_nation, o_year |>
    order by supp_nation, o_year desc
    """,
    """
    SELECT n_name AS supp_nation, extract(year FROM o_orderdate) AS o_year,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS profit,
           count(*) AS n_items
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%a%'
    GROUP BY supp_nation, o_year
    ORDER BY supp_nation, o_year DESC
    """,
)

_q(
    "q_topk_orders",
    """
    from '$SF/orders.parquet' |>
    order by o_totalprice desc, o_orderkey |>
    limit 25 |>
    select o_orderkey, o_custkey, round(o_totalprice, 2) as price, o_orderpriority
    """,
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price, o_orderpriority
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)

_q(
    "q_lateral_alias",
    """
    from '$SF/orders.parquet' |>
    select *, 0.02 * o_totalprice as fee, o_totalprice - fee as net |>
    where net > 1000 |>
    select o_orderstatus, sum(cast(round(net * 10000, 0) as bigint)) as sum_net, count() as n
      group by o_orderstatus |>
    order by o_orderstatus
    """,
    """
    SELECT o_orderstatus, CAST(sum(CAST(round(net * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_net, count(*) AS n
    FROM (SELECT *, 0.02 * o_totalprice AS fee, o_totalprice - fee AS net FROM orders)
    WHERE net > 1000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)

_q(
    "q_string_ops",
    """
    from '$SF/customer.parquet' |>
    select
      c_custkey,
      upper(c_name) || '/' || c_mktsegment as tag,
      substr(c_name, 1, 8) as prefix,
      length(c_name) as name_len |>
    where name_len > 8 |>
    order by c_custkey |>
    limit 50
    """,
    """
    SELECT c_custkey,
           upper(c_name) || '/' || c_mktsegment AS tag,
           substr(c_name, 1, 8) AS prefix,
           length(c_name) AS name_len
    FROM customer
    WHERE length(c_name) > 8
    ORDER BY c_custkey LIMIT 50
    """,
)

# --- windows / qualify (SURVEY §2.C Window functions) ----------------------

_q(
    "q_window_rank",
    """
    from '$SF/orders.parquet' |>
    select
      o_custkey, o_orderkey, round(o_totalprice, 2) as price,
      row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey) as rk |>
    where rk <= 3 |>
    order by o_custkey, rk
    """,
    """
    SELECT o_custkey, o_orderkey, price, rk
    FROM (SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
                 row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders)
    WHERE rk <= 3 ORDER BY o_custkey, rk
    """,
)

_q(
    "q_qualify",
    """
    from '$SF/orders.parquet' |>
    select o_custkey, o_orderkey, o_orderdate
      qualify row_number() over (partition by o_custkey order by o_orderdate, o_orderkey) = 1 |>
    order by o_custkey
    """,
    """
    SELECT o_custkey, o_orderkey, o_orderdate
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
    ORDER BY o_custkey
    """,
)

_q(
    "q_window_running",
    """
    from '$SF/orders.parquet' |>
    select
      o_custkey, o_orderkey,
      round(sum(o_totalprice) over (partition by o_custkey order by o_orderdate, o_orderkey
            rows between unbounded preceding and current row), 2) as running_spend |>
    order by o_custkey, o_orderkey |>
    limit 200
    """,
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders ORDER BY o_custkey, o_orderkey LIMIT 200
    """,
)

_q(
    "q_window_lag",
    """
    from '$SF/events.parquet' |>
    where event_type = 'purchase' |>
    select
      user_id, event_id, value,
      round(value - lag(value, 1, 0.0) over (partition by user_id order by ts, event_id), 3) as delta |>
    order by user_id, event_id |>
    limit 500
    """,
    """
    SELECT user_id, event_id, value,
           round(value - lag(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id), 3) AS delta
    FROM events WHERE event_type = 'purchase'
    ORDER BY user_id, event_id LIMIT 500
    """,
)

# --- set operations (SURVEY §2.B B18, §2.C) --------------------------------

_q(
    "q_union_distinct",
    """
    with hi as (| from '$SF/customer.parquet' |> where c_acctbal > 9000 |> select c_custkey |),
         build as (| from '$SF/customer.parquet' |> where c_mktsegment = 'BUILDING' |> select c_custkey |)
    from hi union from build
    """,
    """
    SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)

_q(
    "q_except",
    """
    with buyers as (| from '$SF/orders.parquet' |> select o_custkey as c_custkey |)
    from '$SF/customer.parquet' |> select c_custkey |> except from buyers
    """,
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)

_q(
    "q_intersect",
    """
    with a as (| from '$SF/orders.parquet' |> where o_orderpriority = '1-URGENT' |> select o_custkey |),
         b as (| from '$SF/orders.parquet' |> where o_orderstatus = 'F' |> select o_custkey |)
    from a intersect from b
    """,
    """
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)

# --- join variants (SURVEY §2.C Joins) -------------------------------------

_q(
    "q_semi_join",
    """
    from '$SF/customer.parquet' |>
    as c semi join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey |>
    select c_custkey, c_name, round(c_acctbal, 2) as acctbal |>
    order by c_custkey
    """,
    """
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)

_q(
    "q_anti_join",
    """
    from '$SF/customer.parquet' |>
    as c anti join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey |>
    select c_custkey, c_name |>
    order by c_custkey
    """,
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)

_q(
    "q_left_join_nulls",
    """
    from '$SF/customer.parquet' |>
    as c left join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey |>
    select c_custkey, count(o_orderkey) as n_orders, round(coalesce(sum(o_totalprice), 0), 2) as spend
      group by c_custkey |>
    order by c_custkey
    """,
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c_custkey ORDER BY c_custkey
    """,
)

_q(
    "q_cross_join",
    """
    from '$SF/region.parquet' |>
    as r cross join (select distinct o_orderstatus from '$SF/orders.parquet') as s |>
    select r_name, o_orderstatus |>
    order by r_name, o_orderstatus
    """,
    """
    SELECT r_name, o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    ORDER BY r_name, o_orderstatus
    """,
)

_q(
    "q_using_join",
    """
    from '$SF/nation.parquet' |>
    select n_nationkey, n_name, n_regionkey as r_regionkey |>
    as n join '$SF/region.parquet' as r using (r_regionkey) |>
    select n_name, r_name |>
    order by n_name
    """,
    """
    SELECT n_name, r_name
    FROM (SELECT n_nationkey, n_name, n_regionkey AS r_regionkey FROM nation) n
    JOIN region r USING (r_regionkey)
    ORDER BY n_name
    """,
)

_q(
    "q_asof_join",
    """
    with v as (| from '$SF/events.parquet' |> where event_type = 'view' |> select user_id, event_id, ts, value |),
         p as (| from '$SF/events.parquet' |> where event_type = 'purchase' |> select user_id, ts, value |)
    from v |>
    as v asof join p as p on v.user_id = p.user_id and v.ts >= p.ts |>
    select event_id, user_id, value, round(value_r, 3) as last_purchase_value |>
    order by event_id
    """,
    """
    SELECT v.event_id, v.user_id, v.value, round(p.value, 3) AS last_purchase_value
    FROM (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'view') v
    ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id AND v.ts >= p.ts
    ORDER BY v.event_id
    """,
)

_q(
    "q_positional_join",
    """
    with a as (| from '$SF/nation.parquet' |> order by n_nationkey |> select n_nationkey, n_name |),
         b as (| from '$SF/nation.parquet' |> order by n_nationkey desc |> select n_nationkey as rev_key |)
    from a |> positional join b |> select n_nationkey, n_name, rev_key
    """,
    """
    SELECT n_nationkey, n_name, rev_key
    FROM (SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey) a
    POSITIONAL JOIN (SELECT n_nationkey AS rev_key FROM nation ORDER BY n_nationkey DESC) b
    """,
)

# --- grouping extensions / having / distinct -------------------------------

_q(
    "q_having",
    """
    from '$SF/orders.parquet' |>
    select o_custkey, count() as n_orders, round(sum(o_totalprice), 2) as spend
      group by o_custkey
      having count() > 12 |>
    order by o_custkey
    """,
    """
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
    FROM orders GROUP BY o_custkey HAVING count(*) > 12 ORDER BY o_custkey
    """,
)

_q(
    "q_rollup",
    """
    from '$SF/nation.parquet' |>
    as n join '$SF/supplier.parquet' as s on n.n_nationkey = s.s_nationkey |>
    select n_name, s_name, round(sum(s_acctbal), 2) as bal
      group by rollup(n_name, s_name) |>
    order by n_name nulls first, s_name nulls first
    """,
    """
    SELECT n_name, s_name, round(sum(s_acctbal), 2) AS bal
    FROM nation JOIN supplier ON n_nationkey = s_nationkey
    GROUP BY ROLLUP(n_name, s_name)
    ORDER BY n_name NULLS FIRST, s_name NULLS FIRST
    """,
)

_q(
    "q_grouping_sets",
    """
    from '$SF/orders.parquet' |>
    select o_orderstatus, o_orderpriority, count() as n
      group by grouping sets ((o_orderstatus), (o_orderpriority), ()) |>
    order by o_orderstatus nulls first, o_orderpriority nulls first
    """,
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)

_q(
    "q_distinct",
    """
    from '$SF/orders.parquet' |>
    select distinct o_orderstatus, o_orderpriority |>
    order by o_orderstatus, o_orderpriority
    """,
    """
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    ORDER BY o_orderstatus, o_orderpriority
    """,
)

_q(
    "q_null_ordering",
    # DuckDB sorts NULLS LAST on ASC by default; Spark NULLS FIRST — the
    # compiler injects the DuckDB default, which this top-k makes visible
    """
    from '$SF/customer.parquet' |>
    select c_custkey,
      case when c_acctbal < 0 then null else round(c_acctbal, 2) end as bal |>
    order by bal, c_custkey |>
    limit 30
    """,
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END AS bal
    FROM customer ORDER BY bal, c_custkey LIMIT 30
    """,
)

_q(
    "q_distinct_on",
    """
    from '$SF/orders.parquet' |>
    select distinct on (o_custkey) o_custkey, o_orderkey, o_orderdate
      order by o_custkey, o_orderdate, o_orderkey
    """,
    """
    SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate
    FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)

_q(
    "q_case_buckets",
    """
    from '$SF/orders.parquet' |>
    select
      case when o_totalprice < 50000 then 'small'
           when o_totalprice < 150000 then 'medium'
           else 'large' end as bucket,
      count() as n,
      round(avg(o_totalprice), 2) as avg_price
      group by bucket |>
    order by bucket
    """,
    """
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS bucket,
           count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
    FROM orders GROUP BY bucket ORDER BY bucket
    """,
)

_q(
    "q_date_trunc_monthly",
    """
    from '$SF/orders.parquet' |>
    select cast(date_trunc('month', o_orderdate) as timestamp) as month, count() as n_orders,
           round(sum(o_totalprice), 2) as revenue
      group by month |>
    order by month
    """,
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY month ORDER BY month
    """,
)

_q(
    "q_fn_tail_r7",
    # round-7 function-tail batch (probe-driven): product as an exact
    # collected-group double fold (the exp/ln form drifted in the last
    # ulps), Kahan-family favg/fsum -> double avg/sum, arbitrary(),
    # 2-arg regexp_extract_all (DuckDB extracts group 0; Spark's 2-arg
    # default is group 1), list_has_all via forall, and 1-based
    # generate_subscripts. All shims.py special forms.
    """
    from '$SF/nation.parquet' |>
    where n_nationkey < 12 |>
    select n_regionkey,
      round(product(n_nationkey + 1), 4) as prod,
      round(favg(n_nationkey), 6) as fa,
      round(fsum(n_nationkey * 0.5), 6) as fs,
      arbitrary(n_name order by n_nationkey) as first_name,
      count() as n
      group by n_regionkey |>
    as g join '$SF/region.parquet' as r on g.n_regionkey = r.r_regionkey |>
    select n_regionkey, prod, fa, fs, first_name, n,
      regexp_extract_all(r_name, '[AEIOU]') as vowels,
      list_has_all(['a','b','c'], ['b', lower(substring(r_name, 1, 1))]) as has_init |>
    order by n_regionkey
    """,
    """
    SELECT n_regionkey, prod, fa, fs, first_name, n,
      regexp_extract_all(r_name, '[AEIOU]') AS vowels,
      list_has_all(['a','b','c'], ['b', lower(substring(r_name, 1, 1))]) AS has_init
    FROM (
      SELECT n_regionkey,
        round(product(n_nationkey + 1), 4) AS prod,
        round(favg(n_nationkey), 6) AS fa,
        round(fsum(n_nationkey * 0.5), 6) AS fs,
        arbitrary(n_name ORDER BY n_nationkey) AS first_name,
        count(*) AS n
      FROM nation WHERE n_nationkey < 12 GROUP BY n_regionkey
    ) g JOIN region r ON g.n_regionkey = r.r_regionkey
    ORDER BY n_regionkey
    """,
)

_q(
    "q_columns_forms",
    # COLUMNS() expression expansion (round 7 closed the list and
    # lambda forms; regex/* existed — q_columns_expr covers those): the containing expression is
    # replicated per matched column and named after it, DuckDB-exact
    # (probe: even min(COLUMNS(...)) outputs keep the column names)
    """
    from '$SF/nation.parquet' |>
    select
      max(columns(['n_nationkey', 'n_regionkey'])),
      min(length(columns(c -> c like 'n_nam%')))
    """,
    """
    SELECT
      max(columns(['n_nationkey', 'n_regionkey'])),
      min(length(columns(c -> c like 'n_nam%')))
    FROM nation
    """,
)

_q(
    "q_distinct_on_plain",
    # plain (non-piped) SELECT DISTINCT ON — round-7: routed through the
    # same row_number rewrite the piped form uses (q_distinct_on)
    """
    select distinct on (o_orderstatus) o_orderstatus, o_orderkey, o_custkey
    from '$SF/orders.parquet'
    where o_orderkey < 2000
    order by o_orderstatus, o_totalprice desc, o_orderkey
    """,
    """
    SELECT DISTINCT ON (o_orderstatus) o_orderstatus, o_orderkey, o_custkey
    FROM orders WHERE o_orderkey < 2000
    ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey
    """,
)

_q(
    "q_trim_interval_parts",
    # round-7 dialect fixes in one entry: standard trim(BOTH x FROM y)
    # (the path resolver no longer hijacks the inner FROM), dynamic
    # interval (expr) unit -> make_interval, and list-form
    # date_part(['year','month'], d) -> named parts struct
    """
    from '$SF/orders.parquet' |>
    where o_orderkey < 50 |>
    select o_orderkey,
      trim(both 'x' from 'xx' || o_orderstatus || 'x') as t,
      ltrim('xx' || o_orderstatus, 'x') as lt,
      cast(o_orderdate + interval (o_orderkey % 5) day as timestamp) as shifted,
      (date_part(['year', 'month'], o_orderdate)).month as mth |>
    order by o_orderkey
    """,
    """
    SELECT o_orderkey,
      trim(BOTH 'x' FROM 'xx' || o_orderstatus || 'x') AS t,
      ltrim('xx' || o_orderstatus, 'x') AS lt,
      CAST(o_orderdate + interval (o_orderkey % 5) day AS TIMESTAMP) AS shifted,
      (date_part(['year', 'month'], o_orderdate)).month AS mth
    FROM orders WHERE o_orderkey < 50
    ORDER BY o_orderkey
    """,
)

_q(
    "q_read_funcs",
    # read_csv/read_parquet TABLE FUNCTIONS in plain (non-piped) SQL —
    # round 7 wired them through _frag (the piped head form already
    # worked); parquet_scan/read_ndjson aliases added. Fixed absolute
    # paths (the reference's own example CSV + the sf0.001 fixture) so
    # the SAME text runs on both engines — the oracle has no $SF
    # substitution.
    """
    select c.country, count(*) as n_customers, n.n_nations
    from read_csv('/root/reference/example/customers.csv', header=true) c
    join (select count(*) as n_nations, 1 as k
          from read_parquet('/root/testdata/sf0.001/nation.parquet')) n
      on 1 = n.k
    group by c.country, n.n_nations
    order by n_customers desc, c.country
    limit 5
    """,
    """
    SELECT c.country, count(*) AS n_customers, n.n_nations
    FROM read_csv('/root/reference/example/customers.csv', header=true) c
    JOIN (SELECT count(*) AS n_nations, 1 AS k
          FROM read_parquet('/root/testdata/sf0.001/nation.parquet')) n
      ON 1 = n.k
    GROUP BY c.country, n.n_nations
    ORDER BY n_customers DESC, c.country
    LIMIT 5
    """,
)

_q(
    "q_date_output",
    # DATE-typed output columns, differential-only (ADVICE r6): the
    # driver's hash canonicalizer kinds Spark DateType as object vs
    # DuckDB DATE as datetime64, so driver-window entries cast to
    # TIMESTAMP — but users produce DATE outputs constantly, and
    # scripts/check_correctness.py compares the Python date values
    # directly (Spark collect() and DuckDB fetchall() both yield
    # datetime.date), so this entry keeps real DATE coverage in the
    # full differential. Must stay OUT of _DRIVER_WINDOW.
    """
    from '$SF/orders.parquet' |>
    where o_orderdate < date '1996-01-01' |>
    select cast(date_trunc('month', o_orderdate) as date) as month_start,
           cast(min(o_orderdate) as date) as first_day,
           cast(max(o_orderdate) as date) as last_day,
           cast(date_trunc('month', o_orderdate) as date) + 14 as mid_month,
           count() as n
      group by month_start |>
    order by month_start
    """,
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(min(o_orderdate) AS DATE) AS first_day,
           CAST(max(o_orderdate) AS DATE) AS last_day,
           CAST(date_trunc('month', o_orderdate) AS DATE) + 14 AS mid_month,
           count(*) AS n
    FROM orders WHERE o_orderdate < DATE '1996-01-01'
    GROUP BY month_start ORDER BY month_start
    """,
)

_q(
    "q_json_extract",
    """
    from '$SF/events.parquet' |>
    select cast(json_extract_string(props, '$.k') as int) as k, count() as n,
           round(sum(value), 2) as sum_value
      group by k |>
    order by k
    """,
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY k ORDER BY k
    """,
)

_q(
    "q_time_bucket",
    """
    from '$SF/events.parquet' |>
    select time_bucket(interval '15 minutes', ts) as bucket, event_type,
           count() as n, round(sum(value), 2) as sum_value
      group by bucket, event_type |>
    order by bucket, event_type |>
    limit 200
    """,
    """
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY bucket, event_type
    ORDER BY bucket, event_type LIMIT 200
    """,
)

# --- pivot / unpivot (SURVEY §2.C Sampling/misc) ---------------------------

_q(
    "q_pivot",
    """
    from '$SF/orders.parquet' |>
    select o_orderpriority, o_orderstatus |>
    pivot (count(*) for o_orderstatus in ('F', 'O', 'P')) |>
    order by o_orderpriority
    """,
    """
    SELECT * FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
    PIVOT (count(*) FOR o_orderstatus IN ('F', 'O', 'P'))
    ORDER BY o_orderpriority
    """,
)

_q(
    "q_pivot_on",
    """
    from '$SF/orders.parquet' |>
    select o_orderpriority, o_orderstatus |>
    pivot on o_orderstatus using count(*) |>
    order by o_orderpriority
    """,
    """
    SELECT * FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
    PIVOT (count(*) FOR o_orderstatus IN ('F', 'O', 'P'))
    ORDER BY o_orderpriority
    """,
)

_q(
    "q_unpivot",
    """
    from '$SF/customer.parquet' |>
    select c_custkey,
           cast(round(c_acctbal * 100, 0) as bigint) as bal_cents,
           c_custkey * 10 as key10 |>
    unpivot (amount for metric in (bal_cents, key10)) |>
    order by c_custkey, metric
    """,
    """
    SELECT c_custkey, metric, amount
    FROM (SELECT c_custkey,
                 CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
                 c_custkey * 10 AS key10
          FROM customer)
    UNPIVOT (amount FOR metric IN (bal_cents, key10))
    ORDER BY c_custkey, metric
    """,
)

# --- explode / lambdas / string_agg / percentile ---------------------------

_q(
    "q_explode_words",
    """
    from '$SF/documents.parquet' |>
    where doc_id < 10 |>
    select doc_id, unnest(string_split(text, ' ')) as word |>
    where length(word) > 3 |>
    select word, count() as n group by word having count() > 1 |>
    order by n desc, word |>
    limit 30
    """,
    """
    SELECT word, count(*) AS n
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents WHERE doc_id < 10)
    WHERE length(word) > 3
    GROUP BY word HAVING count(*) > 1
    ORDER BY n DESC, word LIMIT 30
    """,
)

_q(
    "x_range_join",
    # interval/range join (charter custom-operator example): view→click
    # attribution within 5 minutes per user. The engine's plan is the
    # bucketized equi-join (operators/rangejoin.py) — never a nested
    # loop; the oracle is the plain inequality join.
    """
    from '$SF/events.parquet' |>
    where event_type = 'view' |>
    select event_id, user_id, ts |>
    range_join '$SF/events.parquet' lower=0 upper=300 by=user_id |>
    where event_type = 'click' |>
    select event_id as view_id, event_id_r as click_id |>
    order by view_id, click_id
    """,
    """
    SELECT v.event_id AS view_id, c.event_id AS click_id
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
    JOIN events c
      ON v.user_id = c.user_id
     AND c.ts BETWEEN v.ts AND v.ts + INTERVAL 300 SECONDS
    WHERE c.event_type = 'click'
    ORDER BY view_id, click_id
    """,
)

_q(
    "q_string_similarity",
    # DuckDB similarity functions Spark lacks, registered as pandas UDFs
    # (functions/pyfuncs.py): TRUE Damerau-Levenshtein + Jaro/Jaro-Winkler
    # with DuckDB's exact edge semantics (jaro('','')=0)
    """
    from '$SF/documents.parquet' |>
    where doc_id < 40 |>
    select doc_id,
      damerau_levenshtein(substring(text, 1, 12), substring(text, 3, 12)) as dl,
      cast(round(jaro_winkler_similarity(substring(text, 1, 20), substring(text, 2, 20)) * 10000, 0) as bigint) as jw_bp,
      cast(round(jaro_similarity(source, lang) * 10000, 0) as bigint) as js_bp |>
    order by doc_id
    """,
    """
    SELECT doc_id,
           damerau_levenshtein(substring(text, 1, 12), substring(text, 3, 12)) AS dl,
           CAST(round(jaro_winkler_similarity(substring(text, 1, 20), substring(text, 2, 20)) * 10000, 0) AS BIGINT) AS jw_bp,
           CAST(round(jaro_similarity(source, lang) * 10000, 0) AS BIGINT) AS js_bp
    FROM documents WHERE doc_id < 40
    ORDER BY doc_id
    """,
)

_q(
    "q_unnest_zip",
    # DuckDB zips parallel unnests in one SELECT positionally, padding the
    # shorter array with NULLs; the engine rewrites N>=2 unnests to
    # arrays_zip + one LATERAL VIEW explode (compiler._rewrite_parallel_unnest)
    """
    from '$SF/documents.parquet' |>
    where doc_id < 15 |>
    select doc_id,
      unnest(string_split(text, ' ')) as w1,
      unnest(string_split(text, 'e')) as w2 |>
    order by doc_id, w1 nulls first, w2 nulls first
    """,
    """
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w1,
           unnest(string_split(text, 'e')) AS w2
    FROM documents WHERE doc_id < 15
    ORDER BY doc_id, w1 NULLS FIRST, w2 NULLS FIRST
    """,
)

_q(
    "q_list_zip",
    # list_zip zipped-struct FIELD ACCESS — the r4-era "names diverge"
    # gap (SURVEY §8.2) closed by the shims list_zip special form.
    # DuckDB 1.4.0 types list_zip output as an UNNAMED struct list
    # (typeof = STRUCT(T,U)[]) whose only field access is the numeric
    # struct_extract(s, k); the engine's positional col1..colN names +
    # the numeric struct_extract shim make the same text run on both.
    # Also exercised: NULL-list padding (DuckDB pads a NULL list like an
    # empty one; arrays_zip alone would null-propagate) and the trailing
    # truncate flag. VERDICT r6 next-round item 6.
    """
    from '$SF/documents.parquet' |>
    where doc_id < 25 |>
    select doc_id,
      list_zip(string_split(text, ' '), string_split(text, 'e')) as z,
      list_zip(case when doc_id % 5 = 0 then NULL
               else string_split(text, ' ') end, [doc_id, doc_id]) as zn,
      list_zip(string_split(text, ' '), [doc_id], true) as zt |>
    select doc_id,
      len(z) as n_pairs,
      struct_extract(z[1], 1) as first_word,
      struct_extract(z[1], 2) as first_e_chunk,
      len(zn) as n_padded,
      struct_extract(zn[1], 1) as maybe_word,
      struct_extract(zn[1], 2) as zn_id,
      len(zt) as n_trunc |>
    order by doc_id
    """,
    """
    SELECT doc_id,
      len(z) AS n_pairs,
      struct_extract(z[1], 1) AS first_word,
      struct_extract(z[1], 2) AS first_e_chunk,
      len(zn) AS n_padded,
      struct_extract(zn[1], 1) AS maybe_word,
      struct_extract(zn[1], 2) AS zn_id,
      len(zt) AS n_trunc
    FROM (
      SELECT doc_id,
        list_zip(string_split(text, ' '), string_split(text, 'e')) AS z,
        list_zip(CASE WHEN doc_id % 5 = 0 THEN NULL
                 ELSE string_split(text, ' ') END, [doc_id, doc_id]) AS zn,
        list_zip(string_split(text, ' '), [doc_id], true) AS zt
      FROM documents WHERE doc_id < 25
    )
    ORDER BY doc_id
    """,
)

_q(
    "q_array_lambda",
    """
    from '$SF/documents.parquet' |>
    where doc_id < 25 |>
    select doc_id,
      array_to_string(list_transform(string_split(text, ' '), w -> length(w)), ',') as word_lens,
      array_length(list_filter(string_split(text, ' '), w -> length(w) > 4)) as n_long |>
    order by doc_id
    """,
    # list columns are stringified in BOTH dialects: the driver's
    # canonicalizer sorts pandas values and list cells are unhashable
    """
    SELECT doc_id,
           array_to_string(list_transform(string_split(text, ' '), w -> length(w)), ',') AS word_lens,
           len(list_filter(string_split(text, ' '), w -> length(w) > 4)) AS n_long
    FROM documents WHERE doc_id < 25 ORDER BY doc_id
    """,
)

_q(
    # latent duplicate found by the _q guard (round 7): this entry had
    # been registered under q_string_similarity, silently SHADOWING the
    # damerau/jaro UDF entry above since it was added — renamed to what
    # it actually tests (bracket slicing over split arrays)
    "q_string_slice",
    """
    from '$SF/documents.parquet' |>
    where doc_id < 20 |>
    select doc_id,
      string_split(text, ' ')[1] as first_word,
      array_to_string(string_split(text, ' ')[2:3], ' ') as next_two,
      array_length(string_split(text, ' ')) as n |>
    order by doc_id
    """,
    # slice output stringified in BOTH dialects (driver canonicalizer
    # cannot hash list cells); the bracket-slice itself is still exercised
    """
    SELECT doc_id,
           string_split(text, ' ')[1] AS first_word,
           array_to_string(string_split(text, ' ')[2:3], ' ') AS next_two,
           len(string_split(text, ' ')) AS n
    FROM documents WHERE doc_id < 20 ORDER BY doc_id
    """,
)

_q(
    "q_string_agg",
    """
    from '$SF/nation.parquet' |>
    as n join '$SF/region.parquet' as r on n.n_regionkey = r.r_regionkey |>
    select r_name, string_agg(n_name, ',' order by n_name) as nations
      group by r_name |>
    order by r_name
    """,
    """
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
)

_q(
    "q_percentile",
    """
    from '$SF/orders.parquet' |>
    select o_orderstatus,
      round(quantile_cont(o_totalprice, 0.5), 2) as p50,
      round(quantile_cont(o_totalprice, 0.9), 2) as p90,
      round(median(o_totalprice), 2) as med,
      count() as n
      group by o_orderstatus |>
    order by o_orderstatus
    """,
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
           round(median(o_totalprice), 2) AS med,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)


_q(
    "q_percentile_decimal",
    # decimal-literal quantile inputs (VERDICT r5 gap 2): `x * 1.0` types
    # DECIMAL in both engines; DuckDB then computes a DISCRETE median and
    # scale-quantized quantile_cont on it, while Spark interpolates. The
    # engine pins the DOUBLE-input convention (functions/shims.py: median/
    # quantile_cont args cast to double), so the continuous-quantile
    # semantics hold regardless of literal typing; the oracle states the
    # same convention explicitly.
    """
    from '$SF/orders.parquet' |>
    select o_orderstatus,
      round(median(o_totalprice * 1.0), 2) as med,
      round(quantile_cont(o_totalprice * 1.0, 0.25), 2) as p25,
      count() as n
      group by o_orderstatus |>
    order by o_orderstatus
    """,
    """
    SELECT o_orderstatus,
           round(median(CAST(o_totalprice * 1.0 AS DOUBLE)), 2) AS med,
           round(quantile_cont(CAST(o_totalprice * 1.0 AS DOUBLE), 0.25), 2) AS p25,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)

# --- more join shapes / grouping -------------------------------------------

_q(
    "q_full_outer",
    """
    with f as (| from '$SF/orders.parquet' |> where o_orderstatus = 'F' |>
               select o_custkey as ck_f, count() as n_f group by ck_f |),
         p as (| from '$SF/orders.parquet' |> where o_orderstatus = 'P' |>
               select o_custkey as ck_p, count() as n_p group by ck_p |)
    from f |>
    as f full join p as p on f.ck_f = p.ck_p |>
    select coalesce(ck_f, ck_p) as ck, coalesce(n_f, 0) as n_f, coalesce(n_p, 0) as n_p |>
    order by ck
    """,
    """
    WITH f AS (SELECT o_custkey AS ck_f, count(*) AS n_f FROM orders
               WHERE o_orderstatus = 'F' GROUP BY ck_f),
         p AS (SELECT o_custkey AS ck_p, count(*) AS n_p FROM orders
               WHERE o_orderstatus = 'P' GROUP BY ck_p)
    SELECT coalesce(ck_f, ck_p) AS ck, coalesce(n_f, 0) AS n_f, coalesce(n_p, 0) AS n_p
    FROM f FULL JOIN p ON f.ck_f = p.ck_p
    ORDER BY ck
    """,
)

_q(
    "q_cube",
    """
    from '$SF/lineitem.parquet' |>
    select l_returnflag, l_linestatus, round(sum(l_quantity), 2) as qty, count() as n
      group by cube(l_returnflag, l_linestatus) |>
    order by l_returnflag nulls first, l_linestatus nulls first
    """,
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS qty, count(*) AS n
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)

_q(
    "q_window_ntile",
    """
    from '$SF/supplier.parquet' |>
    select s_suppkey, s_nationkey,
      ntile(4) over w as quartile,
      lead(s_suppkey, 1) over w as next_key,
      first_value(s_suppkey) over w as top_key
      window w as (partition by s_nationkey order by s_acctbal desc, s_suppkey) |>
    order by s_suppkey
    """,
    """
    SELECT s_suppkey, s_nationkey,
           ntile(4) OVER w AS quartile,
           lead(s_suppkey, 1) OVER w AS next_key,
           first_value(s_suppkey) OVER w AS top_key
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    ORDER BY s_suppkey
    """,
)

_q(
    "q_date_extract",
    """
    from '$SF/orders.parquet' |>
    select extract(year from o_orderdate) as yr,
           strftime(o_orderdate, '%Y-%m') as ym,
           count() as n
      group by yr, ym |>
    order by ym
    """,
    """
    SELECT extract(year FROM o_orderdate) AS yr,
           strftime(o_orderdate, '%Y-%m') AS ym,
           count(*) AS n
    FROM orders GROUP BY yr, ym ORDER BY ym
    """,
)

_q(
    "q_values",
    """
    from (values (1, 'urgent'), (2, 'high'), (3, 'normal')) as prio(pid, pname) |>
    as prio join '$SF/orders.parquet' as o
      on prio.pid = cast(substr(o.o_orderpriority, 1, 1) as int) |>
    select pname, count() as n group by pname |>
    order by pname
    """,
    """
    SELECT pname, count(*) AS n
    FROM (VALUES (1, 'urgent'), (2, 'high'), (3, 'normal')) prio(pid, pname)
    JOIN orders o ON pid = CAST(substr(o.o_orderpriority, 1, 1) AS INT)
    GROUP BY pname ORDER BY pname
    """,
)

_q(
    # latent duplicate found by the _q guard (round 7): this LIKE/regexp
    # entry was mis-registered under x_jpeg_decode (and shadowed by the
    # real codec entry below) — renamed to what it tests
    "q_like_patterns",
    """
    from '$SF/part.parquet' |>
    select
      count() as n_total,
      sum(case when p_name like '%a%' then 1 else 0 end) as n_a,
      sum(case when p_type ilike '%BRASS%' then 1 else 0 end) as n_brass,
      sum(case when regexp_matches(p_name, '^[aeiou]') then 1 else 0 end) as n_vowel
    """,
    """
    SELECT count(*) AS n_total,
           CAST(sum(CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN p_type ILIKE '%BRASS%' THEN 1 ELSE 0 END) AS BIGINT) AS n_brass,
           CAST(sum(CASE WHEN regexp_matches(p_name, '^[aeiou]') THEN 1 ELSE 0 END) AS BIGINT) AS n_vowel
    FROM part
    """,
)

# --- subqueries ------------------------------------------------------------

_q(
    "q_exists_corr",
    """
    from '$SF/orders.parquet' |>
    where o_orderdate >= date '1996-01-01' |>
    where o_orderdate < date '1996-07-01' |>
    where exists (select 1 from '$SF/lineitem.parquet'
                  where l_orderkey = o_orderkey and l_quantity > 48) |>
    select o_orderpriority, count() as order_count group by o_orderpriority |>
    order by o_orderpriority
    """,
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 48)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)

_q(
    "q_not_in_subquery",
    """
    from '$SF/orders.parquet' |>
    where o_custkey not in (select c_custkey from '$SF/customer.parquet' where c_acctbal < 0) |>
    select count() as n_kept
    """,
    """
    SELECT count(*) AS n_kept FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """,
)

_q(
    "q_lateral_join",
    """
    from '$SF/region.parquet' |>
    as r cross join lateral (
      select n_name from '$SF/nation.parquet'
      where n_regionkey = r.r_regionkey
      order by n_name limit 2
    ) as top2 |>
    select r_name, n_name |>
    order by r_name, n_name
    """,
    """
    SELECT r_name, n_name
    FROM region r CROSS JOIN LATERAL (
      SELECT n_name FROM nation
      WHERE n_regionkey = r.r_regionkey
      ORDER BY n_name LIMIT 2
    ) top2
    ORDER BY r_name, n_name
    """,
)

_q(
    # latent duplicate found by the _q guard (round 7): this entry was
    # registered as q_unnest_zip, silently shadowing the real parallel-
    # unnest entry above — renamed to what it tests (generate_series as
    # a FROM-position table function)
    "q_series_from",
    """
    from generate_series(1, 50) |>
    select count() as n, sum(generate_series) as total,
           sum(case when generate_series % 2 = 0 then 1 else 0 end) as n_even
    """,
    """
    SELECT count(*) AS n, CAST(sum(generate_series) AS BIGINT) AS total,
           CAST(sum(CASE WHEN generate_series % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even
    FROM generate_series(1, 50)
    """,
)

_q(
    "q_recursive_cte",
    """
    with recursive t(n) as (
      select 1
      union all
      select n + 1 from t where n < 50
    )
    select count() as cnt, sum(n) as total from t
    """,
    """
    WITH RECURSIVE t(n) AS (
      SELECT 1
      UNION ALL
      SELECT n + 1 FROM t WHERE n < 50
    )
    SELECT count(*) AS cnt, CAST(sum(n) AS BIGINT) AS total FROM t
    """,
)

_q(
    "q_recursive_union_distinct",
    # round-9: the UNION-DISTINCT recursion form (semi-naive fixpoint,
    # compiler._try_recursive_union_cte) — the cyclic step terminates
    # through set semantics; seeded from nation so the fixpoint runs
    # over real data
    """
    with recursive r(x) as (
      select n_nationkey % 6 from '$SF/nation.parquet'
      union
      select (x * 2) % 11 from r
    )
    select x from r |> order by x
    """,
    """
    WITH RECURSIVE r(x) AS (
      SELECT n_nationkey % 6 FROM nation
      UNION
      SELECT (x * 2) % 11 FROM r
    )
    SELECT x FROM r ORDER BY x
    """,
)

_q(
    "q_corr_scalar_avg",
    """
    from '$SF/lineitem.parquet' |>
    as l1 where l_quantity < (select 0.5 * avg(l_quantity) from '$SF/lineitem.parquet' as l2
                              where l2.l_partkey = l1.l_partkey) |>
    select round(sum(l_extendedprice), 2) as small_lot_value, count() as n_rows
    """,
    """
    SELECT round(sum(l_extendedprice), 2) AS small_lot_value, count(*) AS n_rows
    FROM lineitem l1
    WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = l1.l_partkey)
    """,
)


_q(
    "q_in_subquery",
    """
    from '$SF/orders.parquet' |>
    where o_custkey in (select c_custkey from '$SF/customer.parquet' where c_acctbal > 9500) |>
    select o_orderkey, o_custkey, round(o_totalprice, 2) as price |>
    order by o_orderkey
    """,
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9500)
    ORDER BY o_orderkey
    """,
)

_q(
    "q_scalar_subquery",
    """
    from '$SF/customer.parquet' |>
    where c_acctbal > (select avg(c_acctbal) from '$SF/customer.parquet') |>
    select count() as n_above_avg
    """,
    """
    SELECT count(*) AS n_above_avg FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)

_q(
    "q_stats_aggs",
    """
    from '$SF/orders.parquet' |>
    select o_orderstatus,
      round(stddev(o_totalprice), 2) as sd,
      round(corr(o_custkey, o_totalprice), 4) as price_cust_corr,
      round(skewness(o_totalprice), 4) as skew,
      round(kurtosis(o_totalprice), 4) as kurt,
      round(regr_slope(o_totalprice, o_custkey), 4) as slope,
      count() as n
      group by o_orderstatus |>
    order by o_orderstatus
    """,
    """
    SELECT o_orderstatus,
           round(stddev(o_totalprice), 2) AS sd,
           round(corr(o_custkey, o_totalprice), 4) AS price_cust_corr,
           round(skewness(o_totalprice), 4) AS skew,
           round(kurtosis(o_totalprice), 4) AS kurt,
           round(regr_slope(o_totalprice, o_custkey), 4) AS slope,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)

_q(
    "q_ordered_aggs",
    """
    from '$SF/nation.parquet' |>
    as n join '$SF/region.parquet' as r on n.n_regionkey = r.r_regionkey |>
    select r_name,
      first(n_name order by n_nationkey) as first_nation,
      last(n_name order by n_nationkey) as last_nation,
      array_to_string(array_agg(n_nationkey order by n_nationkey), ',') as keys_asc,
      array_to_string(array_agg(n_name order by n_nationkey desc), ',') as names_desc
      group by r_name |>
    order by r_name
    """,
    # ordered array_agg stringified in BOTH dialects (driver canonicalizer
    # cannot hash list cells); the order-by-inside-agg is still exercised
    """
    SELECT r_name,
           first(n_name ORDER BY n_nationkey) AS first_nation,
           last(n_name ORDER BY n_nationkey) AS last_nation,
           array_to_string(array_agg(n_nationkey ORDER BY n_nationkey), ',') AS keys_asc,
           array_to_string(array_agg(n_name ORDER BY n_nationkey DESC), ',') AS names_desc
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
)

_q(
    "q_argmax",
    """
    from '$SF/orders.parquet' |>
    select o_orderstatus,
      arg_max(o_custkey, o_orderkey) as last_custkey,
      arg_min(o_custkey, o_orderkey) as first_custkey,
      max(o_orderkey) as max_key
      group by o_orderstatus |>
    order by o_orderstatus
    """,
    """
    SELECT o_orderstatus,
           arg_max(o_custkey, o_orderkey) AS last_custkey,
           arg_min(o_custkey, o_orderkey) AS first_custkey,
           max(o_orderkey) AS max_key
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)

_q(
    "q_bool_agg",
    """
    from '$SF/customer.parquet' |>
    select c_mktsegment,
      bool_and(c_acctbal > -1000) as all_above_floor,
      bool_or(c_acctbal > 9900) as any_rich,
      count() as n
      group by c_mktsegment |>
    order by c_mktsegment
    """,
    """
    SELECT c_mktsegment,
           bool_and(c_acctbal > -1000) AS all_above_floor,
           bool_or(c_acctbal > 9900) AS any_rich,
           count(*) AS n
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)

_q(
    "q_window_range_interval",
    """
    from '$SF/events.parquet' |>
    where user_id < 50 |>
    select event_id, user_id,
      round(sum(value) over (partition by user_id order by ts
            range between interval 1 hour preceding and current row), 2) as rolling_1h |>
    order by event_id
    """,
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 2) AS rolling_1h
    FROM events WHERE user_id < 50
    ORDER BY event_id
    """,
)

_q(
    "q_interval_arith",
    """
    from '$SF/orders.parquet' |>
    where o_orderdate + interval 30 day < date '1993-01-01' |>
    select count() as n_old,
           cast(min(o_orderdate + interval 1 day) as timestamp) as earliest_next
    """,
    """
    SELECT count(*) AS n_old,
           CAST(min(o_orderdate + INTERVAL 1 DAY) AS TIMESTAMP) AS earliest_next
    FROM orders WHERE o_orderdate + INTERVAL 30 DAY < DATE '1993-01-01'
    """,
)

_q(
    "q_setop_variants",
    """
    with a as (| from '$SF/nation.parquet' |> where n_regionkey < 3 |> select n_nationkey |),
         b as (| from '$SF/nation.parquet' |> where n_regionkey > 1 |> select n_nationkey |)
    from a |> union all from b |> intersect from a |> order by n_nationkey
    """,
    """
    SELECT * FROM (
      (SELECT n_nationkey FROM nation WHERE n_regionkey < 3
       UNION ALL
       SELECT n_nationkey FROM nation WHERE n_regionkey > 1)
      INTERSECT
      SELECT n_nationkey FROM nation WHERE n_regionkey < 3
    ) ORDER BY n_nationkey
    """,
)

_q(
    "q_min_cost_corr",
    """
    from '$SF/lineitem.parquet' |>
    as l1 where l_extendedprice = (select min(l_extendedprice) from '$SF/lineitem.parquet' as l2
                                   where l2.l_partkey = l1.l_partkey) |>
    select count() as n_cheapest, round(sum(l_extendedprice), 2) as total_min_price
    """,
    """
    SELECT count(*) AS n_cheapest, round(sum(l_extendedprice), 2) AS total_min_price
    FROM lineitem l1
    WHERE l_extendedprice = (SELECT min(l_extendedprice) FROM lineitem l2
                             WHERE l2.l_partkey = l1.l_partkey)
    """,
)

_q(
    "q_nation_trade_pairs",
    """
    from '$SF/supplier.parquet' |>
    as s join '$SF/lineitem.parquet' as l on s.s_suppkey = l.l_suppkey |>
    as sl join '$SF/orders.parquet' as o on sl.l_orderkey = o.o_orderkey |>
    as slo join '$SF/customer.parquet' as c on slo.o_custkey = c.c_custkey |>
    as sloc join '$SF/nation.parquet' as n1 on sloc.s_nationkey = n1.n_nationkey |>
    where l_shipdate >= date '1995-01-01' |>
    select n_name as supp_nation, c_nationkey as cust_nation_key,
      sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as volume,
      count() as n_items
      group by supp_nation, cust_nation_key |>
    order by volume desc, supp_nation, cust_nation_key |>
    limit 20
    """,
    """
    SELECT n1.n_name AS supp_nation, c_nationkey AS cust_nation_key,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS volume,
           count(*) AS n_items
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    WHERE l_shipdate >= DATE '1995-01-01'
    GROUP BY supp_nation, cust_nation_key
    ORDER BY volume DESC, supp_nation, cust_nation_key
    LIMIT 20
    """,
)

_q(
    "q10_returned_items",
    """
    from '$SF/customer.parquet' |>
    as c join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey |>
    as co join '$SF/lineitem.parquet' as l on co.o_orderkey = l.l_orderkey |>
    as col join '$SF/nation.parquet' as n on col.c_nationkey = n.n_nationkey |>
    where o_orderdate >= date '1996-10-01' |>
    where o_orderdate < date '1997-01-01' |>
    where l_returnflag = 'R' |>
    select c_custkey, c_name, n_name,
      sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as revenue
      group by c_custkey, c_name, n_name |>
    order by revenue desc, c_custkey |>
    limit 20
    """,
    """
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= DATE '1996-10-01' AND o_orderdate < DATE '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)

_q(
    "q12_priority_mix",
    # TPC-H Q12 shape on the slim schema: conditional priority counts per
    # lineitem status bucket (testdata has no l_shipmode/receiptdate)
    """
    from '$SF/lineitem.parquet' |>
    as l join '$SF/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    where l_shipdate >= date '1996-01-01' |>
    where l_shipdate < date '1997-01-01' |>
    select l_linestatus,
      sum(case when o_orderpriority in ('1-URGENT', '2-HIGH') then 1 else 0 end) as high_line_count,
      sum(case when o_orderpriority not in ('1-URGENT', '2-HIGH') then 1 else 0 end) as low_line_count
      group by l_linestatus |>
    order by l_linestatus
    """,
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)

_q(
    "q14_promo_share",
    # TPC-H Q14 shape: conditional revenue split by p_type prefix; the
    # ratio is left as two exact integer-scaled sums (float-stable)
    """
    from '$SF/lineitem.parquet' |>
    as l join '$SF/part.parquet' as p on l.l_partkey = p.p_partkey |>
    where l_shipdate >= date '1996-09-01' |>
    where l_shipdate < date '1996-10-01' |>
    select
      sum(case when p_type like 'PROMO%'
          then cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)
          else 0 end) as promo_revenue,
      sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as total_revenue,
      count() as n_rows
    """,
    """
    SELECT CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
               THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS promo_revenue,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS total_revenue,
           count(*) AS n_rows
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'
    """,
)

_q(
    "q19_disjunctive",
    # TPC-H Q19 shape: OR'd conjunct groups over a join — exercises
    # disjunctive predicate pushdown through the equi-join
    """
    from '$SF/lineitem.parquet' |>
    as l join '$SF/part.parquet' as p on l.l_partkey = p.p_partkey |>
    where (p_brand = 'Brand#12' and l_quantity between 1 and 11 and p_size between 1 and 5)
       or (p_brand = 'Brand#23' and l_quantity between 10 and 20 and p_size between 1 and 10)
       or (p_brand = 'Brand#34' and l_quantity between 20 and 30 and p_size between 1 and 15) |>
    select sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as revenue,
           count() as n_rows
    """,
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue,
           count(*) AS n_rows
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """,
)

_q(
    "q22_idle_customers",
    # TPC-H Q22 shape on the slim schema: key-suffix cohort in lieu of
    # phone country codes; avg-balance scalar subquery + NOT EXISTS
    """
    from '$SF/customer.parquet' |>
    as c where c_custkey % 10 in (1, 3, 5) |>
    where c_acctbal > (select avg(c_acctbal) from '$SF/customer.parquet' where c_acctbal > 0.0) |>
    where not exists (select 1 from '$SF/orders.parquet'
                      where o_custkey = c_custkey and o_orderdate >= date '2000-01-01') |>
    select c_custkey % 10 as cohort, count() as numcust,
      sum(cast(round(c_acctbal * 100, 0) as bigint)) as totacctbal_cents
      group by cohort |>
    order by cohort
    """,
    """
    SELECT c_custkey % 10 AS cohort, count(*) AS numcust,
           CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS totacctbal_cents
    FROM customer c
    WHERE c_custkey % 10 IN (1, 3, 5)
      AND c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderdate >= DATE '2000-01-01')
    GROUP BY cohort ORDER BY cohort
    """,
)

_q(
    "q_filter_clause",
    """
    from '$SF/orders.parquet' |>
    select o_orderstatus,
      count(*) filter (where o_orderpriority = '1-URGENT') as n_urgent,
      count(*) filter (where o_totalprice > 200000) as n_big,
      round(avg(o_totalprice) filter (where o_orderpriority = '5-LOW'), 2) as avg_low,
      count() as n
      group by o_orderstatus |>
    order by o_orderstatus
    """,
    """
    SELECT o_orderstatus,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
           count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           round(avg(o_totalprice) FILTER (WHERE o_orderpriority = '5-LOW'), 2) AS avg_low,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)

_q(
    "q_group_by_all",
    # DuckDB's GROUP BY ALL / ORDER BY ALL forms — native in Spark too
    """
    from '$SF/orders.parquet' |>
    select o_orderstatus, o_orderpriority, count() as n,
           round(sum(o_totalprice), 2) as total
      group by all |>
    order by all
    """,
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY ALL ORDER BY ALL
    """,
)

_q(
    "q_window_rank_family",
    """
    from '$SF/supplier.parquet' |>
    select s_suppkey, s_nationkey,
      rank() over w as rk,
      dense_rank() over w as drk,
      cast(round(percent_rank() over w * 10000, 0) as bigint) as pct_bp,
      cast(round(cume_dist() over w * 10000, 0) as bigint) as cume_bp
      window w as (partition by s_nationkey order by s_acctbal desc, s_suppkey) |>
    order by s_suppkey
    """,
    """
    SELECT s_suppkey, s_nationkey,
           rank() OVER w AS rk,
           dense_rank() OVER w AS drk,
           CAST(round(percent_rank() OVER w * 10000, 0) AS BIGINT) AS pct_bp,
           CAST(round(cume_dist() OVER w * 10000, 0) AS BIGINT) AS cume_bp
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    ORDER BY s_suppkey
    """,
)

_q(
    "q_ignore_nulls_ffill",
    # gap-fill / last-observation-carried-forward via IGNORE NULLS
    # (DuckDB's in-paren form is shimmed to Spark's postfix form)
    """
    from '$SF/customer.parquet' |>
    select c_custkey,
      last_value(case when c_acctbal > 5000 then c_custkey end ignore nulls)
        over (order by c_custkey rows between unbounded preceding and current row) as last_rich |>
    order by c_custkey |>
    limit 200
    """,
    """
    SELECT c_custkey,
           last_value(CASE WHEN c_acctbal > 5000 THEN c_custkey END IGNORE NULLS)
             OVER (ORDER BY c_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_rich
    FROM customer ORDER BY c_custkey LIMIT 200
    """,
)

_q(
    "q_columns_expr",
    # DuckDB COLUMNS('regex') star expression: the containing expression
    # replicates per matched column, outputs named after the column
    """
    from '$SF/lineitem.parquet' |>
    select l_returnflag, round(max(columns('^l_(quantity|tax|discount)$')), 3)
      group by l_returnflag |>
    order by l_returnflag
    """,
    """
    SELECT l_returnflag, round(max(COLUMNS('^l_(quantity|tax|discount)$')), 3)
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)

_q(
    "q_star_modifiers",
    """
    from '$SF/supplier.parquet' |>
    select * exclude (s_acctbal) replace (upper(s_name) as s_name) |>
    order by s_suppkey |>
    limit 40
    """,
    """
    SELECT * EXCLUDE (s_acctbal) REPLACE (upper(s_name) AS s_name)
    FROM supplier ORDER BY s_suppkey LIMIT 40
    """,
)

_q(
    "q_agg_extras",
    # the probe-batch aggregates: product (exp/ln with sign/zero
    # handling), entropy (exact Shannon), median, mode-free quantiles
    """
    from '$SF/orders.parquet' |>
    select o_orderstatus,
      round(product(1 + o_totalprice / 1e9), 6) as prod_factor,
      round(entropy(o_orderpriority), 6) as prio_entropy,
      round(median(o_totalprice), 2) as med_price,
      round(quantile_cont(o_totalprice, 0.9), 2) as p90_price
      group by o_orderstatus |>
    order by o_orderstatus
    """,
    """
    SELECT o_orderstatus,
           round(product(1 + o_totalprice / 1e9), 6) AS prod_factor,
           round(entropy(o_orderpriority), 6) AS prio_entropy,
           round(median(o_totalprice), 2) AS med_price,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)

_q(
    "q_datetime_extras",
    # the datetime probe-batch shims: dow numbering, yearweek, dayname,
    # boundary-crossing date_diff
    """
    from '$SF/orders.parquet' |>
    select
      date_part('dow', o_orderdate) as dow,
      yearweek(o_orderdate) as yw,
      dayname(o_orderdate) as dname,
      date_diff('month', date '1995-01-01', o_orderdate) as months_since,
      count() as n
      group by dow, yw, dname, months_since |>
    order by yw, dow, months_since |>
    limit 200
    """,
    """
    SELECT date_part('dow', o_orderdate) AS dow,
           yearweek(o_orderdate) AS yw,
           dayname(o_orderdate) AS dname,
           date_diff('month', DATE '1995-01-01', o_orderdate) AS months_since,
           count(*) AS n
    FROM orders
    GROUP BY dow, yw, dname, months_since
    ORDER BY yw, dow, months_since
    LIMIT 200
    """,
)

_q(
    "q_string_extras",
    # the string probe-batch shims: two-arg trim family (argument-order
    # swap), jaccard/hamming similarity, split/codepoint helpers
    """
    from '$SF/part.parquet' |>
    select p_partkey,
      rtrim(p_name, 'aeiou') as trimmed,
      round(jaccard(p_name, p_type), 4) as name_type_jac,
      hamming(left(p_name, 3), left(p_type, 3)) as prefix_ham,
      unicode(p_name) as first_cp,
      regexp_split_to_array(p_name, '\\s+') as name_words |>
    order by p_partkey |>
    limit 300
    """,
    """
    SELECT p_partkey,
           rtrim(p_name, 'aeiou') AS trimmed,
           round(jaccard(p_name, p_type), 4) AS name_type_jac,
           hamming(left(p_name, 3), left(p_type, 3)) AS prefix_ham,
           unicode(p_name) AS first_cp,
           regexp_split_to_array(p_name, '\\s+') AS name_words
    FROM part ORDER BY p_partkey LIMIT 300
    """,
)

_q(
    "q_regexp_funcs",
    """
    from '$SF/part.parquet' |>
    select p_partkey,
      regexp_extract(p_name, '^(\\w+)', 1) as first_word,
      regexp_replace(p_name, ' ', '_', 'g') as snake,
      regexp_matches(p_type, '^STANDARD') as is_standard |>
    order by p_partkey |>
    limit 100
    """,
    """
    SELECT p_partkey,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
           regexp_replace(p_name, ' ', '_', 'g') AS snake,
           regexp_matches(p_type, '^STANDARD') AS is_standard
    FROM part ORDER BY p_partkey LIMIT 100
    """,
)

_q(
    "q15_top_supplier",
    # TPC-H Q15 shape: quarterly revenue per supplier; the CTE block is
    # referenced both as a join source and inside a scalar subquery
    """
    with rev as (|
      from '$SF/lineitem.parquet' |>
      where l_shipdate >= date '1996-01-01' |>
      where l_shipdate < date '1996-04-01' |>
      select l_suppkey as supplier_no,
        sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as total_revenue
        group by supplier_no |)
    from '$SF/supplier.parquet' |>
    as s join rev as r on s.s_suppkey = r.supplier_no |>
    where total_revenue = (select max(total_revenue) from rev) |>
    select s_suppkey, s_name, total_revenue |>
    order by s_suppkey
    """,
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY supplier_no)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)

_q(
    "q18_large_orders",
    # TPC-H Q18 shape: customers with bulk orders (IN + grouped HAVING)
    """
    from '$SF/orders.parquet' |>
    where o_orderkey in (select l_orderkey from '$SF/lineitem.parquet'
                         group by l_orderkey having sum(l_quantity) > 150) |>
    as o join '$SF/lineitem.parquet' as l on o.o_orderkey = l.l_orderkey |>
    as ol join '$SF/customer.parquet' as c on ol.o_custkey = c.c_custkey |>
    select c_name, c_custkey, o_orderkey, o_orderdate,
      round(o_totalprice, 2) as price,
      cast(round(sum(l_quantity), 0) as bigint) as total_qty
      group by c_name, c_custkey, o_orderkey, o_orderdate, price |>
    order by price desc, o_orderkey |>
    limit 20
    """,
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS price,
           CAST(round(sum(l_quantity), 0) AS BIGINT) AS total_qty
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, price
    ORDER BY price DESC, o_orderkey LIMIT 20
    """,
)

# --- remaining TPC-H query shapes (adapted to the reduced testdata schema:
# no partsupp table, no l_commitdate/l_receiptdate/p_container columns; the
# correlated-subquery / EXISTS / NOT-IN / left-join-count shapes are intact).
# Float-order-sensitive sums use the round-to-bigint convention from q01.

_q(
    "q02_min_cost_supplier",
    # TPC-H Q2 shape: correlated MIN subquery over a CTE referenced twice
    # (join source + correlated scalar subquery) — no partsupp, so the
    # part↔supplier relationship is derived from lineitem
    """
    with ps as (|
      from '$SF/lineitem.parquet' |>
      as l join '$SF/supplier.parquet' as s on l.l_suppkey = s.s_suppkey |>
      select distinct l_partkey, s_suppkey, s_name, s_acctbal |)
    from '$SF/part.parquet' |>
    where p_size = 25 and p_type = 'STANDARD' |>
    as p join ps as x on p.p_partkey = x.l_partkey |>
    select p_partkey as pk, p_name, s_suppkey, s_name, s_acctbal |>
    where s_acctbal = (select min(s_acctbal) from ps where ps.l_partkey = pk) |>
    order by s_acctbal desc, s_name, pk |>
    limit 50
    """,
    """
    WITH ps AS (
      SELECT DISTINCT l_partkey, s_suppkey, s_name, s_acctbal
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey)
    SELECT p_partkey AS pk, p_name, s_suppkey, s_name, s_acctbal
    FROM part p JOIN ps x ON p.p_partkey = x.l_partkey
    WHERE p_size = 25 AND p_type = 'STANDARD'
      AND s_acctbal = (SELECT min(s_acctbal) FROM ps WHERE ps.l_partkey = p_partkey)
    ORDER BY s_acctbal DESC, s_name, pk
    LIMIT 50
    """,
)

_q(
    "q04_order_priority",
    # TPC-H Q4 shape: correlated EXISTS (late-ship stands in for the
    # missing l_commitdate < l_receiptdate predicate)
    """
    from '$SF/orders.parquet' |>
    where o_orderdate >= date '1996-07-01' and o_orderdate < date '1996-10-01' |>
    select o_orderkey as ok, o_orderdate as od, o_orderpriority |>
    where exists (select 1 from '$SF/lineitem.parquet' l
                  where l.l_orderkey = ok
                    and l.l_shipdate > od + interval 60 day) |>
    select o_orderpriority, count() as order_count group by o_orderpriority |>
    order by o_orderpriority
    """,
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM (
      SELECT o_orderkey AS ok, o_orderdate AS od, o_orderpriority
      FROM orders
      WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01')
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = ok AND l.l_shipdate > od + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

_q(
    "q07_volume_shipping",
    # TPC-H Q7 shape: bidirectional nation-pair volume per ship year; the
    # second nation join needs a rename of the first join's n_name
    """
    from '$SF/lineitem.parquet' |>
    where l_shipdate >= date '1996-01-01' and l_shipdate <= date '1997-12-31' |>
    as l join '$SF/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    as lo join '$SF/customer.parquet' as c on lo.o_custkey = c.c_custkey |>
    as loc join '$SF/supplier.parquet' as s on loc.l_suppkey = s.s_suppkey |>
    as locs join '$SF/nation.parquet' as n1 on locs.s_nationkey = n1.n_nationkey |>
    select l_shipdate, l_extendedprice, l_discount, c_nationkey, n_name as supp_nation |>
    as t join '$SF/nation.parquet' as n2 on t.c_nationkey = n2.n_nationkey |>
    select supp_nation, n_name as cust_nation, year(l_shipdate) as l_year,
      cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint) as volume |>
    where (supp_nation = 'NATION_1' and cust_nation = 'NATION_2')
       or (supp_nation = 'NATION_2' and cust_nation = 'NATION_1') |>
    select supp_nation, cust_nation, l_year, sum(volume) as revenue
      group by supp_nation, cust_nation, l_year |>
    order by supp_nation, cust_nation, l_year
    """,
    """
    SELECT supp_nation, cust_nation, l_year, CAST(sum(volume) AS BIGINT) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT) AS volume
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate <= DATE '1997-12-31')
    WHERE (supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
       OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)

_q(
    "q08_market_share",
    # TPC-H Q8 shape: one nation's share of PROMO volume per order year;
    # share = ratio of two order-free bigint sums (deterministic division)
    """
    from '$SF/lineitem.parquet' |>
    as l join '$SF/part.parquet' as p on l.l_partkey = p.p_partkey |>
    where p_type = 'PROMO' |>
    as lp join '$SF/orders.parquet' as o on lp.l_orderkey = o.o_orderkey |>
    where o_orderdate >= date '1996-01-01' and o_orderdate <= date '1997-12-31' |>
    as lpo join '$SF/supplier.parquet' as s on lpo.l_suppkey = s.s_suppkey |>
    as lpos join '$SF/nation.parquet' as n on lpos.s_nationkey = n.n_nationkey |>
    select year(o_orderdate) as o_year,
      cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint) as volume,
      n_name as supp_nation |>
    select o_year,
      sum(case when supp_nation = 'NATION_5' then volume else 0 end) as nation_volume,
      sum(volume) as total_volume,
      round(cast(sum(case when supp_nation = 'NATION_5' then volume else 0 end) as double)
            / sum(volume), 6) as mkt_share
      group by o_year |>
    order by o_year
    """,
    """
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END) AS BIGINT) AS nation_volume,
           CAST(sum(volume) AS BIGINT) AS total_volume,
           round(CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END) AS BIGINT) AS DOUBLE)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT) AS volume,
             n.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p_type = 'PROMO'
        AND o_orderdate >= DATE '1996-01-01' AND o_orderdate <= DATE '1997-12-31')
    GROUP BY o_year
    ORDER BY o_year
    """,
)

_q(
    "q11_important_parts",
    # TPC-H Q11 shape: grouped value filtered against a scalar-subquery
    # fraction of the global total (partsupp value → lineitem value)
    """
    from '$SF/lineitem.parquet' |>
    select l_partkey, cast(round(l_extendedprice * l_quantity * 100, 0) as bigint) as val |>
    select l_partkey, sum(val) as part_value group by l_partkey |>
    where part_value > (select sum(cast(round(l_extendedprice * l_quantity * 100, 0) as bigint)) * 0.0008
                        from '$SF/lineitem.parquet') |>
    order by part_value desc, l_partkey |>
    limit 100
    """,
    """
    SELECT l_partkey, CAST(sum(val) AS BIGINT) AS part_value
    FROM (SELECT l_partkey,
                 CAST(round(l_extendedprice * l_quantity * 100, 0) AS BIGINT) AS val
          FROM lineitem)
    GROUP BY l_partkey
    HAVING sum(val) > (SELECT CAST(sum(CAST(round(l_extendedprice * l_quantity * 100, 0) AS BIGINT)) AS BIGINT) * 0.0008
                       FROM lineitem)
    ORDER BY part_value DESC, l_partkey
    LIMIT 100
    """,
)

_q(
    "q13_customer_distribution",
    # TPC-H Q13 shape: left join with an extra ON predicate, count per
    # customer, then the distribution of those counts
    """
    from '$SF/customer.parquet' |>
    as c left join '$SF/orders.parquet' as o
      on c.c_custkey = o.o_custkey and o.o_orderpriority <> '1-URGENT' |>
    select c_custkey, count(o_orderkey) as c_count group by c_custkey |>
    select c_count, count() as custdist group by c_count |>
    order by custdist desc, c_count desc
    """,
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

_q(
    "q16_supplier_relationship",
    # TPC-H Q16 shape: NOT LIKE + IN list + NOT IN subquery + COUNT(DISTINCT)
    """
    from '$SF/lineitem.parquet' |>
    as l join '$SF/part.parquet' as p on l.l_partkey = p.p_partkey |>
    where p_brand <> 'Brand#1' and p_type not like 'PROMO%'
      and p_size in (1, 5, 10, 15, 20, 25) |>
    where l_suppkey not in (select s_suppkey from '$SF/supplier.parquet'
                            where s_acctbal < 0) |>
    select p_brand, p_type, p_size, count(distinct l_suppkey) as supplier_cnt
      group by p_brand, p_type, p_size |>
    order by supplier_cnt desc, p_brand, p_type, p_size
    """,
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)

_q(
    "q17_small_quantity",
    # TPC-H Q17 shape: per-part correlated AVG threshold (quantities are
    # integral doubles, so avg is exact and the comparison deterministic)
    """
    from '$SF/lineitem.parquet' |>
    as l join '$SF/part.parquet' as p on l.l_partkey = p.p_partkey |>
    where p_brand = 'Brand#3' and p_type = 'SMALL' |>
    select l_partkey as pk, l_quantity, l_extendedprice |>
    where l_quantity < (select 0.5 * avg(l2.l_quantity) from '$SF/lineitem.parquet' l2
                        where l2.l_partkey = pk) |>
    select round(sum(cast(round(l_extendedprice * 100, 0) as bigint)) / cast(700 as double), 2) as avg_yearly
    """,
    """
    SELECT round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / CAST(700 AS DOUBLE), 2) AS avg_yearly
    FROM (
      SELECT l_partkey AS pk, l_quantity, l_extendedprice
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p_brand = 'Brand#3' AND p_type = 'SMALL')
    WHERE l_quantity < (SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = pk)
    """,
)

_q(
    "q20_part_promotion",
    # TPC-H Q20 shape: nested IN subqueries with a grouped HAVING threshold
    # (availqty check folded into the lineitem aggregation — no partsupp)
    """
    from '$SF/supplier.parquet' |>
    where s_suppkey in (select l_suppkey from '$SF/lineitem.parquet'
                        where l_partkey in (select p_partkey from '$SF/part.parquet'
                                            where p_name like '%widget%')
                        group by l_suppkey, l_partkey
                        having sum(l_quantity) > 100) |>
    select s_suppkey, s_name, round(s_acctbal, 2) as acctbal |>
    order by s_name
    """,
    """
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem
                        WHERE l_partkey IN (SELECT p_partkey FROM part
                                            WHERE p_name LIKE '%widget%')
                        GROUP BY l_suppkey, l_partkey
                        HAVING sum(l_quantity) > 100)
    ORDER BY s_name
    """,
)

_q(
    "q21_waiting_supplier",
    # TPC-H Q21 shape: EXISTS (another supplier on the order) + NOT EXISTS
    # (no other supplier was late); late-ship replaces the missing
    # receipt/commit columns
    """
    from '$SF/supplier.parquet' |>
    as s join '$SF/lineitem.parquet' as l1 on s.s_suppkey = l1.l_suppkey |>
    as sl join '$SF/orders.parquet' as o on sl.l_orderkey = o.o_orderkey |>
    where o_orderstatus = 'F' and l_shipdate > o_orderdate + interval 30 day |>
    select s_name, l_orderkey as ok, l_suppkey as sk, o_orderdate as od |>
    where exists (select 1 from '$SF/lineitem.parquet' l2
                  where l2.l_orderkey = ok and l2.l_suppkey <> sk) |>
    where not exists (select 1 from '$SF/lineitem.parquet' l3
                      where l3.l_orderkey = ok and l3.l_suppkey <> sk
                        and l3.l_shipdate > od + interval 30 day) |>
    select s_name, count() as numwait group by s_name |>
    order by numwait desc, s_name |>
    limit 25
    """,
    """
    SELECT s_name, count(*) AS numwait
    FROM (
      SELECT s_name, l_orderkey AS ok, l_suppkey AS sk, o_orderdate AS od
      FROM supplier s
      JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders o ON l1.l_orderkey = o.o_orderkey
      WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = ok AND l2.l_suppkey <> sk)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = ok AND l3.l_suppkey <> sk
                        AND l3.l_shipdate > od + interval 30 day)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)

_q(
    "q21_window_fast",
    # The scale-correct single-pass formulation of the q21 shape
    # (BENCH_Q21_SHAPES.json "window_single_pass"): EXISTS/NOT-EXISTS over
    # the same fact table correlated on one equality key collapse into two
    # collect_set windows partitioned by that key — ONE l_orderkey shuffle
    # of lineitem instead of three (base + semi probe + anti probe).
    # EXISTS(other supplier on order)        ⇔ n_supp > 1
    # NOT EXISTS(other LATE supplier)        ⇔ n_late = 1 (the row itself
    #   is late, so it is always a member of the late set).
    # The rewrite needs the semantic fact that every row of an order
    # shares o_orderdate — sound here by construction, not derivable from
    # syntax, which is why this ships as a formulation, not an automatic
    # compiler rewrite (VERDICT r4 plan audit).
    """
    from '$SF/lineitem.parquet' |>
    as l join '$SF/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    where o_orderstatus = 'F' |>
    select l_suppkey,
      case when l_shipdate > o_orderdate + interval 30 day then 1 else 0 end as is_late,
      size(collect_set(l_suppkey)
           over (partition by l_orderkey)) as n_supp,
      size(collect_set(case when l_shipdate > o_orderdate + interval 30 day
                            then l_suppkey end)
           over (partition by l_orderkey)) as n_late |>
    where is_late = 1 and n_supp > 1 and n_late = 1 |>
    as c join '$SF/supplier.parquet' as s on c.l_suppkey = s.s_suppkey |>
    select s_name, count() as numwait group by s_name |>
    order by numwait desc, s_name |>
    limit 25
    """,
    # oracle: q21's EXISTS formulation verbatim — same answer, independent
    # derivation (the whole point: the window rewrite is value-checked
    # against the textbook shape)
    """
    SELECT s_name, count(*) AS numwait
    FROM (
      SELECT s_name, l_orderkey AS ok, l_suppkey AS sk, o_orderdate AS od
      FROM supplier s
      JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders o ON l1.l_orderkey = o.o_orderkey
      WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = ok AND l2.l_suppkey <> sk)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = ok AND l3.l_suppkey <> sk
                        AND l3.l_shipdate > od + interval 30 day)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)


def _q21_keyed_rewrite(spark: SparkSession, sf: str) -> DataFrame:
    """q21's EXISTS text compiled UNDER DECLAREd keys: the automatic
    EXISTS→window rewrite (compiler._exists_window_rewrite, round 10)
    replaces both correlated probes with window aggregates and re-roots
    the pipe at the fact (head flip). The declarations are scoped to
    this compile — prior registry state is restored afterwards — so
    the entry value-checks the REWRITTEN plan against the oracle's
    plain EXISTS evaluation without disturbing sibling entries."""
    p = _psql(spark)
    comp = p._compiler
    saved_u = {k: set(v) for k, v in comp.constraints.uniques.items()}
    saved_f = dict(comp.constraints.fks)
    try:
        p.sql(f"declare primary key on '{sf}/orders.parquet' (o_orderkey)")
        p.sql(f"declare primary key on '{sf}/supplier.parquet' (s_suppkey)")
        p.sql(
            f"declare foreign key on '{sf}/lineitem.parquet' (l_orderkey) "
            f"references '{sf}/orders.parquet' (o_orderkey)"
        )
        p.sql(
            f"declare foreign key on '{sf}/lineitem.parquet' (l_suppkey) "
            f"references '{sf}/supplier.parquet' (s_suppkey)"
        )
        df = _pipe(PAIRS["q21_waiting_supplier"][0])(spark, sf)
        assert comp.last_window_rewrites, "window rewrite did not fire"
        return df
    finally:
        comp.constraints.uniques.clear()
        comp.constraints.uniques.update(saved_u)
        comp.constraints.fks.clear()
        comp.constraints.fks.update(saved_f)


_q(
    "q21_keyed_rewrite",
    _q21_keyed_rewrite,
    # oracle: the plain EXISTS formulation — the rewrite must be
    # value-invisible
    PAIRS["q21_waiting_supplier"][1],
)


def _q05_keyed_elim(spark: SparkSession, sf: str) -> DataFrame:
    """q05's text compiled UNDER a DECLAREd orders key + lineitem FK:
    the FK-join elimination (compiler._eliminate_fk_joins, round 10)
    drops the payload-free orders⋈lineitem join outright; the oracle
    still evaluates the full five-way join — elimination must be
    value-invisible. Registry state restores afterwards."""
    p = _psql(spark)
    comp = p._compiler
    saved_u = {k: set(v) for k, v in comp.constraints.uniques.items()}
    saved_f = dict(comp.constraints.fks)
    try:
        p.sql(f"declare primary key on '{sf}/orders.parquet' (o_orderkey)")
        p.sql(
            f"declare foreign key on '{sf}/lineitem.parquet' (l_orderkey) "
            f"references '{sf}/orders.parquet' (o_orderkey)"
        )
        df = _pipe(PAIRS["q05_nation_volume"][0])(spark, sf)
        assert comp.last_eliminated_joins, "FK-join elimination did not fire"
        return df
    finally:
        comp.constraints.uniques.clear()
        comp.constraints.uniques.update(saved_u)
        comp.constraints.fks.clear()
        comp.constraints.fks.update(saved_f)


_q(
    "q05_keyed_elim",
    _q05_keyed_elim,
    PAIRS["q05_nation_volume"][1],
)


def _q13_keyed_fold(spark: SparkSession, sf: str) -> DataFrame:
    """q13's text compiled UNDER a DECLAREd customer PK + orders FK:
    the count-distribution fold (compiler._count_distribution_fold,
    round 11) deletes the customer⋈orders LEFT JOIN and its per-customer
    re-aggregation, replacing them with the fact-side distribution plus
    a |customer|−|groups| patch bucket (cardinality from parquet
    footers). The oracle still evaluates the full join — the fold must
    be value-invisible. Registry state restores afterwards."""
    p = _psql(spark)
    comp = p._compiler
    saved_u = {k: set(v) for k, v in comp.constraints.uniques.items()}
    saved_f = dict(comp.constraints.fks)
    try:
        p.sql(f"declare primary key on '{sf}/customer.parquet' (c_custkey)")
        p.sql(
            f"declare foreign key on '{sf}/orders.parquet' (o_custkey) "
            f"references '{sf}/customer.parquet' (c_custkey)"
        )
        df = _pipe(PAIRS["q13_customer_distribution"][0])(spark, sf)
        assert comp.last_count_dist_fold, "count-distribution fold did not fire"
        return df
    finally:
        comp.constraints.uniques.clear()
        comp.constraints.uniques.update(saved_u)
        comp.constraints.fks.clear()
        comp.constraints.fks.update(saved_f)


_q(
    "q13_keyed_fold",
    _q13_keyed_fold,
    PAIRS["q13_customer_distribution"][1],
)


def _q_distinct_keyed_elim(spark: SparkSession, sf: str) -> DataFrame:
    """DISTINCT over columns covering a declared PK, reached through a
    1:1 dim join (nation PK): the round-11 DISTINCT elimination
    (compiler._eliminate_distinct) deletes the dedup exchange; the
    oracle still evaluates the full DISTINCT — elimination must be
    value-invisible. Registry state restores afterwards."""
    p = _psql(spark)
    comp = p._compiler
    saved_u = {k: set(v) for k, v in comp.constraints.uniques.items()}
    saved_f = dict(comp.constraints.fks)
    try:
        p.sql(f"declare primary key on '{sf}/supplier.parquet' (s_suppkey)")
        p.sql(f"declare primary key on '{sf}/nation.parquet' (n_nationkey)")
        df = p.sql(
            f"""
            from '{sf}/supplier.parquet' |>
            where s_acctbal > 0 |>
            as s join '{sf}/nation.parquet' as n
              on s.s_nationkey = n.n_nationkey |>
            select distinct s_suppkey, s_name, n_name |>
            order by s_suppkey
            """
        )
        assert comp.last_distinct_elim, "DISTINCT elimination did not fire"
        return df
    finally:
        comp.constraints.uniques.clear()
        comp.constraints.uniques.update(saved_u)
        comp.constraints.fks.clear()
        comp.constraints.fks.update(saved_f)


def _q_groupby_keyed_elim(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY covering a declared PK on a multiplicity-clean stream
    (supplier through the 1:1 nation join): the round-11 keyed GROUP-BY
    elimination (compiler._try_keyed_groupby) collapses the aggregation
    into a projection — single-row groups; the oracle still evaluates
    the full GROUP BY. Registry state restores afterwards."""
    p = _psql(spark)
    comp = p._compiler
    saved_u = {k: set(v) for k, v in comp.constraints.uniques.items()}
    saved_f = dict(comp.constraints.fks)
    try:
        p.sql(f"declare primary key on '{sf}/supplier.parquet' (s_suppkey)")
        p.sql(f"declare primary key on '{sf}/nation.parquet' (n_nationkey)")
        df = p.sql(
            f"""
            from '{sf}/supplier.parquet' |>
            as s join '{sf}/nation.parquet' as n
              on s.s_nationkey = n.n_nationkey |>
            where s_acctbal > 0 |>
            select s_suppkey, count() as n_rows, count(s_name) as n_c,
                   max(n_name) as nation, sum(s_acctbal) as bal
              group by s_suppkey |>
            order by s_suppkey
            """
        )
        assert comp.last_keyed_groupby_elim, "keyed GROUP-BY elim did not fire"
        return df
    finally:
        comp.constraints.uniques.clear()
        comp.constraints.uniques.update(saved_u)
        comp.constraints.fks.clear()
        comp.constraints.fks.update(saved_f)


_q(
    "q_groupby_keyed_elim",
    _q_groupby_keyed_elim,
    """
    SELECT s_suppkey, count(*) AS n_rows, count(s_name) AS n_c,
           max(n_name) AS nation, sum(s_acctbal) AS bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal > 0
    GROUP BY s_suppkey
    ORDER BY s_suppkey
    """,
)


_q(
    "q_distinct_keyed_elim",
    _q_distinct_keyed_elim,
    """
    SELECT DISTINCT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal > 0
    ORDER BY s_suppkey
    """,
)

# --- text analysis over documents (charter extended surface) ---------------

_q(
    "q_doc_stats",
    """
    from '$SF/documents.parquet' |>
    select
      doc_id,
      lang,
      length(text) as n_chars_actual,
      array_length(string_split(text, ' ')) as n_words,
      round(cast(length(text) as double) / array_length(string_split(text, ' ')), 3) as avg_word_len |>
    order by doc_id
    """,
    """
    SELECT doc_id, lang,
           length(text) AS n_chars_actual,
           len(string_split(text, ' ')) AS n_words,
           round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 3) AS avg_word_len
    FROM documents ORDER BY doc_id
    """,
)

_q(
    "q_doc_fingerprint",
    """
    from '$SF/documents.parquet' |>
    select source, count() as n_docs, count(distinct md5(text)) as n_unique
      group by source |>
    order by source
    """,
    """
    SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique
    FROM documents GROUP BY source ORDER BY source
    """,
)

_q(
    "q_doc_lang_dist",
    """
    from '$SF/documents.parquet' |>
    select lang, count() as n, cast(round(avg(n_chars), 0) as bigint) as avg_chars
      group by lang |>
    order by lang
    """,
    """
    SELECT lang, count(*) AS n, CAST(round(avg(n_chars), 0) AS BIGINT) AS avg_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)


# --- extended operators (charter north star): dedup / similarity / text ----
# Callables go through the operator library; oracles provided where the
# semantics are SQL-expressible in DuckDB, rows-only otherwise.


def _op_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = exact_dedup(docs, ["text"], tie_breaker="doc_id")
    return out.select("doc_id", "lang", "source", "n_chars")


_q(
    "x_exact_dedup",
    _op_exact_dedup,
    """
    SELECT doc_id, lang, source, n_chars
    FROM (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM documents)
    WHERE rn = 1
    """,
)


def _op_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # unique_ids: doc_id is the corpus primary key by construction (one
    # row per document at every SF) → the round-14 Arrow signature
    # kernel applies; value-identical to the JVM path on unique ids
    # (BENCH_ARROW_SIG_AB_sf10_r14.json: sym-diff 0 at sf0.1 and sf10).
    return minhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", num_perm=64, bands=16,
        shingle_k=3, threshold=0.4, unique_ids=True,
    )


_q("x_minhash_dedup", _op_minhash_pairs, None)


def _op_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", num_perm=32, bands=8,
        shingle_k=3, threshold=0.4, hash_mode="md5",
    )


def _minhash_md5_oracle(num_perm: int = 32, bands: int = 8,
                        shingle_k: int = 3, threshold: float = 0.4) -> str:
    """DuckDB oracle mirroring minhash_dup_pairs(hash_mode="md5") step for
    step: word shingles, per-permutation salted md5 whose lexicographic
    min equals the numeric min, banded md5 bucket join, and a
    matching-positions/num_perm estimate (exact binary fraction — no
    float-order sensitivity anywhere)."""
    r = num_perm // bands
    mins = ",\n             ".join(
        f"min(md5('{i}:' || s)) AS m{i}" for i in range(num_perm)
    )
    banded = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({' || '.join(f'm{b * r + k}' for k in range(r))}) AS bh FROM sig"
        for b in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
    sh AS (
      SELECT doc_id, CASE WHEN len(t) >= {shingle_k}
        THEN list_transform(generate_series(1, len(t) - {shingle_k - 1}),
                            i -> array_to_string(t[i:i+{shingle_k - 1}], ' '))
        ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks),
    ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    sig AS (SELECT doc_id, {mins}
            FROM ex GROUP BY doc_id),
    banded AS ({banded}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM banded a JOIN banded b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           round(({matches}) / CAST({num_perm} AS DOUBLE), 4) AS jaccard_est
    FROM cand JOIN sig a ON cand.id_a = a.doc_id
              JOIN sig b ON cand.id_b = b.doc_id
    WHERE round(({matches}) / CAST({num_perm} AS DOUBLE), 4) >= {threshold}
    """


_q("x_minhash_md5", _op_minhash_md5, _minhash_md5_oracle())


def _op_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution (operators/graph.py): md5-minhash dup
    pairs closed transitively via alternating large-star/small-star
    connected components; every document gets its cluster's minimum
    doc_id (itself when it has no duplicate edge)."""
    from pyspark.sql import functions as F

    from .operators.dedup import minhash_dup_pairs
    from .operators.graph import connected_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", num_perm=32, bands=8,
        shingle_k=3, threshold=0.4, hash_mode="md5",
    )
    comp = connected_components(pairs)
    return (
        docs.join(comp, docs["doc_id"] == comp["id"], "left")
        .select(
            docs["doc_id"],
            F.coalesce(comp["component"], docs["doc_id"]).alias("component"),
        )
        .orderBy("doc_id")
    )


def _dedup_components_oracle() -> str:
    """Recursive-CTE closure over the exact pair set _minhash_md5_oracle
    produces: symmetric edges, min-label walk to fixpoint, singleton
    documents keep their own id."""
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_md5_oracle()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    walk(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
    comp AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    ORDER BY d.doc_id
    """


_q("x_dedup_components", _op_dedup_components, _dedup_components_oracle())


def _op_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/text.py contamination_check):
    per-doc word-5-gram overlap against an eval probe set (every 50th
    document), probe grams broadcast, md5 twin for the oracle."""
    from .operators.text import contamination_check

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probes = docs.where("doc_id % 50 = 0")
    out = contamination_check(
        docs, probes, shingle_k=5, min_overlap=0.5, hash_mode="md5"
    )
    return out.select(
        "doc_id", "n_grams", "n_hit", "overlap_scaled", "contaminated"
    ).orderBy("doc_id")


def _op_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (operators/text.py normalize_text): NFC (session
    UDF nfc_normalize — DuckDB-named), lowercase, punctuation strip,
    whitespace collapse; md5 of the result proves byte-exact parity."""
    from pyspark.sql import functions as F

    from .operators.text import normalize_text

    _psql(spark)  # ensure session UDFs (nfc_normalize) are registered
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = normalize_text(
        docs, "text", nfc=True, lowercase=True, strip_punct=True,
        collapse_whitespace=True, out_col="norm",
    )
    return out.select(
        "doc_id", F.md5("norm").alias("h"), F.length("norm").alias("n")
    ).orderBy("doc_id")


_q(
    "x_normalize",
    _op_normalize,
    # same op order (nfc -> lower -> strip punct -> collapse/trim); DuckDB
    # regexp_replace needs the 'g' flag for global semantics
    """
    SELECT doc_id,
           md5(trim(regexp_replace(
               regexp_replace(lower(nfc_normalize(text)), '[^\\pL\\pN\\s]', '', 'g'),
               '\\s+', ' ', 'g'))) AS h,
           length(trim(regexp_replace(
               regexp_replace(lower(nfc_normalize(text)), '[^\\pL\\pN\\s]', '', 'g'),
               '\\s+', ' ', 'g'))) AS n
    FROM documents ORDER BY doc_id
    """,
)


_q(
    "x_contamination",
    _op_contamination,
    # identical shingling to _minhash_md5_oracle (k=5); association of the
    # scaled ratio matches the Spark side exactly ((h/n)*10000) so the
    # doubles are bit-identical before rounding
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
    sh AS (
      SELECT doc_id, CASE WHEN len(t) >= 5
        THEN list_transform(generate_series(1, len(t) - 4),
                            i -> array_to_string(t[i:i+4], ' '))
        ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks),
    doc_grams AS (SELECT DISTINCT doc_id, unnest(shs) AS g FROM sh),
    probe_grams AS (
      SELECT DISTINCT g FROM (
        SELECT unnest(shs) AS g FROM sh WHERE doc_id % 50 = 0)),
    stats AS (
      SELECT d.doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN p.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
      FROM doc_grams d LEFT JOIN probe_grams p ON d.g = p.g
      GROUP BY d.doc_id)
    SELECT doc_id, n_grams, n_hit,
           CAST(round((n_hit * 1.0 / n_grams) * 10000, 0) AS BIGINT) AS overlap_scaled,
           n_hit * 1.0 / n_grams >= 0.5 AS contaminated
    FROM stats ORDER BY doc_id
    """,
)


def _op_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 corpus ranking (operators/text.py bm25_scores): Lucene-form
    idf, k1=1.2 b=0.75, deterministic [^a-z0-9]+ tokenization. Scores
    scaled to a 1e-3 integer grid for cross-engine hash stability (the
    per-doc sum has <=4 addends, so double association error ~1e-15)."""
    from pyspark.sql import functions as F

    from .operators.text import bm25_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bm25_scores(docs, ["table", "hash", "merge", "window"])
    return out.select(
        "doc_id",
        F.round(F.col("bm25") * 1000, 0).cast("bigint").alias("bm25_milli"),
    ).orderBy("doc_id")


_q(
    "x_dup_spans",
    # exact duplicated-substring spans (Lee et al. 2022 ExactSubstr,
    # operators/text.py duplicate_spans): duplicated k-gram runs merged
    # by gaps-and-islands — same result set as the suffix-array
    # formulation for token-level duplicates of >= k tokens. MD5 gram
    # hashes so the oracle reproduces every stage.
    "from '$SF/documents.parquet' |> dup_spans |> order by doc_id, span_start",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+7], ' ')) AS h
      FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
      WHERE len(t) >= 8
    ),
    dup AS (
      SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT g.doc_id, g.pos,
             g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS island
      FROM grams g JOIN dup USING (h)
    )
    SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
           max(pos) + 7 - min(pos) + 1 AS span_tokens
    FROM hits GROUP BY doc_id, island
    HAVING max(pos) + 7 - min(pos) + 1 >= 8
    ORDER BY doc_id, span_start
    """,
)


_q(
    "x_strip_html",
    # HTML boilerplate stripping (operators/text.py strip_html): the
    # regex ingestion tier — block-element content removal, tags to
    # spaces, entity decode, whitespace collapse — wrapped around the
    # documents corpus and value-checked against the IDENTICAL
    # backreference-free regex chain in DuckDB (both engines' regex
    # dialects accept it verbatim)
    """
    from '$SF/documents.parquet' |>
    select doc_id, concat('<html><head><style>p{color:red}</style><script>var x = 1;</script></head><body><!-- boilerplate --><p>', text, '</p><ul><li>a&amp;b</li><li>x &lt;tag&gt;</li></ul></body></html>') as text |>
    strip_html |>
    select doc_id, text as clean |>
    order by doc_id
    """,
    r"""
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(
        replace(replace(replace(replace(replace(replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(concat('<html><head><style>p{color:red}</style><script>var x = 1;</script></head><body><!-- boilerplate --><p>', text, '</p><ul><li>a&amp;b</li><li>x &lt;tag&gt;</li></ul></body></html>'),
                      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
                    '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
                  '(?is)<noscript\b[^>]*>.*?</noscript>', ' ', 'g'),
                '(?s)<!--.*?-->', ' ', 'g'),
              '(?i)<br\s*/?>|</p>|</div>|</li>', chr(10), 'g'),
            '<[^>]+>', ' ', 'g'),
          '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
          '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
        '[ \t]+', ' ', 'g'),
        concat('\s*', chr(10), '\s*'), chr(10), 'g'),
        '^\s+|\s+$', '', 'g') AS clean
    FROM documents ORDER BY doc_id
    """,
)

_q(
    "x_strip_dup_spans",
    # the cut policy: duplicated runs removed from the token stream,
    # text rebuilt from survivors (the detector's own normalization)
    """
    from '$SF/documents.parquet' |> strip_dup_spans k=6 |>
    select doc_id, text, n_spans_cut |> order by doc_id
    """,
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+5], ' ')) AS h
      FROM toks, unnest(range(1, len(t) - 6 + 2)) AS u(i)
      WHERE len(t) >= 6
    ),
    dup AS (
      SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT g.doc_id, g.pos,
             g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS island
      FROM grams g JOIN dup USING (h)
    ),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e
      FROM hits GROUP BY doc_id, island
      HAVING max(pos) + 5 - min(pos) + 1 >= 6
    ),
    per_doc AS (
      SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(array_to_string(
             list_filter(t.t, (x, i) ->
               coalesce(len(list_filter(p.spans,
                 sp -> (i - 1) >= sp.s AND (i - 1) <= sp.e)), 0) = 0),
             ' '), '') AS text,
           coalesce(len(p.spans), 0) AS n_spans_cut
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    ORDER BY t.doc_id
    """,
)


_q(
    "x_bm25",
    _op_bm25,
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
           WHERE term IN ('table', 'hash', 'merge', 'window')
           GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT tf.doc_id,
             sum( ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                  * (tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS s
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id)
    SELECT d.doc_id,
           CAST(round(coalesce(sc.s, 0.0) * 1000, 0) AS BIGINT) AS bm25_milli
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    ORDER BY d.doc_id
    """,
)


def _op_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (operators/text.py ngram_lm_score):
    CCNet-style reference-corpus perplexity filter with a deterministic
    interpolated bigram model (lam=0.8, Laplace unigram floor).
    Reference slice = every 10th doc; milli-scaled integer grid."""
    from pyspark.sql import functions as F

    from .operators.text import ngram_lm_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_lm_score(docs, docs.where("doc_id % 10 = 0"))
    return out.select(
        "doc_id",
        F.round(F.col("lm_score") * 1000, 0).cast("bigint").alias("lm_milli"),
    ).orderBy("doc_id")


_q(
    "x_lm_score",
    _op_lm_score,
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents),
    rt AS (SELECT t FROM toks WHERE doc_id % 10 = 0),
    runi AS (SELECT w, count(*) AS c
             FROM (SELECT unnest(t) AS w FROM rt) GROUP BY w),
    rbi AS (SELECT bg, count(*) AS c FROM (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i + 1])) AS bg
        FROM rt WHERE len(t) >= 2) GROUP BY bg),
    stats AS (SELECT sum(c) AS tt, count(*) AS vv FROM runi),
    db AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bg
      FROM toks WHERE len(t) >= 2),
    j AS (
      SELECT db.doc_id,
             ln( 0.8 * (CASE WHEN coalesce(u1.c, 0) > 0
                        THEN coalesce(b.c, 0) * 1.0 / u1.c ELSE 0.0 END)
                 + 0.2 * (coalesce(u2.c, 0) + 1.0)
                       / (stats.tt + stats.vv) ) AS lp
      FROM db
      LEFT JOIN rbi b ON db.bg = b.bg
      LEFT JOIN runi u1 ON split_part(db.bg, ' ', 1) = u1.w
      LEFT JOIN runi u2 ON split_part(db.bg, ' ', 2) = u2.w
      CROSS JOIN stats),
    sc AS (SELECT doc_id, avg(lp) AS s FROM j GROUP BY doc_id)
    SELECT d.doc_id, CAST(round(sc.s * 1000, 0) AS BIGINT) AS lm_milli
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    ORDER BY d.doc_id
    """,
)


_q(
    "x_chunk_text",
    # context-window chunking (operators/text.py chunk_text): word chunks
    # of 20 with 5-token overlap, md5-exact per chunk
    """
    from '$SF/documents.parquet' |>
    chunk size=20 overlap=5 |>
    select doc_id, chunk_idx, md5(chunk) as h, length(chunk) as n |>
    order by doc_id, chunk_idx
    """,
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents),
    c AS (
      SELECT doc_id,
             unnest(generate_series(0,
               greatest(CAST(ceil((len(w) - 5) / 15.0) AS INT), 1) - 1))
               AS chunk_idx,
             w FROM w)
    SELECT doc_id, chunk_idx,
           md5(array_to_string(w[chunk_idx*15+1:chunk_idx*15+20], ' ')) AS h,
           length(array_to_string(w[chunk_idx*15+1:chunk_idx*15+20], ' ')) AS n
    FROM c ORDER BY doc_id, chunk_idx
    """,
)


_q(
    "x_repetition",
    # Gopher-style repetition signals. The `replace(' the '→newline)`
    # prelude manufactures multi-line docs from the single-line corpus so
    # dup_line_frac is exercised for real (not identically zero).
    """
    from '$SF/documents.parquet' |>
    select doc_id, replace(text, ' the ', chr(10)) as text |>
    repetition |>
    select doc_id, cast(n_lines as bigint) as n_lines,
      cast(round(dup_line_frac * 10000, 0) as bigint) as dup_line_bp,
      n_grams, top_gram_n,
      cast(round(top_ngram_frac * 10000, 0) as bigint) as top_gram_bp |>
    order by doc_id
    """,
    """
    WITH src AS (
      SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents),
    l AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls,
             string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM src),
    g AS (
      SELECT doc_id, CASE WHEN len(w) < 2 THEN []
        ELSE list_transform(generate_series(1, len(w) - 1),
                            i -> array_to_string(w[i:i+1], ' ')) END AS grams
      FROM l),
    e AS (SELECT doc_id, unnest(grams) AS g1 FROM g),
    c AS (SELECT doc_id, g1, count(*) AS c FROM e GROUP BY doc_id, g1),
    topg AS (SELECT doc_id, max(c) AS top_gram_n,
                    CAST(sum(c) AS BIGINT) AS n_grams
             FROM c GROUP BY doc_id)
    SELECT l.doc_id, len(l.ls) AS n_lines,
      CAST(round(((len(l.ls) - len(list_distinct(l.ls)))
                  / greatest(len(l.ls), 1)) * 10000, 0) AS BIGINT) AS dup_line_bp,
      coalesce(t.n_grams, 0) AS n_grams,
      coalesce(t.top_gram_n, 0) AS top_gram_n,
      CAST(round((coalesce(t.top_gram_n, 0)
                  / greatest(coalesce(t.n_grams, 0), 1)) * 10000, 0) AS BIGINT)
        AS top_gram_bp
    FROM l LEFT JOIN topg t USING (doc_id) ORDER BY doc_id
    """,
)


_q(
    "x_redact_pii",
    # the synthetic corpus has no PII, so the entry plants deterministic
    # emails/IPs/phone runs per doc (same concat in both engines), then
    # value-checks both the counts and the redacted text bytes
    """
    from '$SF/documents.parquet' |>
    select doc_id, text || ' mail user' || doc_id || '@example.com ip 10.0.'
      || (doc_id % 256) || '.7 call +1 555-000-' || (1000 + doc_id % 9000)
      as text |>
    redact |>
    select doc_id, n_email, n_ip, n_phone, md5(text) as h |>
    order by doc_id
    """,
    """
    WITH src AS (
      SELECT doc_id, text || ' mail user' || doc_id || '@example.com ip 10.0.'
        || (doc_id % 256) || '.7 call +1 555-000-' || (1000 + doc_id % 9000)
        AS text FROM documents)
    SELECT doc_id,
      len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
      len(regexp_extract_all(text,
          '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ip,
      len(regexp_extract_all(text, '\\+?\\d[\\d \\-]{7,}\\d')) AS n_phone,
      md5(regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g'),
          '\\+?\\d[\\d \\-]{7,}\\d', '[PHONE]', 'g')) AS h
    FROM src ORDER BY doc_id
    """,
)


_q(
    "x_cap_per_group",
    # per-source corpus cap: keep 5 lowest-doc_id docs per source
    """
    from '$SF/documents.parquet' |>
    cap by source n=5 order=doc_id |>
    select source, doc_id |>
    order by source, doc_id
    """,
    """
    SELECT source, doc_id FROM documents
    QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 5
    ORDER BY source, doc_id
    """,
)


_q(
    "x_stratified_sample",
    # deterministic per-group EXACT-fraction sample (training-mix
    # downsampling): keep ceil(0.2·|lang group|) docs chosen by
    # md5(doc_id) order — no RNG, so both engines select the SAME rows
    """
    from '$SF/documents.parquet' |>
    stratify by lang frac=0.2 id=doc_id |>
    select lang, doc_id |>
    order by lang, doc_id
    """,
    """
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5('stratify:' || CAST(doc_id AS VARCHAR))) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents)
    WHERE rn <= ceil(0.2 * n)
    ORDER BY lang, doc_id
    """,
)


_q(
    "q_window_exclude_r7",
    # window frame EXCLUDE (TIES / GROUP / CURRENT ROW): Spark parses
    # none of it — rewritten as frame-window arithmetic with NULL
    # guards (shims._rewrite_window_exclude). Closes the last
    # scoped-out window-frame feature (SURVEY §8.9e).
    """
    from '$SF/orders.parquet' |>
    where o_orderkey <= 200 |>
    select o_orderkey, o_custkey % 5 as grp, o_totalprice,
      cast(sum(cast(o_totalprice as bigint))
        over (partition by o_custkey % 5 order by o_orderdate
              range between unbounded preceding and current row
              exclude group) as bigint) as sum_xgroup,
      cast(sum(cast(o_totalprice as bigint))
        over (partition by o_custkey % 5 order by o_orderdate
              range between unbounded preceding and current row
              exclude ties) as bigint) as sum_xties,
      cast(count(*) over (partition by o_custkey % 5 order by o_orderdate
              range between unbounded preceding and current row
              exclude current row) as bigint) as n_xcur |>
    order by o_orderkey
    """,
    """
    SELECT o_orderkey, o_custkey % 5 AS grp, o_totalprice,
      CAST(sum(CAST(o_totalprice AS BIGINT))
        OVER (PARTITION BY o_custkey % 5 ORDER BY o_orderdate
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              EXCLUDE GROUP) AS BIGINT) AS sum_xgroup,
      CAST(sum(CAST(o_totalprice AS BIGINT))
        OVER (PARTITION BY o_custkey % 5 ORDER BY o_orderdate
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              EXCLUDE TIES) AS BIGINT) AS sum_xties,
      CAST(count(*) OVER (PARTITION BY o_custkey % 5 ORDER BY o_orderdate
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              EXCLUDE CURRENT ROW) AS BIGINT) AS n_xcur
    FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey
    """,
)


def _op_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction (operators/curate.py weighted_mix):
    two sources (en vs non-en docs) mixed 50/50 — the feasibility bound
    makes both takes = min(|en|, |rest|), and the md5(doc_id) ordering
    makes the SELECTED ROWS deterministic, so the oracle reproduces the
    exact mixture."""
    from .operators.curate import weighted_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mixed = weighted_mix(
        {
            "en": docs.filter("lang = 'en'"),
            "rest": docs.filter("lang <> 'en'"),
        },
        {"en": 0.5, "rest": 0.5},
        "doc_id",
        source_col="src",
    )
    return mixed.selectExpr("src", "doc_id", "lang").orderBy("src", "doc_id")


_q(
    "x_weighted_mix",
    _op_weighted_mix,
    """
    WITH en AS (SELECT * FROM documents WHERE lang = 'en'),
         rest AS (SELECT * FROM documents WHERE lang <> 'en'),
         m AS (SELECT least((SELECT count(*) FROM en),
                            (SELECT count(*) FROM rest)) AS k)
    SELECT 'en' AS src, doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR))) AS rn
      FROM en) WHERE rn <= (SELECT k FROM m)
    UNION ALL
    SELECT 'rest' AS src, doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR))) AS rn
      FROM rest) WHERE rn <= (SELECT k FROM m)
    ORDER BY src, doc_id
    """,
)


_q(
    "q_unnest_struct",
    # DuckDB unnest(struct) expands one column per field (compiler
    # _rewrite_struct_unnest); exercised over per-row computed values
    """
    from '$SF/nation.parquet' |>
    select n_nationkey, unnest({'keymod': n_nationkey % 5, 'tag': 'n' || n_regionkey}) |>
    order by n_nationkey
    """,
    """
    SELECT n_nationkey, unnest({'keymod': n_nationkey % 5, 'tag': 'n' || n_regionkey})
    FROM nation ORDER BY n_nationkey
    """,
)


_q(
    "q_unnest_struct_col",
    # unnest(<struct-typed COLUMN>) — the field names are NOT visible in
    # the unnesting stage's text; the compiler's driver-side schema probe
    # (_struct_fields_hint) reads them off the pipe input's schema
    # (VERDICT r5 gap 1, SURVEY §8.2 closed)
    """
    from '$SF/nation.parquet' |>
    select n_nationkey, {'nm': n_name, 'rk': n_regionkey} as s |>
    select n_nationkey, unnest(s) |>
    order by n_nationkey
    """,
    """
    WITH t AS (
      SELECT n_nationkey, {'nm': n_name, 'rk': n_regionkey} AS s FROM nation)
    SELECT n_nationkey, unnest(s) FROM t ORDER BY n_nationkey
    """,
)


_q(
    "q_bitstring_agg",
    # bitstring_agg -> '1'/'0' membership string per [lo, hi] position
    # (functions/shims.py); DuckDB's BIT casts to VARCHAR for compare
    """
    from '$SF/nation.parquet' |>
    select n_regionkey, bitstring_agg(n_nationkey % 8, 0, 7) as bits
      group by n_regionkey |>
    order by n_regionkey
    """,
    """
    SELECT n_regionkey, CAST(bitstring_agg(n_nationkey % 8, 0, 7) AS VARCHAR) AS bits
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)


_q(
    "q_json_misc",
    # round-5 function-tail batch: json_keys/json_valid, to_hex,
    # isinf/isfinite, 1-arg encode/decode, regexp_split_to_table
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      json_keys('{"a":' || n_nationkey || ',"b":2}') as jk,
      json_valid('{"x":' || n_nationkey || '}') as jv,
      json_valid('{bad') as jbad,
      to_hex(n_nationkey) as hx,
      isfinite(n_nationkey / 2.0) as fin,
      isinf(cast('inf' as double) * (n_nationkey + 1)) as inf,
      decode(encode(n_name)) as roundtrip |>
    order by n_nationkey
    """,
    """
    SELECT n_nationkey,
      json_keys('{"a":' || n_nationkey || ',"b":2}') AS jk,
      json_valid('{"x":' || n_nationkey || '}') AS jv,
      json_valid('{bad') AS jbad,
      to_hex(n_nationkey) AS hx,
      isfinite(n_nationkey / 2.0) AS fin,
      isinf(CAST('inf' AS DOUBLE) * (n_nationkey + 1)) AS inf,
      decode(encode(n_name)) AS roundtrip
    FROM nation ORDER BY n_nationkey
    """,
)


_q(
    "q_date_sub3",
    # 3-arg date_sub('unit', a, b): COMPLETE units between a and b,
    # signed — Spark timestampdiff semantics (functions/shims.py;
    # SURVEY §8.2 "still open" item closed round 6). Distinct from
    # date_diff, which counts boundary crossings.
    """
    from '$SF/orders.parquet' |>
    select o_orderkey,
      date_sub('month', date '1995-01-01', o_orderdate) as m_complete,
      date_sub('day', date '1995-01-01', o_orderdate) as d_complete,
      date_diff('month', date '1995-01-01', o_orderdate) as m_crossed |>
    order by o_orderkey |> limit 200
    """,
    """
    SELECT o_orderkey,
      date_sub('month', DATE '1995-01-01', o_orderdate) AS m_complete,
      date_sub('day', DATE '1995-01-01', o_orderdate) AS d_complete,
      date_diff('month', DATE '1995-01-01', o_orderdate) AS m_crossed
    FROM orders ORDER BY o_orderkey LIMIT 200
    """,
)


_q(
    "q_function_tail2",
    # round-5 batch 2: strip_accents (UDF twin), base64 pair, lcm/gcd
    # long names, even/signbit, list_select/list_where, array_reverse,
    # list_intersect (order-normalized via list_sort)
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      strip_accents('café ' || n_name) as sa,
      to_base64(encode(n_name)) as b64,
      decode(from_base64(to_base64(encode(n_name)))) as rt,
      least_common_multiple(n_nationkey + 1, 6) as lcm2,
      even(n_nationkey + 0.5) as ev,
      signbit(cast(n_nationkey as double) - 12) as sb,
      list_select([10, 20, 30], [3, 1]) as sel,
      list_where([1, 2, 3], [n_nationkey % 2 = 0, true, false]) as lw,
      array_reverse([n_nationkey, 0]) as rev,
      list_sort(list_intersect([n_nationkey, 1, 2], [2, 3, n_nationkey])) as li |>
    order by n_nationkey
    """,
    """
    SELECT n_nationkey,
      strip_accents('café ' || n_name) AS sa,
      to_base64(encode(n_name)) AS b64,
      decode(from_base64(to_base64(encode(n_name)))) AS rt,
      least_common_multiple(n_nationkey + 1, 6) AS lcm2,
      even(n_nationkey + 0.5) AS ev,
      signbit(CAST(n_nationkey AS DOUBLE) - 12) AS sb,
      list_select([10, 20, 30], [3, 1]) AS sel,
      list_where([1, 2, 3], [n_nationkey % 2 = 0, true, false]) AS lw,
      array_reverse([n_nationkey, 0]) AS rev,
      list_sort(list_intersect([n_nationkey, 1, 2], [2, 3, n_nationkey])) AS li
    FROM nation ORDER BY n_nationkey
    """,
)


_q(
    "q_interval_ctors",
    # to_<unit>() interval constructors + century/decade extracts
    """
    from '$SF/orders.parquet' |>
    select o_orderkey,
      cast(o_orderdate + to_days(cast(o_orderkey % 30 as int)) as timestamp) as due,
      cast(o_orderdate as timestamp) + to_hours(cast(o_orderkey % 24 as int)) as due_ts,
      century(o_orderdate) as c, decade(o_orderdate) as dec |>
    order by o_orderkey |> limit 50
    """,
    """
    SELECT o_orderkey,
      CAST(o_orderdate + to_days(CAST(o_orderkey % 30 AS INT)) AS TIMESTAMP) AS due,
      CAST(o_orderdate AS TIMESTAMP) + to_hours(CAST(o_orderkey % 24 AS INT)) AS due_ts,
      century(o_orderdate) AS c, decade(o_orderdate) AS dec
    FROM orders ORDER BY o_orderkey LIMIT 50
    """,
)


_q(
    "q_string_split_literal",
    # string_split takes a LITERAL delimiter (regex metachars inert);
    # string_split_regex stays regex; xor() -> ^ operator
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      string_split(n_name || '|x.y', '|') as lit_pipe,
      string_split(n_name || '.z', '.') as lit_dot,
      string_split_regex('a1' || n_name || '22b', '[0-9]+') as rx,
      xor(n_nationkey, 5) as x |>
    order by n_nationkey
    """,
    """
    SELECT n_nationkey,
      string_split(n_name || '|x.y', '|') AS lit_pipe,
      string_split(n_name || '.z', '.') AS lit_dot,
      string_split_regex('a1' || n_name || '22b', '[0-9]+') AS rx,
      xor(n_nationkey, 5) AS x
    FROM nation ORDER BY n_nationkey
    """,
)


_q(
    "q_split_to_table",
    """
    from '$SF/region.parquet' |>
    select r_regionkey, regexp_split_to_table(r_name, 'A') as part |>
    order by r_regionkey, part
    """,
    """
    SELECT r_regionkey, regexp_split_to_table(r_name, 'A') AS part
    FROM region ORDER BY r_regionkey, part
    """,
)


_q(
    "q_mad",
    # mad(): nested-median via the collected-group compat path
    # (functions/shims.py); doubles in, continuous interpolation
    """
    from '$SF/lineitem.parquet' |>
    select l_returnflag, round(mad(l_extendedprice), 4) as mad_price,
      round(mad(l_discount), 6) as mad_disc
      group by l_returnflag |>
    order by l_returnflag
    """,
    """
    SELECT l_returnflag, round(mad(l_extendedprice), 4) AS mad_price,
           round(mad(l_discount), 6) AS mad_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)


_q(
    "q_grade_up",
    # list_grade_up: 1-based argsort with stable ties (shims rewrite to
    # sort-structs-project-positions)
    """
    from '$SF/region.parquet' |>
    select r_regionkey,
      list_grade_up([r_regionkey % 2, 10 - r_regionkey, 5]) as g |>
    order by r_regionkey
    """,
    """
    SELECT r_regionkey,
      list_grade_up([r_regionkey % 2, 10 - r_regionkey, 5]) AS g
    FROM region ORDER BY r_regionkey
    """,
)


def _op_attach_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATTACH-a-directory analogue (compiler._run_attach): the attached
    dir's files resolve as <alias>.<stem>; values must equal the plain
    direct-read query the oracle runs."""
    p = _psql(spark)
    p.sql(f"attach '{sf_dir}' as tpch_att")
    out = p.sql(
        "from tpch_att.nation |> "
        "as n join tpch_att.region as r on n.n_regionkey = r.r_regionkey |> "
        "select r_name, count() as n_nations group by r_name |> order by r_name"
    )
    p.sql("detach tpch_att")
    return out


_q(
    "x_attach_dir",
    _op_attach_dir,
    """
    SELECT r_name, count(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
)


def _op_info_schema_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """information_schema.tables parity (sources/resolver.py): register
    the canonical views, then introspect them — the oracle's DuckDB
    session has the same names pre-registered as views."""
    for t in ("region", "nation"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    return _psql(spark).sql(
        "from information_schema.tables |> "
        "where table_name in ('region', 'nation') |> "
        "select table_name, table_type |> order by table_name"
    )


_q(
    "x_info_schema_tables",
    _op_info_schema_tables,
    """
    SELECT table_name, table_type FROM information_schema.tables
    WHERE table_name IN ('region', 'nation') ORDER BY table_name
    """,
)


def _op_info_schema_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("region", "nation"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    return _psql(spark).sql(
        "from information_schema.columns |> "
        "where table_name in ('region', 'nation') |> "
        "select table_name, column_name, ordinal_position, data_type, is_nullable |> "
        "order by table_name, ordinal_position"
    )


_q(
    "x_info_schema_columns",
    _op_info_schema_columns,
    """
    SELECT table_name, column_name, CAST(ordinal_position AS INTEGER) AS ordinal_position,
           data_type, is_nullable
    FROM information_schema.columns
    WHERE table_name IN ('region', 'nation')
    ORDER BY table_name, ordinal_position
    """,
)


def _op_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # max_hamming=3 with the default 4 bands: 16-bit chunks keep buckets
    # selective (pigeonhole-complete recall needs bands > max_hamming).
    # unique_ids: doc_id is the corpus primary key → Arrow signature
    # kernel (round 14), value-identical on unique ids.
    return simhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", max_hamming=3, unique_ids=True
    )


_q("x_simhash_dedup", _op_simhash_pairs, None)


def _op_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", max_hamming=3, hash_mode="md5"
    )


def _simhash_md5_oracle(bits: int = 64, bands: int = 4, max_hamming: int = 3) -> str:
    """DuckDB oracle mirroring simhash_dup_pairs(hash_mode="md5"): token
    bit i comes from hex digit i//4 of md5(token), the per-bit ±1 tallies
    and sign assembly are integer-exact, and band chunks are rebuilt from
    the per-bit values (equal to the implementation's arithmetic
    shift+mask on the signed signature for every band)."""
    width = bits // bands
    bit = lambda i: (  # noqa: E731
        f"((strpos('0123456789abcdef', substr(h, {i // 4 + 1}, 1)) - 1) >> {i % 4}) & 1"
    )
    tallies = ",\n             ".join(
        f"sum(({bit(i)}) * 2 - 1) AS t{i}" for i in range(bits)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN t{i} > 0 THEN {(1 << i) if i < 63 else -(1 << 63)} ELSE 0 END)"
        for i in range(bits)
    )
    chunk = lambda b: " + ".join(  # noqa: E731
        f"(CASE WHEN t{b * width + k} > 0 THEN {1 << k} ELSE 0 END)"
        for k in range(width)
    )
    banded = "\n      UNION ALL ".join(
        f"SELECT doc_id, {sig_terms} AS simhash, {b} AS band, {chunk(b)} AS chunk FROM tal"
        for b in range(bands)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, md5(unnest(string_split_regex(lower(text), '\\s+'))) AS h
      FROM documents),
    tal AS (SELECT doc_id, {tallies}
            FROM tok GROUP BY doc_id),
    banded AS ({banded}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    bit_count(xor(a.simhash, b.simhash)) AS hamming
             FROM banded a JOIN banded b
               ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {max_hamming}
    """


_q("x_simhash_md5", _op_simhash_md5, _simhash_md5_oracle())


def _op_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import embedding_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.3, planes=6, dim=64
    )


def _embedding_dedup_oracle() -> str:
    """DuckDB oracle mirroring embedding_dup_pairs exactly: the hyperplanes
    come from the same seeded generator (random_planes(6, 64, 42)) and are
    inlined as round-trip float literals, so both engines test the sign of
    the identical dot products; cosine re-uses the list_cosine_similarity
    parity established by the x_knn_bruteforce oracle."""
    from .operators.similarity import random_planes

    planes = random_planes(6, 64, 42)
    terms = " + ".join(
        "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(x) for x in plane)}]) > 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    return f"""
    WITH sk AS (
      SELECT vec_id, embedding, {terms} AS sketch
      FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cosine
    FROM sk a JOIN sk b ON a.sketch = b.sketch AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4) >= 0.3
    """


_q("x_embedding_dedup", _op_embedding_dups, _embedding_dedup_oracle())


def _op_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import semdedup
    from .operators.similarity import random_planes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # fixed seeded centroids (same generator as the LSH planes) so the
    # oracle mirrors the assignment arithmetically; the k-means path is
    # the production fit (tests/test_graph-adjacent coverage via
    # ivf_assign's own entries)
    cents = random_planes(12, 64, 7)
    return semdedup(
        emb, id_col="vec_id", vec_col="embedding",
        threshold=0.3, centroids=cents, pairwise="expr",
    ).orderBy("vec_id")


def _semdedup_oracle() -> str:
    """DuckDB mirror of semdedup with the same fixed centroids: squared-
    L2 argmin (first-position tie-break = lowest cluster id, matching
    nearest_centroid_fixed's struct ordering), then the within-cluster
    lower-id pairwise rule on round(cosine, 4)."""
    from .operators.similarity import random_planes

    cents = random_planes(12, 64, 7)
    ds = ", ".join(
        "list_sum(list_transform(list_zip(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(x) for x in c)
        + "]), p -> (p[1] - p[2]) * (p[1] - p[2])))"
        for c in cents
    )
    return f"""
    WITH assigned AS (
      SELECT vec_id, embedding,
             list_position(ds, list_aggregate(ds, 'min')) - 1 AS cluster_id
      FROM (SELECT vec_id, embedding, [{ds}] AS ds FROM embeddings)
    ),
    dups AS (
      SELECT b.vec_id, min(a.vec_id) AS dup_of
      FROM assigned a JOIN assigned b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 4) >= 0.3
      GROUP BY b.vec_id
    )
    SELECT s.vec_id, s.cluster_id, d.dup_of IS NOT NULL AS is_semdup,
           d.dup_of
    FROM assigned s LEFT JOIN dups d USING (vec_id)
    ORDER BY s.vec_id
    """


_q("x_semdedup", _op_semdedup, _semdedup_oracle())


def _op_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .operators.text import dsir_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter("lang = 'en' and doc_id % 7 = 0")
    out = dsir_weights(docs, target, buckets=512, hash_mode="md5")
    return out.select(
        "doc_id",
        F.round(F.col("dsir_weight") * 10000, 0).cast("bigint").alias(
            "dsir_dmilli"
        ),
        "n_grams",
    ).orderBy("doc_id")


_q(
    "x_dsir",
    _op_dsir,
    # DSIR importance weights (Xie et al. 2023, operators/text.py
    # dsir_weights) mirrored stage-for-stage: hashed-bigram bucket =
    # first 8 md5 hex chars mod 512, add-1-smoothed target/raw
    # distributions over the full bucket table, weight = Σ count·ln
    # ratio, scaled-integer for the driver hash.
    """
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    raw_grams AS (
      SELECT doc_id,
             ('0x' || substring(md5(t[i] || ' ' || t[i+1]), 1, 8))::BIGINT % 512 AS b
      FROM toks, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
    ),
    tgt_grams AS (
      SELECT b FROM raw_grams g JOIN toks d USING (doc_id)
      WHERE d.lang = 'en' AND d.doc_id % 7 = 0
    ),
    tdist AS (SELECT b, count(*) AS tc FROM tgt_grams GROUP BY b),
    rdist AS (SELECT b, count(*) AS rc FROM raw_grams GROUP BY b),
    tt AS (SELECT sum(tc) AS v FROM tdist),
    rt AS (SELECT sum(rc) AS v FROM rdist),
    ratios AS (
      SELECT r.range AS b,
             ln((coalesce(tc, 0) + 1.0) / ((SELECT v FROM tt) + 512.0))
           - ln((coalesce(rc, 0) + 1.0) / ((SELECT v FROM rt) + 512.0)) AS lr
      FROM range(512) r
      LEFT JOIN tdist ON tdist.b = r.range
      LEFT JOIN rdist ON rdist.b = r.range
    ),
    per_doc AS (
      SELECT g.doc_id, sum(lr) AS w, count(*) AS n_grams
      FROM raw_grams g JOIN ratios USING (b)
      GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(round(coalesce(p.w, 0.0) * 10000, 0) AS BIGINT) AS dsir_dmilli,
           coalesce(p.n_grams, 0) AS n_grams
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    ORDER BY t.doc_id
    """,
)


def _op_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import knn_topk_arrow

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # query vectors are collected here (4 rows) — part of executing the
    # op, mirroring how a caller holds its query set driver-side
    qrows = emb.filter("vec_id < 4").selectExpr("vec_id as qid", "embedding").collect()
    queries = [(r.qid, [float(x) for x in r.embedding]) for r in qrows]
    return knn_topk_arrow(
        emb, queries, query_id="qid", corpus_id="vec_id", vec_col="embedding", k=5
    )


_q(
    "x_knn_bruteforce",
    _op_knn,
    """
    SELECT qid, vec_id, cosine, rk FROM (
      SELECT q.vec_id AS qid, c.vec_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        c.vec_id) AS rk
      FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 4) q,
           embeddings c)
    WHERE rk <= 5
    """,
)


def _op_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter("doc_id < 30")
    a = docs.selectExpr("doc_id as id_a")
    b = docs.selectExpr("doc_id as id_b")
    pairs = a.crossJoin(b).filter("id_a < id_b")
    out = ngram_jaccard(pairs, docs, id_col="doc_id", text_col="text", shingle_k=3)
    return out.select("id_a", "id_b", "n_inter", "n_union")


_q(
    "x_ngram_jaccard",
    _op_ngram_jaccard,
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1) + 1),
               i -> array_to_string(string_split_regex(lower(text), '\\s+')[i:i+2], ' ')
             )) AS s
      FROM documents WHERE doc_id < 30)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.s, b.s)) AS n_inter,
           len(list_distinct(list_concat(a.s, b.s))) AS n_union
    FROM sh a, sh b WHERE a.doc_id < b.doc_id
    """,
)


def _op_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    return lsh_topk(emb, qvec, id_col="vec_id", vec_col="embedding", k=10,
                    planes=10, max_hamming=3)


def _lsh_ann_oracle(planes: int = 10, dim: int = 64, seed: int = 42,
                    max_hamming: int = 3, k: int = 10) -> str:
    """DuckDB oracle for lsh_topk: the same seeded hyperplanes are inlined
    as round-trip literals, the corpus and query sketches are sign
    patterns of identical dot products, and the candidate filter is the
    same popcount-of-XOR bound; cosine re-rank mirrors the
    list_cosine_similarity parity from the kNN oracle."""
    from .operators.similarity import random_planes

    pls = random_planes(planes, dim, seed)

    def sketch(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({col}, "
            f"[{', '.join(repr(x) for x in p)}]) > 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(pls)
        )

    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
    qsk AS (SELECT qe, {sketch('qe')} AS qsketch FROM q),
    sk AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                  {sketch('CAST(embedding AS DOUBLE[])')} AS sketch
           FROM embeddings)
    SELECT vec_id, round(list_cosine_similarity(e, qe), 6) AS cosine
    FROM sk, qsk
    WHERE bit_count(xor(CAST(sketch AS BIGINT), CAST(qsketch AS BIGINT))) <= {max_hamming}
    ORDER BY cosine DESC, vec_id
    LIMIT {k}
    """


_q("x_lsh_ann", _op_lsh_topk, _lsh_ann_oracle())


def _op_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivf_assign, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    assigned, centroids = ivf_assign(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=16
    )
    return ivf_topk(
        assigned, centroids, qvec, id_col="vec_id", vec_col="embedding", k=10, nprobe=4
    )


_q("x_ivf_ann", _op_ivf_topk, None)


def _op_ivf_assign_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import nearest_centroid_fixed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter("vec_id < 8").orderBy("vec_id").collect()
    ]
    return nearest_centroid_fixed(emb, cents, id_col="vec_id", vec_col="embedding")


def _op_ivf_search_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF SEARCH with fixed centroids — the fully SQL-expressible twin of
    x_ivf_ann (whose k-means training stays rows-only): assignment, nprobe
    centroid pruning, and exact cosine re-rank are all plain arithmetic."""
    from .operators.similarity import ivf_topk, nearest_centroid_fixed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.filter("vec_id < 8").orderBy("vec_id").collect()
    cents = [[float(x) for x in r["embedding"]] for r in rows]
    qvec = [float(x) for x in rows[1]["embedding"]]  # vec_id = 1
    assigned = emb.join(
        nearest_centroid_fixed(emb, cents, id_col="vec_id", vec_col="embedding")
        .withColumnRenamed("bucket", "__bucket"),
        "vec_id",
    )
    return ivf_topk(
        assigned, cents, qvec, id_col="vec_id", vec_col="embedding", k=10, nprobe=3
    )


_q(
    "x_ivf_search",
    _op_ivf_search_fixed,
    """
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE vec_id < 8),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1),
    assign AS (SELECT e.vec_id, c.cid,
                      row_number() OVER (
                        PARTITION BY e.vec_id
                        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.ce), c.cid
                      ) AS rn
               FROM embeddings e CROSS JOIN c),
    probe AS (SELECT cid FROM c, q ORDER BY list_distance(ce, qv), cid LIMIT 3),
    cand AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev
             FROM embeddings e
             JOIN assign a ON e.vec_id = a.vec_id AND a.rn = 1
             WHERE a.cid IN (SELECT cid FROM probe))
    SELECT vec_id, round(list_cosine_similarity(ev, (SELECT qv FROM q)), 6) AS cosine
    FROM cand
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)


_q(
    "x_ivf_assign",
    _op_ivf_assign_fixed,
    # the checkable half of IVF: nearest-centroid assignment against the
    # first 8 vectors as fixed centroids (k-means training itself is
    # iterative and stays rows-only in x_ivf_ann). list_distance is
    # monotone in the squared L2 the Spark side folds, so the argmin and
    # (distance, centroid-id) tie-break coincide.
    """
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE vec_id < 8),
    d AS (SELECT e.vec_id, c.cid,
                 list_distance(CAST(e.embedding AS DOUBLE[]), c.ce) AS dist
          FROM embeddings e CROSS JOIN c),
    r AS (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d)
    SELECT vec_id, cid AS bucket FROM r WHERE rn = 1
    """,
)


# Text-analysis verbs run as PSQL pipe stages; the oracles re-derive the
# exact formulas in DuckDB SQL, so predictions/scores are value-checked,
# not just row-counted.

_q(
    "x_text_quality",
    """
    from '$SF/documents.parquet' |>
    quality_score |>
    select doc_id, n_words,
      cast(round(lexical_diversity * 10000, 0) as bigint) as lex_bp,
      cast(round(alpha_ratio * 10000, 0) as bigint) as alpha_bp,
      cast(round(quality_score * 10000, 0) as bigint) as quality_bp |>
    order by doc_id
    """,
    """
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(lower(text), '\\s+')) AS n_words,
             len(list_distinct(string_split_regex(lower(text), '\\s+'))) AS n_uniq,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
      FROM documents),
    r AS (
      SELECT doc_id, n_words,
             n_uniq / greatest(n_words, 1) AS lexical_diversity,
             alpha / greatest(n_chars, 1) AS alpha_ratio,
             digits / greatest(n_chars, 1) AS digit_ratio
      FROM t)
    SELECT doc_id, n_words,
           CAST(round(lexical_diversity * 10000, 0) AS BIGINT) AS lex_bp,
           CAST(round(alpha_ratio * 10000, 0) AS BIGINT) AS alpha_bp,
           CAST(round((0.35 * (CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.2 END)
                 + 0.25 * least(lexical_diversity * 2, 1.0)
                 + 0.25 * alpha_ratio
                 + 0.15 * (1 - least(digit_ratio * 5, 1.0))) * 10000, 0) AS BIGINT)
             AS quality_bp
    FROM r ORDER BY doc_id
    """,
)

_q(
    "x_lang_id",
    """
    from '$SF/documents.parquet' |>
    lang_id |>
    select lang, lang_pred, count() as n group by lang, lang_pred |>
    order by lang, lang_pred
    """,
    """
    WITH t AS (
      SELECT lang,
        len(list_filter(string_split_regex(lower(text), '\\s+'),
            t -> t IN ('the','and','of','to','is','in','that','it'))) AS h_en,
        len(list_filter(string_split_regex(lower(text), '\\s+'),
            t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) AS h_de,
        len(list_filter(string_split_regex(lower(text), '\\s+'),
            t -> t IN ('el','la','los','de','que','es','un','una'))) AS h_es,
        len(list_filter(string_split_regex(lower(text), '\\s+'),
            t -> t IN ('le','la','les','des','et','est','une','dans'))) AS h_fr,
        length(regexp_replace(text, '[^一-鿿]', '', 'g'))
          / greatest(length(text), 1) AS cjk_ratio
      FROM documents),
    p AS (
      SELECT lang,
        CASE WHEN cjk_ratio > 0.05 THEN 'zh'
             WHEN greatest(h_en, h_de, h_es, h_fr) > 0
                  AND h_en = greatest(h_en, h_de, h_es, h_fr) THEN 'en'
             WHEN greatest(h_en, h_de, h_es, h_fr) > 0
                  AND h_de = greatest(h_en, h_de, h_es, h_fr) THEN 'de'
             WHEN greatest(h_en, h_de, h_es, h_fr) > 0
                  AND h_es = greatest(h_en, h_de, h_es, h_fr) THEN 'es'
             WHEN greatest(h_en, h_de, h_es, h_fr) > 0
                  AND h_fr = greatest(h_en, h_de, h_es, h_fr) THEN 'fr'
             ELSE 'und' END AS lang_pred
      FROM t)
    SELECT lang, lang_pred, count(*) AS n FROM p
    GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """,
)

_q(
    "x_gopher_quality",
    # the full Gopher rule set (Rae et al. 2021 A1.1) value-checked
    # column-by-column; ratios integer-scaled (see with_text_stats note)
    """
    from '$SF/documents.parquet' |>
    gopher_quality |>
    select doc_id, g_n_words,
      cast(round(mean_word_len * 10000, 0) as bigint) as mwl_bp,
      cast(round(symbol_word_ratio * 10000, 0) as bigint) as sym_bp,
      cast(round(alpha_word_frac * 10000, 0) as bigint) as alpha_bp,
      n_stop_hits,
      cast(gopher_pass as bigint) as gopher_pass |>
    order by doc_id
    """,
    r"""
    WITH w AS (
      SELECT doc_id,
        list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS words,
        list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                    l -> l <> '') AS lines,
        text
      FROM documents),
    s AS (
      SELECT doc_id,
        len(words) AS g_n_words,
        coalesce(list_sum(list_transform(words, x -> length(x))), 0)
          / greatest(len(words), 1) AS mean_word_len,
        ((length(text) - length(translate(text, '#', '')))
         + len(regexp_extract_all(text, '\.\.\.'))
         + (length(text) - length(translate(text, '…', ''))))
          / greatest(len(words), 1) AS symbol_word_ratio,
        len(list_filter(lines, l -> left(l, 1) IN ('-', '*', '•')))
          / greatest(len(lines), 1) AS bullet_line_frac,
        len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…')))
          / greatest(len(lines), 1) AS ellipsis_line_frac,
        len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
          / greatest(len(words), 1) AS alpha_word_frac,
        len(list_intersect(list_distinct(list_transform(words, x -> lower(x))),
            ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS n_stop_hits
      FROM w)
    SELECT doc_id, g_n_words,
      CAST(round(mean_word_len * 10000, 0) AS BIGINT) AS mwl_bp,
      CAST(round(symbol_word_ratio * 10000, 0) AS BIGINT) AS sym_bp,
      CAST(round(alpha_word_frac * 10000, 0) AS BIGINT) AS alpha_bp,
      n_stop_hits,
      CAST((g_n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3 AND 10)
        AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
        AND n_stop_hits >= 2 AS BIGINT) AS gopher_pass
    FROM s ORDER BY doc_id
    """,
)

_q(
    "x_c4_clean",
    # C4 line filter (Raffel et al. 2020 §2.2) over synthesized multi-line
    # docs (the sf documents are single-line word soup, so the pipe first
    # manufactures terminal-punctuation lines with a cross-engine replace)
    """
    from '$SF/documents.parquet' |>
    select doc_id, replace(text || ' merge end', ' merge ', '.' || chr(10)) as text |>
    c4_clean |>
    select doc_id, n_lines, n_lines_kept, md5(text_clean) as clean_md5,
      n_sentences, cast(c4_pass as bigint) as c4_pass |>
    order by doc_id
    """,
    r"""
    WITH d AS (
      SELECT doc_id,
             replace(text || ' merge end', ' merge ', '.' || chr(10)) AS text
      FROM documents),
    w AS (
      SELECT doc_id, text,
        list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                    l -> l <> '') AS lines
      FROM d),
    k AS (
      SELECT doc_id, text, lines,
        list_filter(lines, l -> right(l, 1) IN ('.', '!', '?', '"', '''')
          AND len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) >= 5
          AND NOT contains(lower(l), 'javascript')) AS kept
      FROM w),
    c AS (
      SELECT doc_id, text, lines, kept,
             array_to_string(kept, chr(10)) AS clean
      FROM k)
    SELECT doc_id,
      len(lines) AS n_lines,
      len(kept) AS n_lines_kept,
      md5(clean) AS clean_md5,
      CAST(length(clean) - length(translate(clean, '.!?', '')) AS BIGINT)
        AS n_sentences,
      CAST(NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
        AND (length(clean) - length(translate(clean, '.!?', ''))) >= 3
        AS BIGINT) AS c4_pass
    FROM c ORDER BY doc_id
    """,
)

_q(
    "x_paragraph_dedup",
    # CCNet corpus-wide paragraph dedup (Wenzek et al. 2020 §3.1): word-level
    # paragraphs synthesized via replace so cross-document duplicates are
    # dense; first (doc_id, pos) occurrence survives, text rebuilt in order
    """
    from '$SF/documents.parquet' |>
    select doc_id, replace(text, ' ', chr(10)) as text |>
    paragraph_dedup |>
    select doc_id, md5(text) as text_md5, n_paragraphs, n_kept |>
    order by doc_id
    """,
    r"""
    WITH d AS (
      SELECT doc_id, replace(text, ' ', chr(10)) AS text FROM documents),
    e AS (
      SELECT doc_id,
        unnest(string_split(text, chr(10))) AS line,
        generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos
      FROM d),
    n AS (
      SELECT doc_id, line, pos,
        trim(regexp_replace(regexp_replace(
          translate(lower(line), '0123456789', '0000000000'),
          '[^a-z0\s]', '', 'g'), '\s+', ' ', 'g')) AS norm
      FROM e),
    k AS (
      SELECT doc_id, line, pos,
        row_number() OVER (PARTITION BY norm ORDER BY doc_id, pos) AS rn
      FROM n WHERE norm <> ''),
    surv AS (
      SELECT doc_id, line, pos FROM k WHERE rn = 1
      UNION ALL
      SELECT doc_id, line, pos FROM n WHERE norm = ''),
    reb AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
      FROM surv GROUP BY doc_id),
    stats AS (
      SELECT doc_id,
        sum(CASE WHEN norm <> '' THEN 1 ELSE 0 END) AS n_paragraphs
      FROM n GROUP BY doc_id),
    nk AS (SELECT doc_id, count(*) AS n_kept FROM k WHERE rn = 1 GROUP BY doc_id)
    SELECT d.doc_id,
      md5(coalesce(reb.text, '')) AS text_md5,
      CAST(coalesce(stats.n_paragraphs, 0) AS BIGINT) AS n_paragraphs,
      CAST(coalesce(nk.n_kept, 0) AS BIGINT) AS n_kept
    FROM d LEFT JOIN reb USING (doc_id) LEFT JOIN stats USING (doc_id)
           LEFT JOIN nk USING (doc_id)
    ORDER BY doc_id
    """,
)

_q(
    "q_enum_types",
    # ENUM surface (enums.py) against the REAL DuckDB enum engine:
    # inline anonymous ENUM casts (no CREATE TYPE needed on the oracle
    # side), declaration-position ORDER BY, positional enum-enum
    # comparison in WHERE, enum_code. lang_e is cast back to VARCHAR in
    # the oracle so both engines ship one dtype.
    """
    from '$SF/documents.parquet' |>
    where lang::ENUM('zh','fr','es','de','en') >= 'es'::ENUM('zh','fr','es','de','en') |>
    select lang::ENUM('zh','fr','es','de','en') as lang_e,
           cast(enum_code(lang::ENUM('zh','fr','es','de','en')) as int) as code,
           count() as n
      group by lang |>
    order by lang_e::ENUM('zh','fr','es','de','en')
    """,
    """
    SELECT (lang::ENUM('zh','fr','es','de','en'))::VARCHAR AS lang_e,
           CAST(enum_code(lang::ENUM('zh','fr','es','de','en')) AS INT) AS code,
           count(*) AS n
    FROM documents
    WHERE lang::ENUM('zh','fr','es','de','en') >= 'es'::ENUM('zh','fr','es','de','en')
    GROUP BY lang
    ORDER BY lang_e::ENUM('zh','fr','es','de','en')
    """,
)

_q(
    "x_vocab_topk",
    # tokenizer-prep vocabulary: corpus-wide top-k bigrams with doc
    # frequencies; (n_total DESC, gram ASC) tie-break makes the cut exact
    """
    from '$SF/documents.parquet' |>
    vocab ngram=2 k=100 |>
    order by n_total desc, gram
    """,
    r"""
    WITH w AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
          AS words
      FROM documents),
    g AS (
      SELECT doc_id,
        unnest(CASE WHEN len(words) < 2 THEN []::VARCHAR[]
               ELSE list_transform(range(1, len(words)),
                    i -> words[i] || ' ' || words[i + 1]) END) AS gram
      FROM w),
    pd AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
    v AS (SELECT gram, CAST(sum(c) AS BIGINT) AS n_total,
                 count(*) AS n_docs
          FROM pd GROUP BY gram)
    SELECT gram, n_total, n_docs FROM v
    ORDER BY n_total DESC, gram LIMIT 100
    """,
)

_q(
    "x_tfidf_topk",
    # per-doc top-3 terms by rational tf-idf (tf·(N+1)/(df+1): integer
    # products + one IEEE division are bit-identical across engines, so
    # rank order and the raw double score are both exact)
    """
    from '$SF/documents.parquet' |>
    tfidf k=3 |>
    order by doc_id, rank
    """,
    r"""
    WITH w AS (
      SELECT doc_id,
        unnest(list_filter(string_split_regex(lower(text), '\s+'),
               x -> x <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS nn FROM documents),
    s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df_t,
                 tf.tf * (n.nn + 1) / (dfq.df_t + 1) AS score
          FROM tf JOIN dfq USING (term) CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, term) AS rank FROM s)
    SELECT doc_id, term, tf, df_t, score, rank
    FROM r WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)

_q(
    "x_token_count",
    """
    from '$SF/documents.parquet' |>
    token_count |>
    select doc_id, n_tokens |>
    order by doc_id
    """,
    """
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+'))
                + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                + floor((length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) + 3) / 4)
                AS BIGINT) AS n_tokens
    FROM documents ORDER BY doc_id
    """,
)

_q(
    "x_pack_bins",
    # token-budget shard packing: deterministic md5-bucketed global order,
    # exact integer prefix sums — bin_id is cross-engine reproducible
    """
    from '$SF/documents.parquet' |>
    token_count |>
    pack_bins key=doc_id tokens=n_tokens target=5000 |>
    select doc_id, n_tokens, bin_id |>
    order by doc_id
    """,
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+'))
                  + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                  + floor((length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) + 3) / 4)
                  AS BIGINT) AS n_tokens,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bkt
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY bkt, doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start
      FROM t)
    SELECT doc_id, n_tokens, CAST(floor(start / 5000) AS BIGINT) AS bin_id
    FROM c ORDER BY doc_id
    """,
)

_q(
    "x_verb_dedup",
    """
    from '$SF/documents.parquet' |>
    dedup by text keep doc_id |>
    select doc_id, lang, source |>
    order by doc_id
    """,
    """
    SELECT doc_id, lang, source
    FROM (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM documents)
    WHERE rn = 1 ORDER BY doc_id
    """,
)


def _op_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprint(docs).select("doc_id", "fp_md5")


_q(
    "x_fingerprint",
    _op_fingerprint,
    "SELECT doc_id, md5(text) AS fp_md5 FROM documents",
)


def _op_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming duplicate-delivery dedup: double every
    event (at-least-once delivery), dedup on event_id. Duplicate rows are
    identical, so the survivor set is exact."""
    from .sources.resolver import SourceResolver
    from .streaming import stream_dedup

    ev = SourceResolver(spark).resolve(f"{sf_dir}/events.parquet")
    doubled = ev.unionAll(ev)
    return stream_dedup(doubled, ["event_id"]).select("event_id", "user_id", "event_type")


_q(
    "x_stream_dedup",
    _op_stream_dedup,
    "SELECT event_id, user_id, event_type FROM events",
)


def _op_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.resolver import SourceResolver
    from .streaming import stream_tumbling_counts

    events = SourceResolver(spark).resolve(f"{sf_dir}/events.parquet")
    return stream_tumbling_counts(events, window="1 hour")


_q(
    "x_tumbling_window",
    _op_tumbling,
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)


def _op_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.resolver import SourceResolver
    from .streaming import stream_sliding_counts

    events = SourceResolver(spark).resolve(f"{sf_dir}/events.parquet")
    return stream_sliding_counts(events, window="1 hour", slide="15 minutes")


_q(
    "x_sliding_window",
    _op_sliding,
    # each event belongs to 4 overlapping windows (1h window, 15min
    # slide); the oracle re-derives the fan-out with a range() lateral
    """
    WITH exploded AS (
      SELECT event_type, value,
             make_timestamp(CAST((floor(epoch(ts)/900)*900 - i*900) * 1000000 AS BIGINT))
               AS window_start
      FROM events, range(0, 4) t(i)
    )
    SELECT window_start, event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM exploded GROUP BY 1, 2
    """,
)


def _op_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.resolver import SourceResolver
    from .streaming import sessionize

    events = SourceResolver(spark).resolve(f"{sf_dir}/events.parquet")
    return sessionize(events, gap="30 minutes")


_q(
    "x_sessionize",
    _op_sessionize,
    # gap-based sessions re-derived with lag + cumulative new-session flags
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)


def _op_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import metadata_stats, synthetic_media

    return metadata_stats(synthetic_media(spark, 64))


def _media_meta_oracle(n: int = 64) -> str:
    """metadata_stats over synthetic_media is deterministic: recompute the
    expected (kind, format, n, total_bytes, avg_duration_ms) rows from
    the SAME row generator the Spark table uses (synthetic_media_rows —
    single source of truth; the round-10 audio-payload upgrade broke the
    previous hand-duplicated copy) and inline as VALUES."""
    from .operators.multimodal import synthetic_media_rows

    groups: dict[tuple[str, str], list[tuple[int, int | None]]] = {}
    for (_i, kind, fmt, _content, _w, _h, dur, nb) in synthetic_media_rows(n):
        groups.setdefault((kind, fmt), []).append((nb, dur))
    rows = []
    for (kind, fmt), vals in sorted(groups.items()):
        total = sum(nb for nb, _ in vals)
        durs = [d for _, d in vals if d is not None]
        avg = f"{round(sum(durs) / len(durs), 1)}" if durs else "CAST(NULL AS DOUBLE)"
        rows.append(f"('{kind}', '{fmt}', {len(vals)}, {total}, {avg})")
    return (
        "SELECT kind, format, CAST(n AS BIGINT) AS n, "
        "CAST(total_bytes AS BIGINT) AS total_bytes, "
        "CAST(avg_duration_ms AS DOUBLE) AS avg_duration_ms FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(kind, format, n, total_bytes, avg_duration_ms)"
    )


_q("x_multimodal_meta", _op_media, _media_meta_oracle())


def _op_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_images, synthetic_media

    return decode_images(synthetic_media(spark, 45))


def _png_decode_oracle(n: int = 45) -> str:
    """Expected decode results computed from the PRE-encode pixel buffers
    (operators/png.py synthetic_pixels) — the distributed decode must
    recover the exact raw bytes, not just parse the header."""
    import zlib

    from .operators.png import synthetic_pixels

    rows = []
    for i in range(0, n, 3):  # image rows are media_id % 3 == 0
        w, h, px = synthetic_pixels(i)
        rows.append(f"({i}, {w}, {h}, 3, {len(px)}, {zlib.crc32(px) & 0xFFFFFFFF})")
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, width, height, channels, "
        "CAST(n_pixel_bytes AS BIGINT) AS n_pixel_bytes, pixel_crc, "
        "CAST(NULL AS VARCHAR) AS error "
        "FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, width, height, channels, n_pixel_bytes, pixel_crc)"
    )


_q("x_png_decode", _op_png_decode, _png_decode_oracle())


def _op_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 REAL video frame sampling (operators/av1.py): the
    synthetic video rows carry genuine AV1 OBU streams (encoded through
    the system libaom); sample_frames decodes them with DAV1D — an
    independent decoder implementation — inside mapInPandas and emits
    each sampled frame's luma plane. The oracle decodes the SAME
    payloads with LIBAOM's decoder (the second implementation) at
    oracle-build time: matching per-frame CRCs mean two independent AV1
    decoders agree on every pixel — the same cross-validation story as
    the VP8L codec vs libwebp (round 11)."""
    from pyspark.sql import functions as F

    from .operators.multimodal import sample_frames, synthetic_media

    fr = sample_frames(synthetic_media(spark, 24), every_ms=500)
    return fr.select(
        "media_id", "frame_ts_ms", "frame_w", "frame_h",
        F.crc32(F.col("frame")).cast("bigint").alias("luma_crc"),
        "err",
    ).orderBy("media_id", "frame_ts_ms")


def _frame_decode_oracle(n: int = 24) -> str | None:
    import zlib

    try:
        from .operators.av1 import av1_available, decode_av1_aom

        if not av1_available():
            return None
    except Exception:  # noqa: BLE001
        return None
    from .operators.multimodal import synthetic_media_rows

    rows = []
    for (i, kind, fmt, content, _w, _h, dur, _nb) in synthetic_media_rows(n):
        if kind != "video" or fmt != "av1":
            continue
        frames = decode_av1_aom(bytes(content))
        for ts in range(0, int(dur) + 1, 500):
            idx = min(len(frames) - 1, ts * len(frames) // max(int(dur), 1))
            fr = frames[idx]
            crc = zlib.crc32(fr.y) & 0xFFFFFFFF
            rows.append(f"({i}, {ts}, {fr.w}, {fr.h}, {crc})")
    if not rows:
        return None
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(frame_ts_ms AS BIGINT) AS frame_ts_ms, frame_w, frame_h, "
        "CAST(luma_crc AS BIGINT) AS luma_crc, "
        "CAST(NULL AS VARCHAR) AS err FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, frame_ts_ms, frame_w, frame_h, luma_crc) "
        "ORDER BY media_id, frame_ts_ms"
    )


_FRAME_ORACLE = _frame_decode_oracle()
if _FRAME_ORACLE is not None:
    _q("x_frame_decode", _op_frame_decode, _FRAME_ORACLE)


def _op_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_images, synthetic_jpeg_media

    return decode_images(synthetic_jpeg_media(spark, 24))


def _jpeg_decode_oracle(n: int = 24) -> str:
    """Expected results from a LOCAL decode with the same codec.

    JPEG is lossy, so unlike PNG there is no pre-encode pixel identity to
    assert; what the oracle pins is that the DISTRIBUTED decode (Arrow
    batches, executor-side numpy) reproduces the deterministic reference
    decode bit-for-bit — dims from SOF, crc32 over the fully decoded
    pixels, across 4:4:4 / 4:2:0 / restart-interval baseline AND
    progressive (SOF2) encoder variants (jpeg.synthetic_jpeg_payload).
    Codec fidelity itself is tested separately (PSNR bounds in
    tests/test_operators.py)."""
    import zlib

    from .operators.jpeg import decode_jpeg, synthetic_jpeg_payload

    rows = []
    for i in range(n):
        _w, _h, content = synthetic_jpeg_payload(i)
        d = decode_jpeg(content)
        rows.append(
            f"({i}, {d['width']}, {d['height']}, {d['channels']}, "
            f"{len(d['pixels'])}, {zlib.crc32(d['pixels']) & 0xFFFFFFFF})"
        )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, width, height, channels, "
        "CAST(n_pixel_bytes AS BIGINT) AS n_pixel_bytes, pixel_crc, "
        "CAST(NULL AS VARCHAR) AS error "
        "FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, width, height, channels, n_pixel_bytes, pixel_crc)"
    )


_q("x_jpeg_decode", _op_jpeg_decode, _jpeg_decode_oracle())


def _op_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_images, synthetic_gif_media

    return decode_images(synthetic_gif_media(spark, 24))


def _gif_decode_oracle(n: int = 24) -> str:
    """GIF is palette-indexed (lossless), so the oracle pins the exact
    RGB expansion: dims + crc32 over pixels computed from the palette
    directly, independent of the decoder (operators/gif.py)."""
    import zlib

    from .operators.gif import synthetic_gif_indices

    rows = []
    for i in range(n):
        w, h, idx, pal = synthetic_gif_indices(i)
        px = bytes(b for j in idx for b in pal[3 * j : 3 * j + 3])
        rows.append(
            f"({i}, {w}, {h}, 3, {len(px)}, {zlib.crc32(px) & 0xFFFFFFFF})"
        )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, width, height, channels, "
        "CAST(n_pixel_bytes AS BIGINT) AS n_pixel_bytes, pixel_crc, "
        "CAST(NULL AS VARCHAR) AS error "
        "FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, width, height, channels, n_pixel_bytes, pixel_crc)"
    )


_q("x_gif_decode", _op_gif_decode, _gif_decode_oracle())


def _op_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_images, synthetic_tiff_media

    return decode_images(synthetic_tiff_media(spark, 24))


def _tiff_decode_oracle(n: int = 24) -> str:
    """TIFF strips are lossless under all three supported compressions,
    so the oracle pins dims + crc32 over the ORIGINAL pixels, computed
    independently of the decoder (operators/tiff.py)."""
    import zlib

    from .operators.tiff import synthetic_tiff_pixels

    rows = []
    for i in range(n):
        w, h, ch, px = synthetic_tiff_pixels(i)
        rows.append(
            f"({i}, {w}, {h}, {ch}, {len(px)}, {zlib.crc32(px) & 0xFFFFFFFF})"
        )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, width, height, channels, "
        "CAST(n_pixel_bytes AS BIGINT) AS n_pixel_bytes, pixel_crc, "
        "CAST(NULL AS VARCHAR) AS error "
        "FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, width, height, channels, n_pixel_bytes, pixel_crc)"
    )


_q("x_tiff_decode", _op_tiff_decode, _tiff_decode_oracle())


def _op_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_images, synthetic_webp_media

    return decode_images(synthetic_webp_media(spark, 24))


def _webp_decode_oracle(n: int = 24) -> str:
    """VP8L is lossless, so the oracle pins dims + crc32 over the
    ORIGINAL RGBA pixels, computed independently of the decoder
    (operators/webp.py)."""
    import zlib

    from .operators.webp import synthetic_webp_pixels

    rows = []
    for i in range(n):
        w, h, px = synthetic_webp_pixels(i)
        rows.append(
            f"({i}, {w}, {h}, 4, {len(px)}, {zlib.crc32(px) & 0xFFFFFFFF})"
        )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, width, height, channels, "
        "CAST(n_pixel_bytes AS BIGINT) AS n_pixel_bytes, pixel_crc, "
        "CAST(NULL AS VARCHAR) AS error "
        "FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, width, height, channels, n_pixel_bytes, pixel_crc)"
    )


_q("x_webp_decode", _op_webp_decode, _webp_decode_oracle())


def _op_decode_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_images, synthetic_corrupt_media

    return decode_images(synthetic_corrupt_media(spark, 40))


def _decode_corrupt_oracle(n: int = 40) -> str:
    """Corruption tolerance (VERDICT r6 'what's wrong' #1): the payload
    set mixes intact images of all five codecs with truncated,
    bit-flipped, garbage-header, and lossy-VP8 payloads. The oracle
    re-runs the same never-raising per-row kernel locally, so the
    differential value-checks BOTH the surviving good rows AND the exact
    error strings — and the entry completing at all proves no damaged
    payload kills the task."""
    from .operators.multimodal import decode_image_row, synthetic_corrupt_payload

    rows = []
    for i in range(n):
        r = decode_image_row(synthetic_corrupt_payload(i))
        if r["error"] is None:
            rows.append(
                f"({i}, {r['width']}, {r['height']}, {r['channels']}, "
                f"{r['n_pixel_bytes']}, {r['pixel_crc']}, CAST(NULL AS VARCHAR))"
            )
        else:
            msg = r["error"].replace("'", "''")
            rows.append(
                "(" + str(i) + ", CAST(NULL AS INT), CAST(NULL AS INT), "
                "CAST(NULL AS INT), CAST(NULL AS BIGINT), "
                f"CAST(NULL AS BIGINT), '{msg}')"
            )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, width, height, channels, "
        "CAST(n_pixel_bytes AS BIGINT) AS n_pixel_bytes, pixel_crc, error "
        "FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, width, height, channels, n_pixel_bytes, pixel_crc, error)"
    )


_q("x_decode_corrupt", _op_decode_corrupt, _decode_corrupt_oracle())


def _op_webp_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_images, synthetic_lossy_webp_media

    return decode_images(synthetic_lossy_webp_media(spark, 24))


def _webp_lossy_oracle(n: int = 24) -> str | None:
    """Lossy-VP8 decode through the system libwebp kernel (round 11 —
    the documented deployment-kernel swap made real: operators/webp.py
    _decode_lossy_system; VP8's ~3000 empirical RFC 6386 probability
    constants make a faithful offline from-scratch decoder unwritable,
    and the container ships libwebp.so.7). Payload set mixes intact
    quality-75 gradients with truncated / bit-flipped / bad-chunk-tag
    damage; the oracle re-runs the same kernel locally, value-checking
    decoded dimensions, the full RGBA CRC, and exact error strings.
    Returns None (entry skipped) when libwebp is absent."""
    from .operators.multimodal import (
        decode_image_row,
        synthetic_lossy_webp_payload,
    )

    try:
        rows = []
        for i in range(n):
            r = decode_image_row(synthetic_lossy_webp_payload(i))
            if r["error"] is None:
                rows.append(
                    f"({i}, {r['width']}, {r['height']}, {r['channels']}, "
                    f"{r['n_pixel_bytes']}, {r['pixel_crc']}, "
                    "CAST(NULL AS VARCHAR))"
                )
            else:
                msg = r["error"].replace("'", "''")
                rows.append(
                    "(" + str(i) + ", CAST(NULL AS INT), CAST(NULL AS INT), "
                    "CAST(NULL AS INT), CAST(NULL AS BIGINT), "
                    f"CAST(NULL AS BIGINT), '{msg}')"
                )
    except Exception:  # noqa: BLE001 — ANY kernel-availability failure
        # must skip the entry, never break the inventory import (a
        # libwebp that loads but whose encode fails would otherwise
        # take down the whole driver — round-11 self-review find #4)
        return None
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, width, height, channels, "
        "CAST(n_pixel_bytes AS BIGINT) AS n_pixel_bytes, pixel_crc, error "
        "FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, width, height, channels, n_pixel_bytes, pixel_crc, error)"
    )


# import-time construction mirrors the x_decode_corrupt/x_audio_decode
# oracle pattern; measured 18 ms for the 24 encode+decode roundtrips
# (review find #4 assessed: any failure skips the entry via the broad
# except above rather than breaking the import)
_WEBP_LOSSY_ORACLE = _webp_lossy_oracle()
if _WEBP_LOSSY_ORACLE is not None:
    _q("x_webp_lossy", _op_webp_lossy, _WEBP_LOSSY_ORACLE)


def _op_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_audio, synthetic_audio_media

    return decode_audio(synthetic_audio_media(spark, 30)).orderBy("media_id")


def _audio_decode_oracle(n: int = 30) -> str:
    """REAL WAV decode (operators/wav.py): the payload set mixes intact
    PCM-8/16/32 + IEEE-float mono/stereo WAVs with truncated, partial-
    frame, unknown-codec, and non-WAV payloads. The oracle re-runs the
    same deterministic kernel locally (the x_decode_corrupt pattern), so
    sample counts, the pcm CRC, the float64 DSP features (RMS dBFS /
    peak / zero-crossing rate), and the exact error strings are all
    value-checked — and completion proves no corrupt payload kills a
    task."""
    from .operators.multimodal import decode_audio_row, synthetic_audio_payload

    rows = []
    for i in range(n):
        r = decode_audio_row(synthetic_audio_payload(i))
        if r["error"] is None:
            rows.append(
                f"({i}, {r['sample_rate']}, {r['channels']}, {r['bits']}, "
                f"{r['n_frames']}, {r['duration_ms']}, {r['rms_db']!r}, "
                f"{r['peak_abs']!r}, {r['zcr']!r}, {r['pcm_crc']}, "
                "CAST(NULL AS VARCHAR))"
            )
        else:
            msg = r["error"].replace("'", "''")
            rows.append(
                f"({i}, CAST(NULL AS INT), CAST(NULL AS INT), "
                "CAST(NULL AS INT), CAST(NULL AS BIGINT), "
                "CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), "
                "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
                f"CAST(NULL AS BIGINT), '{msg}')"
            )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, sample_rate, channels, "
        "bits, n_frames, duration_ms, CAST(rms_db AS DOUBLE) AS rms_db, "
        "CAST(peak_abs AS DOUBLE) AS peak_abs, CAST(zcr AS DOUBLE) AS zcr, "
        "pcm_crc, error FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, sample_rate, channels, bits, n_frames, "
        "duration_ms, rms_db, peak_abs, zcr, pcm_crc, error) "
        "ORDER BY media_id"
    )


_q("x_audio_decode", _op_audio_decode, _audio_decode_oracle())


def _op_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import image_stats, synthetic_corrupt_media

    return image_stats(synthetic_corrupt_media(spark, 40)).orderBy("media_id")


def _image_stats_oracle(n: int = 40) -> str:
    """REAL decoded-pixel statistics over the five-codec corrupt payload
    set (the x_decode_corrupt inputs): channel means, integer-BT.601
    luma, 8-bin histogram — the oracle re-runs the same deterministic
    kernel locally, value-checking the features AND the error strings."""
    from .operators.multimodal import image_stats_row, synthetic_corrupt_payload

    rows = []
    for i in range(n):
        r = image_stats_row(synthetic_corrupt_payload(i))
        if r["error"] is None:
            rows.append(
                f"({i}, {r['width']}, {r['height']}, {r['channels']}, "
                f"{r['mean_r']!r}, {r['mean_g']!r}, {r['mean_b']!r}, "
                f"{r['luma_mean']!r}, '{r['luma_hist']}', "
                "CAST(NULL AS VARCHAR))"
            )
        else:
            msg = r["error"].replace("'", "''")
            rows.append(
                f"({i}, CAST(NULL AS INT), CAST(NULL AS INT), "
                "CAST(NULL AS INT), CAST(NULL AS DOUBLE), "
                "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
                f"CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), '{msg}')"
            )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, width, height, "
        "channels, CAST(mean_r AS DOUBLE) AS mean_r, "
        "CAST(mean_g AS DOUBLE) AS mean_g, CAST(mean_b AS DOUBLE) AS mean_b, "
        "CAST(luma_mean AS DOUBLE) AS luma_mean, luma_hist, error "
        "FROM (VALUES " + ", ".join(rows) + ") AS t(media_id, width, height, "
        "channels, mean_r, mean_g, mean_b, luma_mean, luma_hist, error) "
        "ORDER BY media_id"
    )


_q("x_image_stats", _op_image_stats, _image_stats_oracle())


def _op_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as SF

    from .operators.multimodal import resize_images, synthetic_corrupt_media

    return (
        resize_images(synthetic_corrupt_media(spark, 40), width=16, height=16)
        .select(
            "media_id", "src_width", "src_height",
            SF.md5(SF.col("content")).alias("png_md5"), "error",
        )
        .orderBy("media_id")
    )


def _image_resize_oracle(n: int = 40) -> str:
    """REAL nearest-neighbor resize over the five-codec corrupt payload
    set: the oracle re-runs the kernel locally and md5s the re-encoded
    PNG — byte-exact or the row fails."""
    import hashlib

    from .operators.multimodal import resize_image_row, synthetic_corrupt_payload

    rows = []
    for i in range(n):
        r = resize_image_row(synthetic_corrupt_payload(i), 16, 16)
        if r["error"] is None:
            md5 = hashlib.md5(r["content"]).hexdigest()
            rows.append(
                f"({i}, {r['src_width']}, {r['src_height']}, '{md5}', "
                "CAST(NULL AS VARCHAR))"
            )
        else:
            msg = r["error"].replace("'", "''")
            rows.append(
                f"({i}, CAST(NULL AS INT), CAST(NULL AS INT), "
                f"CAST(NULL AS VARCHAR), '{msg}')"
            )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, src_width, src_height, "
        "png_md5, error FROM (VALUES " + ", ".join(rows)
        + ") AS t(media_id, src_width, src_height, png_md5, error) "
        "ORDER BY media_id"
    )


_q("x_image_resize", _op_image_resize, _image_resize_oracle())


from .operators.split import hash_split_sql_case as _hs_case

_E2E_SPLIT_CASE = _hs_case("doc_id", {"train": 0.98, "val": 0.01, "test": 0.01})

_q(
    "x_pipeline_e2e",
    # The full training-data pipeline as ONE piped program: exact dedup →
    # language ID → language filter → quality scoring → quality filter →
    # token counting → deterministic train/val/test assignment. The
    # oracle re-derives every stage in DuckDB SQL.
    """
    from '$SF/documents.parquet' |>
    dedup by text keep doc_id |>
    lang_id |>
    where lang_pred = 'en' |>
    quality_score |>
    where quality_score > 0.5 |>
    token_count |>
    hash_split key=doc_id |>
    select doc_id, cast(round(quality_score * 10000, 0) as bigint) as q_bp,
      n_tokens, split |>
    order by doc_id
    """,
    """
    WITH dedup AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) rn
                     FROM documents) WHERE rn = 1),
    feats AS (
      SELECT doc_id, text,
             string_split_regex(lower(text), '\\s+') AS toks,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
      FROM dedup),
    lang AS (
      SELECT *,
        len(list_filter(toks, t -> t IN ('the','and','of','to','is','in','that','it'))) AS h_en,
        len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) AS h_de,
        len(list_filter(toks, t -> t IN ('el','la','los','de','que','es','un','una'))) AS h_es,
        len(list_filter(toks, t -> t IN ('le','la','les','des','et','est','une','dans'))) AS h_fr,
        length(regexp_replace(text, '[^一-鿿]', '', 'g')) / greatest(length(text), 1) AS cjk_ratio
      FROM feats),
    pred AS (
      SELECT *,
        CASE WHEN cjk_ratio > 0.05 THEN 'zh'
             WHEN greatest(h_en, h_de, h_es, h_fr) > 0
                  AND h_en = greatest(h_en, h_de, h_es, h_fr) THEN 'en'
             WHEN greatest(h_en, h_de, h_es, h_fr) > 0
                  AND h_de = greatest(h_en, h_de, h_es, h_fr) THEN 'de'
             WHEN greatest(h_en, h_de, h_es, h_fr) > 0
                  AND h_es = greatest(h_en, h_de, h_es, h_fr) THEN 'es'
             WHEN greatest(h_en, h_de, h_es, h_fr) > 0
                  AND h_fr = greatest(h_en, h_de, h_es, h_fr) THEN 'fr'
             ELSE 'und' END AS lang_pred
      FROM lang),
    scored AS (
      SELECT doc_id, text,
        (0.35 * (CASE WHEN len(toks) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.2 END)
         + 0.25 * least((len(list_distinct(toks)) / greatest(len(toks), 1)) * 2, 1.0)
         + 0.25 * (alpha / greatest(n_chars, 1))
         + 0.15 * (1 - least((digits / greatest(n_chars, 1)) * 5, 1.0))) AS qs
      FROM pred WHERE lang_pred = 'en')
    SELECT doc_id,
           CAST(round(qs * 10000, 0) AS BIGINT) AS q_bp,
           CAST(len(string_split_regex(trim(text), '\\s+'))
                + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                + floor((length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) + 3) / 4)
                AS BIGINT) AS n_tokens,
           __SPLIT_CASE__ AS split
    FROM scored WHERE qs > 0.5 ORDER BY doc_id
    """.replace("__SPLIT_CASE__", _E2E_SPLIT_CASE),
)


def _op_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUMMARIZE statement; the exactly-comparable fields (min/max/count/
    null %) are value-checked against DuckDB's own SUMMARIZE — approx
    sketch fields (approx_unique, quartiles) are engine-specific."""
    return _psql(spark).sql(f"summarize '{sf_dir}/orders.parquet'").selectExpr(
        "column_name", "min", "max", "count",
        "cast(null_percentage as double) as null_pct",
    )


_q(
    "x_summarize",
    _op_summarize,
    """
    SELECT column_name, min, max, count,
           CAST(null_percentage AS DOUBLE) AS null_pct
    FROM (SUMMARIZE orders)
    """,
)


def _op_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USING SAMPLE stage — seeded Bernoulli; engines sample differently so
    this is a rows-only check (both engines land near 10%)."""
    return _psql(spark).sql(
        f"from '{sf_dir}/orders.parquet' |> using sample 10% |> "
        "select o_orderkey, o_custkey"
    )


_q("x_sample", _op_sample, None)


def _op_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment via the hash_split pipe verb
    (md5 hex vs lexicographic boundary strings — exact in any engine)."""
    return _psql(spark).sql(
        f"from '{sf_dir}/orders.parquet' |> "
        "hash_split key=o_orderkey train=0.8 val=0.1 test=0.1 |> "
        "select o_orderkey, split"
    )


def _hash_split_oracle() -> str:
    from .operators.split import hash_split_sql_case

    case = hash_split_sql_case("o_orderkey", {"train": 0.8, "val": 0.1, "test": 0.1})
    return f"SELECT o_orderkey, {case} AS split FROM orders"


_q("x_hash_split", _op_hash_split, _hash_split_oracle())


def _op_copy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY … TO parquet sink, then read the directory back (distributed
    part-file layout — the 100 TB-safe write path)."""
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="psql_copy_") + "/agg.parquet"
    _psql(spark).sql(
        f"""copy (from '{sf_dir}/orders.parquet' |>
               select o_orderstatus, count() as n, round(sum(o_totalprice), 2) as total
               group by o_orderstatus)
            to '{out_dir}' (format parquet)"""
    )
    return spark.read.parquet(out_dir)


_q(
    "x_copy_roundtrip",
    _op_copy_roundtrip,
    """
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)


def _op_insert_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO (delegated-dialect DML): seed a view, append positionally,
    BY NAME, and via VALUES with a column list, then read it back."""
    p = _psql(spark)
    p.sql(
        f"create or replace temp view q_insert_demo as (| from '{sf_dir}/nation.parquet' |>"
        " where n_nationkey < 5 |> select n_nationkey, n_name |)"
    )
    p.sql(
        f"insert into q_insert_demo (from '{sf_dir}/nation.parquet' |>"
        " where n_nationkey between 5 and 7 |> select n_nationkey, n_name)"
    )
    p.sql(
        f"insert into q_insert_demo by name (from '{sf_dir}/nation.parquet' |>"
        " where n_nationkey = 8 |> select n_name, n_nationkey)"
    )
    p.sql("insert into q_insert_demo (n_nationkey, n_name) values (99, 'ATLANTIS')")
    return p.sql("from q_insert_demo |> order by n_nationkey")


_q(
    "q_struct_literal_extras",
    # brace literals ({…} struct, MAP {…}), DuckDB map[key] LIST shape,
    # 1-based inclusive string slicing, gcd/lcm (Euclid-as-fold shim)
    """
    from '$SF/nation.parquet' |>
    where n_nationkey between 1 and 20 |>
    select n_nationkey,
      {'k': n_nationkey, 'nm': n_name}.nm as st_field,
      map {'a': n_nationkey * 2}['a'][1] as map_hit,
      array_length(map {'a': n_nationkey}['zz']) as miss_len,
      n_name[2:8] as sliced,
      gcd(n_nationkey, 12) as g,
      lcm(n_nationkey, 4) as l |>
    order by n_nationkey
    """,
    """
    SELECT n_nationkey,
           {'k': n_nationkey, 'nm': n_name}.nm AS st_field,
           (map {'a': n_nationkey * 2})['a'][1] AS map_hit,
           len((map {'a': n_nationkey})['zz']) AS miss_len,
           n_name[2:8] AS sliced,
           gcd(n_nationkey, 12) AS g,
           lcm(n_nationkey, 4) AS l
    FROM nation WHERE n_nationkey BETWEEN 1 AND 20 ORDER BY n_nationkey
    """,
)

def _op_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE MACRO (delegated-dialect DDL, macros.py): scalar macro with a
    defaulted parameter plus a table macro with a piped body, both inlined
    at compile time so Catalyst plans the expanded text (macro queries and
    hand-expanded queries produce identical physical plans —
    tests/test_macros.py::test_expansion_is_compile_time)."""
    p = _psql(spark)
    p.sql("create or replace macro disc_price(p, d) as p * (1 - d)")
    p.sql(
        "create or replace macro recent(d, cutoff := date '1995-06-01') as d >= cutoff"
    )
    p.sql(
        "create or replace macro flagged_lines(flag) as table "
        f"(from '{sf_dir}/lineitem.parquet' |> where l_returnflag = flag)"
    )
    out = p.sql(
        """
        from flagged_lines('A') |>
        where recent(l_shipdate, cutoff := date '1994-01-01') |>
        select l_linestatus,
          sum(cast(round(disc_price(l_extendedprice, l_discount) * 10000, 0)
              as bigint)) as rev_scaled,
          count() as n
          group by l_linestatus |>
        order by l_linestatus
        """
    )
    # expansion already happened at compile time; drop so the names never
    # shadow anything in later same-session entries
    for m in ("disc_price", "recent", "flagged_lines"):
        p.sql(f"drop macro if exists {m}")
    return out


_q(
    "q_macro",
    _op_macro,
    """
    SELECT l_linestatus,
           CAST(sum(cast(round((l_extendedprice) * (1 - (l_discount)) * 10000, 0)
               AS bigint)) AS BIGINT) AS rev_scaled,
           count(*) AS n
    FROM lineitem
    WHERE l_returnflag = 'A' AND l_shipdate >= date '1994-01-01'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)

def _op_prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREPARE/EXECUTE (prepared.py): placeholders bind as compile-time
    literal splices, so Catalyst constant-folds and pushes the bound
    predicate into the parquet scan like a literally-written query."""
    p = _psql(spark)
    p.sql(
        f"prepare p_inv as from '{sf_dir}/lineitem.parquet' |>"
        " where l_quantity between $lo and $hi and l_linestatus = $1 |>"
        " select l_returnflag,"
        " sum(cast(l_quantity as bigint)) as qty, count() as n"
        " group by l_returnflag |>"
        " order by l_returnflag"
    )
    out = p.sql("execute p_inv('F', lo := 10, hi := 20)")
    p.sql("deallocate p_inv")
    return out


_q(
    "q_prepared",
    _op_prepared,
    """
    SELECT l_returnflag, CAST(sum(cast(l_quantity AS bigint)) AS BIGINT) AS qty,
           count(*) AS n
    FROM lineitem
    WHERE l_quantity BETWEEN (10) AND (20) AND l_linestatus = ('F')
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)

_q(
    "q_glob_tvf",
    # DuckDB's glob() table function: compile-time file listing as a
    # one-column relation (shims.py). Rows-only here (the driver's oracle
    # views carry no filesystem paths); tests/test_conformance.py checks
    # the listing value-for-value against DuckDB's own glob()
    """
    from glob('$SF/*.parquet') |>
    select regexp_extract(file, '([^/]+)$', 1) as fname |>
    order by fname
    """,
    None,
)

_q(
    "q_range_tvf",
    # DuckDB's range() table function: end-exclusive, output column named
    # `range` (shims.py rewrites table-position range() to an exploded
    # sequence derived table; scalar position stays an array)
    """
    from range(2, 9) |>
    select range, range * 2 as doubled |>
    where range % 2 = 0 |>
    order by range
    """,
    """
    SELECT range, range * 2 AS doubled FROM range(2, 9)
    WHERE range % 2 = 0 ORDER BY range
    """,
)


def _op_dml_from_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-9 DML surface end-to-end: UPDATE … FROM (join-scoped SET),
    DELETE … USING, both copy-on-write over a temp view; the oracle is
    the equivalent FINAL-STATE SELECT (CASE for the update, NOT EXISTS
    for the delete) — mutations replayed declaratively, exact because
    region keys are unique (single-match update)."""
    p = _psql(spark)
    p.sql(
        f"create or replace temp view dml9_t as (| from '{sf_dir}/nation.parquet' |>"
        " select n_nationkey, n_regionkey |)"
    )
    p.sql(
        f"update dml9_t set n_regionkey = r_regionkey + 100 from"
        f" '{sf_dir}/region.parquet' as r where dml9_t.n_regionkey ="
        f" r.r_regionkey and r.r_name like 'A%'"
    )
    p.sql(
        f"delete from dml9_t using '{sf_dir}/region.parquet' as r where"
        f" dml9_t.n_nationkey = r.r_regionkey"
    )
    return p.sql("from dml9_t |> order by n_nationkey")


_q(
    "q_dml_from_using",
    _op_dml_from_using,
    """
    SELECT n_nationkey,
           CASE WHEN EXISTS (SELECT 1 FROM region r
                             WHERE nation.n_regionkey = r.r_regionkey
                               AND r.r_name LIKE 'A%')
                THEN n_regionkey + 100 ELSE n_regionkey END AS n_regionkey
    FROM nation
    WHERE NOT EXISTS (SELECT 1 FROM region r
                      WHERE nation.n_nationkey = r.r_regionkey)
    ORDER BY n_nationkey
    """,
)


def _op_upsert_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 DML tail (VERDICT r9 #5): INSERT … ON CONFLICT DO UPDATE
    … RETURNING on a keyed temp table. The batch hits conflicts on keys
    10–14 (post-image = excluded regionkey + 50) and inserts 15–20; the
    RETURNING frame is the value-checked output, the oracle its
    declarative replay (compiler.py _insert_with_keys → MERGE tail)."""
    p = _psql(spark)
    p.sql(
        "create or replace temp table ocr10_t ("
        "n_nationkey int primary key, n_name varchar, n_regionkey int)"
    )
    p.sql(
        f"insert into ocr10_t (from '{sf_dir}/nation.parquet' |>"
        " where n_nationkey < 15 |>"
        " select n_nationkey, n_name, n_regionkey)"
    )
    ret = p.sql(
        f"insert into ocr10_t (from '{sf_dir}/nation.parquet' |>"
        " where n_nationkey between 10 and 20 |>"
        " select n_nationkey, n_name, n_regionkey)"
        " on conflict do update set n_regionkey = excluded.n_regionkey + 50"
        " returning n_nationkey, n_name, n_regionkey"
    )
    return ret.orderBy("n_nationkey")


_q(
    "q_upsert_returning",
    _op_upsert_returning,
    """
    SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey < 15 THEN n_regionkey + 50
                ELSE n_regionkey END AS n_regionkey
    FROM nation WHERE n_nationkey BETWEEN 10 AND 20
    ORDER BY n_nationkey
    """,
)


def _op_export_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPORT DATABASE / IMPORT DATABASE round-trip (compiler.py): dump the
    session catalog as part-file directories + manifest, drop the view,
    re-import, and read the data back."""
    import os
    import shutil
    import tempfile

    p = _psql(spark)
    out = os.path.join(tempfile.gettempdir(), f"psql_expdb_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    p.sql(
        f"create or replace temp view exp_nat as (| from '{sf_dir}/nation.parquet' |>"
        " where n_nationkey < 10 |> select n_nationkey, n_name |)"
    )
    p.sql(f"export database '{out}'")
    spark.catalog.dropTempView("exp_nat")
    p.sql(f"import database '{out}'")
    return p.sql("from exp_nat |> order by n_nationkey")


_q(
    "q_export_import",
    _op_export_import,
    """
    SELECT n_nationkey, n_name FROM nation
    WHERE n_nationkey < 10 ORDER BY n_nationkey
    """,
)

def _op_cluster_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-level bucketed path (compiler.py `cluster` verb +
    _with_bucketed_twins): materialize lineitem/orders as bucketed twins
    on the join key, then run a q05-core join/agg — the statement is
    transparently recompiled against the twins and the join's exchanges
    disappear (plan-asserted in tests/test_scale.py). Aggregates are
    integer sums of pre-rounded terms, so the result is bit-identical
    regardless of partitioning."""
    p = _psql(spark)
    res = p._compiler.resolver
    try:
        p.sql(
            f"from '{sf_dir}/lineitem.parquet' |> cluster by l_orderkey "
            "buckets=8 name=inv_li_bucketed"
        )
        p.sql(
            f"from '{sf_dir}/orders.parquet' |> cluster by o_orderkey "
            "buckets=8 name=inv_od_bucketed"
        )
        out = p.sql(
            f"from '{sf_dir}/lineitem.parquet' |> as l "
            f"join '{sf_dir}/orders.parquet' as o "
            "on l.l_orderkey = o.o_orderkey |> "
            "where o_orderdate >= date '1995-01-01' |> "
            "select o_orderpriority, "
            "cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100, 0)"
            " as bigint)) as bigint) as rev_c, "
            "count() as n group by o_orderpriority |> "
            "order by o_orderpriority"
        )
    finally:
        # unregister so later same-session entries over these paths keep
        # their raw-path plans (the materialized tables stay readable for
        # the returned df's lazy evaluation)
        res.bucketed_twins.clear()
    return out


_q(
    "q_cluster_join",
    _op_cluster_join,
    """
    SELECT o_orderpriority,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                AS BIGINT)) AS BIGINT) AS rev_c,
           count(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= DATE '1995-01-01'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)


def _op_cluster_declared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 engine-driven co-location: DECLARE the PK/FK graph, run
    ``CLUSTER DECLARED KEYS`` (compiler._run_cluster_declared — the
    engine picks the FK edges, materializes one-file-per-bucket twins,
    and registers multi-layout projections), then run a q03-core fact
    join that the substitution pass recompiles against the co-located
    layout (fact exchanges plan-asserted away in
    tests/test_cluster_declared.py; sf10 A/B
    BENCH_CLUSTER_DECLARED_AB_sf10.json: q03 5.09x->2.06x). An isolated
    PsqlSession keeps the twins from leaking into other entries' plans;
    integer sums keep the result bit-identical under any partitioning."""
    from duckdb_psql_spark import PsqlSession

    p = PsqlSession(spark)
    for t, k in [("orders", "o_orderkey"), ("customer", "c_custkey")]:
        p.sql(f"declare primary key on '{sf_dir}/{t}.parquet' ({k})")
    for t, c, rt, rk in [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
    ]:
        p.sql(
            f"declare foreign key on '{sf_dir}/{t}.parquet' ({c}) "
            f"references '{sf_dir}/{rt}.parquet' ({rk})"
        )
    p.sql("cluster declared keys minbytes=0 buckets=8")
    return p.sql(
        f"from '{sf_dir}/lineitem.parquet' |> as l "
        f"join '{sf_dir}/orders.parquet' as o "
        "on l.l_orderkey = o.o_orderkey |> "
        "where o_orderdate < date '1995-01-01' |> "
        "select o_orderpriority, "
        "cast(sum(cast(round(l_extendedprice * (1 - l_tax) * 100, 0)"
        " as bigint)) as bigint) as rev_c, "
        "count() as n group by o_orderpriority |> "
        "order by o_orderpriority"
    )


_q(
    "q_cluster_declared",
    _op_cluster_declared,
    """
    SELECT o_orderpriority,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_tax) * 100, 0)
                AS BIGINT)) AS BIGINT) AS rev_c,
           count(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate < DATE '1995-01-01'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)


def _op_cluster_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-13 catalog-endpoint co-location (VERDICT r12 #1): the FK
    graph is declared over SAVED TABLES, not path scans — where a
    100 TB deployment's facts actually live — and ``CLUSTER DECLARED
    KEYS`` sizes them from their input files, materializes bucketed
    twins, and the substitution pass recompiles the name-referencing
    fact join against them (plan-asserted exchange-free in
    tests/test_cluster_declared.py::test_cluster_declared_catalog_table_endpoints,
    with INSERT-driven staleness + rebuild and the SHOW CLUSTER LAYOUTS
    signal). Integer sums keep the result bit-identical under any
    partitioning; an isolated PsqlSession keeps twins out of other
    entries' plans."""
    from duckdb_psql_spark import PsqlSession

    p = PsqlSession(spark)
    for t in ("orders", "customer"):
        p.sql(f"drop table if exists invcc_{t}")
        p.sql(f"create table invcc_{t} as (| from '{sf_dir}/{t}.parquet' |)")
    p.sql(
        "declare foreign key on invcc_orders (o_custkey) "
        "references invcc_customer (c_custkey)"
    )
    p.sql("cluster declared keys minbytes=0 buckets=8")
    return p.sql(
        "from invcc_orders |> as o "
        "join invcc_customer as c on o.o_custkey = c.c_custkey |> "
        "where o_orderdate < date '1995-06-01' |> "
        "select c_mktsegment, "
        "cast(sum(cast(round(o_totalprice * 100, 0) as bigint)) as bigint)"
        " as price_c, "
        "count() as n group by c_mktsegment |> order by c_mktsegment"
    )


_q(
    "q_cluster_catalog",
    _op_cluster_catalog,
    """
    SELECT c_mktsegment,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS price_c,
           count(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate < DATE '1995-06-01'
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)

_q(
    "q_like_chain",
    # round-12 locate-chain rewrite for multi-wildcard LIKE
    # (functions/shims.py:_rewrite_like_contains_chain): ordered,
    # overlapping, repeated, and negated '%a%b%' patterns — the shapes
    # Spark's LikeSimplification can't fold and the chain must match
    # DuckDB's LIKE exactly
    """
    from '$SF/orders.parquet' |>
    select
      count() filter (where o_orderpriority like '%1%URGENT%') as c1,
      count() filter (where o_orderpriority not like '%-%T%') as c2,
      count() filter (where o_orderpriority like '%R%R%') as c3,
      count() filter (where o_orderpriority like '%1%1%') as c4,
      count() filter (where o_orderpriority like '%E%N%T%') as c5
    """,
    """
    SELECT
      count(*) FILTER (WHERE o_orderpriority LIKE '%1%URGENT%') AS c1,
      count(*) FILTER (WHERE o_orderpriority NOT LIKE '%-%T%') AS c2,
      count(*) FILTER (WHERE o_orderpriority LIKE '%R%R%') AS c3,
      count(*) FILTER (WHERE o_orderpriority LIKE '%1%1%') AS c4,
      count(*) FILTER (WHERE o_orderpriority LIKE '%E%N%T%') AS c5
    FROM orders
    """,
)

_q(
    "q_insert_into",
    _op_insert_into,
    """
    SELECT n_nationkey, n_name FROM (
      SELECT n_nationkey, n_name FROM nation WHERE n_nationkey <= 8
      UNION ALL
      SELECT 99, 'ATLANTIS')
    ORDER BY n_nationkey
    """,
)


_q(
    "q_plain_dialect_r7",
    # round-7 plain-statement batch: non-piped QUALIFY and star
    # modifiers route through the pipe implementations
    # (compiler._plain_select_to_pipe); `#N` ordinals and AT TIME ZONE
    # are shims. Both engines run the same text.
    """
    select * replace (n_nationkey * 10 as n_nationkey),
           length(n_name) as ln,
           cast(epoch(timestamp '2021-06-01 12:00:00'
                      at time zone 'America/New_York') as bigint) as ep_nyc
    from '$SF/nation.parquet'
    qualify row_number() over (partition by n_regionkey
                               order by n_nationkey) <= 2
    order by #1, #2
    """,
    """
    SELECT * REPLACE (n_nationkey * 10 AS n_nationkey),
           length(n_name) AS ln,
           CAST(epoch(TIMESTAMP '2021-06-01 12:00:00'
                      AT TIME ZONE 'America/New_York') AS BIGINT) AS ep_nyc
    FROM nation
    QUALIFY row_number() OVER (PARTITION BY n_regionkey
                               ORDER BY n_nationkey) <= 2
    ORDER BY #1, #2
    """,
)


_q(
    "q_pivot_stmt",
    # DuckDB top-level PIVOT statement (compiler._plain_pivot_stmt →
    # _dynamic_pivot): distinct-value enumeration, count cells 0-filled,
    # IN-list + GROUP BY pin the output. Both engines run the same text.
    """
    pivot (select n_regionkey, r_name
           from '$SF/nation.parquet' as n
           join '$SF/region.parquet' as r on n_regionkey = r_regionkey)
    on n_regionkey using count(*) group by r_name
    """,
    """
    PIVOT (SELECT n_regionkey, r_name
           FROM nation n JOIN region r ON n_regionkey = r_regionkey)
    ON n_regionkey USING count(*) GROUP BY r_name
    """,
)


_q(
    "q_unpivot_stmt",
    # DuckDB top-level UNPIVOT … INTO NAME/VALUE → Spark's native UNPIVOT
    # clause (a generator — no shuffle)
    """
    unpivot (select n_name,
                    n_nationkey * 2 as doubled,
                    n_regionkey + 100 as shifted
             from '$SF/nation.parquet')
    on doubled, shifted into name metric value val
    """,
    """
    UNPIVOT (SELECT n_name,
                    n_nationkey * 2 AS doubled,
                    n_regionkey + 100 AS shifted
             FROM nation)
    ON doubled, shifted INTO NAME metric VALUE val
    """,
)


_q(
    "q_sample_rows",
    # USING SAMPLE n ROWS (shims._parse_sample_spec → TABLESAMPLE): which
    # rows are sampled is engine-specific by definition; the exact-count
    # contract of the rows form is the cross-engine-checkable part.
    """
    select count(*) as c from '$SF/lineitem.parquet' using sample 17 rows
    """,
    "SELECT count(*) AS c FROM lineitem USING SAMPLE 17 ROWS",
)


_q(
    "q_mode_within_group",
    # round-7 batch: mode() deterministic shim (unique mode per group —
    # ties are a documented scan-order divergence), percentile_cont
    # WITHIN GROUP, and DuckDB's bare SEMI JOIN keyword. Same text both.
    """
    select n_regionkey,
           mode(least(n_nationkey, 3)) as md,
           percentile_cont(0.5) within group (order by n_nationkey) as med
    from '$SF/nation.parquet'
    semi join '$SF/region.parquet' on n_regionkey = r_regionkey
    group by n_regionkey order by n_regionkey
    """,
    """
    SELECT n_regionkey,
           mode(least(n_nationkey, 3)) AS md,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY n_nationkey) AS med
    FROM nation
    SEMI JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)


_q(
    "q_special_join_plain",
    # plain (non-piped) POSITIONAL / ASOF joins route through the pipe
    # operators (compiler._plain_select_to_pipe "sjoin") — Spark alone
    # would silently misparse the keyword as an alias and degrade the
    # join. Value-checked against DuckDB's native forms.
    """
    select n_nationkey, r_name
    from (select n_nationkey from '$SF/nation.parquet' order by n_nationkey limit 5)
    positional join (select r_name from '$SF/region.parquet' order by r_name limit 5)
    order by n_nationkey
    """,
    """
    SELECT n_nationkey, r_name
    FROM (SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 5)
    POSITIONAL JOIN (SELECT r_name FROM region ORDER BY r_name LIMIT 5)
    ORDER BY n_nationkey
    """,
)


_q(
    "q_quantified_r7",
    # quantified comparisons (shims: =ANY→IN, <>ALL→NOT IN, ordering ops
    # → min/max scalar subqueries with the empty-set guard) + DuckDB's
    # 1-based (x, i) lambda index (shims._fix_lambda_index_base).
    """
    select n_nationkey,
           n_regionkey > any(select r from (values (2), (3)) t(r)) as gt_any,
           n_regionkey <= all(select r from (values (3), (4)) t(r)) as le_all,
           n_regionkey = any(select 1) as eq_any,
           array_to_string(list_transform([n_nationkey, n_regionkey], (x, i) -> x * i), ',') as idx_prod
    from '$SF/nation.parquet'
    order by n_nationkey limit 10
    """,
    """
    SELECT n_nationkey,
           n_regionkey > ANY(SELECT r FROM (VALUES (2), (3)) t(r)) AS gt_any,
           n_regionkey <= ALL(SELECT r FROM (VALUES (3), (4)) t(r)) AS le_all,
           n_regionkey = ANY(SELECT 1) AS eq_any,
           array_to_string(list_transform([n_nationkey, n_regionkey], (x, i) -> x * i), ',') AS idx_prod
    FROM nation
    ORDER BY n_nationkey LIMIT 10
    """,
)


_q(
    "q_list_tail_r7",
    # round-7 tail: stepped list slices (bracket rewriter), recursive
    # unnest flatten, list_sum/list_aggregate, entropy, bit_count,
    # regexp_split_to_table. Same text both engines.
    """
    select n_nationkey,
           [1,2,3,4,5][1:5:2] as stepped,
           [1,2,3,4,5][2:100:3] as clamped,
           list_sum([n_nationkey, n_regionkey]) as ls,
           list_aggregate([n_nationkey, 1], 'max') as lmax,
           bit_count(n_nationkey) as bc
    from '$SF/nation.parquet'
    order by n_nationkey limit 8
    """,
    """
    SELECT n_nationkey,
           [1,2,3,4,5][1:5:2] AS stepped,
           [1,2,3,4,5][2:100:3] AS clamped,
           list_sum([n_nationkey, n_regionkey]) AS ls,
           list_aggregate([n_nationkey, 1], 'max') AS lmax,
           bit_count(n_nationkey) AS bc
    FROM nation
    ORDER BY n_nationkey LIMIT 8
    """,
)


_q(
    "q_unnest_recursive",
    # unnest(recursive := true) — full nested-list flatten before the
    # generator (shims; DuckDB 1.0 supports this form, so value-checked)
    """
    select unnest([[n_nationkey], [n_regionkey, 77]], recursive := true) as u
    from '$SF/nation.parquet'
    where n_nationkey < 5
    order by u
    """,
    """
    SELECT unnest([[n_nationkey], [n_regionkey, 77]], recursive := true) AS u
    FROM nation
    WHERE n_nationkey < 5
    ORDER BY u
    """,
)


_q(
    "q_regex_glob_r7",
    # round-7 regex batch: FIRST-match-only 3-arg regexp_replace (the
    # silent-divergence fix), option flags as inline prefixes, \\N
    # backref translation, the GLOB operator, COLLATE NOCASE folding.
    """
    select n_nationkey,
           regexp_replace(n_name, 'N', 'X') as first_only,
           regexp_replace(n_name, 'N', 'X', 'g') as all_matches,
           regexp_replace(n_name, '(NAT)', '<\\1>') as backref,
           regexp_matches(n_name, 'nation', 'i') as ci_match,
           n_name glob 'NATION_1*' as g,
           n_name = 'nation_3' collate nocase as nc
    from '$SF/nation.parquet'
    order by n_nationkey limit 12
    """,
    """
    SELECT n_nationkey,
           regexp_replace(n_name, 'N', 'X') AS first_only,
           regexp_replace(n_name, 'N', 'X', 'g') AS all_matches,
           regexp_replace(n_name, '(NAT)', '<\\1>') AS backref,
           regexp_matches(n_name, 'nation', 'i') AS ci_match,
           n_name GLOB 'NATION_1*' AS g,
           n_name = 'nation_3' COLLATE NOCASE AS nc
    FROM nation
    ORDER BY n_nationkey LIMIT 12
    """,
)


_q(
    "q_null_semantics_r7",
    # fuzzer-found NULL/typing contracts (scripts/fuzz_expressions.py):
    # concat skips NULLs, || propagates, split_part's NULL table,
    # lcm NULL gate, byte-level levenshtein, DOUBLE division, DATE-typed
    # coarse date_trunc (+14 days keeps DATE), list_distinct NULL drop.
    """
    select n_nationkey,
           concat('x', cast(null as varchar), n_name) as c_skip,
           cast(null as varchar) || n_name as c_prop,
           split_part(cast(null as varchar), ',', 1) as sp_null,
           split_part(n_name, null, 1) as sp_nulld,
           lcm(cast(null as int), n_nationkey) as lcm_null,
           levenshtein(n_name, 'NATIöN_1') as lev_bytes,
           round(n_nationkey / 4.0, 1) as div_dbl,
           cast(date_trunc('month', timestamp '1995-06-17 10:30:00') + 14 as varchar) as dt_date,
           array_to_string(list_sort(list_distinct([n_nationkey % 3, null, n_nationkey % 3])), ',') as ld
    from '$SF/nation.parquet'
    order by n_nationkey limit 10
    """,
    """
    SELECT n_nationkey,
           concat('x', CAST(NULL AS VARCHAR), n_name) AS c_skip,
           CAST(NULL AS VARCHAR) || n_name AS c_prop,
           split_part(CAST(NULL AS VARCHAR), ',', 1) AS sp_null,
           split_part(n_name, NULL, 1) AS sp_nulld,
           lcm(CAST(NULL AS INT), n_nationkey) AS lcm_null,
           levenshtein(n_name, 'NATIöN_1') AS lev_bytes,
           round(n_nationkey / 4.0, 1) AS div_dbl,
           CAST(date_trunc('month', TIMESTAMP '1995-06-17 10:30:00') + 14 AS VARCHAR) AS dt_date,
           array_to_string(list_sort(list_distinct([n_nationkey % 3, NULL, n_nationkey % 3])), ',') AS ld
    FROM nation
    ORDER BY n_nationkey LIMIT 10
    """,
)


_q(
    "q_setop_clauses_r7",
    # round-7 batch 9: trailing ORDER BY / LIMIT bind to the WHOLE set
    # operation (silent-wrong fix: the engine used to apply them to the
    # last branch only), and UNION ALL BY NAME pads missing columns with
    # NULL (unionByName allowMissingColumns).
    """
    select n_nationkey as a, n_name as b
    from '$SF/nation.parquet' where n_nationkey < 5
    union all by name
    select n_nationkey + 100 as a
    from '$SF/nation.parquet' where n_nationkey < 3
    order by a desc limit 6
    """,
    """
    SELECT n_nationkey AS a, n_name AS b
    FROM nation WHERE n_nationkey < 5
    UNION ALL BY NAME
    SELECT n_nationkey + 100 AS a
    FROM nation WHERE n_nationkey < 3
    ORDER BY a DESC LIMIT 6
    """,
)


_q(
    "q_grouping_multi_r7",
    # multi-arg grouping(a, b) = DuckDB's bitmask form (Spark grouping_id)
    """
    select n_regionkey as rk, n_nationkey % 2 as par,
           cast(grouping(n_regionkey, n_nationkey % 2) as int) as g,
           count(*) as n
    from '$SF/nation.parquet'
    group by grouping sets ((n_regionkey), (n_nationkey % 2), ())
    order by g, rk nulls first, par nulls first
    """,
    """
    SELECT n_regionkey AS rk, n_nationkey % 2 AS par,
           CAST(grouping(n_regionkey, n_nationkey % 2) AS INT) AS g,
           count(*) AS n
    FROM nation
    GROUP BY GROUPING SETS ((n_regionkey), (n_nationkey % 2), ())
    ORDER BY g, rk NULLS FIRST, par NULLS FIRST
    """,
)


_q(
    "q_fn_batch9_r7",
    # round-7 batch 9 scalar tail (scripts/probe_statements_r7.py):
    # bin() over ints and over VARCHAR bytes, BIT-string functions on the
    # '0'/'1'-string representation, era(), current_schema(), datesub(),
    # timezone(tz, naive ts) via epoch so both engines compare as BIGINT.
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      bin(n_nationkey * 37 - 5) as bin_i,
      bin(n_name) as bin_s,
      get_bit('01100101'::BIT, n_nationkey % 8) as gb,
      set_bit('01100101'::BIT, n_nationkey % 8, 1)::VARCHAR as sb,
      bit_position('11'::BIT, '0110101'::BIT) as bp,
      bitstring('0101011', 12 + n_nationkey % 3)::VARCHAR as bs,
      era(date '1995-01-01' - interval 2200 year) + era(date '1995-01-01') as eras,
      current_schema() as cs,
      datesub('month', date '2022-01-15', date '2022-03-16') as dsub,
      cast(epoch(timezone('America/New_York', timestamp '2001-01-01 05:00:00')) as bigint) as tz_epoch |>
    order by n_nationkey limit 12
    """,
    """
    SELECT n_nationkey,
      bin(n_nationkey * 37 - 5) AS bin_i,
      bin(n_name) AS bin_s,
      get_bit('01100101'::BIT, n_nationkey % 8) AS gb,
      set_bit('01100101'::BIT, n_nationkey % 8, 1)::VARCHAR AS sb,
      bit_position('11'::BIT, '0110101'::BIT) AS bp,
      bitstring('0101011', 12 + n_nationkey % 3)::VARCHAR AS bs,
      era(DATE '1995-01-01' - INTERVAL 2200 YEAR) + era(DATE '1995-01-01') AS eras,
      current_schema() AS cs,
      datesub('month', DATE '2022-01-15', DATE '2022-03-16') AS dsub,
      CAST(epoch(timezone('America/New_York', TIMESTAMP '2001-01-01 05:00:00')) AS BIGINT) AS tz_epoch
    FROM nation ORDER BY n_nationkey LIMIT 12
    """,
)


# Round-8 bisection of q_fn_batch9_r7 (VERDICT r7 #1): the combined
# 11-scalar entry passed value- and dtype-exact against the container's
# DuckDB 1.0.0 but red-hashed on the driver's newer oracle, so ONE of
# the function families diverges across DuckDB versions — and the
# packed entry hides which. Each family gets its own window entry so
# the next CORRECTNESS run pinpoints the divergent one; the combined
# entry stays in the full differential.

_q(
    "q_fn_bit_r8",
    # BIT-string functions alone: get_bit/set_bit/bit_position/bitstring
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      get_bit('01100101'::BIT, n_nationkey % 8) as gb,
      set_bit('01100101'::BIT, n_nationkey % 8, 1)::VARCHAR as sb,
      bit_position('11'::BIT, '0110101'::BIT) as bp,
      bitstring('0101011', 12 + n_nationkey % 3)::VARCHAR as bs |>
    order by n_nationkey limit 12
    """,
    """
    SELECT n_nationkey,
      get_bit('01100101'::BIT, n_nationkey % 8) AS gb,
      set_bit('01100101'::BIT, n_nationkey % 8, 1)::VARCHAR AS sb,
      bit_position('11'::BIT, '0110101'::BIT) AS bp,
      bitstring('0101011', 12 + n_nationkey % 3)::VARCHAR AS bs
    FROM nation ORDER BY n_nationkey LIMIT 12
    """,
)


_q(
    "q_fn_bin_r8",
    # bin() alone: over ints and over VARCHAR bytes
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      bin(n_nationkey * 37 - 5) as bin_i,
      bin(n_name) as bin_s |>
    order by n_nationkey limit 12
    """,
    """
    SELECT n_nationkey,
      bin(n_nationkey * 37 - 5) AS bin_i,
      bin(n_name) AS bin_s
    FROM nation ORDER BY n_nationkey LIMIT 12
    """,
)


_q(
    "q_fn_era_r8",
    # era() alone, AD and BC sides
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      era(date '1995-01-01' - interval 2200 year) as era_bc,
      era(date '1995-01-01') as era_ad |>
    order by n_nationkey limit 12
    """,
    """
    SELECT n_nationkey,
      era(DATE '1995-01-01' - INTERVAL 2200 YEAR) AS era_bc,
      era(DATE '1995-01-01') AS era_ad
    FROM nation ORDER BY n_nationkey LIMIT 12
    """,
)


_q(
    "q_fn_tz_r8",
    # timezone(tz, naive ts) alone, compared as epoch BIGINT
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      cast(epoch(timezone('America/New_York', timestamp '2001-01-01 05:00:00')) as bigint) as tz_epoch,
      cast(epoch(timezone('America/New_York', timestamp '2001-07-01 05:00:00')) as bigint) as tz_epoch_dst |>
    order by n_nationkey limit 12
    """,
    """
    SELECT n_nationkey,
      CAST(epoch(timezone('America/New_York', TIMESTAMP '2001-01-01 05:00:00')) AS BIGINT) AS tz_epoch,
      CAST(epoch(timezone('America/New_York', TIMESTAMP '2001-07-01 05:00:00')) AS BIGINT) AS tz_epoch_dst
    FROM nation ORDER BY n_nationkey LIMIT 12
    """,
)


_q(
    "q_fn_datesub_r8",
    # datesub() + current_schema() alone
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      datesub('month', date '2022-01-15', date '2022-03-16') as dsub,
      datesub('day', date '2022-01-15', date '2022-01-01') as dsub_neg,
      current_schema() as cs |>
    order by n_nationkey limit 12
    """,
    """
    SELECT n_nationkey,
      datesub('month', DATE '2022-01-15', DATE '2022-03-16') AS dsub,
      datesub('day', DATE '2022-01-15', DATE '2022-01-01') AS dsub_neg,
      current_schema() AS cs
    FROM nation ORDER BY n_nationkey LIMIT 12
    """,
)


_q(
    "q_window_exclude_minmax_r8",
    # round-8: min/max window EXCLUDE via frame-split (least/greatest of
    # the frame parts strictly before/after the excluded rows; GROUPS
    # splits ride the dense_rank pre-projection). The oracle uses a
    # version-stable dense_rank/row_number correlated formulation — the
    # container's 1.0 DuckDB has no GROUPS mode and the driver's newer
    # one need not parse our EXCLUDE spellings identically.
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      min(n_nationkey) over (order by n_nationkey rows between 2 preceding and 2 following exclude current row) as m_row,
      max(n_nationkey) over (order by n_regionkey groups between 1 preceding and 1 following exclude group) as x_grp,
      min(n_nationkey + 3) over (order by n_regionkey groups between 1 preceding and 1 following exclude ties) as m_ties,
      max(n_nationkey) over (order by n_regionkey exclude ties) as x_ties_def |>
    order by n_nationkey
    """,
    """
    WITH b AS (
      SELECT n_nationkey, n_regionkey,
             row_number() OVER (ORDER BY n_nationkey) AS rn,
             dense_rank() OVER (ORDER BY n_regionkey) AS dr
      FROM nation
    )
    SELECT a.n_nationkey,
      (SELECT min(c.n_nationkey) FROM b c
        WHERE c.rn BETWEEN a.rn - 2 AND a.rn + 2 AND c.rn <> a.rn) AS m_row,
      (SELECT max(c.n_nationkey) FROM b c
        WHERE c.dr BETWEEN a.dr - 1 AND a.dr + 1 AND c.dr <> a.dr) AS x_grp,
      (SELECT min(c.n_nationkey + 3) FROM b c
        WHERE c.dr BETWEEN a.dr - 1 AND a.dr + 1
          AND (c.dr <> a.dr OR c.rn = a.rn)) AS m_ties,
      (SELECT max(c.n_nationkey) FROM b c
        WHERE c.dr <= a.dr AND (c.dr <> a.dr OR c.rn = a.rn)) AS x_ties_def
    FROM b a ORDER BY a.n_nationkey
    """,
)


_q(
    "q_window_exclude_ties",
    # round-10 (VERDICT r9 #9): the last EXCLUDE louds — TIES/GROUP over
    # ROWS frames (peers can lie OUTSIDE the frame, so the peer-window
    # subtraction would over-subtract) and min/max over numeric-RANGE
    # peers (no group-boundary split) — rewritten through the in-frame
    # peer multiset (collect_list of (order-keys, value) structs over
    # the same frame; shims._rewrite_window_exclude._multiset_repl).
    # ROWS-frame determinism: ties in the ORDER BY make row positions
    # engine-arbitrary, so every output column is a function of the
    # order key alone — within-peer permutations then yield identical
    # row multisets. Oracle: version-stable correlated row_number /
    # value-window form (like q_window_exclude_minmax_r8). The engine's
    # multiset sum path widens to DOUBLE (type-stable list fold), so
    # both dialects cast.
    """
    from '$SF/supplier.parquet' |>
    select s_nationkey |>
    select s_nationkey,
      cast(sum(s_nationkey) over (order by s_nationkey rows between 2 preceding and 1 following exclude ties) as double) as s_ties,
      count(s_nationkey) over (order by s_nationkey rows between 2 preceding and 2 following exclude group) as c_grp,
      round(avg(s_nationkey + 1) over (order by s_nationkey rows between 3 preceding and 1 following exclude ties), 6) as a_ties,
      cast(sum(s_nationkey) over (order by s_nationkey rows between 3 preceding and 1 preceding exclude group) as double) as s_oneside,
      min(s_nationkey + 2) over (order by s_nationkey rows between 2 preceding and 2 following exclude group) as m_rows,
      max(s_nationkey) over (order by s_nationkey range between 2 preceding and 1 following exclude group) as x_rng,
      min(s_nationkey) over (order by s_nationkey range between 1 preceding and 2 following exclude ties) as m_rng,
      max(s_nationkey) over (order by s_nationkey range between 1 preceding and 1 following exclude current row) as x_cur |>
    order by s_nationkey
    """,
    """
    WITH b AS (
      SELECT s_nationkey, row_number() OVER (ORDER BY s_nationkey) AS rn
      FROM supplier
    )
    SELECT a.s_nationkey,
      (SELECT CAST(sum(c.s_nationkey) AS DOUBLE) FROM b c
         WHERE c.rn BETWEEN a.rn - 2 AND a.rn + 1
           AND (c.s_nationkey <> a.s_nationkey OR c.rn = a.rn)) AS s_ties,
      (SELECT count(c.s_nationkey) FROM b c
         WHERE c.rn BETWEEN a.rn - 2 AND a.rn + 2
           AND c.s_nationkey <> a.s_nationkey) AS c_grp,
      (SELECT round(avg(c.s_nationkey + 1), 6) FROM b c
         WHERE c.rn BETWEEN a.rn - 3 AND a.rn + 1
           AND (c.s_nationkey <> a.s_nationkey OR c.rn = a.rn)) AS a_ties,
      (SELECT CAST(sum(c.s_nationkey) AS DOUBLE) FROM b c
         WHERE c.rn BETWEEN a.rn - 3 AND a.rn - 1
           AND c.s_nationkey <> a.s_nationkey) AS s_oneside,
      (SELECT min(c.s_nationkey + 2) FROM b c
         WHERE c.rn BETWEEN a.rn - 2 AND a.rn + 2
           AND c.s_nationkey <> a.s_nationkey) AS m_rows,
      (SELECT max(c.s_nationkey) FROM b c
         WHERE c.s_nationkey BETWEEN a.s_nationkey - 2
           AND a.s_nationkey + 1
           AND c.s_nationkey <> a.s_nationkey) AS x_rng,
      (SELECT min(c.s_nationkey) FROM b c
         WHERE c.s_nationkey BETWEEN a.s_nationkey - 1
           AND a.s_nationkey + 2
           AND (c.s_nationkey <> a.s_nationkey OR c.rn = a.rn)) AS m_rng,
      (SELECT max(c.s_nationkey) FROM b c
         WHERE c.s_nationkey BETWEEN a.s_nationkey - 1
           AND a.s_nationkey + 1 AND c.rn <> a.rn) AS x_cur
    FROM b a ORDER BY a.s_nationkey
    """,
)


_q(
    "q_window_exclude_distinct",
    # round-9: count(DISTINCT) window EXCLUDE — multiset-aware rewrite
    # (set arithmetic on collect_set is wrong: a value both inside and
    # outside the excluded rows still survives); counts the distinct
    # frame values whose in-frame multiplicity exceeds their excluded
    # multiplicity. Oracle is the version-stable correlated form, like
    # q_window_exclude_minmax_r8 (EXCLUDE spellings need not parse
    # identically across the driver's DuckDB versions).
    """
    from '$SF/customer.parquet' |>
    select c_custkey,
      count(distinct c_mktsegment) over (partition by c_nationkey order by c_custkey % 7 range between unbounded preceding and current row exclude group) as cdg,
      count(distinct c_mktsegment) over (partition by c_nationkey order by c_custkey % 7 range between unbounded preceding and current row exclude ties) as cdt,
      count(distinct c_nationkey) over (order by c_custkey rows between 3 preceding and 3 following exclude current row) as cdc,
      sum(distinct c_nationkey) over (partition by c_mktsegment order by c_custkey % 7 range between unbounded preceding and current row exclude group) as sdg,
      round(avg(distinct c_nationkey) over (partition by c_mktsegment order by c_custkey % 7 range between unbounded preceding and current row exclude ties), 6) as adt,
      sum(c_nationkey) filter (where c_nationkey > 10) over (order by c_custkey rows between 3 preceding and 3 following exclude current row) as sfc |>
    order by c_custkey |> limit 200
    """,
    """
    WITH b AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             c_custkey % 7 AS ok,
             row_number() OVER (ORDER BY c_custkey) AS rn
      FROM customer
    )
    SELECT a.c_custkey,
      (SELECT count(DISTINCT c.c_mktsegment) FROM b c
         WHERE c.c_nationkey = a.c_nationkey AND c.ok < a.ok) AS cdg,
      (SELECT count(DISTINCT c.c_mktsegment) FROM b c
         WHERE c.c_nationkey = a.c_nationkey
           AND (c.ok < a.ok OR c.rn = a.rn)) AS cdt,
      (SELECT count(DISTINCT c.c_nationkey) FROM b c
         WHERE c.rn BETWEEN a.rn - 3 AND a.rn + 3 AND c.rn <> a.rn) AS cdc,
      (SELECT CAST(sum(DISTINCT c.c_nationkey) AS DOUBLE) FROM b c
         WHERE c.c_mktsegment = a.c_mktsegment AND c.ok < a.ok) AS sdg,
      (SELECT round(avg(DISTINCT c.c_nationkey), 6) FROM b c
         WHERE c.c_mktsegment = a.c_mktsegment
           AND (c.ok < a.ok OR c.rn = a.rn)) AS adt,
      (SELECT sum(c.c_nationkey) FROM b c
         WHERE c.rn BETWEEN a.rn - 3 AND a.rn + 3 AND c.rn <> a.rn
           AND c.c_nationkey > 10) AS sfc
    FROM b a ORDER BY a.c_custkey LIMIT 200
    """,
)


_q(
    "q_ops_batch10b_r8",
    # version-stable slice of the batch-10 operator tail for the driver
    # window (the `//`-over-DOUBLE column stays in the full differential
    # only: its plain-division semantics are probe-pinned to DuckDB
    # 1.0.0 and may differ on the driver's newer oracle). Adds the
    # round-8 precedence fixes under driver eyes: `!` below arithmetic,
    # unary minus above power.
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      n_nationkey // 4 as idiv,
      2 ^ (n_nationkey % 5) as pw,
      cast(-2 ^ (n_nationkey % 3) as double) as pw_neg,
      cast((n_nationkey % 6)! as bigint) as fact,
      cast(2 * (n_nationkey % 3)! as bigint) as fact_chain,
      n_name ^@ 'NATION_1' as sw,
      n_name ~~ 'NATION_1%' as lk,
      n_name ~ 'N.*[13]$' as rx,
      n_name !~ 'XYZ' as nrx,
      array_to_string(list_transform([n_nationkey, 7], (x, i) -> x * i), ',') as lam,
      array_slice(n_name, 2, 5) as ssl,
      list_any_value([null, n_nationkey]) as lav |>
    order by n_nationkey limit 12
    """,
    """
    SELECT n_nationkey,
      n_nationkey // 4 AS idiv,
      2 ^ (n_nationkey % 5) AS pw,
      CAST(-2 ^ (n_nationkey % 3) AS DOUBLE) AS pw_neg,
      CAST((n_nationkey % 6)! AS BIGINT) AS fact,
      CAST(2 * (n_nationkey % 3)! AS BIGINT) AS fact_chain,
      n_name ^@ 'NATION_1' AS sw,
      n_name ~~ 'NATION_1%' AS lk,
      n_name ~ 'N.*[13]$' AS rx,
      n_name !~ 'XYZ' AS nrx,
      array_to_string(list_transform([n_nationkey, 7], (x, i) -> x * i), ',') AS lam,
      array_slice(n_name, 2, 5) AS ssl,
      list_any_value([NULL, n_nationkey]) AS lav
    FROM nation ORDER BY n_nationkey LIMIT 12
    """,
)


_q(
    "q_ops_batch10_r7",
    # round-7 batch 10 operator tail (scripts/probe_statements_r7.py):
    # // type-split (int truncation vs plain division on DOUBLE), binary
    # ^ as POWER (Spark reads XOR — wrong value, not an error), postfix
    # factorial, ^@ starts-with, ~~ LIKE, ~ / !~ regexp match, indexed
    # lambda, list comprehension, VARCHAR array_slice, list_any_value.
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      n_nationkey // 4 as idiv,
      (n_nationkey + 10.5) // 4 as fdiv,
      2 ^ (n_nationkey % 5) as pw,
      cast((n_nationkey % 6)! as bigint) as fact,
      n_name ^@ 'NATION_1' as sw,
      n_name ~~ 'NATION_1%' as lk,
      n_name ~ 'N.*[13]$' as rx,
      n_name !~ 'XYZ' as nrx,
      list_transform([n_nationkey, 7], (x, i) -> x * i) as lam,
      [x * 2 for x in [n_nationkey % 3, 2] if x > 0] as comp,
      array_slice(n_name, 2, 5) as ssl,
      list_any_value([null, n_nationkey]) as lav |>
    order by n_nationkey limit 12
    """,
    """
    SELECT n_nationkey,
      n_nationkey // 4 AS idiv,
      (n_nationkey + 10.5) // 4 AS fdiv,
      2 ^ (n_nationkey % 5) AS pw,
      CAST((n_nationkey % 6)! AS BIGINT) AS fact,
      n_name ^@ 'NATION_1' AS sw,
      n_name ~~ 'NATION_1%' AS lk,
      n_name ~ 'N.*[13]$' AS rx,
      n_name !~ 'XYZ' AS nrx,
      list_transform([n_nationkey, 7], (x, i) -> x * i) AS lam,
      [x * 2 FOR x IN [n_nationkey % 3, 2] IF x > 0] AS comp,
      array_slice(n_name, 2, 5) AS ssl,
      list_any_value([NULL, n_nationkey]) AS lav
    FROM nation ORDER BY n_nationkey LIMIT 12
    """,
)


def _op_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE SEQUENCE / nextval / currval (sequences.py): consume 25
    values in one statement, then return the NEXT 25 plus currval —
    value-checks uniqueness, continuation across statements, and the
    increment arithmetic (start 10, step 3)."""
    p = _psql(spark)
    p.sql("create or replace sequence q_seq_inv start with 10 increment by 3")
    p.sql(f"from '{sf_dir}/nation.parquet' |> select nextval('q_seq_inv') as id")
    return p.sql(
        f"from '{sf_dir}/nation.parquet' |> select nextval('q_seq_inv') as id |> "
        "order by id"
    ).selectExpr("id", "cast(id is not null as boolean) as in_second_batch")


_q(
    "q_sequence",
    _op_sequence,
    # second batch of 25 from start=10 step=3: values 10+3*25 .. 10+3*49
    """
    SELECT CAST(10 + 3 * (n_nationkey + 25) AS BIGINT) AS id,
           true AS in_second_batch
    FROM nation ORDER BY id
    """,
)


_q(
    "q_embed_math",
    # round-7 probe batch: embedding math (list_cosine_similarity /
    # list_distance / list_inner_product) over the REAL embeddings table.
    # Both engines compute in DOUBLE (explicit casts) with the same
    # sequential fold order, so values are bit-identical; rounded to 6
    # for belt-and-braces. The float[N]/double[] type suffix also
    # exercises the round-7 array-type cast rewrite.
    """
    from '$SF/embeddings.parquet' |>
    where vec_id < 40 |>
    select vec_id, cast(embedding as double[]) as e,
      cast(list_reverse(embedding) as double[]) as r |>
    select vec_id,
      round(list_cosine_similarity(e, r), 6) as cos_sim,
      round(list_distance(e, r), 6) as dist,
      round(list_inner_product(e, r), 6) as dot,
      round(list_inner_product(e, e), 6) as sq |>
    order by vec_id
    """,
    """
    SELECT vec_id,
      round(list_cosine_similarity(e, r), 6) AS cos_sim,
      round(list_distance(e, r), 6) AS dist,
      round(list_inner_product(e, r), 6) AS dot,
      round(list_inner_product(e, e), 6) AS sq
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                 CAST(list_reverse(embedding) AS DOUBLE[]) AS r
          FROM embeddings WHERE vec_id < 40)
    ORDER BY vec_id
    """,
)

_q(
    "q_strfmt_r7",
    # round-7 probe batch: format_bytes (stepwise-int-division truncation
    # semantics), decimal variant, parse_* path family, regexp_escape,
    # editdist3, md5_number_lower/upper (little-endian digest halves —
    # fixes the r1-r6 rename of md5_number_lower to hex md5), grapheme
    # clustering over ZWJ emoji sequences, and LIKE…ESCAPE.
    """
    from '$SF/part.parquet' |>
    where p_partkey <= 40 |>
    select p_partkey,
      format_bytes(cast(p_retailprice * 1000 as bigint)) as fb,
      formatReadableDecimalSize(cast(p_retailprice * 131 as bigint)) as fd,
      parse_filename(concat('/data/', p_type, '/', p_name, '.parquet')) as fn,
      parse_dirpath(concat('/data/', p_type, '/', p_name, '.parquet')) as dp,
      parse_dirname(concat(p_type, '/', p_name)) as dn,
      regexp_escape(substring(p_type, 1, 6)) as re_esc,
      editdist3(p_name, p_type) as ed,
      md5_number_lower(p_name)::VARCHAR as mdl,
      md5_number_upper(p_name)::VARCHAR as mdu,
      length_grapheme(concat('X', p_name)) as lg,
      left_grapheme(concat('Z', p_name), 4) as lgl,
      like_escape(p_type, concat(substring(p_type, 1, 3), '%'), '$') as le |>
    order by p_partkey
    """,
    """
    SELECT p_partkey,
      format_bytes(CAST(p_retailprice * 1000 AS BIGINT)) AS fb,
      formatReadableDecimalSize(CAST(p_retailprice * 131 AS BIGINT)) AS fd,
      parse_filename(concat('/data/', p_type, '/', p_name, '.parquet')) AS fn,
      parse_dirpath(concat('/data/', p_type, '/', p_name, '.parquet')) AS dp,
      parse_dirname(concat(p_type, '/', p_name)) AS dn,
      regexp_escape(substring(p_type, 1, 6)) AS re_esc,
      editdist3(p_name, p_type) AS ed,
      CAST(CAST(md5_number_lower(p_name) AS DECIMAL(20,0)) AS VARCHAR) AS mdl,
      CAST(CAST(md5_number_upper(p_name) AS DECIMAL(20,0)) AS VARCHAR) AS mdu,
      length_grapheme(concat('X', p_name)) AS lg,
      left_grapheme(concat('Z', p_name), 4) AS lgl,
      like_escape(p_type, concat(substring(p_type, 1, 3), '%'), '$') AS le
    FROM part WHERE p_partkey <= 40 ORDER BY p_partkey
    """,
)

_q(
    "q_json_r7",
    # round-7 probe batch: DuckDB json-analysis surface — json_type
    # (incl. JSON-pointer path), json_structure (UBIGINT/BIGINT/DOUBLE
    # merge lattice), RFC-7386 json_merge_patch, json_quote, recursive
    # json_contains, row_to_json (empty field names for row()), and
    # from_json with a compile-time structure→DDL translation.
    """
    from '$SF/nation.parquet' |>
    select n_nationkey,
      json_type(concat('{"k":', n_nationkey, ',"a":[1,2]}')) as jt,
      json_type(concat('{"k":', n_nationkey, ',"a":[1,2]}'), '/a') as jta,
      json_structure(concat('[{"a":', n_nationkey, '},{"b":2.5}]')) as js,
      json_merge_patch(concat('{"k":', n_nationkey, ',"x":1}'),
                       '{"x":null,"y":3}') as jm,
      json_quote(n_name) as jq,
      json_contains(concat('[', n_nationkey, ', 99]'), '99') as jc,
      row_to_json(row(n_nationkey, n_name)) as rj,
      from_json(concat('{"v":', n_nationkey * 2, '}'), '{"v":"BIGINT"}').v as fj |>
    order by n_nationkey
    """,
    """
    SELECT n_nationkey,
      json_type(concat('{"k":', n_nationkey, ',"a":[1,2]}')) AS jt,
      json_type(concat('{"k":', n_nationkey, ',"a":[1,2]}'), '/a') AS jta,
      json_structure(concat('[{"a":', n_nationkey, '},{"b":2.5}]')) AS js,
      json_merge_patch(concat('{"k":', n_nationkey, ',"x":1}'),
                       '{"x":null,"y":3}') AS jm,
      json_quote(n_name) AS jq,
      json_contains(concat('[', n_nationkey, ', 99]'), '99') AS jc,
      row_to_json(row(n_nationkey, n_name)) AS rj,
      CAST(from_json(concat('{"v":', n_nationkey * 2, '}'),
                     '{"v":"BIGINT"}').v AS BIGINT) AS fj
    FROM nation ORDER BY n_nationkey
    """,
)

_q(
    "q_datetime_r7",
    # round-7 probe batch: julian day numbers, ISO year, millennium,
    # epoch_ns, interval constructors (to_weeks/to_quarters), and
    # try_strptime round-trip. Both sides cast interval sums back to
    # DATE (DuckDB date+interval is a TIMESTAMP) and strptime output to
    # TIMESTAMP (DuckDB's is timestamptz).
    """
    from '$SF/orders.parquet' |>
    where o_orderkey <= 200 |>
    select o_orderkey,
      round(julian(o_orderdate), 1) as jd,
      isoyear(o_orderdate) as iy,
      millennium(o_orderdate) as mil,
      epoch_ns(cast(o_orderdate as timestamp)) as ens,
      cast(o_orderdate + to_weeks(2) as date) as wk2,
      cast(o_orderdate + to_quarters(1) as date) as qtr,
      cast(try_strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d')
           as timestamp) as ts_rt,
      timezone_hour(cast(o_orderdate as timestamp)) as tzh |>
    order by o_orderkey
    """,
    """
    SELECT o_orderkey,
      round(julian(o_orderdate), 1) AS jd,
      isoyear(o_orderdate) AS iy,
      millennium(o_orderdate) AS mil,
      epoch_ns(CAST(o_orderdate AS TIMESTAMP)) AS ens,
      CAST(o_orderdate + to_weeks(2) AS DATE) AS wk2,
      CAST(o_orderdate + to_quarters(1) AS DATE) AS qtr,
      CAST(try_strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d')
           AS TIMESTAMP) AS ts_rt,
      timezone_hour(CAST(o_orderdate AS TIMESTAMP)) AS tzh
    FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey
    """,
)


# ---------------------------------------------------------------------------
# Driver-window ordering. The per-round CORRECTNESS gate checks exactly the
# FIRST 50 entries of queries(), so the front of PAIRS must cover every
# operator family: the TPC-H headline shapes, one representative per SQL
# conformance family, and — above all — the LLM-data-pipeline operators
# (dedup / similarity / text / split / streaming / COPY), which are graded
# as first-class components. Everything after position 50 is still covered
# by scripts/check_correctness.py (full 119-entry differential) and pytest.
# ---------------------------------------------------------------------------

_DRIVER_WINDOW = [
    # TPC-H headline shapes (incl. every row that was driver-red in r3)
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_nation_volume",
    "q06_revenue_forecast",
    "q09_profit_by_nation",
    "q08_market_share",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    # round-5 surface (swapped in for twice-proven rows q_like_patterns /
    # q_generate_series / q_bracket_arrays, which stay in the full
    # differential) + previously-red rows kept under driver eyes
    # q_lateral_alias / q_array_lambda / q_string_similarity rotate out
    # (proven r5+r6; all stay in the full differential) for round-7
    # first-time rows: pivot, recursive CTE, and contamination check
    # q_pivot / q_recursive_cte rotate out (window-proven r7-r10; both
    # stay in the full differential, and their families keep driver
    # coverage via q_pivot_stmt / q_recursive_union_distinct) for the
    # round-11 declared-key count-distribution fold under first driver
    # eyes: q13's text with the customer join deleted by declared keys,
    # full-join oracle
    "q13_keyed_fold",
    # round-11 first-time row (VERDICT r10 #6 named it): the five-codec
    # image_stats value-check
    "x_image_stats",
    # x_contamination rotates out (window-proven r7-r11; stays in the
    # full differential) for the round-12 engine-driven co-location
    # statement under first driver eyes: CLUSTER DECLARED KEYS +
    # fact join recompiled against the materialized layouts
    "q_cluster_declared",
    # x_jpeg_decode rotates out (window-proven r5-r6; stays in the full
    # differential, and x_decode_corrupt exercises the JPEG kernel on
    # intact + corrupt payloads) for the round-7 top-level PIVOT statement
    # q_pivot_stmt rotates out (window-proven r7-r11; stays in the full
    # differential) for the round-12 multi-wildcard LIKE locate-chain
    # under first driver eyes — a silent-wrong-class rewrite (every
    # '%a%b%' filter in the dialect routes through it)
    "q_like_chain",
    # q_unnest_struct_col rotates out (window-proven r6-r10; stays in
    # the full differential) for the round-11 first-time n-gram Jaccard
    # verifier (VERDICT r10 #6 named it)
    "x_ngram_jaccard",
    # q_macro rotates out (window-proven r6+r7; stays in the full
    # differential) for the round-7 batch-9 set-operation clause fix —
    # a silent-row-set class (trailing LIMIT bound to the last branch)
    # that belongs under driver eyes
    # q_setop_clauses_r7 rotates out (window-proven r7+r8+r9; stays in
    # the full differential) for the round-10 declared-key EXISTS→window
    # rewrite under first driver eyes: the SAME q21 text compiled with
    # scoped PK/FK declarations, value-checked against the plain EXISTS
    # oracle
    "q21_keyed_rewrite",
    # one representative per conformance family (q_topk_orders rotates out —
    # proven since r1, top-k stays driver-covered via q03's ORDER BY+LIMIT)
    # q_having rotates out (proven r1-r4; HAVING stays in the full
    # differential) for the round-5 single-shuffle q21 formulation
    "q21_window_fast",
    "q_union_distinct",
    # q_cluster_join rotates out (bucketed-twin rep, window-proven
    # r6-r8; stays in the full differential, and the twin machinery is
    # exercised by q21/q05's bench path anyway) for the round-9
    # ExactSubstr span detector — a brand-new operator under first
    # driver eyes
    # x_dup_spans rotates out (window-proven r9-r12; stays in the full
    # differential) for the round-13 CATALOG-endpoint co-location under
    # first driver eyes: saved tables declared, clustered, and the
    # name-referencing fact join recompiled against the twins
    "q_cluster_catalog",
    # q_fn_batch9_r7 rotates out (the r7 driver-hash red: value-exact vs
    # the container's 1.0 oracle, so ≥1 of its 11 packed scalars is
    # DuckDB-version-sensitive; the combined entry stays in the full
    # differential) for its round-8 single-concern bisection — one
    # family per row, so a red pinpoints the divergent one
    # round-9 rotation (VERDICT r8 #6): the bisection did its job — the
    # four green sibling families (bin/era/tz/datesub, window-proven r8;
    # all stay in the full differential) rotated out. q_fn_bit_r8 rotates
    # out in round 10: the driver's oracle confirmed the ::VARCHAR
    # representation fix (CORRECTNESS_r09 pass); it stays in the full
    # differential. In its place: the round-9 DML tail (UPDATE…FROM +
    # DELETE…USING, final-state oracle) — never windowed (VERDICT r9 #3).
    # q_dml_from_using rotates out (window-proven r9-r11; stays in the
    # full differential) for the round-11 fifth declared-key pass under
    # first driver eyes (VERDICT r11 #6 named it): keyed GROUP-BY
    # elimination, full-aggregation oracle
    "q_groupby_keyed_elim",
    # q_like_patterns / q_setop_variants rotate out (window-proven
    # r8+r9; both stay in the full differential) for two round-9
    # training-data operators under first driver eyes (VERDICT r9 #3):
    # SemDeDup cluster-bounded semantic dedup (seeded-centroid oracle)
    # and the ExactSubstr span-cut text rebuild
    # x_semdedup rotates out (window-proven r9-r11; stays in the full
    # differential) for the round-12 REAL video frame decode under first
    # driver eyes: dav1d decodes engine-side, libaom decodes oracle-side
    # — two independent AV1 implementations agreeing per-pixel
    "x_frame_decode",
    # x_strip_dup_spans rotates out (window-proven r9-r11; stays in the
    # full differential; the span family keeps x_dup_spans under driver
    # eyes) for the round-11 lossy-VP8 libwebp kernel (VERDICT r11 #6
    # named it), first driver eyes
    "x_webp_lossy",
    # q_interval_arith rotates out (window-proven r5-r11; stays in the
    # full differential) for the TF-IDF top-k operator (VERDICT r11 #6
    # named it), never windowed
    "x_tfidf_topk",
    "q_left_join_nulls",
    # q_full_outer / q_using_join rotate out (proven r1-r4; both stay in
    # the full differential) for the round-5 curation operators —
    # repetition quality signals and PII redaction under driver eyes
    # x_repetition / x_redact_pii rotate out (window-proven r5-r9; both
    # stay in the full differential) for two round-10 published-rule
    # curation filters under first driver eyes: the full Gopher rule set
    # and the C4 line filter
    # x_gopher_quality rotates out (window-proven r10-r12; stays in the
    # full differential; the curation family keeps x_c4_clean under
    # driver eyes) for the never-windowed PNG single-codec decode row
    # (VERDICT r12 #7 named it)
    "x_png_decode",
    "x_c4_clean",
    "q_asof_join",
    # q_positional_join rotates out (window-proven since r1; stays in the
    # full differential) for the batch-9 multi-arg grouping bitmask
    # q_grouping_multi_r7 rotates out (window-proven r7+r8+r9; stays in
    # the full differential) for the round-10 FK-join elimination under
    # first driver eyes: q05's text with the payload-free orders join
    # dropped by declared keys, full-join oracle
    "q05_keyed_elim",
    # q_lateral_join rotates out (window-proven r1-r6; stays in the full
    # differential) for the deterministic stratified sampler — a
    # training-mix charter operator whose SELECTED ROWS are value-checked
    "x_stratified_sample",
    # x_gif/x_tiff/x_webp decode rotate out (window-proven r6; all stay
    # in the full differential, and x_decode_corrupt below exercises all
    # five codecs on intact payloads anyway) for round-7 first-time rows:
    # corruption-tolerant decode and two curation operators
    # x_decode_corrupt rotates out (window-proven r7-r11; stays in the
    # full differential; the codec family keeps x_image_stats under
    # driver eyes) for the Arrow-batched media resize plumbing, never
    # windowed
    "x_image_resize",
    # x_chunk_text rotates out (window-proven r7-r9; stays in the full
    # differential) for the round-10 CCNet corpus-wide paragraph dedup —
    # a brand-new cross-document operator under first driver eyes
    "x_paragraph_dedup",
    # x_cap_per_group rotates out (window-proven r7-r9; stays in the
    # full differential) for the round-10 ENUM surface — inline casts
    # against DuckDB's real enum engine, first driver eyes
    "q_enum_types",
    # q_qualify rotates out (proven r1-r6; QUALIFY stays window-covered —
    # q_plain_dialect_r7's plain-statement form runs the same rewrite, and
    # the piped form stays in the full differential) for the round-7
    # plain-dialect batch: star modifiers, #N ordinals, AT TIME ZONE
    # q_plain_dialect_r7 rotates out (window-proven r7+r8+r9; stays in
    # the full differential) for the round-10 HTML-boilerplate strip
    # verb - a first-time row whose oracle runs the identical
    # backreference-free regex chain
    "x_strip_html",
    "q_window_rank",
    # x_range_join / q_window_range_interval rotate out (window-proven
    # r5-r6; both stay in the full differential) for the window-frame
    # EXCLUDE rewrite coverage moved to the minmax + DISTINCT rows
    # (round-9 rotation). x_weighted_mix rotates out (window-proven
    # r7-r9; stays in the full differential, and the curate family keeps
    # x_stratified_sample under driver eyes) for the round-10 REAL WAV
    # audio codec — intact PCM/float payloads + four corruption classes,
    # first driver eyes
    "x_audio_decode",
    # q_exists_corr rotates out (proven r1-r6; correlated EXISTS stays
    # window-covered through q21's double correlation) for the round-7
    # regex-parity batch — the first-match-only regexp_replace fix is a
    # silent-divergence class worth driver eyes
    "q_regex_glob_r7",
    # q_window_exclude_r7 rotates out (window-proven r7+r8; stays in the
    # full differential; EXCLUDE stays window-covered via the minmax
    # frame-split row and the new DISTINCT row) for the round-9
    # count(DISTINCT) EXCLUDE rewrite — first driver eyes
    # q_window_exclude_distinct rotates out (window-proven r9-r12; stays
    # in the full differential; EXCLUDE stays covered by the minmax
    # family there) for the returning decontamination checker (VERDICT
    # r12 #7 named it — windowed r7-r11, out one round)
    "x_contamination",
    # q_percentile rotates out (proven r2-r4; quantiles stay in the full
    # differential) for round 5's duplicate-cluster closure operator
    "x_dedup_components",
    # LLM-data-pipeline operators (dedup / similarity / text / split /
    # streaming / profiling / COPY) — the extended charter surface.
    # Round-8 rotation (VERDICT r7 #6): nine thrice-window-proven rows
    # (x_exact_dedup, x_simhash_md5, x_ngram_jaccard, x_knn_bruteforce,
    # x_lang_id, x_token_count, x_fingerprint, x_summarize,
    # x_copy_roundtrip, x_sessionize — all green r5+r6+r7; all stay in
    # the full differential) rotate out for the never-window-checked
    # round-7 entries and the round-8 first-time rows; one
    # representative per family stays under driver eyes (minhash,
    # embedding dedup, LSH/IVF similarity, text quality, hash split,
    # tumbling stream).
    # x_minhash_md5 rotates out (window-proven r5-r8; stays in the full
    # differential) for the round-9 DSIR importance-resampling weights
    # — scaled-integer oracle, every stage mirrored
    "x_dsir",
    "x_embedding_dedup",
    "x_lsh_ann",
    "x_ivf_search",
    # x_text_quality rotates out (window-proven r5-r7; stays in the full
    # differential) for the round-8 BM25 corpus-ranking operator — a
    # first-time row with an exact scaled-integer oracle
    # x_bm25 rotates out (window-proven r8-r10; stays in the full
    # differential; the corpus-ranking family keeps x_lm_score under
    # driver eyes) for TPC-H q16 — NOT IN subquery + count(DISTINCT),
    # never windowed
    "q16_supplier_relationship",
    # round-9 first-time row (VERDICT r8 #6 named it): the bigram
    # reference-LM quality scorer, diff-only until now
    "x_lm_score",
    # x_hash_split rotates out (window-proven r5-r12; stays in the full
    # differential; the split family keeps x_stratified_sample under
    # driver eyes) for the never-windowed PREPARE/EXECUTE row (VERDICT
    # r12 #7 named it)
    "q_prepared",
    "x_tumbling_window",
    # never-window-checked round-7 entries (VERDICT r7 #6)
    # q_sequence rotates out (window-proven r8-r10; stays in the full
    # differential) for the watermark-evicted streaming dedup —
    # rows-only check, never windowed (VERDICT r10 #6 named it)
    "x_stream_dedup",
    # q_quantified_r7 rotates out (window-proven r8-r10; stays in the
    # full differential) for the round-11 declared-key DISTINCT
    # elimination under first driver eyes — the fourth keyed pass, same
    # window treatment its three siblings got (q05_keyed_elim,
    # q21_keyed_rewrite, q13_keyed_fold)
    "q_distinct_keyed_elim",
    # q_embed_math rotates out (window-proven r8-r10; stays in the
    # full differential) for the corpus-vocabulary top-k operator,
    # never windowed (VERDICT r10 #6 named it)
    "x_vocab_topk",
    # q_null_semantics_r7 rotates out (window-proven r7-r12; stays in
    # the full differential) for the returning overlapping-window text
    # chunker (VERDICT r12 #7 named it — windowed r7-r9, out three
    # rounds; Arrow-batched splitter with a per-chunk oracle)
    "x_chunk_text",
    # q_window_exclude_minmax_r8 / q_ops_batch10b_r8 rotate out
    # (window-proven r8+r9; both stay in the full differential) for the
    # round-9 WITH RECURSIVE UNION-distinct fixpoint (semi-naive, cycle
    # guard through set semantics) and the named-WINDOW-clause rank
    # family — both never windowed (VERDICT r9 #3)
    "q_recursive_union_distinct",
    "q_window_rank_family",
]


def _apply_driver_window_order() -> None:
    assert len(_DRIVER_WINDOW) == 50, len(_DRIVER_WINDOW)
    missing = [n for n in _DRIVER_WINDOW if n not in PAIRS]
    assert not missing, f"driver-window names not in PAIRS: {missing}"
    ordered = {n: PAIRS[n] for n in _DRIVER_WINDOW}
    ordered.update((n, p) for n, p in PAIRS.items() if n not in ordered)
    PAIRS.clear()
    PAIRS.update(ordered)


_apply_driver_window_order()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (psql, _) in PAIRS.items():
        out[name] = psql if callable(psql) else _pipe(psql)
    return out


def oracle_sql() -> dict[str, str]:
    return {name: o for name, (_, o) in PAIRS.items() if o is not None}
