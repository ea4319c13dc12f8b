"""Randomized differential fuzzer for the declared-key EXISTS→window
rewrite (compiler._exists_window_rewrite, round 10).

Generates random correlated [NOT] EXISTS pipelines over the TPC-H
fixtures — varying probe source, correlation column, anti-self
conjuncts, FD-on-key outer references, member-local predicates,
filters before/after, renames, and join prefixes — and runs each
TWICE on Spark (rewrite on / off) plus once on DuckDB. All three must
agree. Shapes the rewrite declines are still checked (off-path
differential), so both the rewrite AND its gates are under test.

Usage: python scripts/fuzz_exists_rewrite.py [n=60] [seed=7] [sf_dir]
Exits non-zero on any three-way disagreement.
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

N = int(sys.argv[1]) if len(sys.argv) > 1 else 60
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 7
SF = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"


def gen(rng: random.Random, sf: str) -> tuple[str, str]:
    """One random (pipe, oracle_sql) pair. The outer pipe is lineitem
    (optionally joined to orders), with renames; the probe is a
    correlated EXISTS over lineitem on l_orderkey."""
    neg = rng.random() < 0.5
    join_orders = rng.random() < 0.6
    # outer refs are ALWAYS renamed: a bare name the probe table also
    # carries resolves to the INNER scope in SQL — the dedicated tests
    # cover that shadowing rule; here the oracle needs true outer refs
    rename = True
    pre_filter = rng.choice(
        [None, "l_quantity > 25", "l_discount < 0.05",
         "l_shipdate > date '1996-01-01'"]
    )
    ok = "ok" if rename else "l_orderkey"
    sk = "sk" if rename else "l_suppkey"
    conj2 = []
    anti = rng.random() < 0.7
    if anti:
        conj2.append(f"l2.l_suppkey <> {sk}")
    picks = rng.sample(
        [
            "l2.l_quantity > 30",
            "l2.l_tax > 0.05",
            "l2.l_returnflag = 'R'",
            "l2.l_shipdate > date '1997-01-01'",
        ],
        rng.randint(0 if anti else 1, 2),
    )
    conj2.extend(picks)
    fd_ref = join_orders and rng.random() < 0.5
    if fd_ref:
        conj2.append("l2.l_shipdate > od + interval 30 day")
    cond2 = " and ".join([f"l2.l_orderkey = {ok}"] + conj2)
    probe = f"{'not ' if neg else ''}exists (select 1 from '{sf}/lineitem.parquet' l2 where {cond2})"
    sel_cols = (
        f"l_orderkey as ok, l_suppkey as sk"
        if rename
        else "l_orderkey, l_suppkey"
    ) + (", o_orderdate as od" if join_orders else "")
    parts = [f"from '{sf}/lineitem.parquet'"]
    if join_orders:
        parts.append(
            f"as l join '{sf}/orders.parquet' as o "
            "on l.l_orderkey = o.o_orderkey"
        )
    parts.append(f"select {sel_cols}")
    if pre_filter:
        pf = pre_filter if not rename else pre_filter  # cols not renamed
        # the filter references original names; apply BEFORE the select
        parts.insert(1 + (1 if join_orders else 0), f"where {pre_filter}")
    parts.append(f"where {probe}")
    parts.append(f"select count() as n, sum({ok} % 97) as chk")
    pipe = " |> ".join(parts)

    # oracle: same thing in plain SQL with explicit outer qualification
    inner_from = f"'{sf}/lineitem.parquet'"
    base = f"select {sel_cols.replace('l_orderkey', 'l.l_orderkey').replace('l_suppkey', 'l.l_suppkey') if join_orders else sel_cols} from '{sf}/lineitem.parquet' l"
    if join_orders:
        base += f" join '{sf}/orders.parquet' o on l.l_orderkey = o.o_orderkey"
    if pre_filter:
        base += f" where {pre_filter}"
    cond2_o = " and ".join(
        [f"l2.l_orderkey = t.{ok}"]
        + [
            c.replace(f"<> {sk}", f"<> t.{sk}").replace("od +", "t.od +")
            for c in conj2
        ]
    )
    oracle = (
        f"select count(*) as n, sum(t.{ok} % 97) as chk from ({base}) t "
        f"where {'not ' if neg else ''}exists "
        f"(select 1 from {inner_from} l2 where {cond2_o})"
    )
    return pipe, oracle


def main() -> int:
    from duckdb_psql_spark import PsqlSession
    from duckdb_psql_spark.session import default_spark

    spark = default_spark(app_name="fuzz-exists", cpus=8)
    psql = PsqlSession(spark)
    for s in (
        f"declare primary key on '{SF}/orders.parquet' (o_orderkey)",
        f"declare primary key on '{SF}/supplier.parquet' (s_suppkey)",
        f"declare foreign key on '{SF}/lineitem.parquet' (l_orderkey) "
        f"references '{SF}/orders.parquet' (o_orderkey)",
        f"declare foreign key on '{SF}/lineitem.parquet' (l_suppkey) "
        f"references '{SF}/supplier.parquet' (s_suppkey)",
    ):
        psql.sql(s)
    con = duckdb.connect()
    rng = random.Random(SEED)
    fails = 0
    rewrote = 0
    comp = psql._compiler
    for i in range(N):
        pipe, oracle = gen(rng, SF)
        want = con.execute(oracle).fetchone()
        spark.conf.set("spark.psql.existsWindowRewrite", "true")
        on = tuple(psql.sql(pipe).collect()[0])
        n_rw = len(comp.last_window_rewrites)
        rewrote += 1 if n_rw else 0
        spark.conf.set("spark.psql.existsWindowRewrite", "false")
        off = tuple(psql.sql(pipe).collect()[0])
        if not (tuple(want) == on == off):
            fails += 1
            print(f"MISMATCH (rewrites={n_rw}):\n  {pipe}\n  duck={want} on={on} off={off}")
        if (i + 1) % 20 == 0:
            print(f"{i + 1}/{N} done ({fails} mismatches, {rewrote} rewritten)")
    print(f"RESULT: {N - fails} ok, {fails} mismatches, {rewrote}/{N} took the rewrite")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
