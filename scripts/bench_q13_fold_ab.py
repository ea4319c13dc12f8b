"""q13 fold A/B (round 11): the declared-key count-distribution fold vs
the round-10 plan (eager agg, no fold) vs DuckDB, interleaved per rep.

Usage: python scripts/bench_q13_fold_ab.py [sf_dir] [reps=5]
Writes BENCH_Q13_FOLD_AB_<sfname>.json at the repo root.
"""
from __future__ import annotations

import glob as _glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/data/sf10"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 5

Q13_PIPE = """
from '{sf}/customer.parquet' |>
as c left join '{sf}/orders.parquet' as o
  on c.c_custkey = o.o_custkey and o.o_orderpriority <> '1-URGENT' |>
select c_custkey, count(o_orderkey) as c_count group by c_custkey |>
select c_count, count() as custdist group by c_count |>
order by custdist desc, c_count desc
"""


def main() -> None:
    from duckdb_psql_spark import PsqlSession
    from duckdb_psql_spark.session import default_spark, tune_for_input

    spark = default_spark(app_name="q13-fold-ab")
    tune_for_input(spark, SF)
    p = PsqlSession(spark)
    p.sql(f"declare primary key on '{SF}/customer.parquet' (c_custkey)")
    p.sql(
        f"declare foreign key on '{SF}/orders.parquet' (o_custkey) "
        f"references '{SF}/customer.parquet' (c_custkey)"
    )
    # same as bench.py's ingest declarations: orders PK enables the
    # count(o_orderkey)→count(*) column prune inside the fold
    p.sql(f"declare primary key on '{SF}/orders.parquet' (o_orderkey)")
    spark.read.parquet(f"{SF}/customer.parquet").count()

    g = "/*.parquet" if _glob.glob(f"{SF}/customer.parquet/part-*") else ""
    duck_sql = f"""
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM '{SF}/customer.parquet{g}' c LEFT JOIN '{SF}/orders.parquet{g}' o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""

    def mk(fold: bool, check: bool = False):
        spark.conf.set("spark.psql.countDistFold", "true" if fold else "false")
        df = p.sql(Q13_PIPE.format(sf=SF))
        if check:  # the flag describes the compose just made
            assert p._compiler.last_count_dist_fold is fold
        return df

    # value parity first
    duck_rows = duckdb.sql(duck_sql).fetchall()
    for fold in (True, False):
        rows = [tuple(r) for r in mk(fold, check=True).collect()]
        assert rows == duck_rows, f"fold={fold} mismatch"
    print("value parity ok", flush=True)

    best = {}
    for rep in range(REPS):
        t0 = time.perf_counter()
        duckdb.sql(duck_sql).fetchall()
        best["duck"] = min(best.get("duck", 9e9), time.perf_counter() - t0)
        for name, fold in (("fold", True), ("no_fold", False)):
            df = mk(fold)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best[name] = min(best.get(name, 9e9), time.perf_counter() - t0)
        print(f"rep {rep}: " + json.dumps({k: round(v, 3) for k, v in best.items()}), flush=True)
    spark.conf.set("spark.psql.countDistFold", "true")

    payload = {
        "metric": "q13_fold_ab", "sf_dir": SF, "reps": REPS,
        "best_sec": {k: round(v, 3) for k, v in best.items()},
        "ratio_vs_duck": {k: round(v / best["duck"], 2)
                          for k, v in best.items() if k != "duck"},
    }
    name = os.path.basename(SF.rstrip("/"))
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       f"BENCH_Q13_FOLD_AB_{name}.json")
    with open(out, "w") as f:
        f.write(json.dumps(payload) + "\n")
    print(json.dumps(payload), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
