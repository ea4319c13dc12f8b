"""py4j round-trip budgets for composing a piped join, the dedup pair
miners and the AS-OF join.

Every Column node built in Python is its own gateway round trip; these
operators build their expressions as SQL text so composing a call stays
tens to a few hundred round trips instead of thousands. Counted the way
perfbench's probe counts them: every ``send_command`` on the gateway
client except proxy releases."""

from __future__ import annotations

from contextlib import contextmanager

import pytest


@contextmanager
def _counting(spark):
    client = spark.sparkContext._gateway._gateway_client
    send = type(client).send_command.__get__(client)
    calls = [0]

    def counted(command, *a, **kw):
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return send(command, *a, **kw)

    client.send_command = counted
    try:
        yield calls
    finally:
        del client.send_command


@contextmanager
def _commands(spark):
    """Every gateway command sent inside the block (proxy releases
    excluded), as py4j's text protocol writes them."""
    client = spark.sparkContext._gateway._gateway_client
    send = type(client).send_command.__get__(client)
    sent: list[str] = []

    def recorded(command, *a, **kw):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *a, **kw)

    client.send_command = recorded
    try:
        yield sent
    finally:
        del client.send_command


_NATION_VOLUME = """from '{d}/region.parquet' |> where r_name = '{r}' |>
as r join '{d}/nation.parquet' as n on r.r_regionkey = n.n_regionkey |>
as rn join '{d}/supplier.parquet' as s on rn.n_nationkey = s.s_nationkey |>
as rns join '{d}/lineitem.parquet' as l on rns.s_suppkey = l.l_suppkey |>
as rnsl join '{d}/orders.parquet' as o on rnsl.l_orderkey = o.o_orderkey |>
where o_orderdate >= date '{y}-01-01' |>
select n_name, sum(l_price) as revenue, count() as n_items group by n_name |>
order by revenue desc, n_name"""


def test_piped_join_composes_as_one_sql_text(spark, psql, tmp_path):
    """A 5-join pipeline reaches Catalyst as one nested SQL text: one
    ``sql`` call on the session, no ``createOrReplaceTempView`` command
    (the five sources bind straight in the session catalog), and 27
    round trips measured (106, with 8 ``sql`` calls and 12 views, when
    every stage was its own ``spark.sql`` over a temp view of the stage
    before)."""
    import datetime

    d = str(tmp_path)
    rows = {
        "region": ([(0, "ASIA"), (1, "EUROPE")], "r_regionkey int, r_name string"),
        "nation": ([(0, "JAPAN", 0), (1, "FRANCE", 1)],
                   "n_nationkey int, n_name string, n_regionkey int"),
        "supplier": ([(0, 0), (1, 1)], "s_suppkey int, s_nationkey int"),
        "lineitem": ([(0, 0, 2.5), (1, 1, 4.0), (0, 1, 1.0)],
                     "l_orderkey int, l_suppkey int, l_price double"),
        "orders": ([(0, datetime.date(1996, 3, 1)), (1, datetime.date(1997, 5, 2))],
                   "o_orderkey int, o_orderdate date"),
    }
    for name, (data, schema) in rows.items():
        spark.createDataFrame(data, schema).write.parquet(f"{d}/{name}.parquet")
    # the first compose warms PySpark's own lookups and the resolver
    psql.sql(_NATION_VOLUME.format(d=d, r="ASIA", y=1995))
    session = spark._jsparkSession._target_id
    with _commands(spark) as sent:
        df = psql.sql(_NATION_VOLUME.format(d=d, r="EUROPE", y=1996))
    assert sum(c.startswith(f"c\n{session}\nsql\n") for c in sent) == 1
    assert not any("\ncreateOrReplaceTempView\n" in c for c in sent)
    assert len(sent) <= 33, len(sent)
    assert [tuple(r) for r in df.collect()] == [("FRANCE", 5.0, 2)]


# measured on perfbench's dedup_docs arguments (unique ids, the Arrow
# signature path): minhash 243 and simhash 185 round trips per call;
# with the bands, join conditions and renaming selects built from
# Columns they were 1,908 and 671
@pytest.mark.parametrize("miner, args, budget", [
    ("minhash_dup_pairs", dict(num_perm=64, bands=16, shingle_k=3, threshold=0.4), 290),
    ("simhash_dup_pairs", dict(max_hamming=3), 220),
], ids=["minhash_dup_pairs", "simhash_dup_pairs"])
def test_miner_compose_py4j_budget(spark, miner, args, budget):
    from duckdb_psql_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    fn = getattr(dedup, miner)
    # the first call warms PySpark's own lookups
    dedup.take_pins(fn(df, id_col="doc_id", text_col="text", unique_ids=True, **args))
    with _counting(spark) as calls:
        out = fn(df, id_col="doc_id", text_col="text", unique_ids=True, **args)
    for p in dedup.take_pins(out):
        p.unpersist()
    assert calls[0] <= budget, calls[0]


def test_asof_join_compose_py4j_budget(spark):
    """The AS-OF join builds its tagged selects, carry-forward windows and
    filters as SQL text: two 5-column frames compose in under 100 round
    trips (63 measured; 1,165 when every node was a Column)."""
    from duckdb_psql_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, 10, 1.0, "a")], "k long, id long, ts long, v double, s string"
    )
    right = spark.createDataFrame(
        [(1, 5, 2.0, "b", True)], "k long, ts long, v double, s string, f boolean"
    )
    kw = dict(on_text="l.k = r.k and l.ts >= r.ts", left_alias="l", right_alias="r")
    asof_join(left, right, **kw)  # warms PySpark's own lookups
    # fresh frames, so their schemas are fetched inside the count
    fresh_left, fresh_right = left.select("*"), right.select("*")
    with _counting(spark) as calls:
        asof_join(fresh_left, fresh_right, **kw)
    assert calls[0] <= 100, calls[0]
