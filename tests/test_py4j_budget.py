"""py4j round-trip budgets for composing the dedup pair miners and the
AS-OF join.

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


# measured on perfbench's dedup_docs arguments (unique ids, the Arrow
# signature path): minhash 525 and simhash 385 round trips per call;
# with the bands built from Columns they were 1,908 and 671
@pytest.mark.parametrize("miner, args, budget", [
    ("minhash_dup_pairs", dict(num_perm=64, bands=16, shingle_k=3, threshold=0.4), 650),
    ("simhash_dup_pairs", dict(max_hamming=3), 480),
])
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
