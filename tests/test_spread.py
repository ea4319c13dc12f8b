"""The small-input spread (operators/spread.py): a source estimated above
MIN_TASK_BYTES but below one scan split per core gets one hash exchange
in front of the per-row text kernels; every other source keeps its plan;
results match the unspread formulations."""

from __future__ import annotations

import random
import re

import pytest

from duckdb_psql_spark.operators import spread


def _corpus_rows(n: int, seed: int) -> list[tuple[int, str]]:
    """``n`` documents of ~60 words; every tenth is a near-copy of the
    document before it (two words changed), so the miners find pairs."""
    rng = random.Random(seed)
    vocab = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randrange(3, 9)))
             for _ in range(3000)]
    rows: list[tuple[int, str]] = []
    for i in range(n):
        if i % 10 == 9:
            words = rows[-1][1].split()
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = [rng.choice(vocab) for _ in range(60)]
        rows.append((i, " ".join(words)))
    return rows


def _parquet(spark, tmp_path_factory, n: int) -> str:
    path = str(tmp_path_factory.mktemp("spread") / "docs.parquet")
    spark.createDataFrame(_corpus_rows(n, 7), "doc_id long, text string") \
        .coalesce(1).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    """A parquet corpus whose estimate sits above the floor."""
    path = _parquet(spark, tmp_path_factory, 5000)
    assert spread._estimated_bytes(spark.read.parquet(path)) >= 2 * spread.MIN_TASK_BYTES
    return path


@pytest.fixture
def corpus(spark, corpus_path):
    return spark.read.parquet(corpus_path)


def _n(df) -> int:
    cores = df.sparkSession.sparkContext.defaultParallelism
    return min(cores, spread._estimated_bytes(df) // spread.MIN_TASK_BYTES)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _hash_exchanges(plan: str) -> list[tuple[str, int]]:
    return [(m.group(1), int(m.group(2))) for m in
            re.finditer(r"Exchange hashpartitioning\((\w+)#\d+L?, (\d+)\)", plan)]


def _below(plan: str, parent: str, child: str) -> bool:
    """``child`` is the next operator under the first ``parent`` line."""
    lines = plan.splitlines()
    i = next(k for k, ln in enumerate(lines) if parent in ln)
    return child in lines[i + 1]


def _signatures(df):
    from duckdb_psql_spark.operators.dedup import minhash_signatures, simhash_signatures

    return (
        minhash_signatures(df, id_col="doc_id", text_col="text", num_perm=16,
                           shingle_k=3, unique_ids=True),
        simhash_signatures(df, id_col="doc_id", text_col="text", unique_ids=True),
    )


def test_spread_above_floor_puts_one_exchange_under_each_kernel(corpus):
    from duckdb_psql_spark.operators.text import with_text_stats

    n = _n(corpus.select("doc_id", "text"))
    assert n > 1
    for sig in _signatures(corpus):
        plan = _plan(sig)
        assert _hash_exchanges(plan) == [("doc_id", n)]
        assert _below(plan, "MapInArrow", "Exchange hashpartitioning(doc_id")
    plan = _plan(with_text_stats(corpus))
    assert _hash_exchanges(plan) == [("text", _n(corpus))]
    assert _below(plan, "Project", "Exchange hashpartitioning(text")


def test_source_below_floor_keeps_its_plan(spark, tmp_path_factory):
    from duckdb_psql_spark.operators.text import with_text_stats

    small = spark.read.parquet(_parquet(spark, tmp_path_factory, 500))
    assert spread._estimated_bytes(small) < 2 * spread.MIN_TASK_BYTES
    assert spread.spread_over_cores(small, "doc_id") is small
    for sig in _signatures(small):
        assert _hash_exchanges(_plan(sig)) == []
    assert _hash_exchanges(_plan(with_text_stats(small))) == []


def test_source_of_a_split_per_core_keeps_its_plan(corpus, monkeypatch):
    """At ``cores × maxPartitionBytes`` a default-written parquet input has
    a row group per core; the estimate is stubbed rather than a file that
    large written."""
    spark = corpus.sparkSession
    cores = spark.sparkContext.defaultParallelism
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    monkeypatch.setattr(spread, "_estimated_bytes", lambda df: cores * split)
    assert spread.spread_over_cores(corpus, "doc_id") is corpus
    for sig in _signatures(corpus):
        assert _hash_exchanges(_plan(sig)) == []
    monkeypatch.setattr(spread, "_estimated_bytes", lambda df: cores * split - 1)
    assert _hash_exchanges(_plan(spread.spread_over_cores(corpus, "doc_id"))) == [
        ("doc_id", cores)
    ]


# the 500 near-copies: MinHash finds nearly all of them, SimHash's
# hamming <= 3 only the copies whose two changed words moved few bits
@pytest.mark.parametrize("miner, args, min_pairs", [
    ("minhash_dup_pairs", dict(num_perm=64, bands=16, shingle_k=3, threshold=0.4), 400),
    ("simhash_dup_pairs", dict(max_hamming=3), 100),
])
def test_spread_pairs_equal_jvm_formulation(corpus, miner, args, min_pairs):
    from duckdb_psql_spark.operators import dedup

    fn = getattr(dedup, miner)
    arrow = fn(corpus, id_col="doc_id", text_col="text", unique_ids=True, **args)
    assert "hashpartitioning(doc_id" in _plan(arrow)
    jvm = fn(corpus, id_col="doc_id", text_col="text", unique_ids=False, **args)
    got = sorted(map(tuple, arrow.collect()))
    assert len(got) >= min_pairs
    assert got == sorted(map(tuple, jvm.collect()))


def test_spread_quality_score_equals_unspread(corpus, monkeypatch):
    from duckdb_psql_spark.operators.text import quality_score

    spread_df = quality_score(corpus)
    assert "hashpartitioning(text" in _plan(spread_df)
    monkeypatch.setattr(spread, "_estimated_bytes", lambda df: 0)
    plain_df = quality_score(corpus)
    assert "hashpartitioning" not in _plan(plain_df)
    got = sorted(map(tuple, spread_df.collect()))
    assert len(got) == 5000
    assert got == sorted(map(tuple, plain_df.collect()))


def test_ordered_source_keeps_its_order(psql, corpus_path):
    """An exchange over ``order by`` would drop the order (and Spark the
    Sort), so an ordered input above the floor is not spread."""
    ordered = psql.sql(
        f"from '{corpus_path}' |> order by doc_id desc |> where doc_id >= 0 |> "
        "select doc_id, text |> text_stats"
    )
    assert "hashpartitioning" not in _plan(ordered)
    ids = [r.doc_id for r in ordered.select("doc_id").collect()]
    assert ids == list(range(4999, -1, -1))


def test_streaming_source_is_not_spread(psql, corpus_path):
    """A streaming plan has no batch size estimate (optimizing it raises):
    ``quality_score`` over ``stream(...)`` compiles and drains to the batch
    scores."""
    sdf = psql.sql(f"from stream('{corpus_path}') |> quality_score")
    assert sdf.isStreaming
    q = (sdf.select("doc_id", "quality_score").writeStream.format("memory")
         .queryName("spread_stream_t").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = sorted(map(tuple, psql.spark.sql("select * from spread_stream_t").collect()))
    want = psql.sql(f"from '{corpus_path}' |> quality_score |> select doc_id, quality_score")
    assert len(got) == 5000
    assert got == sorted(map(tuple, want.collect()))
