"""Round-14 Arrow signature kernels (operators/arrowhash.py): value
parity with the JVM formulation, plan shape, and the numpy XXH64's
bit-compatibility with Spark's xxhash64 (the linchpin of the rewrite)."""

from __future__ import annotations

import random

import numpy as np
import pytest


@pytest.fixture
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        (3, "completely different content about spark query engines and joins"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (5, "ab"),  # fewer tokens than shingle_k → whole-text fallback hash
        (6, ""),  # empty text → [""] token → still the fallback path
        (7, "  spaced  out  "),  # leading/trailing/double whitespace edges
        (8, None),  # null text → xxhash64 seed fallback, like the JVM
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_numpy_xxh64_matches_spark(spark):
    from pyspark.sql import functions as F

    from duckdb_psql_spark.operators.arrowhash import xxh64_strings
    import pyarrow as pa

    rng = random.Random(3)
    # lengths 0..70 cover the byte/4-byte/8-byte tails and the 32-byte
    # stripe path; latin-1 printable keeps the UTF-8 round-trip 1 byte
    strs = [
        "".join(chr(rng.randrange(32, 127)) for _ in range(ln)) for ln in range(71)
    ]
    want = [
        r.h
        for r in spark.createDataFrame([(s,) for s in strs], "s string")
        .select(F.xxhash64("s").alias("h"))
        .collect()
    ]
    got = [int(x) for x in xxh64_strings(pa.array(strs))]
    assert got == want


@pytest.mark.parametrize("large", [False, True])
def test_xxh64_mixed_long_and_short_strings(large):
    """A batch holding strings over _PACK_MAXLEN hashes each string as
    it would alone (short strings through the compacted buffer, long
    ones one at a time), for string and large_string offsets alike."""
    import pyarrow as pa

    from duckdb_psql_spark.operators.arrowhash import _PACK_MAXLEN, xxh64_strings

    rng = random.Random(11)
    lengths = [0, 3, _PACK_MAXLEN + 1, 17, 8, _PACK_MAXLEN, 4000, 1, 64, 2 * _PACK_MAXLEN]
    strs = ["".join(chr(rng.randrange(32, 127)) for _ in range(n)) for n in lengths]
    typ = pa.large_string() if large else pa.string()
    # a sliced array: non-zero offset into the shared buffers
    arr = pa.array(["pad"] + strs, type=typ).slice(1)
    got = [int(x) for x in xxh64_strings(arr)]
    want = [int(xxh64_strings(pa.array([s], type=typ))[0]) for s in strs]
    assert got == want


def test_minhash_arrow_value_parity(docs):
    from duckdb_psql_spark.operators.dedup import minhash_signatures

    jvm = {
        r.doc_id: list(r.signature)
        for r in minhash_signatures(
            docs, id_col="doc_id", text_col="text", num_perm=16, shingle_k=3
        ).collect()
    }
    arrow = {
        r.doc_id: list(r.signature)
        for r in minhash_signatures(
            docs, id_col="doc_id", text_col="text", num_perm=16, shingle_k=3,
            unique_ids=True,
        ).collect()
    }
    assert jvm == arrow
    assert jvm[1] == jvm[4]  # exact dup → identical signature


def test_simhash_arrow_value_parity(docs):
    from duckdb_psql_spark.operators.dedup import simhash_signatures

    jvm = {
        r.doc_id: r.simhash
        for r in simhash_signatures(docs, id_col="doc_id", text_col="text").collect()
    }
    arrow = {
        r.doc_id: r.simhash
        for r in simhash_signatures(
            docs, id_col="doc_id", text_col="text", unique_ids=True
        ).collect()
    }
    assert jvm == arrow


def test_minhash_pairs_parity_and_plan(docs):
    from duckdb_psql_spark.operators.dedup import minhash_dup_pairs

    jvm = minhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", num_perm=16, bands=4, shingle_k=3
    )
    arrow = minhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", num_perm=16, bands=4, shingle_k=3,
        unique_ids=True,
    )
    assert sorted(map(tuple, jvm.collect())) == sorted(map(tuple, arrow.collect()))
    plan = arrow._jdf.queryExecution().executedPlan().toString()
    # the signature stage runs in ONE Arrow pass: no shingle explode, no
    # per-id aggregate exchange anywhere upstream of the band join
    assert "MapInArrow" in plan
    jplan = jvm._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in jplan  # default path unchanged


def test_arrow_kernel_batch_edges():
    """Kernel-level edges: all-fallback batch, k=1, empty batch."""
    import pyarrow as pa

    from duckdb_psql_spark.operators.arrowhash import minhash_sig_batch, simhash_sig_batch

    rng = random.Random(42)
    prime = 2147483647
    perms = [(rng.randrange(1, prime), rng.randrange(0, prime)) for _ in range(4)]
    a = np.array([x for x, _ in perms], dtype=np.int64)
    b = np.array([y for _, y in perms], dtype=np.int64)
    sig = minhash_sig_batch(pa.array(["a b", "c"]), 4, 5, a, b)
    assert sig.shape == (2, 4) and (sig >= 0).all() and (sig < prime).all()
    sig = minhash_sig_batch(pa.array([], type=pa.string()), 4, 5, a, b)
    assert sig.shape == (0, 4)
    s = simhash_sig_batch(pa.array(["x y z"]))
    assert s.shape == (1,)
    s = simhash_sig_batch(pa.array([], type=pa.string()))
    assert s.shape == (0,)


def test_dup_id_semantics_preserved(spark):
    """The DEFAULT (unique_ids=False) path must keep the documented
    merge-by-id semantics: duplicated ids aggregate their shingles."""
    from duckdb_psql_spark.operators.dedup import minhash_signatures

    dup = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (1, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    rows = minhash_signatures(
        dup, id_col="doc_id", text_col="text", num_perm=8, shingle_k=2
    ).collect()
    assert len(rows) == 1  # merged — one signature for the duplicated id


def test_non_ascii_lowercase_parity(spark):
    """Java toLowerCase applies Unicode SpecialCasing (Greek final sigma
    'ΟΔΟΣ'→'οδος') which Arrow's utf8_lower does not — the kernels must
    consume JVM-lowered text so signatures match on non-ASCII corpora
    (round-14 review find)."""
    from duckdb_psql_spark.operators import text as T
    from duckdb_psql_spark.operators.dedup import (
        minhash_signatures,
        simhash_signatures,
    )

    rows = [
        (1, "ΟΔΟΣ ΕΝΑ ΔΥΟ ΤΡΙΑ ΟΔΟΣ ΕΝΑ"),  # word-final capital sigmas
        (2, "Straße GROSS ÄÖÜ İstanbul ΣΟΦΙΑΣ"),
        (3, "plain ascii text for contrast here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    jvm = {
        r.doc_id: list(r.signature)
        for r in minhash_signatures(
            df, id_col="doc_id", text_col="text", num_perm=8, shingle_k=2
        ).collect()
    }
    arrow = {
        r.doc_id: list(r.signature)
        for r in minhash_signatures(
            df, id_col="doc_id", text_col="text", num_perm=8, shingle_k=2,
            unique_ids=True,
        ).collect()
    }
    assert jvm == arrow
    sj = {r.doc_id: r.simhash for r in simhash_signatures(df, id_col="doc_id", text_col="text").collect()}
    sa = {r.doc_id: r.simhash for r in simhash_signatures(df, id_col="doc_id", text_col="text", unique_ids=True).collect()}
    assert sj == sa
