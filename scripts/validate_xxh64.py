"""Validate the numpy XXH64 (duckdb_psql_spark/operators/arrowhash.py) bit-for-bit against
Spark's `xxhash64` expression: every distinct corpus token, every full
document text, plus random byte strings of length 0..100 covering all
tail paths and the 32-byte stripe path. Also checks tokenization parity:
Arrow `split_pattern_regex('[ \\t\\n\\x0b\\f\\r]+')` + utf8_lower vs the
JVM `split(lower(text), '\\s+')` over the whole corpus."""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from duckdb_psql_spark.operators.arrowhash import (  # noqa: E402
    _pack_strings as pack_strings,
    xxh64_strings as xxh64_arrow_strings_i64,
    xxh64_words,
)


def xxh64_arrow_strings(arr):
    import numpy as np

    return xxh64_arrow_strings_i64(arr).view(np.uint64)

from duckdb_psql_spark.session import default_spark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def spark_xxh64(spark, strs: list[bytes | str]) -> list[int]:
    vals = [(s.decode("latin-1") if isinstance(s, bytes) else s,) for s in strs]
    df = spark.createDataFrame(vals, "s string")
    rows = df.select(F.xxhash64("s").alias("h")).collect()
    return [r.h for r in rows]


def np_xxh64_bytes(byte_strs: list[bytes]) -> list[int]:
    lens = np.array([len(b) for b in byte_strs], dtype=np.int64)
    offs = np.zeros(len(byte_strs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    data = np.frombuffer(b"".join(byte_strs), dtype=np.uint8)
    words, lengths = pack_strings(offs, data)
    return [int(x) for x in xxh64_words(words, lengths).view(np.int64)]


def main() -> None:
    spark = default_spark(app_name="validate-xxh64")
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    # 1. random byte strings, all lengths 0..100 (latin-1 safe: bytes
    # 0x01..0x7f so the Spark string round-trips to the same UTF-8 bytes)
    rng = random.Random(7)
    rand_strs = [
        bytes(rng.randrange(1, 128) for _ in range(ln))
        for ln in range(0, 101)
        for _ in range(5)
    ]
    got = np_xxh64_bytes(rand_strs)
    want = spark_xxh64(spark, rand_strs)
    bad = [i for i, (g, w) in enumerate(zip(got, want)) if g != w]
    print(f"random byte strings: {len(rand_strs)} checked, {len(bad)} mismatches")
    assert not bad, [(rand_strs[i], got[i], want[i]) for i in bad[:3]]

    # 1b. strings over _PACK_MAXLEN among short ones: the length-sorted
    # chunks of xxh64_arrow_strings, against Spark
    long_strs = [
        "".join(chr(rng.randrange(1, 128)) for _ in range(rng.randrange(1000, 6000)))
        for _ in range(60)
    ] + [s.decode("latin-1") for s in rand_strs]
    got = [int(x) for x in xxh64_arrow_strings(pa.array(long_strs)).view(np.int64)]
    want = spark_xxh64(spark, long_strs)
    bad = [i for i, (g, w) in enumerate(zip(got, want)) if g != w]
    print(f"long strings (arrow path): {len(long_strs)} checked, {len(bad)} mismatches")
    assert not bad, [(len(long_strs[i]), got[i], want[i]) for i in bad[:3]]

    # 2. every distinct corpus token + every full text
    toks = [
        r.t
        for r in docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
        ).distinct().collect()
    ]
    texts = [r.text for r in docs.select(F.lower("text").alias("text")).limit(2000).collect()]
    for name, strs in [("corpus tokens", toks), ("full texts", texts)]:
        bs = [s.encode("utf-8") for s in strs]
        got = np_xxh64_bytes(bs)
        want = spark_xxh64(spark, strs)
        bad = [i for i in range(len(strs)) if got[i] != want[i]]
        print(f"{name}: {len(strs)} checked, {len(bad)} mismatches")
        assert not bad, [(strs[i], got[i], want[i]) for i in bad[:3]]

    # 3. xxh64_arrow_strings agrees with the bytes path
    arr = pa.array(toks, type=pa.string())
    ga = xxh64_arrow_strings(arr).view(np.int64)
    gb = np_xxh64_bytes([s.encode() for s in toks])
    assert list(ga) == gb, "arrow-buffer path mismatch"
    print("arrow-buffer path: ok")

    # 4. tokenization parity over the whole corpus: JVM split(lower, \s+)
    # vs Arrow utf8_lower + split_pattern_regex
    jvm = docs.select("doc_id", F.split(F.lower("text"), r"\s+").alias("toks")).collect()
    tbl = pa.Table.from_pydict({"text": [r.text for r in docs.select("text").collect()]})
    low = pc.utf8_lower(tbl.column("text").combine_chunks())
    atoks = pc.split_pattern_regex(low, "[ \t\n\x0b\f\r]+")
    jvm_toks = [list(r.toks) for r in jvm]
    arrow_toks = atoks.to_pylist()
    assert len(jvm_toks) == len(arrow_toks)
    bad = [i for i in range(len(jvm_toks)) if jvm_toks[i] != arrow_toks[i]]
    print(f"tokenization: {len(jvm_toks)} docs, {len(bad)} mismatches")
    assert not bad, (jvm_toks[bad[0]], arrow_toks[bad[0]]) if bad else None

    # 5. edge-string tokenization semantics (leading/trailing/multiple ws)
    edges = [" a b", "a b ", "  a", "a  b", "a\tb", "a\nb", "", " ", "ab"]
    edf = spark.createDataFrame([(s,) for s in edges], "text string")
    jvm_e = [list(r.t) for r in edf.select(F.split(F.lower("text"), r"\s+").alias("t")).collect()]
    arrow_e = pc.split_pattern_regex(
        pc.utf8_lower(pa.array(edges)), "[ \t\n\x0b\f\r]+"
    ).to_pylist()
    for s, j, a in zip(edges, jvm_e, arrow_e):
        mark = "OK " if j == a else "DIFF"
        print(f"  {mark} {s!r}: jvm={j} arrow={a}")

    spark.stop()
    print("VALIDATION PASSED")


if __name__ == "__main__":
    main()
