"""Seeded inputs for the statement benchmark.

Two kinds of input, both written as parquet with pyarrow:

* ``make_tables(out_dir, sf)`` — the TPC-H-shaped tables the headline
  statements read (region, nation, customer, supplier, part, orders,
  lineitem, events, documents), with the column names, types and value
  domains of the engine's test data, plus TPC-H's free-text comment
  columns on orders and lineitem. Row counts scale linearly with ``sf``
  (sf0.1: 600k lineitem rows, ~28 MB). The tables come from the
  fixed ``DATA_SEED`` so a scale is generated once per checkout; what a
  workload seed varies is the statement stream and the dedup corpus.
* ``make_corpus(path, n_docs, seed)`` — the near-duplicate document
  corpus of the ``dedup_docs`` workload, drawn from the workload seed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_SEED = 20240917

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "green", "hot", "large", "red", "small", "steel", "tiny"]
NOUNS = ["bolt", "gear", "nut", "ring", "screw", "spring", "valve", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line order part query row scan slow small sort spark stream table the "
    "value vector window merge"
).split()

# table name -> base row count at sf=1
ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(choices)).cast(pa.string())


def _fmt(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{k:09d}" for k in keys.tolist()], pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _comments(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    """TPC-H-style free-text comments: lo..hi-1 words each from a 4,000-word
    vocabulary, joined in Arrow (these columns are most of a table's bytes
    but no statement reads them)."""
    vocab = pa.array([_word(i) for i in range(CORPUS_VOCAB)])
    lens = rng.integers(lo, hi, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    words = vocab.take(pa.array(rng.integers(0, CORPUS_VOCAB, int(offsets[-1]))))
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int, vocab: list[str]) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = rng.integers(0, len(vocab), int(lens.sum()))
    out, pos = [], 0
    for ln in lens.tolist():
        out.append(" ".join(vocab[w] for w in words[pos:pos + ln].tolist()))
        pos += ln
    return out


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = {t: max(1, int(round(c * sf))) for t, c in ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    ck = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _fmt("Customer#", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": _pick(rng, SEGMENTS, len(ck)),
    })
    sk = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _fmt("Supplier#", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(sk)),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    price = np.round(900.0 + (pk % 1200) / 10.0, 2)
    names = [f"{COLORS[c]} {NOUNS[w]}" for c, w in zip(
        rng.integers(0, len(COLORS), len(pk)).tolist(),
        rng.integers(0, len(NOUNS), len(pk)).tolist())]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(pk)).tolist()]),
        "p_type": _pick(rng, PART_TYPES, len(pk)),
        "p_size": pa.array(rng.integers(1, 51, len(pk)).astype(np.int32)),
        "p_retailprice": price,
    })
    # TPC-H convention: customers whose key is a multiple of 3 never order,
    # so anti/left joins have both matched and unmatched sides
    ok = np.arange(n["orders"], dtype=np.int64)
    buyers = ck[ck % 3 != 0]
    odate = _EPOCH_1995 + rng.integers(0, 2404, len(ok)) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": buyers[rng.integers(0, len(buyers), len(ok))],
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(ok)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(ok)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, PRIORITIES, len(ok)),
        "o_comment": _comments(rng, len(ok), 3, 10),
    })
    lines = rng.integers(1, 8, len(ok))
    lk = np.repeat(ok, lines)
    nl = len(lk)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lpart = rng.integers(0, len(pk), nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": lpart,
        "l_suppkey": rng.integers(0, len(sk), nl),
        "l_linenumber": pa.array((np.arange(nl) - starts + 1).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, nl) * _DAY_US),
        "l_comment": _comments(rng, nl, 2, 7),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": _money(rng, 0.0, 560.0, ne),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne).tolist()]),
    })
    nd = n["documents"]
    text = _texts(rng, nd, 20, 80, VOCAB)
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": pa.array(text),
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    })
    return t


def make_tables(out_dir: str, sf: float) -> str:
    """Write every table of scale ``sf`` under ``out_dir`` (once).

    Big tables are split into one file per ~1M rows so scans parallelise;
    the directory appears atomically, so an interrupted run regenerates."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf).items():
        if table.num_rows <= 1_000_000:
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
            continue
        d = os.path.join(tmp, f"{name}.parquet")
        os.makedirs(d)
        for i, off in enumerate(range(0, table.num_rows, 1_000_000)):
            pq.write_table(table.slice(off, 1_000_000), os.path.join(d, f"part-{i:05d}.parquet"))
    os.replace(tmp, out_dir)
    return out_dir


def table_bytes(data_dir: str) -> dict[str, int]:
    out = {}
    for name in TABLES:
        p = os.path.join(data_dir, f"{name}.parquet")
        if os.path.isdir(p):
            out[name] = sum(os.path.getsize(os.path.join(p, f)) for f in os.listdir(p))
        else:
            out[name] = os.path.getsize(p)
    return out


# --- dedup corpus -------------------------------------------------------

CORPUS_VOCAB = 4000
NEAR_DUP_SHARE = 0.10
LONG_TOKEN_SHARE = 0.005
LONG_TOKEN_CHARS = (1100, 1600)


def _word(i: int) -> str:
    # pronounceable synthetic words, 3-9 letters, distinct per index
    cons, vow = "bcdfghjklmnprstvz", "aeiou"
    s, x = [], i + 17
    while True:
        s.append(cons[x % len(cons)] + vow[(x // len(cons)) % len(vow)])
        x //= len(cons) * len(vow)
        if x == 0:
            break
    return "".join(s) + ("" if i % 3 else "s")


def make_corpus(path: str, n_docs: int, seed: int) -> None:
    """Write a seeded near-duplicate corpus (once; the file appears
    atomically).

    Documents are ~300 characters of words drawn from a 4,000-word
    vocabulary. NEAR_DUP_SHARE of them copy an earlier document with one
    or two words replaced; LONG_TOKEN_SHARE carry one whitespace-free
    token of 1.1-1.6 KB, which the Arrow hash kernel hashes row by row."""
    if os.path.exists(path):
        return
    rng = np.random.default_rng(seed)
    vocab = [_word(i) for i in range(CORPUS_VOCAB)]
    text = _texts(rng, n_docs, 40, 60, vocab)
    n_dup = int(n_docs * NEAR_DUP_SHARE)
    dup_rows = np.sort(rng.choice(np.arange(1, n_docs), n_dup, replace=False))
    for r in dup_rows.tolist():
        words = text[int(rng.integers(0, r))].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, CORPUS_VOCAB))]
        text[r] = " ".join(words)
    n_long = max(1, int(n_docs * LONG_TOKEN_SHARE))
    long_rows = rng.choice(n_docs, n_long, replace=False)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", np.uint8)
    for r in long_rows.tolist():
        blob = alphabet[rng.integers(0, len(alphabet), int(rng.integers(*LONG_TOKEN_CHARS)))]
        text[r] = text[r] + " " + blob.tobytes().decode()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(text),
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
    }), path + ".tmp")
    os.replace(path + ".tmp", path)
