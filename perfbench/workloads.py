"""The benchmark's two statement streams, each drawn from a seed.

A stream is an endless iterator of rounds, each a list of ``Stmt`` with
the same mix of statement kinds; the client takes a fixed number of
whole rounds. Every statement carries what its
result is checked against: DuckDB running a paired oracle query over the
same parquet files with the same literals (reads and write read-backs),
or the JVM formulation of the same operator (dedup pairs).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import date, timedelta

from gen import PRIORITIES, REGIONS, SEGMENTS

# TPC-H primary and foreign keys, declared at set-up as a deployment
# declares them at ingest (the compiler's key-based passes consume them)
PRIMARY_KEYS = [("region", "r_regionkey"), ("nation", "n_nationkey"),
                ("customer", "c_custkey"), ("supplier", "s_suppkey"),
                ("part", "p_partkey"), ("orders", "o_orderkey")]
FOREIGN_KEYS = [("lineitem", "l_orderkey", "orders", "o_orderkey"),
                ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
                ("lineitem", "l_partkey", "part", "p_partkey"),
                ("orders", "o_custkey", "customer", "c_custkey"),
                ("customer", "c_nationkey", "nation", "n_nationkey"),
                ("supplier", "s_nationkey", "nation", "n_nationkey"),
                ("nation", "n_regionkey", "region", "r_regionkey")]


@dataclass
class Stmt:
    """One statement of a stream.

    kind: ``read`` (PSQL text, result fetched), ``write`` (PSQL DDL/DML,
    no result; the next statement reads back what it wrote), ``compose``
    (PSQL text composed into a DataFrame that is not run) or ``op`` (an
    operator-API call returning a DataFrame)."""

    template: str
    kind: str
    text: str | None = None
    op: tuple | None = None
    oracle: str | None = None
    ordered: bool = False
    meta: dict = field(default_factory=dict)


def declarations(data_dir: str) -> list[str]:
    out = [f"declare primary key on '{data_dir}/{t}.parquet' ({k})" for t, k in PRIMARY_KEYS]
    out += [f"declare foreign key on '{data_dir}/{t}.parquet' ({c}) "
            f"references '{data_dir}/{rt}.parquet' ({rk})" for t, c, rt, rk in FOREIGN_KEYS]
    return out


def _d(rng: random.Random, lo: str, hi: str) -> str:
    a, b = date.fromisoformat(lo), date.fromisoformat(hi)
    return (a + timedelta(days=rng.randrange((b - a).days))).isoformat()


def _money(rng: random.Random, lo: int, hi: int) -> str:
    return f"{rng.randrange(lo * 100, hi * 100) / 100:.2f}"


_REV = "sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint))"
_REV_O = "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT)"


def _adhoc_read(rng: random.Random, name: str) -> tuple[str, str]:
    """(psql, oracle) for one seeded instance of a template.

    Literal ranges are narrow enough that every instance of a template
    does about the same work, and wide enough that texts rarely repeat."""
    if name == "agg_pricing":
        d = _d(rng, "1998-01-01", "1999-01-01")
        return (f"""from '$SF/lineitem.parquet' |> where l_shipdate <= date '{d}' |>
select l_returnflag, l_linestatus, cast(round(sum(l_quantity), 0) as bigint) as sum_qty,
  {_REV} as revenue, count() as n group by l_returnflag, l_linestatus |>
order by l_returnflag, l_linestatus""",
                f"""SELECT l_returnflag, l_linestatus, CAST(round(sum(l_quantity), 0) AS BIGINT) AS sum_qty,
  {_REV_O} AS revenue, count(*) AS n FROM lineitem WHERE l_shipdate <= DATE '{d}'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")
    if name == "join_priority":
        seg, d = rng.choice(SEGMENTS), _d(rng, "1997-06-01", "1998-06-01")
        return (f"""from '$SF/customer.parquet' |> where c_mktsegment = '{seg}' |>
as c join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey |> where o_orderdate < date '{d}' |>
as co join '$SF/lineitem.parquet' as l on co.o_orderkey = l.l_orderkey |> where l_shipdate > date '{d}' |>
select l_orderkey, {_REV} as revenue, o_orderdate, o_orderpriority
  group by l_orderkey, o_orderdate, o_orderpriority |>
order by revenue desc, l_orderkey |> limit 10""",
                f"""SELECT l_orderkey, {_REV_O} AS revenue, o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{d}' AND l_shipdate > DATE '{d}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority ORDER BY revenue DESC, l_orderkey LIMIT 10""")
    if name == "join_nation_volume":
        r, y = rng.choice(REGIONS), rng.randrange(1996, 2000)
        return (f"""from '$SF/region.parquet' |> where r_name = '{r}' |>
as r join '$SF/nation.parquet' as n on r.r_regionkey = n.n_regionkey |>
as rn join '$SF/supplier.parquet' as s on rn.n_nationkey = s.s_nationkey |>
as rns join '$SF/lineitem.parquet' as l on rns.s_suppkey = l.l_suppkey |>
as rnsl join '$SF/orders.parquet' as o on rnsl.l_orderkey = o.o_orderkey |>
where o_orderdate >= date '{y}-01-01' and o_orderdate < date '{y + 1}-01-01' |>
select n_name, {_REV} as revenue, count() as n_items group by n_name |>
order by revenue desc, n_name""",
                f"""SELECT n_name, {_REV_O} AS revenue, count(*) AS n_items
FROM region JOIN nation ON r_regionkey = n_regionkey JOIN supplier ON n_nationkey = s_nationkey
JOIN lineitem ON s_suppkey = l_suppkey JOIN orders ON l_orderkey = o_orderkey
WHERE r_name = '{r}' AND o_orderdate >= DATE '{y}-01-01' AND o_orderdate < DATE '{y + 1}-01-01'
GROUP BY n_name ORDER BY revenue DESC, n_name""")
    if name == "filter_forecast":
        d = _d(rng, "1996-01-01", "1999-12-31")
        e = (date.fromisoformat(d) + timedelta(days=365)).isoformat()
        disc, q = rng.randrange(2, 9) / 100, rng.randrange(10, 40)
        lo, hi = f"{disc - 0.01:.2f}", f"{disc + 0.01:.2f}"
        return (f"""from '$SF/lineitem.parquet' |> where l_shipdate >= date '{d}' |>
where l_shipdate < date '{e}' |> where l_discount between {lo} and {hi} |> where l_quantity < {q} |>
select sum(cast(round(l_extendedprice * l_discount * 10000, 0) as bigint)) as revenue, count() as n_rows""",
                f"""SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue,
  count(*) AS n_rows FROM lineitem WHERE l_shipdate >= DATE '{d}' AND l_shipdate < DATE '{e}'
  AND l_discount BETWEEN {lo} AND {hi} AND l_quantity < {q}""")
    if name == "window_rank":
        p, k, c = _money(rng, 100000, 150000), rng.randrange(2, 4), rng.randrange(900, 1100)
        return (f"""from '$SF/orders.parquet' |> where o_totalprice > {p} |>
select o_custkey, o_orderkey, round(o_totalprice, 2) as price,
  row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey) as rk |>
where rk <= {k} and o_custkey < {c} |> order by o_custkey, rk""",
                f"""SELECT o_custkey, o_orderkey, price, rk FROM (
  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders WHERE o_totalprice > {p})
WHERE rk <= {k} AND o_custkey < {c} ORDER BY o_custkey, rk""")
    if name == "semi_join":
        x, d = _money(rng, 2000, 6000), _d(rng, "1997-01-01", "1999-01-01")
        return (f"""from '$SF/customer.parquet' |> where c_acctbal > {x} |>
as c semi join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey and o.o_orderdate >= date '{d}' |>
select c_nationkey, count() as n, sum(c_custkey) as keys group by c_nationkey |> order by c_nationkey""",
                f"""SELECT c_nationkey, count(*) AS n, sum(c_custkey) AS keys FROM customer c
WHERE c_acctbal > {x} AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
  AND o.o_orderdate >= DATE '{d}') GROUP BY c_nationkey ORDER BY c_nationkey""")
    if name == "anti_join":
        seg, prio = rng.choice(SEGMENTS), rng.choice(PRIORITIES)
        d = _d(rng, "1997-01-01", "1999-01-01")
        return (f"""from '$SF/customer.parquet' |> where c_mktsegment = '{seg}' |>
as c anti join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey
  and o.o_orderpriority = '{prio}' and o.o_orderdate >= date '{d}' |>
select count() as n, sum(c_custkey) as keys, round(sum(c_acctbal), 2) as bal""",
                f"""SELECT count(*) AS n, sum(c_custkey) AS keys, round(sum(c_acctbal), 2) AS bal
FROM customer c WHERE c_mktsegment = '{seg}' AND NOT EXISTS (SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '{prio}' AND o.o_orderdate >= DATE '{d}')""")
    if name == "asof_join":
        u = rng.randrange(90, 110)
        return (f"""with v as (| from '$SF/events.parquet' |> where event_type = 'view' and user_id < {u} |>
  select user_id, event_id, ts, value |),
  p as (| from '$SF/events.parquet' |> where event_type = 'purchase' |> select user_id, ts, value |)
from v |> as v asof join p as p on v.user_id = p.user_id and v.ts >= p.ts |>
select event_id, user_id, value, round(value_r, 3) as last_purchase_value |> order by event_id""",
                f"""SELECT v.event_id, v.user_id, v.value, round(p.value, 3) AS last_purchase_value
FROM (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'view' AND user_id < {u}) v
ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id AND v.ts >= p.ts ORDER BY v.event_id""")
    if name == "union":
        x, seg = _money(rng, 7000, 8000), rng.choice(SEGMENTS)
        return (f"""with hi as (| from '$SF/customer.parquet' |> where c_acctbal > {x} |> select c_custkey |),
  seg as (| from '$SF/customer.parquet' |> where c_mktsegment = '{seg}' |> select c_custkey |)
from hi union from seg""",
                f"""SELECT c_custkey FROM customer WHERE c_acctbal > {x}
UNION SELECT c_custkey FROM customer WHERE c_mktsegment = '{seg}'""")
    if name == "left_join_spend":
        n, p = rng.randrange(25), _money(rng, 200000, 300000)
        return (f"""from '$SF/customer.parquet' |> where c_nationkey = {n} |>
as c left join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey and o.o_totalprice > {p} |>
select c_custkey, count(o_orderkey) as n_orders, round(coalesce(sum(o_totalprice), 0), 2) as spend
  group by c_custkey |> order by c_custkey""",
                f"""SELECT c_custkey, count(o_orderkey) AS n_orders, round(coalesce(sum(o_totalprice), 0), 2) AS spend
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_totalprice > {p}
WHERE c_nationkey = {n} GROUP BY c_custkey ORDER BY c_custkey""")
    if name == "order_distribution":
        prio, d = rng.choice(PRIORITIES), _d(rng, "1997-06-01", "1999-06-01")
        return (f"""from '$SF/customer.parquet' |>
as c left join '$SF/orders.parquet' as o
  on c.c_custkey = o.o_custkey and o.o_orderpriority <> '{prio}' and o.o_orderdate < date '{d}' |>
select c_custkey, count(o_orderkey) as c_count group by c_custkey |>
select c_count, count() as custdist group by c_count |> order by custdist desc, c_count desc""",
                f"""SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '{prio}' AND o.o_orderdate < DATE '{d}'
  GROUP BY c_custkey) GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")
    if name == "doc_stats":
        m = rng.randrange(18, 23)
        r = rng.randrange(m)
        return (f"""from '$SF/documents.parquet' |> where doc_id % {m} = {r} |>
select doc_id, lang, length(text) as n_chars_actual, array_length(string_split(text, ' ')) as n_words |>
order by doc_id""",
                f"""SELECT doc_id, lang, length(text) AS n_chars_actual, len(string_split(text, ' ')) AS n_words
FROM documents WHERE doc_id % {m} = {r} ORDER BY doc_id""")
    if name == "waiting_supplier":
        n = rng.randrange(25)
        return (f"""from '$SF/supplier.parquet' |> where s_nationkey = {n} |>
as s join '$SF/lineitem.parquet' as l1 on s.s_suppkey = l1.l_suppkey |>
as sl join '$SF/orders.parquet' as o on sl.l_orderkey = o.o_orderkey |>
where o_orderstatus = 'F' and l_shipdate > o_orderdate + interval 30 day |>
select s_name, l_orderkey as ok, l_suppkey as sk, o_orderdate as od |>
where exists (select 1 from '$SF/lineitem.parquet' l2 where l2.l_orderkey = ok and l2.l_suppkey <> sk) |>
where not exists (select 1 from '$SF/lineitem.parquet' l3
                  where l3.l_orderkey = ok and l3.l_suppkey <> sk and l3.l_shipdate > od + interval 30 day) |>
select s_name, count() as numwait group by s_name |> order by numwait desc, s_name |> limit 25""",
                f"""SELECT s_name, count(*) AS numwait FROM (
  SELECT s_name, l_orderkey AS ok, l_suppkey AS sk, o_orderdate AS od
  FROM supplier s JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey JOIN orders o ON l1.l_orderkey = o.o_orderkey
  WHERE s_nationkey = {n} AND o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
WHERE EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = ok AND l2.l_suppkey <> sk)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = ok AND l3.l_suppkey <> sk
                  AND l3.l_shipdate > od + INTERVAL 30 DAY)
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25""")
    raise KeyError(name)


ADHOC_READS = ["agg_pricing", "join_priority", "join_nation_volume", "filter_forecast",
               "window_rank", "semi_join", "anti_join", "asof_join", "union",
               "left_join_spend", "order_distribution", "doc_stats", "waiting_supplier"]


def _write_source(rng: random.Random) -> tuple[str, str]:
    """A seeded (psql, oracle) order slice that a write statement stores."""
    p, d = _money(rng, 300000, 350000), _d(rng, "1998-01-01", "1999-01-01")
    return (f"from '$SF/orders.parquet' |> where o_totalprice > {p} and o_orderdate < date '{d}' |> "
            "select o_orderkey, o_custkey, o_totalprice",
            f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            f"WHERE o_totalprice > {p} AND o_orderdate < DATE '{d}'")


WRITES_PER_ROUND = 2
# writes take these kinds in turn, so runs of the same length hold the
# same write mix whatever the seed (an insert costs three times a create)
WRITE_KINDS = ["create", "copy", "insert"]


def adhoc(seed: int, data_dir: str, write_dir: str):
    """Rounds of seeded ad-hoc statements on sf0.1. A round holds every
    read template once, with fresh literals, plus two writes (create temp
    table … as, copy … to parquet and insert into, in turn) at seeded
    places, each followed by a read-back of what it wrote: 2 writes in 17
    statements."""
    rng = random.Random(seed)
    tables: dict[str, list[str]] = {}  # temp table -> oracle sources it holds
    n = writes = 0
    while True:
        slots = ["read:" + t for t in ADHOC_READS] + ["write"] * WRITES_PER_ROUND
        rng.shuffle(slots)
        out = []
        for slot in slots:
            n += 1
            if slot.startswith("read:"):
                name = slot[5:]
                text, oracle = _adhoc_read(rng, name)
                out.append(Stmt(name, "read", text=text.replace("$SF", data_dir), oracle=oracle,
                                ordered="order by" in text.lower()))
                continue
            src, src_o = _write_source(rng)
            src = src.replace("$SF", data_dir)
            kind = WRITE_KINDS[writes % len(WRITE_KINDS)]
            writes += 1
            if kind == "copy":
                path = f"{write_dir}/copy_{seed}_{n}.parquet"
                text = f"copy ({src}) to '{path}' (format parquet)"
                target, sources = f"'{path}'", [src_o]
            elif kind == "create":
                name = f"bw_{rng.randrange(3)}"
                text = f"create or replace temp table {name} as {src}"
                tables[name] = [src_o]
                target, sources = name, tables[name]
            else:
                name = rng.choice(sorted(tables))
                text = f"insert into {name} {src}"
                tables[name].append(src_o)
                target, sources = name, tables[name]
            out.append(Stmt(f"write_{kind}", "write", text=text, meta={"target": target}))
            expect = " + ".join(f"(SELECT count(*) FROM ({s}))" for s in sources)
            out.append(Stmt(f"readback_{kind}", "read", text=f"from {target} |> select count() as n",
                            oracle=f"SELECT CAST({expect} AS BIGINT) AS n"))
        yield out


def adhoc_warmup(data_dir: str, write_dir: str) -> list[Stmt]:
    """One whole round from a seed no run uses: every template's first
    run (class loading, code generation) and the first JIT tiers happen
    here rather than in the timed rounds."""
    return next(adhoc(-1, data_dir, write_dir))


QUALITY = """from '{corpus}' |> where doc_id % {m} <> {r} |> quality_score |>
select lang, count() as n, sum(quality_score) as quality, sum(n_words) as words
  group by lang |> order by lang"""

QUALITY_ORACLE = """WITH t AS (
  SELECT lang, len(string_split_regex(lower(text), '\\s+')) AS n_words,
         len(list_distinct(string_split_regex(lower(text), '\\s+'))) AS n_uniq,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
  FROM docs WHERE doc_id % {m} <> {r}),
r AS (SELECT lang, n_words, n_uniq / greatest(n_words, 1) AS lexical_diversity,
             alpha / greatest(n_chars, 1) AS alpha_ratio, digits / greatest(n_chars, 1) AS digit_ratio FROM t)
SELECT lang, count(*) AS n,
  sum(0.35 * (CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.2 END)
      + 0.25 * least(lexical_diversity * 2, 1.0) + 0.25 * alpha_ratio
      + 0.15 * (1 - least(digit_ratio * 5, 1.0))) AS quality,
  CAST(sum(n_words) AS BIGINT) AS words
FROM r GROUP BY lang ORDER BY lang"""

DEDUP_OPS = {
    "minhash_pairs": ("minhash_dup_pairs", dict(num_perm=64, bands=16, shingle_k=3, threshold=0.4)),
    "simhash_pairs": ("simhash_dup_pairs", dict(max_hamming=3)),
}


def dedup_warmup(corpus: str) -> list[Stmt]:
    """Each statement kind once over a small warm-up corpus: forks the
    Python workers and loads numpy and pyarrow in them."""
    return [Stmt(k, "op", op=DEDUP_OPS[k], meta={"source": corpus, "unchecked": True})
            for k in DEDUP_OPS] + [
        Stmt("quality", "read", text=QUALITY.format(corpus=corpus, m=7, r=0),
             oracle=QUALITY_ORACLE.format(m=7, r=0).replace("FROM docs", f"FROM '{corpus}'"),
             ordered=True)]


def dedup(seed: int, corpus: str):
    """Rounds of MinHash pairs, SimHash pairs and a quality_score pipeline
    over the whole corpus, in a seeded order; the quality statement's
    seeded filter makes each of its texts new."""
    rng = random.Random(seed)
    kinds = ["minhash_pairs", "simhash_pairs", "quality"]
    while True:
        out = []
        for kind in rng.sample(kinds, len(kinds)):
            if kind == "quality":
                m = rng.randrange(50, 5000)
                r = rng.randrange(m)
                out.append(Stmt("quality", "read", text=QUALITY.format(corpus=corpus, m=m, r=r),
                                oracle=QUALITY_ORACLE.format(m=m, r=r), ordered=True))
            else:
                out.append(Stmt(kind, "op", op=DEDUP_OPS[kind], meta={"source": corpus}))
        yield out
