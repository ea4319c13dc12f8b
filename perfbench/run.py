"""Statement benchmark: PSQL text to delivered result, split by layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 25 --trace 0

One process, one closed-loop client on ``local[nproc]``: the client sends
a statement, waits for its result and sends the next. Every result is
checked after the timed loop.

Workloads (inputs generated under ``.perfbench/`` from the seed):
  adhoc       sf0.1 (~28 MB; lineitem 18 MB, under the 64 MB statement
              band): seeded piped statements from the headline templates,
              nearly every text new; one in eight is a write, each followed
              by a read-back.
  dedup_docs  a seeded near-duplicate corpus through minhash_dup_pairs,
              simhash_dup_pairs (both unique_ids=True) and a
              quality_score pipeline.

``--trace 0`` reports the end-to-end metrics with no probes installed.
``--trace 1`` runs the same statements with every one probed and reports
the per-layer metrics. Its tracing overhead is its median statement
latency minus that of the last untraced run of the same workload,
--seconds and --scale, which it runs first (with its own seed) if no
such run has left its latencies. Its spans and each layer's self time
go to ``.perfbench/trace-*.json``.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics. The line before it records the inputs' properties and the
host. The exit code is 0 whenever that line is printed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
NPROC = os.cpu_count() or 4

WORKLOADS = ("adhoc", "dedup_docs")
CORPUS_DOCS = 10_000
WARM_DOCS = 1_000
# --seconds becomes a fixed round count, seconds / ROUND_S (at least 1),
# so every run of a workload sends the same statement mix. ROUND_S is
# about one round's client time on a 4-core host; at --seconds 25 that
# is 3 adhoc rounds (51 statements) and 4 dedup_docs rounds (12).
ROUND_S = {"adhoc": 8.0, "dedup_docs": 6.0}
ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch default
KERNEL_DOCS = 10_000  # documents per direct kernel call timing


def _env() -> None:
    """Keep every file the run writes inside the checkout, and give the
    Python workers the package (they start from the JVM's environment)."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(WORK, 'warehouse')}")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident pages) for every process."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
            out[int(p)] = (int(st[1]), int(st[21]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(procs: dict[int, tuple[int, int]]) -> dict[int, int]:
    """pid -> depth below this process, for its descendants."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [(pid, 1) for pid in kids.get(os.getpid(), [])]
    while todo:
        pid, depth = todo.pop()
        out[pid] = depth
        todo.extend((k, depth + 1) for k in kids.get(pid, []))
    return out


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait for processes this run started (the JVM's Python workers are
    re-parented when the JVM exits); kill any still alive at the end."""
    deadline = time.monotonic() + timeout
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class RssPeak:
    """Peak of the summed RSS of this process and its descendants (the
    JVM and its Python workers), sampled every 200 ms until the timed loop
    ends. It is recorded, not bounded: G1 sizes the JVM heap by GC
    timing, so the peak varies from run to run more than timings do."""

    def __init__(self):
        self.peak = 0
        self.parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def sample(self) -> None:
        procs = _proc_table()
        page = os.sysconf("SC_PAGE_SIZE") / 2**20
        driver = procs[os.getpid()][1] * page
        jvm = workers = 0.0
        for pid, depth in descendants(procs).items():
            if depth == 1:
                jvm += procs[pid][1] * page
            else:
                workers += procs[pid][1] * page
        if driver + jvm + workers > self.peak:
            self.peak = driver + jvm + workers
            self.parts = {"driver": round(driver), "jvm": round(jvm), "workers": round(workers)}

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self.sample()
        return self.peak


# --- inputs ----------------------------------------------------------------

class Inputs:
    """Paths, DuckDB views and properties of one workload's inputs."""

    def __init__(self, workload: str, seed: int, scale: float):
        import gen

        data = os.path.join(WORK, "data")
        self.write_dir = os.path.join(WORK, f"writes-{os.getpid()}")
        self.props: dict = {"seed": seed}
        if workload == "dedup_docs":
            corpus_docs = int(CORPUS_DOCS * scale)
            self.docs = corpus_docs
            self.data_dir = os.path.join(data, f"corpus-{seed}-{corpus_docs}")
            path = os.path.join(self.data_dir, "docs.parquet")
            gen.make_corpus(path, corpus_docs, seed)
            self.corpus = path
            self.warm_corpus = os.path.join(data, f"corpus-warm-{WARM_DOCS}", "docs.parquet")
            gen.make_corpus(self.warm_corpus, WARM_DOCS, 0)
            self.views = {"docs": path}
            self.props["corpus"] = self._corpus_props(path)
            self.props["bytes_per_table"] = {"docs": os.path.getsize(path)}
        else:
            sf = 0.1 * scale
            self.data_dir = gen.make_tables(os.path.join(data, f"sf{sf:g}"), sf)
            self.views = {t: os.path.join(self.data_dir, f"{t}.parquet") for t in gen.TABLES}
            self.props["sf"] = sf
            self.props["bytes_per_table"] = gen.table_bytes(self.data_dir)
            os.makedirs(self.write_dir, exist_ok=True)

    @staticmethod
    def _corpus_props(path: str) -> dict:
        import gen
        import pyarrow.parquet as pq

        text = pq.read_table(path, columns=["text"]).column("text").to_pylist()
        n = len(text)
        long_docs = sum(1 for t in text if any(len(w) > 1024 for w in t.split(" ")))
        return {"docs": n, "near_dup_share": gen.NEAR_DUP_SHARE,
                "long_token_share": long_docs / n,
                "avg_chars": round(sum(map(len, text)) / n, 1)}


# --- set-up ------------------------------------------------------------------

class Session:
    def __init__(self, spark, psql):
        self.spark, self.psql = spark, psql


def set_up(workload: str, inp: Inputs) -> Session:
    """SparkSession, PsqlSession (UDF registration), dataset profile and
    key declarations."""
    from duckdb_psql_spark import PsqlSession
    from duckdb_psql_spark.session import default_spark, tune_for_input

    import workloads

    spark = default_spark(app_name=f"perfbench-{workload}", cpus=NPROC)
    psql = PsqlSession(spark)
    tune_for_input(spark, inp.data_dir)
    if workload == "dedup_docs":
        psql.sql(f"declare primary key on '{inp.corpus}' (doc_id)")
    else:
        for d in workloads.declarations(inp.data_dir):
            psql.sql(d)
    return Session(spark, psql)


def warmup(workload: str, inp: Inputs) -> list:
    """Statements run once after the set-up and before the timed loop."""
    import workloads

    if workload == "adhoc":
        return workloads.adhoc_warmup(inp.data_dir, inp.write_dir)
    return workloads.dedup_warmup(inp.warm_corpus)


def shutdown_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — already closed
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- one statement --------------------------------------------------------

def _compose(s: Session, stmt):
    if stmt.kind == "op":
        from duckdb_psql_spark.operators import dedup as dd

        fn, kw = stmt.op
        docs = s.spark.read.parquet(stmt.meta["source"])
        return getattr(dd, fn)(docs, id_col="doc_id", text_col="text", unique_ids=True, **kw)
    return s.psql.sql(stmt.text)


def _release(stmt, df) -> None:
    if stmt.kind == "op" and df is not None:
        from duckdb_psql_spark.operators.dedup import _release_list, take_pins

        _release_list(take_pins(df))


def execute(s: Session, stmt, tracer=None):
    """Run one statement; returns (latency_s, result table or None, error)."""
    df = result = err = None
    t0 = time.perf_counter()
    try:
        if tracer is None:
            df = _compose(s, stmt)
            if stmt.kind not in ("write", "compose"):
                result = df.toArrow()
        else:
            df, result = _probed(s, stmt, tracer)
    except Exception as e:  # noqa: BLE001 — counted as a failed statement
        err = e
    lat = time.perf_counter() - t0
    _release(stmt, df)
    return lat, result, err


def _probed(s: Session, stmt, tracer):
    """The statement in ``compose``/``write``, ``plan`` and ``exec`` spans,
    with each layer's counters read at the span boundaries."""
    tot = tracer.totals
    if stmt.kind == "write":
        with tracer.phase("write") as wr:
            tracer.compose(lambda: _compose(s, stmt), None)
        tot["write_bytes"] += wr["jobs"]["output_bytes"]
        target = stmt.meta["target"].strip("'")
        if os.path.isdir(target):
            tot["write_files"] += sum(1 for f in os.listdir(target) if f.endswith(".parquet"))
        return None, None
    with tracer.phase("compose") as co:
        df = tracer.compose(lambda: _compose(s, stmt), stmt.text)
    tot["eager_jobs"] += co["jobs"]["jobs"]
    if stmt.kind == "compose":
        return df, None
    with tracer.phase("plan") as pl:
        tracer.plan(df)
    with tracer.phase("exec") as ex:
        result = df.toArrow()
    w = pl["jobs"] + ex["jobs"]
    for k in ("jobs", "stages", "tasks", "input_bytes", "input_rows", "shuffle_bytes",
              "spill_bytes", "cpu_ns", "gc_ms"):
        tot[f"exec_{k}"] += w[k]
    if stmt.kind == "op":
        tot["dedup_pairs"] += result.num_rows
        tot["dedup_exec_s"] += ex["t1"] - ex["t0"]
    return df, result


# --- the client -------------------------------------------------------------

class Checker:
    """Compares results with DuckDB oracles and the JVM dedup reference."""

    def __init__(self, s: Session, inp: Inputs, inject_wrong: int):
        from oracle import Oracle

        self.oracle = Oracle(NPROC, inp.views)
        self.s, self.inp = s, inp
        self.inject_wrong = inject_wrong
        self.ref: dict[str, set] = {}
        self.n = 0

    def reference(self, kind: str) -> set:
        """Pairs of the JVM formulation (unique_ids=False), computed once
        per corpus (that is, per seed) and kept beside it."""
        if kind not in self.ref:
            import pyarrow.parquet as pq
            from duckdb_psql_spark.operators import dedup as dd

            import workloads

            fn, kw = workloads.DEDUP_OPS[kind]
            path = os.path.join(self.inp.data_dir, "ref-{}-{}.parquet".format(
                fn, "-".join(f"{k}{v}" for k, v in sorted(kw.items()))))
            if os.path.exists(path):
                tb = pq.read_table(path)
            else:
                docs = self.s.spark.read.parquet(self.inp.corpus)
                df = getattr(dd, fn)(docs, id_col="doc_id", text_col="text", unique_ids=False, **kw)
                tb = df.toArrow()
                dd._release_list(dd.take_pins(df))
                pq.write_table(tb, path + ".tmp")
                os.replace(path + ".tmp", path)
            self.ref[kind] = set(zip(*[c.to_pylist() for c in tb.columns]))
        return self.ref[kind]

    def verdict(self, stmt, result, err) -> str | None:
        """None if the statement succeeded with a correct result."""
        if err is not None:
            return f"{type(err).__name__}: {str(err).splitlines()[0][:300]}"
        try:
            return self.check(stmt, result)
        except Exception as e:  # noqa: BLE001 — an unreadable result is wrong
            return f"check failed: {type(e).__name__}: {e}"

    def check(self, stmt, result) -> str | None:
        from oracle import same_result

        if stmt.kind in ("write", "compose") or stmt.meta.get("unchecked"):
            return None  # a write is checked by the read-back that follows it
        self.n += 1
        if self.inject_wrong and self.n % self.inject_wrong == 0:
            result = (result.slice(0, result.num_rows - 1) if result.num_rows
                      else result.append_column("injected", [[]]))
        if stmt.kind == "op":
            got = set(zip(*[c.to_pylist() for c in result.columns]))
            want = self.reference(stmt.template)
            return None if got == want else f"{len(got ^ want)} pairs differ from the JVM reference"
        return same_result(result, self.oracle.query(stmt.oracle), stmt.ordered)

    def check_all(self, recs: list[dict], tracer=None) -> None:
        """Give every record its verdict, in the order the statements ran;
        a traced statement's check is a ``check`` span under its ``stmt``."""
        for r in recs:
            stmt, result, err = r.pop("stmt"), r.pop("result"), r.pop("error")
            if tracer is None:
                wrong = self.verdict(stmt, result, err)
            else:
                tracer.stmt_id = r["id"]
                with tracer.span("check", parent="stmt"):
                    wrong = self.verdict(stmt, result, err)
            if wrong:
                print(f"perfbench: {stmt.template}: {wrong}", file=sys.stderr)
            r["ok"] = not wrong
        self.oracle.close()


def stream_for(workload: str, seed: int, inp: Inputs):
    import workloads

    if workload == "adhoc":
        return workloads.adhoc(seed, inp.data_dir, inp.write_dir)
    return workloads.dedup(seed, inp.corpus)


def client(s: Session, rounds: list[list], tracer=None, first_id: int = 0) -> list[dict]:
    """Closed loop over the rounds in order: send a statement, wait for
    its result, send the next. Results are kept for checking after the
    loop. With a tracer, every statement is probed."""
    out: list[dict] = []
    for i, stmts in enumerate(rounds):
        for stmt in stmts:
            sid = first_id + len(out)
            if tracer is None:
                lat, result, err = execute(s, stmt)
            else:
                tracer.stmt_id = sid
                with tracer.span("stmt", template=stmt.template):
                    lat, result, err = execute(s, stmt, tracer)
            out.append({"id": sid, "template": stmt.template, "kind": stmt.kind,
                        "latency_s": lat, "round": i,
                        "text": stmt.text or stmt.template,
                        "stmt": stmt, "result": result, "error": err})
    return out


# --- metrics ---------------------------------------------------------------

def _quantile(xs: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: the mean of all order
    statistics, weighted by how likely each is to be the quantile (a
    Beta((n+1)q, (n+1)(1-q)) density over its slot of [0, 1]). Statement
    latencies fall into clusters by template, 2x apart, and a single
    order statistic among a few dozen jumps between them from run to
    run; this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    per = 100  # integration points per order statistic
    logs = [(a - 1) * math.log(t) + (b - 1) * math.log1p(-t)
            for t in ((k + 0.5) / (per * n) for k in range(per * n))]
    top = max(logs)
    dens = [math.exp(v - top) for v in logs]
    return sum(x * sum(dens[i * per:(i + 1) * per]) for i, x in enumerate(xs)) / sum(dens)


def round_times(recs: list[dict]) -> list[float]:
    """Client busy time of each round."""
    rounds: dict[int, float] = {}
    for r in recs:
        rounds[r["round"]] = rounds.get(r["round"], 0.0) + r["latency_s"]
    return list(rounds.values())


def end_to_end(recs: list[dict], setup_s: float) -> dict:
    """Latency quantiles over all statements. The rate is the median of
    the per-round rates, so one slow round (a GC pause, a noisy
    neighbour) does not move it; every round holds the same mix."""
    lats = [r["latency_s"] for r in recs]
    times = round_times(recs)
    per_round = len(recs) / len(times)
    return {
        "setup_s": (setup_s, "s"),
        "stmts_per_s": (statistics.median(per_round / t for t in times), "1/s"),
        "stmt_p50_s": (_quantile(lats, 0.5), "s"),
        "stmt_p90_s": (_quantile(lats, 0.9), "s"),
    }


def arrow_kernels(path: str) -> tuple[float, float]:
    """Docs/s of the Arrow MinHash and SimHash kernels called directly on
    the text as Arrow batches, lowercased first as the JVM does."""
    import random

    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from duckdb_psql_spark.operators import arrowhash

    text = pq.read_table(path, columns=["text"]).column("text").combine_chunks()
    text = pc.utf8_lower(text.slice(0, KERNEL_DOCS))
    batches = [text.slice(i, ARROW_BATCH) for i in range(0, len(text), ARROW_BATCH)]
    rng = random.Random(42)
    prime = (1 << 61) - 1
    perms = [(rng.randrange(1, prime), rng.randrange(0, prime)) for _ in range(64)]
    a = np.array([x for x, _ in perms], dtype=np.int64)
    b = np.array([y for _, y in perms], dtype=np.int64)
    rates = []
    for fn in (lambda t: arrowhash.minhash_sig_batch(t, 64, 3, a, b), arrowhash.simhash_sig_batch):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            for bt in batches:
                fn(bt)
            times.append(time.perf_counter() - t0)
        rates.append(len(text) / statistics.median(times))
    return rates[0], rates[1]


def per_layer(recs: list[dict], untraced: list[float], tracer, inp: Inputs,
              workload: str) -> dict:
    tot = tracer.totals
    spans = tracer.spans

    def span_s(name):
        return sum(sp["t1"] - sp["t0"] for sp in spans if sp["name"] == name)

    kernel_src = inp.corpus if workload == "dedup_docs" else inp.views["documents"]
    if os.path.isdir(kernel_src):
        kernel_src = os.path.join(kernel_src, sorted(os.listdir(kernel_src))[0])
    mh, sh = arrow_kernels(kernel_src)
    return {
        "lexer.s": (span_s("lexer"), "s"),
        "lexer.tokens": (tracer.lexer.tokens, "count"),
        "compiler.compose_s": (span_s("compose"), "s"),
        "compiler.py4j_calls": (tot["py4j_calls"], "count"),
        "compiler.eager_jobs": (tot["eager_jobs"], "count"),
        "compiler.cache_hits": (tot["cache_hits"], "count"),
        "compiler.composes": (tot["composes"], "count"),
        "catalyst.analysis_ms": (tot["analysis_ms"], "ms"),
        "catalyst.optimization_ms": (tot["optimization_ms"], "ms"),
        "catalyst.planning_ms": (tot["planning_ms"], "ms"),
        "catalyst.exchanges": (tot["exchanges"], "count"),
        "exec.s": (span_s("exec"), "s"),
        "exec.jobs": (tot["exec_jobs"], "count"),
        "exec.stages": (tot["exec_stages"], "count"),
        "exec.tasks": (tot["exec_tasks"], "count"),
        "exec.input_bytes": (tot["exec_input_bytes"], "bytes"),
        "exec.input_rows": (tot["exec_input_rows"], "count"),
        "exec.shuffle_bytes": (tot["exec_shuffle_bytes"], "bytes"),
        "exec.spill_bytes": (tot["exec_spill_bytes"], "bytes"),
        "exec.cpu_s": (tot["exec_cpu_ns"] / 1e9, "s"),
        "exec.gc_s": (tot["exec_gc_ms"] / 1e3, "s"),
        "write.s": (span_s("write"), "s"),
        "write.bytes": (tot["write_bytes"], "bytes"),
        "write.files": (tot["write_files"], "count"),
        "arrowhash.minhash_docs_per_s": (mh, "1/s"),
        "arrowhash.simhash_docs_per_s": (sh, "1/s"),
        "dedup.pairs": (tot["dedup_pairs"], "count"),
        "dedup.exec_s": (tot["dedup_exec_s"], "s"),
        "trace.overhead_s": (
            _quantile([r["latency_s"] for r in recs], 0.5)
            - _quantile(untraced["latencies_s"], 0.5), "s"),
    }


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (user … steal), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host(spark) -> dict:
    def read(p):
        try:
            with open(p) as f:
                return f.read().strip()
        except OSError:
            return None

    import pyspark

    load = read("/proc/loadavg")
    return {"nproc": NPROC, "boot_id": read("/proc/sys/kernel/random/boot_id"),
            "loadavg_1m": float(load.split()[0]) if load else None,
            "spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.runtime.version"),
            "python": platform.python_version()}


def untraced_latencies(args) -> dict:
    """Seed and statement latencies of the last untraced run of this
    workload with these --seconds and --scale, read from the file that run
    leaves; if there is none, the untraced run with this seed is run first."""
    path = latencies_file(args)
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
               "--scale", str(args.scale)]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True, timeout=600)
    with open(path) as f:
        return json.load(f)


def latencies_file(args) -> str:
    return os.path.join(WORK, f"untraced-{args.workload}-{args.seconds:g}-{args.scale:g}.json")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="fixes the round count: seconds over the workload's round time, at least 1")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the workload's own (tests use 0.1)")
    ap.add_argument("--inject-wrong", type=int, default=0,
                    help="self-test: corrupt every Nth checked result")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "duckdb_psql_spark")):
        print(f"perfbench: no duckdb_psql_spark package under {ROOT}", file=sys.stderr)
        return 2
    _env()
    marks = [("start", T_START)]  # wall-clock phases of the run, for the record
    if args.trace:
        untraced = untraced_latencies(args)
        marks.append(("untraced_run", time.perf_counter()))
    rss = RssPeak()
    s = None
    try:
        inp = Inputs(args.workload, args.seed, args.scale)
        marks.append(("inputs", time.perf_counter()))
        s = set_up(args.workload, inp)
        marks.append(("setup", time.perf_counter()))
        n_rounds = max(1, round(args.seconds / ROUND_S[args.workload]))
        stream = stream_for(args.workload, args.seed, inp)
        rounds = [next(stream) for _ in range(n_rounds)]
        warm_stmts = warmup(args.workload, inp)
        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(s.spark)
        warm = client(s, [warm_stmts], tracer)
        marks.append(("warmup", time.perf_counter()))
        ticks = cpu_ticks()
        recs = client(s, rounds, tracer, first_id=len(warm))
        marks.append(("client", time.perf_counter()))
        ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
        rss_mb = rss.stop()
        checker = Checker(s, inp, args.inject_wrong)
        if args.workload == "dedup_docs":
            # both references side by side: neither job keeps every core busy
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(2) as pool:
                list(pool.map(checker.reference, ("minhash_pairs", "simhash_pairs")))
        checker.check_all(warm + recs, tracer)
        marks.append(("check", time.perf_counter()))
        phase_s = {b: tb - ta for (_, ta), (b, tb) in zip(marks, marks[1:])}
        # process start to the first timed statement, less the benchmark's
        # own input generation (and the untraced run a traced run starts)
        setup_s = phase_s["setup"] + phase_s["warmup"]
        failed = sum(1 for r in recs + warm if not r["ok"])
        attempted = len(recs) + len(warm)
        record = {"workload": args.workload, "inputs": inp.props, "host": host(s.spark),
                  "statements": len(recs), "warmup_statements": len(warm),
                  "fail_rate": failed / attempted,
                  "peak_rss_mb": rss_mb, "peak_rss_parts_mb": rss.parts,
                  "phase_s": {k: round(v, 3) for k, v in phase_s.items()},
                  # CPU time the hypervisor gave other guests while the
                  # client ran: it slows every statement of the run alike
                  "client_cpu_steal_share": ticks[7] / max(sum(ticks), 1),
                  "write_share": sum(r["kind"] == "write" for r in recs) / len(recs),
                  "repeated_text_share": 1 - len({r["text"] for r in recs}) / len(recs),
                  "templates": sorted({r["template"] for r in recs})}
        if args.workload == "dedup_docs":
            # a round is one pass of the whole pipeline over the corpus
            record["docs_per_s"] = inp.docs / statistics.median(round_times(recs))
        if args.trace:
            metrics = per_layer(recs, untraced, tracer, inp, args.workload)
            path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(path, {"workload": args.workload, "seed": args.seed})
            record["trace_file"] = os.path.relpath(path, ROOT)
            record["self_s"] = tracer.self_times()
            record["overhead_against_seed"] = untraced["seed"]
        else:
            metrics = end_to_end(recs, setup_s)
            with open(latencies_file(args), "w") as f:
                json.dump({"seed": args.seed, "latencies_s": [r["latency_s"] for r in recs]}, f)
        print(json.dumps(record))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        started = descendants(_proc_table())
        if s is not None:
            s.spark.stop()
        shutdown_jvm()
        wait_gone(started)
        shutil.rmtree(os.path.join(WORK, f"writes-{os.getpid()}"), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
