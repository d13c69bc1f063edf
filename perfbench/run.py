"""End-to-end benchmark of the search engine: build, serve, ingest.

    python3 perfbench/run.py --workload query_repeat --seed 1 \
        --seconds 10 --trace 0

Runs from the root of a source checkout and drives the engine only through
its public calls, in one process on ``local[<cores>]`` with a fixed heap.
Every run of either workload:

1. generates the seeded corpus with ``corpus.generate_corpus``, builds it
   with one fused ``build_index`` (``build_docs_per_s``,
   ``index_bytes_per_input_byte``) and opens a ``SearchEngine`` on it
   several times (``setup_s``, the median open);
2. warms the query path with the 7-query seeded pool, one query per
   class, all sent at once, untimed;
3. sends queries, every one with ``with_meta=True``, in a closed loop
   (``query_p50_ms``):
   - ``query_repeat``: 4 clients share one stream that repeats the pool in
     Zipf proportions; after the warm pass the vocabulary cache always
     hits.  The loop runs for ``--seconds`` (at least one period of the
     stream) and the queries after the last whole period are not timed,
     so every run measures the same class mix;
   - ``ingest_add``: ADD a batch of new documents, open an engine on the
     new generation and warm it with one untimed query, then 1 client for
     ``--seconds`` sends queries of one shape whose terms are all
     first-touch for the engine, so each query pays the planner's terms
     lookup and reads through the ADD generation's refs;
4. checks, outside every timed window, each distinct query's top-k against
   ``oracle.bm25_topk``: (doc_id, float64 score) on the fresh build,
   natural key and score on ingested generations.  A mismatch or an error
   fails the run.

``--trace 1`` makes the same run with Spark's UI on, a job group per span
and the monitoring REST API read at the end; it then also runs ADD, REMOVE
and ``compact`` (after the timed phase, probing each new generation), so
every per-layer metric exists on both workloads, and prints those
instead (``perfbench/report.py`` prints both runs and the tracing
overhead).  The last stdout line is the result JSON; the line before it
holds the run's context: corpus size, clients, the query tail with its
percentile and sample count, ingest timings, and host noise (steal share
and a page-fault probe, recorded only).  All index roots and Spark scratch
live in one temporary directory under the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "strucmotif_search_spark" / "__init__.py"

N_DOCS = 2000
DOCS_PER_SHARD = 128
N_ADD = 100
N_REMOVE = 100
OPENS = 5
HEAP = "1g"
CLIENTS = {"query_repeat": 4, "ingest_add": 1}
N_FRESH = 60  # far more than one window can send

E2E_UNITS = {
    "setup_s": "s", "query_p50_ms": "ms",
    "build_docs_per_s": "1/s", "index_bytes_per_input_byte": "ratio",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


# ---- host noise (recorded, never gated on) ------------------------------
def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def fault_probe_mb_s(mb: int = 64) -> float:
    """First-touch page-fault throughput of one anonymous mapping."""
    import mmap

    t0 = time.perf_counter()
    m = mmap.mmap(-1, mb << 20)
    for off in range(0, mb << 20, 4096):
        m[off] = 1
    m.close()
    return mb / (time.perf_counter() - t0)


def percentile(values: list[float], p: float) -> float:
    import numpy as np

    return float(np.percentile(values, p))


def tail_percentile(n: int) -> float:
    """Highest percentile with at least ten samples beyond it, never below
    the median."""
    return max(50.0, 100.0 * (1.0 - 10.0 / n)) if n else 50.0


# ---- Spark session -----------------------------------------------------
def start_spark(tmp: Path, cores: int, trace: bool):
    from strucmotif_search_spark.session import get_spark

    from layers import TRACE_CONF

    conf = {
        "spark.driver.memory": HEAP,
        "spark.local.dir": str(tmp / "spark-local"),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(TRACE_CONF)
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


# ---- the run -----------------------------------------------------------
@dataclass
class Sample:
    seq: int  # position in the stream it was sent from
    q: object  # workload.Query
    ms: float
    rows: list | None  # None: the query raised
    span: object  # root span, traced run only
    engine: object
    oracle: object  # workload.Oracle the answer is checked against


class Run:
    """One benchmark run: its operations, counters and failures."""

    def __init__(self, spark, tracer, cores: int):
        self.spark, self.tracer, self.cores = spark, tracer, cores
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._seen: dict[int, set] = {}  # engine -> terms it has looked up
        self._lock = threading.Lock()

    def fail(self, what: str) -> None:
        with self._lock:
            self.failed += 1
            self.failures.append(what)
        log(f"FAILED: {what}")

    def count(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n

    def build(self, tmp: Path, base_df) -> dict:
        from strucmotif_search_spark.build import IndexStore, build_index
        from strucmotif_search_spark.engine import SearchEngine

        store = IndexStore(tmp / "index")
        t0 = time.perf_counter()
        with self.tracer.span("build.build_index") as span:
            build_index(self.spark, base_df, store,
                        docs_per_shard=DOCS_PER_SHARD,
                        checkpoint_partials=False)
        build_s = time.perf_counter() - t0
        self.count()
        opens = []
        for _ in range(OPENS):
            t0 = time.perf_counter()
            with self.tracer.span("engine.open"):
                engine = SearchEngine(self.spark, store)
            opens.append(time.perf_counter() - t0)
            self.count()
        log(f"build {build_s:.2f}s, open {statistics.median(opens):.2f}s")
        return {"store": store, "gen": engine.gen, "engine": engine,
                "build_s": build_s, "span": span,
                "setup_s": statistics.median(opens)}

    def query(self, engine, q, client: int = 0):
        """One query; in the traced run the planner gets a span of its own,
        so a vocabulary miss is billed to it and not to the search."""
        tr = self.tracer
        with tr.span("query", cls=q.cls, client=client) as root:
            if tr.enabled:
                with self._lock:
                    seen = self._seen.setdefault(id(engine), set())
                    miss = len(q.terms - seen)
                    seen |= q.terms
                with tr.span("planner.plan", root, miss_terms=miss):
                    engine.plan(q.text)
            with tr.span("engine.search", root) as s:
                rows = engine.search(
                    q.text, k=q.k, mode=q.mode, with_meta=True
                ).collect()
                if s is not None:
                    s.attrs["hits"] = len(rows)
        return rows, root

    def closed_loop(self, engine, oracle, n_clients: int, queries,
                    seconds: float | None = None, period: int = 1):
        """Each client sends the stream's next query when its previous one
        returned, until ``queries`` runs out or, once ``seconds`` have
        passed and at least ``period`` queries were sent, at once.  Returns
        the samples in stream order and the wall time."""
        samples: list[Sample] = []
        stream = iter(queries)
        sent = 0
        start = time.perf_counter()
        deadline = start + seconds if seconds is not None else float("inf")
        ends = []

        def next_query():
            nonlocal sent
            with self._lock:
                if time.perf_counter() >= deadline and sent >= period:
                    return None
                q = next(stream, None)
                sent += 1
                return None if q is None else (sent - 1, q)

        def client(c: int) -> None:
            while (item := next_query()) is not None:
                seq, q = item
                t0 = time.perf_counter()
                try:
                    rows, span = self.query(engine, q, c)
                except Exception:  # noqa: BLE001 — counted, the run goes on
                    log(traceback.format_exc())
                    rows, span = None, None
                t1 = time.perf_counter()
                with self._lock:
                    samples.append(Sample(seq, q, (t1 - t0) * 1000, rows,
                                          span, engine, oracle))
                    ends.append(t1)
                    self.attempted += 1

        threads = [threading.Thread(target=client, args=(c,))
                   for c in range(n_clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        samples.sort(key=lambda s: s.seq)
        return samples, max(ends, default=start) - start

    def ingest(self, store, corpus, added_df, removed_df, probe) -> dict:
        """ADD and, in the traced run, REMOVE and compact; ``probe(step,
        oracle)`` runs after each step and returns its query samples and
        their wall time."""
        from strucmotif_search_spark.streaming.incremental import (
            add_documents, compact, remove_documents,
        )

        from workload import Oracle

        after_add = corpus.base + corpus.added
        out = {"probes": {}, "wall_s": 0.0, "gens": {}, "spans": {}}
        steps = [("add", add_documents, (added_df,), Oracle.over(after_add))]
        if self.tracer.enabled:
            removed = set(corpus.removed_keys)
            oracle_rm = Oracle.over(
                [r for r in after_add if r[:3] not in removed])
            steps += [("remove", remove_documents, (removed_df,), oracle_rm),
                      ("compact", compact, (), oracle_rm)]
        for name, fn, fn_args, oracle in steps:
            t0 = time.perf_counter()
            with self.tracer.span(f"incremental.{name}") as span:
                gen = fn(self.spark, store, *fn_args)
            out[f"{name}_s"] = time.perf_counter() - t0
            out["gens"][name], out["spans"][name] = gen, span
            self.count()
            log(f"{name}: {out[f'{name}_s']:.2f}s -> {gen}")
            out["probes"][name], wall = probe(name, oracle)
            out["wall_s"] += wall
        return out

    def check(self, samples: list[Sample], fresh_oracle) -> None:
        """Fresh-build answers by (doc_id, score); ingested generations by
        natural key and score, in the engine's term-id summation order."""
        import workload as wl

        expected: dict = {}
        orders: dict[int, dict] = {}
        for s in samples:
            if s.rows is None:
                self.fail(f"query {s.q.text!r} raised")
            elif s.oracle is fresh_oracle:
                if s.q not in expected:
                    expected[s.q] = wl.expected_ids(fresh_oracle, s.q)
                if not wl.check_ids(s.rows, expected[s.q]):
                    self.fail(f"query {s.q.text!r} (k={s.q.k}, {s.q.mode})")
            else:
                key = id(s.engine)
                if key not in orders:
                    orders[key] = {
                        r["term"]: int(r["term_id"]) for r in
                        s.engine.terms.select("term", "term_id").collect()
                    }
                if not wl.check_keys(s.rows, s.oracle, s.q, orders[key]):
                    self.fail(f"query {s.q.text!r} on {s.engine.gen}")


MATERIALIZE_CLASSES = ("rare", "head", "k1000")


def per_class_serial(r: Run, engine, queries, timed) -> dict:
    """Traced run only, after the timed phases, on one caller: class ->
    (ms with late materialization, ms without) for MATERIALIZE_CLASSES,
    and (ms with, None) for any other class the timed phase never drew."""
    drawn = {s.q.cls for s in timed}
    out = {}
    for q in queries:
        pair = q.cls in MATERIALIZE_CLASSES
        if not pair and q.cls in drawn:
            continue
        engine.plan(q.text)  # vocabulary cached for both timings
        t0 = time.perf_counter()
        engine.search(q.text, k=q.k, mode=q.mode, with_meta=True).collect()
        t1 = time.perf_counter()
        if pair:
            engine.search(q.text, k=q.k, mode=q.mode,
                          with_meta=False).collect()
        out[q.cls] = ((t1 - t0) * 1000,
                      (time.perf_counter() - t1) * 1000 if pair else None)
        r.count(2 if pair else 1)
    return out


def run(args, tmp: Path) -> dict:
    from pyspark.sql.types import StringType, StructField, StructType

    from strucmotif_search_spark.corpus import CORPUS_SCHEMA, generate_corpus
    from strucmotif_search_spark.engine import SearchEngine

    import workload as wl
    from layers import Tracer, dir_bytes

    cores = len(os.sched_getaffinity(0))
    jiffies0 = cpu_jiffies()
    fault0 = fault_probe_mb_s()
    t_start = time.perf_counter()
    spark = start_spark(tmp, cores, bool(args.trace))
    try:
        log(f"spark up in {time.perf_counter() - t_start:.1f}s "
            f"on local[{cores}]")
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        r = Run(spark, tracer, cores)

        rows = generate_corpus(spark, N_DOCS + N_ADD, seed=args.seed,
                               partitions=cores).collect()
        corpus = wl.split_corpus(rows, N_DOCS, N_REMOVE, args.seed)
        base_df = frame(spark, corpus.base, CORPUS_SCHEMA).cache()
        base_df.count()
        added_df = frame(spark, corpus.added, CORPUS_SCHEMA)
        removed_df = frame(spark, corpus.removed_keys, StructType(
            [StructField(c, StringType(), False) for c in wl.KEY]))
        oracle = wl.Oracle.over(corpus.base)
        tiers = wl.TermTiers(oracle.index)
        log("corpus and oracle ready")

        b = r.build(tmp, base_df)
        engine, store = b["engine"], b["store"]
        pool = wl.repeat_pool(tiers, args.seed)
        effect = wl.effect_probe(corpus)
        n_clients = CLIENTS[args.workload]
        fresh = wl.fresh_queries(tiers, args.seed, N_FRESH,
                                 effect.terms.union(*(q.terms for q in pool)))
        # warm pass, untimed: the whole pool once on the fresh build, so the
        # JVM's query path is compiled and each pool query has had its
        # first, cold run and filled the vocabulary cache
        samples = r.closed_loop(engine, oracle, len(pool), pool)[0]
        ing = None

        def probe(step, orc):
            """After each ingest step, on an engine opened on the new
            generation: the effect probe, untimed (it shows the step took
            effect, and warms the engine's norms cache and DAAT path), then
            on ``ingest_add`` the timed window after ADD."""
            new = SearchEngine(spark, store)
            samples.extend(r.closed_loop(new, orc, 1, [effect])[0])
            if step != "add" or args.workload != "ingest_add":
                return [], 0.0
            return r.closed_loop(new, orc, 1, fresh, args.seconds)

        if args.workload == "query_repeat":
            period = wl.zipf_sequence(len(pool))
            stream = (pool[i] for i in itertools.cycle(period))
            sent, wall = r.closed_loop(engine, oracle, n_clients, stream,
                                       args.seconds, len(period))
            # whole periods only, so every run measures the same class mix;
            # the rest of the window is checked but not timed
            timed = sent[:len(sent) // len(period) * len(period)]
            samples += sent[len(timed):]
            if args.trace:
                # per-layer ingest figures exist in every traced run
                ing = r.ingest(store, corpus, added_df, removed_df, probe)
        else:
            ing = r.ingest(store, corpus, added_df, removed_df, probe)
            timed, wall = ing["probes"]["add"], ing["wall_s"]
        samples += timed
        log(f"timed queries: {len(timed)} in {wall:.2f}s")
        materialize = (per_class_serial(r, engine, pool, timed)
                       if args.trace else None)

        r.check(samples, oracle)  # outside every timed window
        log("answers checked")

        lat_ms = [s.ms for s in timed if s.rows is not None]
        tail_p = tail_percentile(len(lat_ms))
        e2e = {
            "setup_s": b["setup_s"],
            "query_p50_ms": percentile(lat_ms, 50),
            # closed loop, Little's law: clients / mean latency — the
            # completed-query count alone is too coarse at a few per second
            "queries_per_s": n_clients * 1000.0 / statistics.fmean(lat_ms),
            "build_docs_per_s": N_DOCS / b["build_s"],
            "index_bytes_per_input_byte":
                dir_bytes(store.root / b["gen"]) / corpus.base_bytes,
        }
        jiffies1 = cpu_jiffies()
        context = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "loop": "closed",
            "clients": n_clients, "cores": cores, "heap": HEAP,
            "corpus_docs": N_DOCS, "corpus_bytes": corpus.base_bytes,
            "docs_per_shard": DOCS_PER_SHARD, "add_docs": N_ADD,
            "remove_docs": N_REMOVE, "engine_opens": OPENS,
            "query_samples": len(lat_ms), "query_window_s": round(wall, 3),
            # not gated: the mean of a few samples spreads too far from run
            # to run on a noisy host
            "queries_per_s": e2e["queries_per_s"],
            "query_tail_ms": percentile(lat_ms, tail_p),
            "tail_percentile": round(tail_p, 2),
            "steal_pct": round(100.0 * (jiffies1[1] - jiffies0[1])
                               / max(1, jiffies1[0] - jiffies0[0]), 3),
            "fault_probe_mb_s": [round(fault0, 1),
                                 round(fault_probe_mb_s(), 1)],
            "failures": r.failures[:20],
        }
        if ing is not None:
            context["ingest"] = ingest_figures(store, corpus, ing)
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
        if args.trace:
            from per_layer import per_layer_metrics

            metrics, job_events = per_layer_metrics(
                r, b, timed, ing, materialize, corpus, oracle,
                e2e | context["ingest"])
            out = (ROOT / ".perfbench-out"
                   / f"{args.workload}-seed{args.seed}.trace.jsonl")
            tracer.write(out, job_events)
            context["trace_file"] = str(out.relative_to(ROOT))
    finally:
        stop_spark(spark)
        log("spark stopped")
    return {
        "context": context,
        "result": {"correct": r.failed == 0, "attempted": r.attempted,
                   "failed": r.failed, "metrics": metrics},
    }


def frame(spark, rows: list[tuple], schema):
    """A DataFrame of driver-side rows, shipped through Arrow."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=schema.fieldNames()), schema)


def ingest_figures(store, corpus, ing: dict) -> dict:
    """Latency of each ingest step that ran, and the bytes ADD and REMOVE
    wrote per input byte they added or removed."""
    from layers import dir_bytes

    removed = set(corpus.removed_keys)
    churned = {
        "add": sum(len(x[4].encode()) for x in corpus.added),
        "remove": sum(len(x[4].encode()) for x in corpus.base
                      if x[:3] in removed),
    }
    ran = [s for s in ("add", "remove") if s in ing["gens"]]
    out = {f"{s}_ms": ing[f"{s}_s"] * 1000 for s in ran}
    if "compact" in ing["gens"]:
        out["compact_s"] = ing["compact_s"]
    out["write_bytes_per_input_byte"] = sum(
        dir_bytes(store.root / ing["gens"][s]) for s in ran
    ) / sum(churned[s] for s in ran)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CLIENTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not PACKAGE.is_file():
        print(f"perfbench: engine package not found at {PACKAGE.parent}; "
              "run from the root of a full source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tmp = Path(tempfile.mkdtemp(prefix=".perfbench-tmp-", dir=ROOT))
    os.environ["TMPDIR"] = str(tmp)
    try:
        out = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"context": out["context"]}))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
