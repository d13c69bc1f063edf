"""Per-layer metrics of the traced run, each tied to the end-to-end metric it
should move (see BENCHMARK.json and the layer list in run.py)."""

from __future__ import annotations

import statistics

from layers import dir_bytes, jobs_of, jobs_within, read_jobs

from workload import CLASSES

BUILD_STAGES = ("rank", "partials", "terms", "stats", "norms", "doc_map",
                "pack", "commit")
TABLES = ("postings", "doc_map", "norms", "terms")


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def _mean(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else default


def build_stage_ms(store, gen: str) -> dict[str, float]:
    """Stage times of one fused build, read from the lineage WAL.  Stages
    that log no ``stage_wall_ms`` are timed from the previous terminal
    event: partials run after rank, commit after the last other stage."""
    done = {
        e["stage"]: e for e in store.lineage()
        if e.get("gen") == gen and e.get("status") == "done"
    }
    out = {s: float(done[s].get("stage_wall_ms", 0)) for s in BUILD_STAGES
           if s in done}
    out["partials"] = (done["partials"]["ts"] - done["rank"]["ts"]) * 1000
    last = max(e["ts"] for s, e in done.items() if s != "commit")
    out["commit"] = (done["commit"]["ts"] - last) * 1000
    return out


def per_layer_metrics(r, b, timed, ing, materialize, corpus, oracle,
                      e2e) -> tuple[dict, list[dict]]:
    """``b``: the build; ``timed``: the timed query samples; ``ing``: the
    ingest phase.  Returns the metrics and the Spark jobs as span events."""
    jobs = read_jobs(r.spark.sparkContext)
    m: dict[str, tuple[float, str]] = {}

    # ---- query.planner / query.daat / engine: the timed queries --------
    ops = []
    for sample in timed:
        if sample.rows is None:
            continue
        q, rows, root = sample.q, sample.rows, sample.span
        kids = {s.name: s for s in r.tracer.spans if s.parent == root.span_id}
        plan, search = kids["planner.plan"], kids["engine.search"]
        ex = jobs_of(jobs, search)
        vocab_jobs = len(jobs_of(jobs, plan))
        op = {
            "cls": q.cls, "lat_ms": sample.ms, "plan_ms": plan.ms,
            "vocab_jobs": vocab_jobs,
            # terms new to the engine count only if it ran a lookup job
            "miss": plan.attrs["miss_terms"] if vocab_jobs else 0,
            "hits": len(rows),
            "jobs": len(ex),
            "job_wall": sum(j.wall_ms for j in ex),
            "tasks": sum(j.total("numTasks") for j in ex),
            "run": sum(j.total("executorRunTime") for j in ex),
            "cpu": sum(j.total("executorCpuTime") for j in ex) / 1e6,
            "deser": sum(j.total("executorDeserializeTime") for j in ex),
            "gc": sum(j.total("jvmGcTime") for j in ex),
            "rows_in": sum(j.total("inputRecords") for j in ex),
            "bytes_in": sum(j.total("inputBytes") for j in ex),
            "slot_wait": sum(j.slot_wait_ms for j in ex),
        }
        if ex:
            op["pre_submit"] = (
                min(j.submitted for j in ex) - search.start) * 1000
            op["post_job"] = (search.end - max(j.completed for j in ex)) * 1000
        ops.append(op)

    def col(key):
        return [o[key] for o in ops if key in o]

    m["planner.plan_ms"] = (_median(col("plan_ms")), "ms")
    m["planner.vocab_jobs"] = (_mean(col("vocab_jobs")), "count")
    m["planner.vocab_miss_terms"] = (_mean(col("miss")), "count")
    m["daat.driver_pre_submit_ms"] = (_median(col("pre_submit")), "ms")
    m["daat.jobs_per_query"] = (_mean(col("jobs")), "count")
    m["daat.job_wall_ms"] = (_median(col("job_wall")), "ms")
    m["daat.tasks_per_query"] = (_mean(col("tasks")), "count")
    m["daat.task_run_ms"] = (_median(col("run")), "ms")
    m["daat.task_cpu_ms"] = (_median(col("cpu")), "ms")
    m["daat.task_deserialize_ms"] = (_median(col("deser")), "ms")
    m["daat.gc_ms"] = (_mean(col("gc")), "ms")
    m["daat.input_rows_per_hit"] = (
        sum(col("rows_in")) / max(1, sum(col("hits"))), "ratio")
    m["daat.input_bytes_per_query"] = (_mean(col("bytes_in")), "bytes")
    m["daat.slot_wait_ms"] = (_median(col("slot_wait")), "ms")
    m["engine.materialize_ms"] = (
        _median(a - b for a, b in materialize.values() if b is not None),
        "ms")
    m["engine.post_job_ms"] = (_median(col("post_job")), "ms")
    for c in CLASSES:
        lat = [o["lat_ms"] for o in ops if o["cls"] == c]
        # a class the timed window never sent falls back to the serial pass
        m[f"engine.class_{c}_p50_ms"] = (
            _median(lat) if lat else materialize[c][0], "ms")

    # ---- build.builder / build.index_store: the fresh build ------------
    store, gen, span = b["store"], b["gen"], b["span"]
    for stage, ms in build_stage_ms(store, gen).items():
        m[f"build.{stage}_ms"] = (ms, "ms")
    bj = jobs_within(jobs, span)
    m["build.cpu_busy_share"] = (
        sum(j.total("executorRunTime") for j in bj) / (span.ms * r.cores),
        "ratio")
    m["build.shuffle_write_bytes_per_input_byte"] = (
        sum(j.total("shuffleWriteBytes") for j in bj) / corpus.base_bytes,
        "ratio")
    sizes = {t: dir_bytes(store.root / gen / t) for t in TABLES}
    for t, b in sizes.items():
        m[f"index_store.{t}_bytes"] = (b, "bytes")
    n_postings = sum(oracle.index.df.values())
    m["build.posting_bytes_per_posting"] = (
        sizes["postings"] / n_postings, "bytes")

    # ---- streaming.incremental: the ingest phase -----------------------
    gens = ing["gens"]
    done = {
        e["stage"]: e for e in store.lineage()
        if e.get("status") == "done" and e.get("gen") in gens.values()
    }
    for op in ("add", "remove"):
        m[f"incremental.{op}_affected_shards"] = (
            done[op].get("affected_shards", 0), "count")
        m[f"incremental.{op}_bytes_written"] = (
            dir_bytes(store.root / gens[op]), "bytes")
    rj = jobs_within(jobs, ing["spans"]["remove"])
    m["incremental.remove_task_cpu_ms"] = (
        sum(j.total("executorCpuTime") for j in rj) / 1e6, "ms")
    m["incremental.refs_depth"] = (
        len(store.referenced_gens(gens["remove"])) - 1, "count")
    m["incremental.compact_bytes_rewritten"] = (
        dir_bytes(store.root / gens["compact"]), "bytes")
    for k, unit in (("add_ms", "ms"), ("remove_ms", "ms"), ("compact_s", "s"),
                    ("write_bytes_per_input_byte", "ratio")):
        m[f"incremental.{k}"] = (e2e[k], unit)

    # ---- the traced run's own end-to-end figures, for the overhead -----
    for k, unit in (("setup_s", "s"), ("query_p50_ms", "ms"),
                    ("queries_per_s", "1/s")):
        m[f"trace.{k}"] = (e2e[k], unit)

    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
    return metrics, [j.event() for j in jobs]
