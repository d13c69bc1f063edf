"""Run every workload of BENCHMARK.json untraced and traced for one seed,
print every metric by name and unit, the operation error rate, and the
tracing overhead (traced minus untraced).

Besides the end-to-end metrics of BENCHMARK.json, the untraced lines show
what the run records in its context: the query tail (with its percentile
and sample count), queries per second and, where the workload ingests, the
ADD / REMOVE / compact latencies and bytes written per input byte.

    python3 perfbench/report.py --seed 1

Run it from the root of a source checkout.  Each run is a separate
``perfbench/run.py`` process, one after another.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(cmd: list[str], workload: str, seed: int, seconds: int,
             trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} trace={trace} exited {proc.returncode}")
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    cmd = [sys.executable if c == "python3" else c for c in bench["command"]]
    for w in bench["workloads"]:
        name = w["name"]
        ctx, res = run_once(cmd, name, args.seed, bench["run_seconds"], 0)
        print(f"== {name} (seed {args.seed}): {w['why']}")
        print(f"   context: {json.dumps(ctx)}")
        for metric, v in res["metrics"].items():
            print(f"   {metric:40s} {v['value']:14.4f} {v['unit']}")
        print(f"   {'query_tail_ms':40s} {ctx['query_tail_ms']:14.4f} ms "
              f"(p{ctx['tail_percentile']:g} of {ctx['query_samples']})")
        print(f"   {'queries_per_s':40s} {ctx['queries_per_s']:14.4f} 1/s")
        for metric, v in ctx.get("ingest", {}).items():
            unit = {"ms": "ms", "s": "s"}.get(metric.rsplit("_", 1)[1],
                                               "ratio")
            print(f"   {metric:40s} {v:14.4f} {unit}")
        rate = res["failed"] / res["attempted"]
        print(f"   {'op_error_rate':40s} {rate:14.4f} "
              f"({res['failed']}/{res['attempted']} ops)")
        tctx, tres = run_once(cmd, name, args.seed, bench["run_seconds"], 1)
        print(f"   -- traced run, per layer ({tctx.get('trace_file')})")
        for metric, v in tres["metrics"].items():
            print(f"   {metric:40s} {v['value']:14.4f} {v['unit']}")
        print("   -- tracing overhead (traced - untraced)")
        untraced = {k: v["value"] for k, v in res["metrics"].items()}
        untraced["queries_per_s"] = ctx["queries_per_s"]
        for metric in ("setup_s", "query_p50_ms", "queries_per_s"):
            t = tres["metrics"][f"trace.{metric}"]
            d = t["value"] - untraced[metric]
            print(f"   {metric:40s} {d:+14.4f} {t['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
