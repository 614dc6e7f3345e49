"""gqlite-spark benchmark: one seeded workload per run; end-to-end metrics,
or per-layer metrics with ``--trace 1``; every op's output is checked.

    python3 perfbench/run.py --workload oltp_session --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Everything else
that the run, Spark or the engine prints goes to standard error.
README.md in this directory describes the workloads, metrics and layers.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

END_TO_END = {"setup_s": "s", "ops_per_s": "ops/s", "read_p50_ms": "ms",
              "peak_rss_mb": "MB"}

PER_LAYER = {
    "gql.parse_ms": "ms",
    "executor.dispatch_ms": "ms",
    "executor.eager_jobs": "count",
    "executor.raised_on_invalid": "count",
    "catalog.to_df_ms": "ms",
    "catalog.overlay_rows": "count",
    "catalog.reads_after_write_share": "ratio",
    "catalog.register_s": "s",
    "sources.load_ms": "ms",
    "sources.load_jobs": "count",
    "catalyst.plan_ms": "ms",
    "execute.ms": "ms",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.shuffle_read_bytes": "B",
    "execute.shuffle_write_bytes": "B",
    "execute.executor_run_ms": "ms",
    "execute.input_rows_per_result": "rows/row",
    "operators.graph_algos.ms": "ms",
    "operators.graph_algos.jobs": "count",
    "operators.similarity.ms": "ms",
    "operators.similarity.jobs": "count",
    "operators.dedup.ms": "ms",
    "operators.dedup.jobs": "count",
    "operators.temporal.ms": "ms",
    "operators.temporal.jobs": "count",
    "fsio.commit_ms": "ms",
    "fsio.bytes_written": "B",
    "fsio.files_written": "count",
    "fsio.reload_ms": "ms",
    "session.start_s": "s",
    "write_p50_ms": "ms",
    "commit_p50_ms": "ms",
    "stored_bytes_per_row": "B/row",
    "trace.ops_per_s": "ops/s",
    "trace.read_p50_ms": "ms",
    "trace.layer_self_share": "ratio",
    "trace.jobs_by_time": "count",
}


def end_to_end(run) -> dict[str, float]:
    from common import p50
    return {
        "setup_s": p50(run.setup),
        "ops_per_s": run.ops_per_s(),
        "read_p50_ms": p50(run.latencies("read")) * 1000.0,
        "peak_rss_mb": run.peak_rss_mb,
    }


def per_layer(run, tracer) -> dict[str, float]:
    """Per-layer metrics from the harvested spans: times and counts are
    per call of the layer, over every op of the run."""
    from common import p50
    tot: dict[str, dict] = {}
    for rows in tracer.layer_table().values():
        for layer, row in rows.items():
            acc = tot.setdefault(layer, {})
            for k, v in row.items():
                acc[k] = acc.get(k, 0.0) + v

    def total(layer: str, key: str) -> float:
        return tot.get(layer, {}).get(key, 0.0)

    def per_call(layer: str, key: str) -> float:
        calls = total(layer, "calls")
        return total(layer, key) / calls if calls else 0.0

    execute = [s for s in tracer.spans
               if s["layer"] == "execute" and s.get("result_rows")]
    results = sum(s["result_rows"] for s in execute)
    op_wall = sum(r["self_ms"] for r in tot.values())
    e2e = end_to_end(run)
    m = {
        "gql.parse_ms": per_call("gql.parse", "self_ms"),
        # exec parses the statement again: dispatch is exec's own time
        # minus one parse
        "executor.dispatch_ms": per_call("executor.exec", "self_ms")
        - per_call("gql.parse", "self_ms"),
        "executor.eager_jobs": per_call("executor.exec", "jobs"),
        "catalog.to_df_ms": per_call("catalog.to_df", "self_ms"),
        "catalog.register_s": p50(run.register),
        "sources.load_ms": per_call("sources.load", "self_ms"),
        "sources.load_jobs": per_call("sources.load", "jobs"),
        "catalyst.plan_ms": per_call("catalyst.plan", "self_ms"),
        "execute.ms": per_call("execute", "self_ms"),
        "execute.input_rows_per_result":
            sum(s["scanned_rows"] for s in execute) / results if results else 0.0,
        "fsio.commit_ms": per_call("fsio.commit", "self_ms"),
        "fsio.reload_ms": per_call("fsio.reload", "self_ms"),
        "session.start_s": run.start_s,
        "write_p50_ms": p50(run.latencies("write")) * 1000.0,
        "commit_p50_ms": p50(run.latencies("commit")) * 1000.0,
        "trace.ops_per_s": e2e["ops_per_s"],
        "trace.read_p50_ms": e2e["read_p50_ms"],
        "trace.layer_self_share":
            (op_wall - total("op", "self_ms")) / op_wall if op_wall else 0.0,
        "trace.jobs_by_time": tracer.jobs_by_time,
    }
    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes",
              "shuffle_write_bytes", "executor_run_ms"):
        m[f"execute.{k}"] = per_call("execute", k)
    for mod in ("graph_algos", "similarity", "dedup", "temporal"):
        m[f"operators.{mod}.ms"] = per_call(f"operators.{mod}", "self_ms")
        m[f"operators.{mod}.jobs"] = per_call(f"operators.{mod}", "jobs")
    m.update(run.extra)
    return {name: float(m.get(name, 0.0)) for name in PER_LAYER}


def print_table(table: dict, out) -> None:
    print("per-layer self time (ms), jobs and stages per op family:", file=out)
    for family, rows in sorted(table.items()):
        wall = sum(r["self_ms"] for r in rows.values())
        print(f"  {family}: ops={rows['op']['calls']:.0f} wall_ms={wall:.1f}",
              file=out)
        for layer, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_ms"]):
            print(f"    {layer:24s} self_ms={r['self_ms']:10.1f} "
                  f"jobs={r['jobs']:4.0f} stages={r['stages']:4.0f} "
                  f"tasks={r['tasks']:5.0f} "
                  f"shuffle_rw={r['shuffle_read_bytes']:.0f}/"
                  f"{r['shuffle_write_bytes']:.0f} "
                  f"scanned_rows={r['scanned_rows']:.0f}", file=out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["oltp_session", "analytic_sf01"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # a SIGTERM exits through the finally below, which stops the JVM and
    # deletes the run's work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    # Spark, the JVM and the engine may write to fd 1: point it at stderr
    # and keep the real stdout for the result line alone
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    import gqlite_spark  # noqa: F401  (without the engine: fail, no result)
    from common import Run, Session, p50
    from spans import Tracer

    workload = importlib.import_module(
        {"oltp_session": "oltp", "analytic_sf01": "analytic"}[args.workload])
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    session = Session(work)
    try:
        run = Run()
        run.start_s = session.start()
        tracer = Tracer(session, enabled=bool(args.trace))
        workload.run(session, tracer, run, args.seed, args.seconds, work)
        if args.trace:
            tracer.harvest()
            metrics = per_layer(run, tracer)
            table = tracer.layer_table()
            print_table(table, sys.stderr)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{args.workload}-seed"
                                   f"{args.seed}-spans.json"), "w") as f:
                json.dump({"spans": tracer.spans, "layers": table}, f)
            units = PER_LAYER
        else:
            metrics = end_to_end(run)
            units = END_TO_END
    finally:
        try:
            session.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    by_family: dict[str, list[float]] = {}
    for family, _, seconds in run.samples:
        by_family.setdefault(family, []).append(seconds * 1000.0)
    print("p50 latency per op family (ms):", json.dumps(
        {f: round(p50(v), 1) for f, v in sorted(by_family.items())}),
        file=sys.stderr)
    print("set-ups (s):", [round(x, 3) for x in run.setup], file=sys.stderr)
    for failure in run.tally.failures:
        print("FAILED", failure, file=sys.stderr)
    line = json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    })
    os.write(result_fd, (line + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
