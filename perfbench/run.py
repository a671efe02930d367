"""perfbench — the repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json and perfbench/NOTES.md):

``fanout_backfill``  closed drain of a pre-generated CDC backlog in large
                     fixed-size triggers through the three-sink fan-out.
``fanout_live``      open loop at 2,000 events/s into a self-paced stream
                     with watermarked dedup in front of the same fan-out.
``doc_curate``       closed drain of generated documents through the
                     curated (dedup -> index) ingest, then a deletion
                     stream through the erasure sink.

Every run generates its inputs from ``--seed`` with perfbench/loadgen.py
(a separate process), sets up, measures for about ``--seconds``, checks
the outputs against the generator's ground truth and prints a report
followed, as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Every artifact stays under ``.perfbench/`` in the checkout and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import traceback

sys.dont_write_bytecode = True

from common import (  # noqa: E402
    CHECKOUT,
    RunRoot,
    cpu_times,
    log,
    nproc,
    peak_rss_mb,
    start_spark,
    steal_pct,
)
from tracing import Tracer  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _workloads():
    import docs
    import fanout

    return {
        "fanout_backfill": fanout.run_backfill,
        "fanout_live": fanout.run_live,
        "doc_curate": docs.run_curate,
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="eventstream-fanout benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cpus", type=int, default=None,
        help="local[N] size (default: the CPUs this process may use)",
    )
    a = p.parse_args(argv)

    spec = _spec()
    workloads = _workloads()
    if a.workload not in workloads:
        p.error(f"unknown workload {a.workload!r}; one of {sorted(workloads)}")
    # the program under test must be importable from the checkout
    sys.path.insert(0, CHECKOUT)
    import eventstream_fanout_spark  # noqa: F401

    cpus = a.cpus or nproc()
    root = RunRoot(a.workload, a.seed)
    tracer = Tracer(a.workload, bool(a.trace))
    holder: dict = {}

    def spark_factory():
        holder["spark"] = start_spark(root, cpus)
        return holder["spark"]

    ctx = {
        "spark_factory": spark_factory,
        "root": root,
        "seed": a.seed,
        "seconds": a.seconds,
        "tracer": tracer,
        "cpus": cpus,
    }
    names = spec["per_layer" if a.trace else "end_to_end"]
    error = None
    cpu0 = cpu_times()
    try:
        m = workloads[a.workload](ctx)
        m["peak_rss_mb"] = (peak_rss_mb(holder["spark"]), "MB")
    except Exception as exc:  # the program failed: report, do not retry
        traceback.print_exc()
        error = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
        m = {}
    finally:
        if a.trace and tracer.spans:
            os.makedirs(os.path.join(CHECKOUT, ".perfbench", "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(CHECKOUT, ".perfbench", "traces", f"{a.workload}-seed{a.seed}.json")
            )
        log("measured; stopping")
        if "spark" in holder:
            _stop_spark(holder["spark"])
        root.remove()
        log("stopped")

    failures = list(m.get("_failures", []))
    if error:
        failures.append(error)
    attempted = max(1, int(m.get("_attempted", 1)))
    failed = attempted if error else int(m.get("_failed", 0))
    load1, load5, _ = os.getloadavg()
    print(f"workload {a.workload}  seed {a.seed}  cpus {cpus}  "
          f"loadavg {load1:.2f}/{load5:.2f}  steal {steal_pct(cpu0, cpu_times()):.1f}%  "
          f"trace {a.trace}")
    for key in ("_session_s", "_gen_late_ms_max", "_report"):
        if key in m:
            print(f"  {key[1:]}: {m[key]}")
    print(f"  failed_frac: {failed / attempted:.6f}  ({failed} of {attempted})")
    for f in failures:
        print(f"  FAILED CHECK: {f}")
    if tracer.spans:
        busy, selfs = tracer.busy(), tracer.self_times()
        print("  spans (name: count, busy ms, self ms):")
        for name in sorted(busy):
            print(f"    {name}: {tracer.count(name)}, {busy[name] * 1000:.1f}, "
                  f"{selfs[name] * 1000:.1f}")
    metrics = {}
    notes = m.get("_notes", {})
    for entry in names:
        value, unit = m.get(entry["name"], (0.0, entry["unit"]))
        metrics[entry["name"]] = {"value": value, "unit": entry["unit"]}
        note = f"  ({notes[entry['name']]})" if entry["name"] in notes else ""
        print(f"  {entry['name']}: {value} {unit}{note}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
