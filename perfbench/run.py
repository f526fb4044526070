"""The repository benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 20 --trace 0

Runs one workload in a single local[4] Spark session, checks every output
against an independent reference, prints a human-readable report and, as the
last line of standard output, one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}, ...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
installs the span wrappers, turns the Spark UI on for its status REST API and
reports the per-layer metrics instead (spans are written to
``perfbench/.cache/traces``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# run as a script, sys.path[0] is perfbench/; import it as a package instead
sys.path[0] = ROOT

from perfbench.sparkenv import (  # noqa: E402
    CACHE,
    RssSampler,
    build_session,
    machine,
    prepare_env,
)
from perfbench.summary import median  # noqa: E402

PREPARE_REPEATS = 3


def _workloads():
    from perfbench.corpus_ops import CorpusOps
    from perfbench.crawl_small import CrawlSmall

    return {w.name: w for w in (CrawlSmall, CorpusOps)}


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, traced: bool, toy: bool) -> dict:
    # fail fast outside a full checkout: the engine, its oracle and the
    # driver contract must all be importable
    import __spark_entry__  # noqa: F401
    import oracle.crawler  # noqa: F401
    import paperchase_crawler_spark  # noqa: F401

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    prepare_env(run_dir)
    wl = _workloads()[workload](run_dir, seed, toy)
    wl.reference()
    prep_s = median([wl.prepare() for _ in range(PREPARE_REPEATS)])

    t0 = time.perf_counter()
    spark = build_session(run_dir, ui=traced)
    session_s = time.perf_counter() - t0
    sampler = None
    try:
        sampler = RssSampler(spark).start()
        t0 = time.perf_counter()
        wl.warm_up(spark)
        warm_s = time.perf_counter() - t0
        fixture = wl.fixture_files()

        tracer = None
        if traced:
            from perfbench.tracing import Tracer

            tracer = Tracer(spark)
        walls: list[float] = []
        t_measure = time.perf_counter()
        it = 0
        while True:
            # a traced run alternates untraced and traced iterations (seed
            # parity picks which goes first) to measure the tracing overhead
            if traced and it % 2 == seed % 2:
                tracer.iteration = it
                with tracer.installed():
                    walls.append(wl.iteration(it, tracer))
            else:
                walls.append(wl.iteration(it, None))
            it += 1
            elapsed = time.perf_counter() - t_measure
            # never start an iteration the time budget cannot fit
            if it >= (2 if traced else 1) and elapsed + median(walls) > seconds:
                break
        peak_rss_mb = sampler.stop()

        per_layer: dict[str, float] = {}
        if traced:
            jobs = tracer.collect_jobs(wl.max_task_groups(tracer))
            per_layer = wl.per_layer(tracer, jobs)
            untraced = median(wl.step_samples(False))
            traced_step = median(wl.step_samples(True))
            per_layer["trace.overhead_s"] = traced_step - untraced
            per_layer["trace.overhead_frac"] = (
                (traced_step - untraced) / untraced if untraced else 0.0
            )
        wl.check()
        fixture_ok = wl.fixture_files() == fixture
        info = machine(spark)
    finally:
        if sampler is not None:
            sampler.stop()  # no-op after a normal stop
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = wl.end_to_end()
    e2e["setup_s"] = (session_s + warm_s + prep_s, "s")
    e2e["peak_rss_mb"] = (peak_rss_mb, "MB")
    if traced:
        names = spec["per_layer"]
        unknown = set(per_layer) - {m["name"] for m in names}
        if unknown:
            raise ValueError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        trace_path = os.path.join(
            CACHE, "traces", f"{workload}-seed{seed}-{os.getpid()}.json"
        )
        tracer.dump(
            trace_path,
            {"workload": workload, "seed": seed, "machine": info,
             "end_to_end": e2e, "per_layer": per_layer},
        )
        # a layer this workload does not run reads 0
        metrics = {
            m["name"]: {"value": float(per_layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        }
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }

    failed = wl.failed + (0 if fixture_ok else 1)
    attempted = wl.attempted + 1  # the fixture check counts as one operation
    lines = [
        f"workload={workload} seed={seed} trace={int(traced)} "
        + " ".join(f"{k}={v}" for k, v in info.items()),
        f"  {'setup_s':<22} {e2e['setup_s'][0]:.4f} s  (session {session_s:.2f}"
        f" + warm-up {warm_s:.2f} + median of {PREPARE_REPEATS} input"
        f" preparations {prep_s:.3f})",
        *wl.report(),
        f"  {'peak_rss_mb':<22} {peak_rss_mb:.1f} MB  ({sampler.report()})",
        f"  {'failed_frac':<22} {failed / attempted:.4f}  "
        f"({failed} failed of {attempted} attempted)",
        f"  fixture unchanged: {fixture_ok}",
    ]
    lines += [f"  FAILED: {m}" for m in wl.failures]
    if traced:
        lines.append(f"  spans: {trace_path}")
    return {
        "lines": lines,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl_small", "corpus_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--toy", action="store_true",
        help="smoke-test sizes (20 seeds; 500 documents, 200 embeddings)",
    )
    args = ap.parse_args(argv)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), args.toy)
    print("\n".join(out["lines"]))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
