"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build_vocab --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout. One client process starts Spark on
``local[<cpus>]``, sets up the workload, computes its reference outputs,
then repeats the timed portion until ``--seconds`` is used up, checks
every output, and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the ``end_to_end`` metrics of ``BENCHMARK.json``; ``--trace 1`` runs one
untraced and then one traced repetition and reports the ``per_layer``
metrics, writing the spans to ``.perfbench/trace-<workload>-s<seed>.json``.

Everything the run writes lives under ``.perfbench/`` in the working
directory and is removed at exit, except the span file. See NOTES.md for
why each workload and metric exists.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

DRIVER_MEMORY = "2g"
MAX_REPS = 20


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile (numpy's default): with the few
    lookups a run makes, a nearest-rank p90 would be the slowest one."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


class Run:
    """One benchmark process: its Spark session, seed and scratch space."""

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir

    def scratch(self, name: str) -> str:
        d = os.path.join(self.workdir, name)
        shutil.rmtree(d, ignore_errors=True)
        return d


def _environment(root: str, work: str, cpus: int) -> None:
    """Process-wide settings that must precede the JVM launch: every
    temporary file inside the checkout, the checkout importable by the
    Python workers, and the engine's deployment settings."""
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}"


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    from perfbench.trace import _descendants, _proc_table

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if len(_descendants(_proc_table(), os.getpid())) <= 1:
            return
        time.sleep(0.1)
    log("child processes still running after shutdown")


def _timed_reps(wl, seconds: float, tally: dict) -> list[dict]:
    """Repeat the timed portion until the repetitions' timed walls add up
    to ``seconds``; each output is checked outside the timed portion."""
    results = []
    measured = 0.0
    while measured < seconds and len(results) < MAX_REPS:
        results.append(_one_rep(wl, len(results), tally))
        measured += results[-1].get("wall_s", seconds)
    return results


def _one_rep(wl, i: int, tally: dict, tracer=None) -> dict:
    n_lookups = len(wl.ref[1])
    try:
        out = wl.rep(i) if tracer is None else wl.traced_rep(tracer)
    except Exception:
        traceback.print_exc()
        tally["attempted"] += 1
        tally["failed"] += 1
        return {}
    counts = {}
    if tracer is not None:
        out, counts = out
    tally["attempted"] += 1 + n_lookups
    try:
        res = wl.check(out)
    except Exception:
        traceback.print_exc()
        res = {"ingest_ok": False, "lookups_ok": [False] * n_lookups}
    tally["failed"] += (not res["ingest_ok"]) + sum(
        not ok for ok in res["lookups_ok"])
    wl.release(out)
    out.update(res, counts=counts)
    log(f"rep {i}: ingest {out.get('ingest_s', 0):.3f}s ok={res['ingest_ok']}"
        f" lookups_ok={sum(res['lookups_ok'])}/{n_lookups}")
    return out


def _end_to_end(reps: list[dict], setup_s: float,
                mem_peak: int) -> dict[str, float]:
    reps = [r for r in reps if r.get("ingest_ok")]
    lat = [x for r in reps for x in r["lookup_ms"] if x is not None]
    base = [r.get("live_triples", r["triples"]) for r in reps]
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(r["wall_s"] for r in reps),
        "ingest_s": statistics.median(r["ingest_s"] for r in reps),
        "triples_per_s": statistics.median(
            r["triples"] / r["ingest_s"] for r in reps),
        "lookup_p50_ms": percentile(lat, 0.5),
        "lookup_p90_ms": percentile(lat, 0.9),
        "graph_bytes_per_triple": statistics.median(
            r["bytes"] / n for r, n in zip(reps, base)),
        "peak_pss_mb": mem_peak / (1 << 20),
    }


def _per_layer(tracer, untraced: dict, traced: dict, counts: dict,
               probe: list[float]) -> dict[str, float]:
    from perfbench.workloads import PIPELINE_LAYERS, layer_metrics

    out = layer_metrics(tracer, {**counts, **traced["counts"]})
    rep_spans = [s for s in tracer.spans if s["parent"] is None
                 and s["start"] >= traced["t_start"]]
    span_sum = sum(s["wall_s"] for s in rep_spans)
    wall = untraced["wall_s"]
    out["trace.untraced_wall_s"] = wall
    out["trace.span_sum_s"] = span_sum
    out["trace.gap_share"] = span_sum / wall - 1.0
    # the ingest alone: traced lookups read the persisted canonical dim,
    # so they are cheaper than untraced ones and widen the gap above
    ingest = sum(s["wall_s"] for s in rep_spans
                 if s["name"] != "retrieval.entity_objects")
    out["trace.ingest_span_sum_s"] = ingest
    out["trace.ingest_gap_share"] = ingest / untraced["ingest_s"] - 1.0
    out["kernels.files_per_cpu_s"] = statistics.median(probe)
    build = sum(out[f"pipeline.{x}.wall_s"] for x in PIPELINE_LAYERS)
    out["pipeline.canon_link_share"] = (
        (out["pipeline.canonicalize.wall_s"] + out["pipeline.link.wall_s"])
        / build if build else 0.0)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process = time.monotonic()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        import cosmos_spark  # noqa: F401
    except (OSError, ImportError) as e:
        log(f"not the root of a cosmos_spark checkout ({e})")
        return 2
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cpus = len(os.sched_getaffinity(0))
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    os.makedirs(work)
    _environment(root, work, cpus)

    from perfbench import trace as T
    from perfbench.workloads import kernel_files_per_cpu_s

    spark = None
    try:
        with T.MemorySampler() as mem:
            probe = kernel_files_per_cpu_s()
            t0 = time.monotonic()
            from cosmos_spark.session import get_spark
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{cpus}]",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": os.path.join(work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(work,
                                                            "warehouse"),
                })
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.monotonic() - t0
            run = Run(spark, args.seed, work)
            wl = WORKLOADS[args.workload](run)
            setup = wl.setup()
            setup_s = session_s + setup["materialize_s"] + setup["warmup_s"]
            log(f"setup {setup_s:.3f}s (session {session_s:.3f}s, {setup})")

            tracer = T.Tracer(spark) if args.trace else None
            t0 = time.monotonic()
            ref_counts = wl.reference(tracer) or {}
            log(f"reference {time.monotonic() - t0:.3f}s")

            tally = {"attempted": 0, "failed": 0}
            if args.trace:
                reps = [_one_rep(wl, 0, tally)]
                t_traced = time.monotonic()
                traced = _one_rep(wl, 1, tally, tracer)
                traced["t_start"] = t_traced
            else:
                reps = _timed_reps(wl, args.seconds, tally)
            probe += kernel_files_per_cpu_s()
        log("kernels.files_per_cpu_s " + " ".join(f"{x:.0f}" for x in probe))
        log("peak PSS MB by process: " + ", ".join(
            f"{comm}:{pss / (1 << 20):.0f}" for pss, _pid, comm in mem.at_peak))
        if args.trace:
            values = _per_layer(tracer, reps[0], traced, ref_counts, probe)
            tracer.dump(os.path.join(
                state, f"trace-{args.workload}-s{args.seed}.json"))
        else:
            values = _end_to_end(reps, setup_s, mem.peak)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        log(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        return 1
    # a layer the workload never calls reads zero in a traced run
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in wanted}
    log(f"total {time.monotonic() - t_process:.1f}s, "
        f"{len(reps)} timed repetition(s)")
    print(json.dumps({"correct": tally["failed"] == 0,
                      "attempted": tally["attempted"],
                      "failed": tally["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
