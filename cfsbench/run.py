#!/usr/bin/env python3
"""cfsbench: the repository benchmark, one workload per invocation.

    python3 cfsbench/run.py --workload etl_daily --seed 1 --seconds 28 --trace 0

Runs the workload closed-loop from this single Python client against a
local[4] Spark session, checks every output outside the timed calls, and
prints, as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(see ``BENCHMARK.json`` and ``cfsbench/README.md``). A diagnostics line
(loadavg, GC, sample counts, p90s) is printed just before it.

``--plant-fault 1`` corrupts one observed result per check so the run
must report ``correct: false`` (the checks' self-test; see selftest.py).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import geomean, median, p90  # noqa: E402

WORKLOADS = ("etl_daily", "query_mix", "table_maintenance")


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(harness.checkout_root(), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


class Loop:
    """Closed-loop op runner: times each op, counts attempts and
    failures, runs the op's output check outside the timed region and,
    when tracing, wraps the op in a span and reads Spark's counters."""

    def __init__(self, run):
        self.run = run
        self.phase = "cold"  # cold -> warmup -> steady
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.untraced: dict[str, list[float]] = {}
        self.counts: dict[str, list[tuple[int, int, int, int]]] = {}
        self.cold: dict[str, float] = {}

    def op(self, kind: str, fn, check=None):
        run, tracer = self.run, self.run.tracer
        traced = tracer.active
        self.attempted += 1
        gid = None
        try:
            if traced:
                tracer.op_id += 1
                with run.job_group() as gid:
                    t0 = time.perf_counter()
                    with tracer.span(f"op:{kind}"):
                        result = fn()
                    dt = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                result = fn()
                dt = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            print(f"cfsbench: op {kind} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        if self.phase == "cold":
            self.cold[kind] = self.cold.get(kind, 0.0) + dt
        elif self.phase == "steady":
            (self.samples if traced or not tracer.enabled else self.untraced).setdefault(kind, []).append(dt)
        if gid is not None:
            self.counts.setdefault(kind, []).append(run.job_counts(gid))
        if check is not None:
            try:
                ok = check(result)
            except Exception:
                print(f"cfsbench: check of {kind} raised:\n{traceback.format_exc()}", file=sys.stderr)
                ok = False
            if not ok:
                self.failed += 1
                print(f"cfsbench: op {kind} returned a wrong result", file=sys.stderr)
        return result

    @property
    def cold_s(self) -> float:
        return sum(self.cold.values())

    def timed_untracked(self, fn) -> float:
        """Time an auxiliary call that is not an op (trace-only probes);
        it records no spans."""
        tracer = self.run.tracer
        active, tracer.active = tracer.active, False
        try:
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0
        finally:
            tracer.active = active


def steady_passes(wl, seconds: float) -> int:
    """The fixed count of steady passes: what fits in ``seconds`` after
    the cold and warm-up passes, from the workload's nominal pass times
    on the reference host (4 cores), and at least 3, so each op kind's
    median has a middle sample to stand on."""
    return max(3, round((seconds - wl.COLD_S) / wl.PASS_S) - wl.WARMUP_PASSES)


def _make(workload: str, run, data_root: str, rng, plant: bool):
    if workload == "etl_daily":
        from etl import EtlDaily

        return EtlDaily(run, data_root, rng, plant)
    if workload == "query_mix":
        from querymix import QueryMix

        return QueryMix(run, data_root, rng, plant)
    from maintenance import TableMaintenance

    return TableMaintenance(run, data_root, rng, plant)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    checkout = harness.checkout_root()
    sys.path.insert(0, checkout)
    try:
        import cincinnati_police_calls_for_service_etl_using_python_dask_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        harness.fail(f"cannot import the engine package from {checkout}: {e}")

    import datagen

    trace = bool(args.trace)
    run = harness.Run(checkout, args.workload, trace)
    rng = random.Random(args.seed)
    loop = Loop(run)
    wl = None
    try:
        # input generation and the expected outputs: once per checkout,
        # verified on every run, and not part of setup_s
        t_gen = time.perf_counter()
        data_root = datagen.ensure_inputs(checkout)
        wl = _make(args.workload, run, data_root, rng, bool(args.plant_fault))
        wl.ensure_expected()
        gen_s = time.perf_counter() - t_gen
        load_start = os.getloadavg()

        start_s = run.start_spark(wl.input_bytes())
        t_prep = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t_prep
        # process start -> session ready -> workload prepared, with
        # input generation/verification taken out
        setup_s = harness.process_age_s() - gen_s

        # The run is the cold pass, the first op roster in this JVM
        # (JIT, codegen, first file listings), whose op times sum to
        # cold_s; then the workload's untimed JIT warm-up passes; then a
        # FIXED number of steady passes, sized so the whole takes about
        # --seconds on the reference host. A fixed count (not a
        # deadline) makes every run measure the same stretch of the JIT
        # warm-up curve, which a deadline would not.
        n_steady = steady_passes(wl, args.seconds)
        if trace:  # traced and untraced passes alternate; both needed
            n_steady = max(2, n_steady + n_steady % 2)
        wl.one_pass(loop)
        loop.phase = "warmup"
        for _ in range(wl.WARMUP_PASSES):
            wl.one_pass(loop)

        loop.phase = "steady"
        gc0, jcpu0, pcpu0, dcpu0 = run.gc_ms(), run.jvm_cpu_s(), run.pyworker_cpu_s(), time.process_time()
        for n_pass in range(n_steady):
            # traced runs alternate traced and untraced passes so the
            # tracing overhead is measured against the same run
            run.tracer.active = trace and n_pass % 2 == 0
            wl.one_pass(loop)
        run.tracer.active = False
        gc_ms = run.gc_ms() - gc0
        final_check = getattr(wl, "final_check", None)
        if final_check is not None:
            loop.attempted += 1
            if not final_check():
                loop.failed += 1
                print("cfsbench: the final tables differ from the model", file=sys.stderr)
        jvm_cpu = run.jvm_cpu_s() - jcpu0
        py_cpu = run.pyworker_cpu_s() - pcpu0
        cpu_per_pass = (jvm_cpu + py_cpu + time.process_time() - dcpu0) / n_steady
        rss = run.peak_rss_mb()

        kinds = sorted(loop.samples)
        if not kinds:
            raise RuntimeError("no op completed in the steady loop")
        op_geo_ms = 1000 * geomean(median(loop.samples[k]) for k in kinds)
        diag = {
            "workload": args.workload,
            "seed": args.seed,
            "passes": n_steady,
            "samples": {k: len(v) for k, v in loop.samples.items()},
            "median_ms": {k: round(1000 * median(v), 3) for k, v in loop.samples.items()},
            "p90_ms": {k: round(1000 * p90(v), 3) for k, v in loop.samples.items()},
            "samples_ms": {k: [round(1000 * x, 1) for x in v] for k, v in loop.samples.items()},
            "input_gen_s": round(gen_s, 3),
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "spark.gc_ms": gc_ms,
            "cold_s": round(loop.cold_s, 3),
            "cpu_s_per_pass": round(cpu_per_pass, 3),
            "peak_rss_mb": round(rss, 1),
        }
        if not trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_geomean_ms": (op_geo_ms, "ms"),
            }
        else:
            # every per-layer metric is printed; a layer this workload
            # never calls reads 0
            metrics = {name: (0.0, unit) for name, unit in _per_layer_units().items()}
            got = {
                "session.start_s": (start_s, "s"),
                "session.warmup_s": (prep_s, "s"),
                "run.cold_s": (loop.cold_s, "s"),
                "run.cpu_s_per_pass": (cpu_per_pass, "s"),
                "run.peak_rss_mb": (rss, "MB"),
                "spark.gc_ms": (gc_ms, "ms"),
                "spark.jvm_cpu_s": (jvm_cpu, "s"),
                "spark.pyworker_cpu_s": (py_cpu, "s"),
            }
            got.update(_trace_metrics(loop, run))
            got.update(wl.layer_metrics(loop))
            unknown = set(got) - set(metrics)
            if unknown:
                raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
            metrics.update(got)
            traces = os.path.join(checkout, ".cfsbench_traces")
            os.makedirs(traces, exist_ok=True)
            run.tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
            diag["self_time_s"] = {k: round(v, 4) for k, v in sorted(run.tracer.self_times().items())}
    except Exception:
        traceback.print_exc()
        print("cfsbench: the run aborted", file=sys.stderr)
        sys.exit(1)
    finally:
        if wl is not None:
            wl.cleanup()
        run.stop()
    print(json.dumps(diag, sort_keys=True))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def _trace_metrics(loop: Loop, run) -> dict:
    spans = run.tracer.spans
    roots = [i for i, s in enumerate(spans) if s[3] == -1]
    st = run.tracer.self_times()
    wall = sum(spans[i][2] - spans[i][1] for i in roots)
    unattributed = sum(v for k, v in st.items() if k.startswith("op:"))
    overhead = 0.0
    for k, v in loop.samples.items():
        if loop.untraced.get(k):
            overhead += (median(v) - median(loop.untraced[k])) * len(v)
    counts = [c for v in loop.counts.values() for c in v]
    n = max(1, len(counts))
    return {
        "trace.overhead_s": (overhead, "s"),
        "trace.unattributed_share": (unattributed / wall if wall else 0.0, "ratio"),
        "spark.jobs_per_op": (sum(c[0] for c in counts) / n, "count"),
        "spark.stages_per_op": (sum(c[1] for c in counts) / n, "count"),
        "spark.tasks_per_op": (sum(c[2] for c in counts) / n, "count"),
        "spark.shuffle_write_bytes": (float(sum(c[3] for c in counts)), "bytes"),
    }


if __name__ == "__main__":
    main()
