"""Linkage benchmark: one seeded workload, measured for a fixed time.

    python3 linkbench/run.py --workload person_skewed --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The input is generated from ``--seed``
(cached under ``.linkbench_data/``) before anything is timed. After an
untimed profile of the input and one untimed warm-up iteration on a slice
of it, iterations run back to back in one Spark session (a closed loop
with one client) until ``--seconds`` have passed, at least one; each is
checked.
The last line of standard output is one JSON object with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of the traced run
(``--trace 1``). Human-readable detail goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import engine

WARM_SLICE = 5  # the warm-up iteration runs on 1/WARM_SLICE of the input rows

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "records_per_s": "1/s",
    "pairs_per_s": "1/s",
    "peak_rss_mb": "MB",
    "pairwise_f1": "ratio",
}

PER_LAYER = {
    "sources.read_s": "s",
    "sinks.rows_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.bytes_per_row": "bytes/row",
    "normalize.busy_s": "s",
    "normalize.rows": "count",
    "encode.busy_s": "s",
    "blocking.busy_s": "s",
    "blocking.blocks": "count",
    "blocking.max_block_rows": "count",
    "blocking.hot_blocks": "count",
    "blocking.candidate_pairs": "count",
    "blocking.reduction_ratio": "ratio",
    "score.busy_s": "s",
    "score.pairs": "count",
    "score.distinct_payload_pairs_frac": "ratio",
    "score.kept_frac": "ratio",
    "score.dict_path": "flag",
    "kernels.busy_s": "s",
    "kernels.pairs_per_s": "1/s",
    "clustering.busy_s": "s",
    "clustering.edges": "count",
    "clustering.components": "count",
    "clustering.max_component": "count",
    "clustering.driver_path": "flag",
    "checkpoint.busy_s": "s",
    "checkpoint.ranges_run": "count",
    "checkpoint.s_per_range": "s",
    "checkpoint.resume_s": "s",
    "dedup.minhash_s": "s",
    "dedup.lsh_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.rerank_s": "s",
    "dedup.rerank_precision": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    **{
        f"{layer}.jobs": "count"
        for layer in (
            "sources", "normalize", "encode", "blocking", "score",
            "clustering", "checkpoint", "dedup", "sinks",
        )
    },
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def quartiles(values: list[float]) -> str:
    if len(values) < 2:
        return f"median {values[0]:.4f} (n=1)"
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return f"median {q2:.4f} q1 {q1:.4f} q3 {q3:.4f} (n={len(values)})"


class Runner:
    """Runs and checks iterations, counting attempts and failures."""

    def __init__(self, wl):
        self.wl = wl
        self.sc = wl.sc
        self.ref = None
        self.attempted = 0
        self.failed = 0
        self.last = None  # output of the last checked untraced iteration

    def _checked(self, label: str, body):
        """Run one iteration body, then check its output."""
        self.attempted += 1
        try:
            out, res = body()
            self.sc.setJobGroup("checks", "output checks")
            problems, fp = self.wl.check(res, self.ref)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if self.ref is None:
            self.ref = fp
        if problems:
            self.failed += 1
            log(f"{label}: FAILED: {'; '.join(problems)}")
        return out

    def untraced(self, n: int):
        group = f"it{n}"

        def body():
            self.sc.setJobGroup(group, "iteration")
            res, times = self.wl.run()
            counts = engine.group_counts(self.sc, group)
            if counts["failed_tasks"]:
                raise RuntimeError(f"{counts['failed_tasks']} Spark tasks failed")
            self.last = res
            return times, res

        return self._checked(group, body)

    def traced(self, n: int, spans: list):
        def body():
            tr = engine.Tracer(self.sc, f"trace{n}")
            metrics, res = self.wl.trace(tr)
            spans.extend(tr.spans)
            if metrics["spark.failed_tasks"]:
                raise RuntimeError(f"{metrics['spark.failed_tasks']} Spark tasks failed")
            root = next(s for s in tr.spans if s["name"] == "iteration")
            return (metrics, root["end"] - root["start"]), res

        return self._checked(f"trace{n}", body)


def measure(wl, seconds: float, trace: bool, seed: int) -> tuple[Runner, dict]:
    run = Runner(wl)
    # the profile has already run the first layers on the whole input; one
    # untimed iteration on a slice then runs every layer once, so the
    # Python workers, the JIT and the codegen caches are warm
    _, times = wl.run(limit=max(1, wl.records // WARM_SLICE))
    log(f"warm-up on 1/{WARM_SLICE} of the input: {times['wall_s']:.3f} s")

    times: list[dict] = []
    traced: list[tuple[dict, float]] = []
    spans: list[dict] = []
    n = 0
    t0 = time.perf_counter()
    with engine.PeakRss() as rss:
        while not n or time.perf_counter() - t0 < seconds:
            n += 1
            out = run.untraced(n)
            if out is not None:
                times.append(out)
                log(f"it{n}: wall_s {out['wall_s']:.3f}")
            if trace:
                out = run.traced(n, spans)
                if out is not None:
                    traced.append(out)
                    log(f"trace{n}: wall {out[1]:.3f} s")
    if not times or (trace and not traced):
        raise RuntimeError("no iteration completed")

    walls = [t["wall_s"] for t in times]
    wall = statistics.median(walls)
    log(f"{wl.name} seed {seed}: wall_s {quartiles(walls)}")
    if not trace:
        try:
            problems, f1 = wl.quality(run.last)
        except Exception:
            traceback.print_exc()
            problems, f1 = ["quality check raised"], 0.0
        if problems:
            run.failed += 1
            log(f"quality: FAILED: {'; '.join(problems)}")
        log(f"pairwise F1 {f1:.4f}")
        return run, {
            "wall_s": wall,
            "records_per_s": wl.records / wall,
            "pairs_per_s": wl.pairs / wall,
            "peak_rss_mb": rss.peak / 2**20,
            "pairwise_f1": f1,
        }

    metrics = {name: 0.0 for name in PER_LAYER}
    for name in PER_LAYER:
        values = [m[name] for m, _ in traced if name in m]
        if values:
            metrics[name] = statistics.median(values)
    traced_walls = [w for _, w in traced]
    metrics["trace.overhead_s"] = statistics.median(traced_walls) - wall
    log(f"{wl.name} seed {seed}: traced wall_s {quartiles(traced_walls)}")
    path = os.path.join(engine.WORK, "spans", f"{wl.name}-{seed}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    log(f"spans: {path}")
    return run, metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.setup_probe:
        return engine.probe_main()

    engine.configure_env()
    import name_matching_spark  # noqa: F401  (the package under test, from the checkout)

    from data import Dataset
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    data = Dataset(args.workload, args.seed)
    log(f"input: {json.dumps(data.manifest)}")

    n_cores = engine.cores()
    spark, setup = engine.timed_setup(n_cores)
    log(f"set-up (this process): {setup:.3f} s on local[{n_cores}]")
    try:
        wl = WORKLOADS[args.workload](spark, data, args.seed)
        spark.sparkContext.setJobGroup("profile", "input profile")
        t0 = time.perf_counter()
        facts = wl.profile()
        log(f"profile: {json.dumps(facts)} in {time.perf_counter() - t0:.3f} s")
        run, metrics = measure(wl, args.seconds, bool(args.trace), args.seed)
    finally:
        engine.stop_session(spark)

    units = PER_LAYER if args.trace else END_TO_END
    if not args.trace:
        setups = [setup] + engine.probe_setups(os.path.abspath(__file__))
        log(f"setup_s {quartiles(setups)}")
        metrics["setup_s"] = statistics.median(setups)
    log(f"attempted {run.attempted}, failed {run.failed}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
