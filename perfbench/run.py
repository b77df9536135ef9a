"""Crawl-engine benchmark: one command per workload, seeded inputs,
checked outputs, and a traced per-layer replay.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout (the directory holding pathik_spark/);
it needs no PYTHONPATH. Workloads: crawl_polite and corpus_clean are the
measure of record (BENCHMARK.json); crawl_bulk and api_crawl run the
same way by hand. See perfbench/layers.json for why each exists and
which per-layer metric should move which end-to-end metric.

``--trace 0`` times repeated operations and reports the end-to-end
metrics. ``--trace 1`` runs one operation inside a span, then replays the
same work one layer at a time, and reports the per-layer metrics; the
spans are written to .perfbench_out/. Tracing overhead shows two ways:
the traced operation's span (driver.round_s, api.prepare_training_corpus_s)
against the untraced op_s_p50 of the same workload and seed, and
trace.overhead_s, the time the tracer's own bookkeeping adds. The last
stdout line is the JSON result.
Generated corpora, crawl state and the Spark warehouse live in
.perfbench_work/ and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-workload input sizes and the fewest operations a run times (a run
# times operations until both --seconds and this floor are reached); the
# smoke run uses TINY. One operation per run for the two workloads of
# record: a run is mostly Spark start-up and input generation, and more
# operations per run do not fit the benchmark's time budget. That budget
# (48 runs in 3420 s) also sizes corpus_clean: 400 documents plus 80
# copies is the largest corpus whose run stays near 60 s on 4 vCPUs.
SIZES = {
    "crawl_polite": {"pages": 2000, "seeds": 1000, "rounds": 1, "prior_seen": 100_000, "overlap": 0.25, "ops": 1},
    "crawl_bulk": {"pages": 3000, "seeds": 500, "rounds": 3, "ops": 3},
    "api_crawl": {"pages": 3000, "seeds": 100, "calls": 16, "urls_per_call": 16, "ops": 5},
    "corpus_clean": {"docs": 400, "dup_share": 0.2, "ops": 1},
}
TINY = {
    "crawl_polite": {"pages": 400, "seeds": 200, "rounds": 1, "prior_seen": 100_000, "overlap": 0.25, "ops": 1},
    "crawl_bulk": {"pages": 400, "seeds": 80, "rounds": 2, "ops": 2},
    "api_crawl": {"pages": 400, "seeds": 40, "calls": 4, "urls_per_call": 16, "ops": 2},
    "corpus_clean": {"docs": 200, "dup_share": 0.15, "ops": 1},
}
# the span that wraps one traced operation, per workload
OP_SPAN = {
    "crawl_polite": "driver.round",
    "crawl_bulk": "driver.round",
    "api_crawl": "api.crawl",
    "corpus_clean": "api.prepare_training_corpus",
}
# workload-specific names of the generic end-to-end metrics, for the
# human-readable summary
ALIASES = {
    "crawl_polite": ("crawl_urls_per_s", "URLs/s", "round_s_p50"),
    "crawl_bulk": ("crawl_urls_per_s", "URLs/s", "round_s_p50"),
    "api_crawl": ("api_urls_per_s", "URLs/s", "call_s_p50"),
    "corpus_clean": ("corpus_docs_per_s", "docs/s", "run_s_p50"),
}
DEADLINE_S = 150  # stop starting operations past this, to exit well within 180 s


def make_workload(name: str, spark, work: str, seed: int, size: dict):
    import workloads as W

    if name in ("crawl_polite", "crawl_bulk"):
        return W.CrawlWorkload(spark, work, seed, size, polite=name == "crawl_polite")
    if name == "api_crawl":
        return W.ApiCrawlWorkload(spark, work, seed, size)
    return W.CorpusCleanWorkload(spark, work, seed, size)


def layer_metrics() -> dict[str, dict]:
    with open(os.path.join(HERE, "layers.json")) as f:
        spec = json.load(f)
    return {name: meta for layer in spec["layers"].values() for name, meta in layer["metrics"].items()}


class Session:
    """One workload in one Spark session: generate, prepare, then either
    the timed loop or the traced run."""

    def __init__(self, workload: str, seed: int, size: dict, spark, work: str, t_start: float):
        self.name = workload
        self.wl = make_workload(workload, spark, work, seed, size)
        self.t_start = t_start
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def _run_op(self, tracer=None):
        """One checked operation: (seconds, output), or None if it raised.
        With a tracer, the operation (not its check) runs in a span."""
        self.attempted += 1
        span = tracer.span(OP_SPAN[self.name]) if tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                out = self.wl.op()
        except Exception:
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
            return None
        dt = time.perf_counter() - t0
        problems = self.wl.finish(out)
        if problems:
            self.failed += 1
            self.problems += problems
        return dt, out

    def measure(self, seconds: float) -> dict:
        times, units = [], 0
        while sum(times) < seconds or len(times) < self.wl.size["ops"]:
            if times and time.perf_counter() - self.t_start + max(times) > DEADLINE_S:
                break
            res = self._run_op()
            if res is None:
                break
            times.append(res[0])
            units += self.wl.units(res[1])
        return {"times": times, "units": units}

    def traced(self, tracer) -> dict:
        failed_before = self.failed
        traced = self._run_op(tracer)
        self._reset()
        m = {} if self.failed > failed_before else self.wl.traced_op_metrics(tracer.spans[-1], traced[1])
        with tracer.span("replay"):
            m.update(self.wl.replay(tracer))
        m["trace.overhead_s"] = tracer.overhead_s
        return m

    def _reset(self) -> None:
        rollback = getattr(self.wl, "rollback", None)
        if rollback is not None and self.wl.next_round != self.wl.first:
            rollback()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True, help="input seed; the same seed gives the same inputs")
    ap.add_argument("--seconds", type=float, required=True, help="measured operation time per run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "pathik_spark", "__init__.py")):
        print(f"perfbench: no pathik_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import harness as H

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    H.configure_env(ROOT, work, cores)
    spark, since_s = None, 0.0
    try:
        with H.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = H.start_spark(work, cores)
            session_s = time.perf_counter() - t0
            sess = Session(args.workload, args.seed, SIZES[args.workload], spark, work, t_start)
            t0 = time.perf_counter()
            sess.wl.generate()
            generate_s = time.perf_counter() - t0
            # memory is counted from here on: input generation is the
            # benchmark's own cost
            since_s = H.jvm_uptime_s(spark)
            t0 = time.perf_counter()
            sess.wl.prepare()
            setup_s = session_s + time.perf_counter() - t0
            if args.trace:
                tracer = H.Tracer(spark.sparkContext, f"{args.workload}-seed{args.seed}")
                measured = sess.traced(tracer)
            else:
                measured = sess.measure(args.seconds)
    finally:
        if spark is not None:
            H.stop_spark(spark)
        heap_live_mb = H.peak_heap_live_mb(work, since_s) if spark is not None else float("nan")
        shutil.rmtree(work, ignore_errors=True)
    for p in sess.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    op_times = " ".join(f"{t:.1f}" for t in measured.get("times", []))
    print(
        f"perfbench: session {session_s:.1f} s, generate {generate_s:.1f} s, setup {setup_s:.1f} s, "
        f"ops [{op_times}] s, total {time.perf_counter() - t_start:.1f} s",
        file=sys.stderr,
    )

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
        metrics = {
            name: {"value": measured.get(name, 0), "unit": meta["unit"]} for name, meta in layer_metrics().items()
        }
        for name, value in measured.items():  # api_crawl's api.* metrics
            metrics.setdefault(name, {"value": value, "unit": "s" if name.endswith("_s") else "count"})
    else:
        times = measured["times"] or [float("nan")]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_s_p50": {"value": statistics.median(times), "unit": "s"},
            "items_per_s": {"value": measured["units"] / sum(times), "unit": "1/s"},
            "peak_heap_live_mb": {"value": heap_live_mb, "unit": "MB"},
        }
        rate, rate_unit, p50 = ALIASES[args.workload]
        print(f"{args.workload} seed={args.seed} ops={len(measured['times'])} {sess.wl.unit}={measured['units']}")
        print(f"  {rate} = {metrics['items_per_s']['value']:.4f} {rate_unit}")
        print(f"  {p50} = {metrics['op_s_p50']['value']:.4f} s")
        print(f"  setup_s = {setup_s:.4f} s")
        print(f"  peak_heap_live_mb = {heap_live_mb:.1f} MB")
        print(f"  peak_rss_mb = {rss.peak_mb:.1f} MB")
    print(f"  error_ratio = {sess.failed / max(1, sess.attempted):.4f} ({sess.failed}/{sess.attempted})")
    result = {
        "correct": sess.failed == 0 and sess.attempted > 0,
        "attempted": max(1, sess.attempted),
        "failed": sess.failed if sess.attempted else 1,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
