"""Fast smoke run of all four workloads at a tiny size, in one Spark
session:

    python3 perfbench/smoke.py

For each workload it runs the checked operations, then corrupts one
output (``tamper``) to show that the check fires and counts in
``error_ratio``, then runs the traced replay and checks that it emitted
every per-layer metric the workload's layers own (perfbench/layers.json).
Exits non-zero if any correct output fails its check, any corrupted
output passes, or a traced metric is missing.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metrics each workload's trace must emit (by name prefix)
TRACED = {
    "crawl_polite": ("frontier.", "robots.", "scheduler.", "seen.", "fetch.", "extract_udfs.", "tables.", "discover.", "driver."),
    "crawl_bulk": ("frontier.", "robots.", "scheduler.", "fetch.", "extract_udfs.", "tables.", "discover.", "driver."),
    "api_crawl": ("api.call_s", "api.fetch_join_s", "api.extract_s", "api.pages_rows_per_url"),
    "corpus_clean": ("quality.", "linedup.", "dedup.", "sampling.", "report.", "corpus.", "api.prepare_training_corpus_s"),
}


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    import harness as H
    import run as R

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"smoke-{os.getpid()}")
    H.configure_env(ROOT, work, cores)
    declared = R.layer_metrics()
    spark = H.start_spark(work, cores)
    failures = []
    try:
        for i, name in enumerate(sorted(R.TINY)):
            t0 = time.perf_counter()
            sess = R.Session(name, 1, R.TINY[name], spark, os.path.join(work, name), t0)
            sess.wl.generate()
            sess.wl.prepare()
            measured = sess.measure(0)
            clean = (sess.attempted, sess.failed)
            out = sess.wl.op()
            sess.attempted += 1
            if sess.wl.tamper(out):
                sess.failed += 1
            else:
                failures.append(f"{name}: corrupted output passed its check")
            corrupted = (sess.attempted, sess.failed)
            if hasattr(sess.wl, "rollback"):
                sess.wl.rollback()
            if clean[1]:
                failures.append(f"{name}: {clean[1]} of {clean[0]} correct operations failed: {sess.problems}")
            tracer = H.Tracer(spark.sparkContext, f"smoke-{name}")
            failed_before = sess.failed
            traced = sess.traced(tracer)
            if sess.failed != failed_before:
                failures.append(f"{name}: traced operations failed: {sess.problems}")
            missing = [
                m for m in declared if m.startswith(TRACED[name]) and m not in traced
            ] + [p for p in TRACED[name] if not any(m.startswith(p) for m in traced)]
            if missing:
                failures.append(f"{name}: trace lacks {missing}")
            if name == "crawl_polite" and not traced.get("seen.prefilter_bytes"):
                failures.append("crawl_polite: bloom pre-filter did not engage")
            print(
                f"{name}: ops={len(measured['times'])} clean error_ratio={clean[1]}/{clean[0]}, "
                f"with one corrupted output error_ratio={corrupted[1]}/{corrupted[0]}, "
                f"traced metrics={len(traced)}, {time.perf_counter() - t0:.1f} s",
                flush=True,
            )
    finally:
        H.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"SMOKE FAILED: {f}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
