#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_polite|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Prints progress lines, then, as the last
line of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Exits 1 when an output check
fails and 2 when the program sources are missing. See README.md.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402
from curate import QUERIES as CURATE_QUERIES  # noqa: E402

WORKLOADS = ("crawl_polite", "curate")

END_TO_END = {
    "setup_s": "s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
    "step_cpu_s": "s",
}

# name -> unit; reported by the traced run, 0 where a workload does not
# touch the layer
PER_LAYER = {
    "session.start_s": "s",
    "wall.step_p50_s": "s",
    "wall.throughput_per_s": "1/s",
    "engine.epochs": "count",
    "engine.epoch_s": "s",
    "engine.spark_jobs_per_epoch": "count",
    "engine.spark_tasks_per_epoch": "count",
    "engine.resume_s": "s",
    "engine.discoveries": "count",
    "engine.new_discovery_ratio": "ratio",
    "fetch.urls": "count",
    "fetch.ok_ratio": "ratio",
    "fetch.pages_per_s": "1/s",
    "snapshots.commit_s": "s",
    **{
        f"snapshots.write_s.{t}": "s"
        for t in ("frontier", "url_seen", "fetch_log", "documents", "lineage", "media")
    },
    "snapshots.files_written": "count",
    "snapshots.bytes_written": "bytes",
    "snapshots.store_mb": "MB",
    "bloom.build_s": "s",
    "bloom.delta_s": "s",
    "bloom.merge_s": "s",
    "bloom.probe_s": "s",
    "bloom.maybe_seen_ratio": "ratio",
    "bloom.true_seen_ratio": "ratio",
    "politeness.select_s": "s",
    "politeness.selected_ratio": "ratio",
    "politeness.max_host_share": "ratio",
    "spans.extract_s": "s",
    "spans.pages_per_s": "1/s",
    "spans.parse_listing_s": "s",
    "urls.canonicalize_s": "s",
    "urls.per_s": "1/s",
    **{
        f"spark.{span}.{m}": u
        for span in ("epoch", "commit", "bloom", "probe", "curate")
        for m, u in (("shuffle_write_mb", "MB"), ("task_s", "s"), ("gc_s", "s"))
    },
    "curate.pass_s": "s",
    **{
        f"curate.{q}{m}": u
        for q in CURATE_QUERIES
        for m, u in (("_s", "s"), (".rows", "count"), (".spark_jobs", "count"),
                     (".shuffle_write_mb", "MB"))
    },
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    harness.require_program()
    if args.workload == "crawl_polite":
        import crawl_polite as workload
    else:
        import curate as workload

    harness.log(f"loadavg start {harness.loadavg()}")
    cpu0 = harness.cpu_times()
    with harness.Context(args.workload, bool(args.trace)) as ctx:
        correct, attempted, failed, e2e, layer = workload.run(ctx, args.seed, args.seconds)
    harness.log(
        f"loadavg end {harness.loadavg()}; "
        f"cpu steal {harness.steal_share(cpu0, harness.cpu_times()):.1%}"
    )

    if args.trace:
        metrics = {k: (layer.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (e2e[k][0], u) for k, u in END_TO_END.items()}
    harness.emit(correct, attempted, failed, metrics)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
