"""curate: corpus-curation queries from ``__spark_entry__.queries()``
over the fixed tables in ``perfbench/data/sf0.01``.

The list covers every curate layer at least once:

- embedding_near_dup_pairs  operators.similarity, operators.dedup
- curation_pipeline_e2e     text.curation, text.linededup
- training_export_e2e       text.packing, operators.interleave

The data is fixed, so ``--seed`` only permutes the query order. A
curation job runs as a batch submission, so its user pays the cold JVM
on every run: set-up (``setup_s``, as CPU seconds) is only the
SparkSession start, and the measured passes over the list begin cold:
the cold pass and warm ones, as many as ``--seconds`` asks for (one per
``PASS_S``, at least ``MIN_PASSES``) but never depending on the host's
speed, each query timed to its collected result. Checked
afterwards: every query's row count and order-insensitive value hash
must equal its DuckDB twin from ``oracle_sql()``.
"""

from __future__ import annotations

import hashlib
import random
import time
from pathlib import Path

from harness import CORES, Context, log, median, tree_cpu_s
from tracing import Tracer, duration

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
# the cold pass plus at least two warm passes; a fixed count for a given
# --seconds, so every run measures the same mix of cold and warm work
MIN_PASSES = 3
# nominal wall time of one pass on the 4-vCPU benchmark host
PASS_S = 20.0
TABLES = ["documents", "embeddings", "lineitem", "orders", "part"]
QUERIES = [
    "embedding_near_dup_pairs",
    "curation_pipeline_e2e",
    "training_export_e2e",
]


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def table_hash(rows, columns) -> tuple[int, str]:
    """Row count and an order-insensitive hash over name-sorted columns."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.md5("\n".join(lines).encode()).hexdigest()


def run(ctx: Context, seed: int, seconds: float):
    cpu_setup = tree_cpu_s()
    spark = ctx.start_spark()
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    data = str(DATA)
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    tracer = Tracer(spark.sparkContext)
    release_cpu_s = 0.0  # spent in ctx.release(), kept out of the step CPU

    def one_pass(traced: bool) -> tuple[dict, dict]:
        nonlocal release_cpu_s
        tracer.enabled = traced
        times, results = {}, {}
        for name in order:
            with tracer.span(f"query.{name}"):
                t = time.perf_counter()
                df = queries[name](spark, data)
                rows = [tuple(r) for r in df.collect()]
                times[name] = time.perf_counter() - t
            results[name] = (rows, df.columns)
            del df
            c = tree_cpu_s()
            ctx.release()
            release_cpu_s += tree_cpu_s() - c
        tracer.enabled = False
        return times, results

    setup_s = tree_cpu_s() - cpu_setup

    passes: list[dict] = []
    cpu0 = tree_cpu_s()
    first = None
    for _ in range(max(MIN_PASSES, round(seconds / PASS_S))):
        times, results = one_pass(False)
        passes.append(times)
        first = first or results
    step_times = [t for p in passes for t in p.values()]
    busy_s = sum(step_times)
    cpu_s = tree_cpu_s() - cpu0 - release_cpu_s
    peak_rss = ctx.peak_rss_mb()
    log(
        f"curate seed={seed} setup_wall_s={ctx.session_s:.2f} setup_cpu_s={setup_s:.2f} "
        f"cpu_s={cpu_s:.2f} release_cpu_s={release_cpu_s:.2f} passes="
        f"{[{q: round(t, 2) for q, t in p.items()} for p in passes]}"
    )

    layer: dict[str, float] = {"session.start_s": ctx.session_s}
    if ctx.trace:
        # traced minus untraced, on two adjacent warm passes
        untraced_pass = sum(one_pass(False)[0].values())
        traced_pass = sum(one_pass(True)[0].values())
        tracer.attribute_jobs()
        spans = tracer.named("query.")
        layer.update(
            {
                "curate.pass_s": traced_pass,
                "trace.overhead_s": traced_pass - untraced_pass,
                "trace.overhead_ratio": (traced_pass - untraced_pass) / untraced_pass,
                "spark.curate.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in spans),
                "spark.curate.task_s": sum(s["task_s"] for s in spans),
                "spark.curate.gc_s": sum(s["gc_s"] for s in spans),
            }
        )
        for s in spans:
            q = s["name"].split(".", 1)[1]
            layer[f"curate.{q}_s"] = duration(s)
            layer[f"curate.{q}.rows"] = len(first[q][0])
            layer[f"curate.{q}.spark_jobs"] = s["jobs"]
            layer[f"curate.{q}.shuffle_write_mb"] = s["shuffle_write_mb"]

    # output checks against the DuckDB twins, outside the timed window
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={CORES}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / (t + '.parquet')}'")
    bad = []
    for name in QUERIES:
        rows, cols = first[name]
        cur = con.execute(oracles[name])
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        if sorted(cols) != sorted(dcols) or table_hash(rows, cols) != table_hash(drows, dcols):
            bad.append(name)
    con.close()
    if bad:
        log(f"curate failed checks: {bad}")

    attempted = len(step_times) + len(QUERIES)
    failed = len(bad)
    e2e = {
        "setup_s": (setup_s, "s"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        "peak_rss_mb": (peak_rss, "MB"),
        "step_cpu_s": (cpu_s / len(step_times), "s"),
    }
    layer.update(
        {
            "wall.step_p50_s": median(step_times),
            "wall.throughput_per_s": len(step_times) / busy_s,
        }
    )
    return not bad, attempted, failed, e2e, layer

