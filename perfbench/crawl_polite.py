"""crawl_polite: a budgeted multi-host crawl of a seeded synthetic mirror,
stopped partway and resumed by a fresh engine on the same store.

Set-up (reported in ``setup_s``, as CPU seconds): SparkSession start,
mirror generation from ``--seed`` and the seed commit of every listing
page.

Measured (``step_cpu_s``, CPU seconds per measured epoch): the crawl's
first epoch, which fetches the seeds in a cold JVM, as every launch of a
crawl job does; the first engine stops there and its store is the stop
point. Then resumes from the stop point: each copies the stop-point
store, builds a fresh ``CrawlEngine`` on the copy and runs its first
epoch, which rebuilds the URL-seen bloom filter from the committed table
and is the first epoch where the budget binds. Every resume does the
same work, and their number follows ``--seconds`` (one per
``RESUME_S``, at least one), never the host's speed, so every run
measures the same work.

Checked afterwards, against ``OracleCrawler`` on the same mirror and
budget: the stop-point state and the state after every resume must match
the oracle's seen set, per-(host, epoch) fetch order and document span
sequences; ``url_seen`` must hold no duplicate hash.
"""

from __future__ import annotations

import shutil
import time

from pyspark.sql import functions as F

from harness import Context, log, median, tree_cpu_s
from tracing import Tracer, dir_stats, duration

N_PAGES = 3  # listing pages, all seeded
CATS_PER_PAGE = 22
BUDGET = 40  # URLs per host per epoch
MIN_DELAY_MS = 10
# nominal wall time of one resume on the 4-vCPU benchmark host
RESUME_S = 15.0


def _seeds(M) -> list[str]:
    return [M.listing_url(p) for p in range(1, N_PAGES + 1)]


def _oracle(M, OracleCrawler, mirror, epochs: int):
    budgets = {h: (BUDGET, MIN_DELAY_MS) for h in [M.MAIN_HOST, *M.TAIL_HOSTS]}
    return OracleCrawler(mirror, budgets, max_epochs=epochs).run(_seeds(M))


def _state_checks(store, version: int, want, schemas) -> dict[str, bool]:
    """Engine state committed as ``version`` vs an oracle result."""
    seen = store.read_at("url_seen", schemas.URL_SEEN, version)
    log_rows = (
        store.read_at("fetch_log", schemas.FETCH_LOG, version)
        .select("host", "epoch", "seq_in_host", "url")
        .collect()
    )
    got_order: dict = {}
    for r in log_rows:
        got_order.setdefault((r["host"], r["epoch"]), []).append((r["seq_in_host"], r["url"]))
    want_order: dict = {}
    for r in want.fetch_log:
        want_order.setdefault((r["host"], r["epoch"]), []).append((r["seq_in_host"], r["url"]))
    docs = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in store.read_at("documents", schemas.DOCUMENTS, version).collect()
    }
    return {
        "seen_set": {r["url_hash"] for r in seen.collect()} == want.url_seen,
        "fetch_order": {k: sorted(v) for k, v in got_order.items()}
        == {k: sorted(v) for k, v in want_order.items()},
        "spans": docs == want.documents,
    }


def run(ctx: Context, seed: int, seconds: float):
    cpu_setup = tree_cpu_s()
    t_setup = time.perf_counter()
    spark = ctx.start_spark()
    from webscrape_neko_jirushi_spark import schemas
    from webscrape_neko_jirushi_spark.crawl import bloom as bloom_mod
    from webscrape_neko_jirushi_spark.crawl.engine import CrawlEngine, MirrorFetcher
    from webscrape_neko_jirushi_spark.crawl.oracle import OracleCrawler
    from webscrape_neko_jirushi_spark.crawl.snapshots import SnapshotStore
    from webscrape_neko_jirushi_spark.fixtures import mirror as M

    tracer = Tracer(spark.sparkContext)
    if ctx.trace:
        _instrument(tracer, CrawlEngine, SnapshotStore, bloom_mod.BloomShards)

    mirror = M.build_mirror(seed=seed, n_pages=N_PAGES, cats_per_page=CATS_PER_PAGE)
    pages = spark.createDataFrame(mirror.rows(), schemas.PAGES)
    budget = spark.createDataFrame(
        M.host_budget_rows(BUDGET, MIN_DELAY_MS), schemas.HOST_BUDGET
    )

    def new_engine(root):
        store = SnapshotStore(root, spark)
        return CrawlEngine(spark, store, MirrorFetcher(pages), budget, M.BASE_URL)

    stop_root = ctx.work / "stop"
    eng = new_engine(stop_root)
    eng.seed(_seeds(M))
    setup_wall_s = time.perf_counter() - t_setup
    setup_s = tree_cpu_s() - cpu_setup

    def epoch(make_engine, traced: bool = False) -> dict:
        ctx.release()
        tracer.enabled = traced
        cpu0 = tree_cpu_s()
        t = time.perf_counter()
        with tracer.span("engine.resume"):
            eng = make_engine()
            stats = eng.run_epoch()
        s = time.perf_counter() - t
        cpu_s = tree_cpu_s() - cpu0
        tracer.enabled = False
        return {"s": s, "cpu_s": cpu_s, "stats": stats, "store": eng.store}

    first = epoch(lambda: eng)
    stop_store = first["store"]
    del eng  # the first engine stops here
    resumes: list[dict] = []

    def resume(traced: bool = False) -> None:
        """A fresh engine on a copy of the stop-point store runs its
        first epoch; the copy stays outside the measurement."""
        root = ctx.work / f"resume-{len(resumes)}"
        shutil.copytree(stop_root, root)
        resumes.append(epoch(lambda: new_engine(root), traced))

    for _ in range(max(1, round(seconds / RESUME_S))):
        resume()
    measured = [first, *resumes]
    peak_rss = ctx.peak_rss_mb()
    if ctx.trace:
        # the tracing overhead: a traced resume minus the untraced one
        # before it, both on a warm JVM
        resume()
        resume(traced=True)
    log(
        f"crawl_polite seed={seed} setup_wall_s={setup_wall_s:.2f} setup_cpu_s={setup_s:.2f} "
        f"epochs_s={[round(r['s'], 2) for r in (first, *resumes)]} "
        f"epochs_cpu_s={[round(r['cpu_s'], 2) for r in (first, *resumes)]} "
        f"urls={[r['stats'].selected for r in (first, *resumes)]}"
    )

    layer: dict[str, float] = {}
    if ctx.trace:
        layer = _layer_metrics(ctx, tracer, resumes, pages, budget, schemas, M)
        tracer.unwrap_all()

    # output checks, outside the timed window
    checks = {}
    stop_version, stop_epoch = stop_store.version(), stop_store.epoch()
    want = _oracle(M, OracleCrawler, mirror, stop_epoch)
    for name, ok in _state_checks(stop_store, stop_version, want, schemas).items():
        checks[f"stop.{name}"] = ok
    want = _oracle(M, OracleCrawler, mirror, stop_epoch + 1)
    for i, r in enumerate(resumes):
        store = r["store"]
        for name, ok in _state_checks(store, store.version(), want, schemas).items():
            checks[f"resume{i}.{name}"] = ok
        seen = store.read("url_seen", schemas.URL_SEEN)
        checks[f"resume{i}.url_seen_unique"] = (
            seen.count() == seen.select("url_hash").distinct().count()
        )
    bad = [k for k, ok in checks.items() if not ok]
    if bad:
        log(f"crawl_polite failed checks: {bad}")

    attempted = 1 + len(resumes) + len(checks)
    failed = len(bad)
    e2e = {
        "setup_s": (setup_s, "s"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        "peak_rss_mb": (peak_rss, "MB"),
        "step_cpu_s": (sum(r["cpu_s"] for r in measured) / len(measured), "s"),
    }
    wall_s = sum(r["s"] for r in measured)
    layer.update(
        {
            "session.start_s": ctx.session_s,
            "engine.resume_s": median([r["s"] for r in measured[1:]]),
            "fetch.pages_per_s": sum(r["stats"].fetched_ok for r in measured) / wall_s,
            "snapshots.store_mb": _store_mb(measured[-1]["store"]),
            "wall.step_p50_s": median([r["s"] for r in measured]),
            "wall.throughput_per_s": sum(r["stats"].selected for r in measured) / wall_s,
        }
    )
    return not bad, attempted, failed, e2e, layer


def _store_mb(store) -> float:
    """Bytes of the parquet directories the HEAD manifest references."""
    head = store._head() or {"tables": {}}
    total = 0
    for dirs in head["tables"].values():
        for d in dirs:
            total += dir_stats(store.root / "data" / d)[1]
    return total / 2**20


def _instrument(tracer: Tracer, CrawlEngine, SnapshotStore, BloomShards) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    tracer.wrap(CrawlEngine, "run_epoch", "engine.epoch")
    tracer.wrap(SnapshotStore, "commit", "snapshots.commit")

    def table_of(args, kwargs):
        path = str(args[1] if len(args) > 1 else kwargs.get("path"))
        return "snapshots.write." + path.rstrip("/").rsplit("/", 1)[-1].split("-")[0]

    def written(rec, args, kwargs):
        path = args[1] if len(args) > 1 else kwargs.get("path")
        rec["tags"]["files"], rec["tags"]["bytes"] = dir_stats(path)

    tracer.wrap(DataFrameWriter, "parquet", table_of, after=written)
    tracer.wrap(BloomShards, "build", "bloom.build")
    tracer.wrap(BloomShards, "build_delta", "bloom.delta")
    tracer.wrap(BloomShards, "merge_delta", "bloom.merge")


def _layer_metrics(ctx, tracer, resumes, pages, budget, schemas, M):
    """Per-layer metrics of the traced resume, the last one."""
    traced = resumes[-1]
    probes = _replay_probes(ctx, tracer, traced, pages, budget, schemas, M)
    tracer.attribute_jobs()
    spans = tracer.spans
    ep = tracer.named("engine.epoch")
    n_ep = max(1, len(ep))

    def total(prefix: str, outside: str | None = "probe.") -> float:
        return sum(duration(s) for s in tracer.named(prefix, outside))

    def spark_of(recs, key):
        return sum(tracer.inclusive(r, key) for r in recs)

    writes = tracer.named("snapshots.write.", "probe.")
    m = {
        "engine.epochs": len(ep),
        "engine.epoch_s": median([duration(s) for s in ep]),
        "engine.spark_jobs_per_epoch": spark_of(ep, "jobs") / n_ep,
        "engine.spark_tasks_per_epoch": spark_of(ep, "tasks") / n_ep,
        "snapshots.commit_s": total("snapshots.commit"),
        "snapshots.files_written": sum(s["tags"].get("files", 0) for s in writes),
        "snapshots.bytes_written": sum(s["tags"].get("bytes", 0) for s in writes),
        "bloom.build_s": total("bloom.build"),
        "bloom.delta_s": total("bloom.delta"),
        "bloom.merge_s": total("bloom.merge"),
    }
    for table in ("frontier", "url_seen", "fetch_log", "documents", "lineage", "media"):
        m[f"snapshots.write_s.{table}"] = total(f"snapshots.write.{table}")
    for kind, recs in (
        ("epoch", ep),
        ("commit", tracer.named("snapshots.commit", "probe.")),
        ("bloom", tracer.named("bloom.", "probe.")),
        ("probe", [s for s in spans if s["name"].startswith("probe.")]),
    ):
        m[f"spark.{kind}.shuffle_write_mb"] = spark_of(recs, "shuffle_write_mb")
        m[f"spark.{kind}.task_s"] = spark_of(recs, "task_s")
        m[f"spark.{kind}.gc_s"] = spark_of(recs, "gc_s")
    st = traced["stats"]
    m.update(
        {
            "fetch.urls": st.selected,
            "fetch.ok_ratio": st.fetched_ok / st.selected if st.selected else 0.0,
            "engine.discoveries": st.discoveries,
            "engine.new_discovery_ratio": st.discoveries / probes["raw_discoveries"]
            if probes["raw_discoveries"]
            else 0.0,
        }
    )
    # traced minus untraced: the same work from the same stop point
    base = resumes[-2]["s"]
    m["trace.overhead_s"] = traced["s"] - base
    m["trace.overhead_ratio"] = m["trace.overhead_s"] / base
    m.update({k: v for k, v in probes.items() if k != "raw_discoveries"})
    return m


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _replay_probes(ctx, tracer, resume, pages, budget, schemas, M):
    """Re-run the lazy layers on a resume epoch's committed inputs
    (``read_at`` the version before it) to get their self time and
    ratios; the engine fuses them into larger Spark jobs."""
    from webscrape_neko_jirushi_spark.crawl.bloom import BloomShards
    from webscrape_neko_jirushi_spark.crawl.politeness import select_budget_annotated
    from webscrape_neko_jirushi_spark.functions.urls import canonicalize_url
    from webscrape_neko_jirushi_spark.operators.spans import extract_spans, parse_listing

    spark = ctx.spark
    store = resume["store"]
    ep = resume["stats"].epoch
    versions = {v["epoch"]: v["version"] for v in store.versions()}
    prev, cur = versions[ep - 1], versions[ep]
    tracer.enabled = True
    frontier = store.read_at("frontier", schemas.FRONTIER, prev).persist()
    seen = store.read_at("url_seen", schemas.URL_SEEN, prev).persist()
    n_front = frontier.count()
    n_true_seen = frontier.join(seen, "url_hash", "left_semi").count()

    with tracer.span("probe.bloom_build"):
        bloom = BloomShards.build(seen, n_shards=16, expected_per_shard=1 << 19, fpr=0.01)
    with tracer.span("probe.bloom") as bloom_rec:
        row = bloom.prefilter(spark, frontier).agg(
            F.sum(F.col("bloom_maybe_seen").cast("long")).alias("maybe")
        ).collect()[0]
    n_maybe = int(row["maybe"] or 0)

    with tracer.span("probe.politeness") as select_rec:
        per_host = (
            select_budget_annotated(frontier, budget, 4)
            .filter("chosen")
            .groupBy("host")
            .count()
            .collect()
        )
    chosen = sum(r["count"] for r in per_host)
    max_share = max(r["count"] for r in per_host) / chosen if chosen else 0.0

    fetched = (
        store.read_at("fetch_log", schemas.FETCH_LOG, cur)
        .filter(F.col("epoch") == ep)
        .filter(F.col("status_code") == 200)
        .select("url")
        .join(pages.select("url", "kind", "body"), "url")
        .join(frontier.select("url", "api_image_1", "depth", "priority"), "url")
        .persist()
    )
    profiles = fetched.filter(F.col("kind") == "profile")
    listings = fetched.filter(F.col("kind") == "listing")
    n_pages = profiles.count()
    with tracer.span("probe.spans") as spans_rec:
        docs = extract_spans(profiles, M.BASE_URL, passthrough=True).persist()
        _noop(docs)
    with tracer.span("probe.listing") as listing_rec:
        children = parse_listing(listings).persist()
        _noop(children)

    raw_urls = children.filter(F.col("cat_id").isNotNull()).select(
        F.col("profile_path").alias("u")
    ).unionByName(
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind").isin("image", "link"))
        .select(F.col("s.media_ref").alias("u"))
    ).persist()
    n_urls = raw_urls.count()
    n_next = (
        children.filter(F.col("page_now") < F.col("all_page"))
        .select("listing_url").distinct().count()
    )
    with tracer.span("probe.urls") as urls_rec:
        _noop(raw_urls.select(canonicalize_url(F.col("u"), F.lit(M.BASE_URL)).alias("c")))
    for df in (frontier, seen, fetched, docs, children, raw_urls):
        df.unpersist()
    tracer.enabled = False

    extract_s, canon_s = duration(spans_rec), duration(urls_rec)
    return {
        "bloom.probe_s": duration(bloom_rec),
        "politeness.select_s": duration(select_rec),
        "spans.extract_s": extract_s,
        "spans.parse_listing_s": duration(listing_rec),
        "urls.canonicalize_s": canon_s,
        "bloom.maybe_seen_ratio": n_maybe / n_front if n_front else 0.0,
        "bloom.true_seen_ratio": n_true_seen / n_front if n_front else 0.0,
        "politeness.selected_ratio": chosen / n_front if n_front else 0.0,
        "politeness.max_host_share": max_share,
        "spans.pages_per_s": n_pages / extract_s if extract_s else 0.0,
        "urls.per_s": n_urls / canon_s if canon_s else 0.0,
        "raw_discoveries": n_urls + n_next,
    }
