"""S6 ID-range probe source + two-phase politeness selection.

- probe-only discovery: an engine seeded with NO listing pages finds
  profiles purely via injected ID ranges (smart_cat_discovery.py:158-173)
- probe dedup: already-seen / already-pending ids are never re-queued
- two-phase selection: identical chosen set/slots/schedule to a direct
  single-window rank on a skewed frontier, while the global window's
  input is bounded by prune_salts * budget
- free hosts (absent from host_budget): all chosen, NULL seq_in_host
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark import schemas
from webscrape_neko_jirushi_spark.crawl.engine import CrawlEngine, MirrorFetcher
from webscrape_neko_jirushi_spark.crawl.politeness import select_budget_annotated
from webscrape_neko_jirushi_spark.crawl.probe import id_range_probe
from webscrape_neko_jirushi_spark.crawl.snapshots import SnapshotStore
from webscrape_neko_jirushi_spark.fixtures import mirror as M

BUDGET = 40
MIN_DELAY = 10


def _engine(spark, mirror, tmp_path):
    pages = spark.createDataFrame(mirror.rows(), schemas.PAGES)
    budget = spark.createDataFrame(
        M.host_budget_rows(BUDGET, MIN_DELAY), schemas.HOST_BUDGET
    )
    store = SnapshotStore(tmp_path, spark)
    return CrawlEngine(
        spark, store, MirrorFetcher(pages), budget, M.BASE_URL, fetch_images=False
    )


def test_probe_only_discovery_finds_profiles(spark, tmp_path):
    """No listing seed at all: the ID sweep alone reaches profiles."""
    mirror = M.build_mirror(seed=7, n_pages=2, cats_per_page=10, fail_rate=0.0)
    eng = _engine(spark, mirror, tmp_path)
    eng.seed([])  # empty seed commit
    lo, hi = mirror.profile_ids[0], mirror.profile_ids[-1] + 1
    n = eng.inject_probe_ranges([(lo, hi)], step=1)
    assert n == hi - lo
    eng.run(max_epochs=10)
    docs = {r["doc_id"] for r in eng.documents().collect()}
    # every live profile id was reached without any listing page
    assert docs == {f"foster/{i}" for i in mirror.profile_ids}


def test_probe_dedup_against_seen_and_frontier(spark, tmp_path):
    mirror = M.build_mirror(seed=7, n_pages=2, cats_per_page=10, fail_rate=0.0)
    eng = _engine(spark, mirror, tmp_path)
    eng.seed([])
    lo, hi = mirror.profile_ids[0], mirror.profile_ids[-1] + 1
    first = eng.inject_probe_ranges([(lo, hi)], step=1)
    # second injection: everything already pending -> nothing added
    assert eng.inject_probe_ranges([(lo, hi)], step=1) == 0
    eng.run(max_epochs=1)
    # mid-crawl: the sweep overlaps seen ids; only the 20 ids past the
    # mirror's range are new, and none of them lands on a seen row
    assert eng.inject_probe_ranges([(lo, hi + 20)], step=1) == 20
    assert eng.frontier().join(eng.url_seen(), "url_hash", "left_semi").count() == 0
    eng.run(max_epochs=10)
    # after the crawl everything is seen -> still nothing added
    assert eng.inject_probe_ranges([(lo, hi)], step=1) == 0
    assert first == hi - lo


def test_probe_rows_are_frontier_shaped(spark):
    probes = id_range_probe(spark, M.BASE_URL, [(100, 110)], step=2)
    assert [f.name for f in probes.schema.fields] == [
        f.name for f in schemas.FRONTIER.fields
    ]
    rows = {r["url"]: r for r in probes.collect()}
    assert set(rows) == {f"{M.BASE_URL}/foster/{i}/" for i in (100, 102, 104, 106, 108)}
    assert all(r["status"] == "pending" for r in rows.values())


@pytest.fixture()
def skewed_candidates(spark):
    """One dominant host (3000 urls) + two small hosts, shaped like the
    pending frontier."""
    big = spark.range(0, 3000).select(
        F.concat(F.lit("https://big.test/p/"), F.col("id")).alias("url"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.lit("big.test").alias("host"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.col("id").alias("priority"),
        F.lit(0).alias("epoch"),
        F.lit("pending").alias("status"),
        F.lit(None).cast("string").alias("api_image_1"),
    )
    small = spark.range(3000, 3100).select(
        F.concat(F.lit("https://small.test/p/"), F.col("id")).alias("url"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.when(F.col("id") % 2 == 0, "small.test").otherwise("nobudget.test").alias("host"),
        F.lit(0).alias("depth"),
        F.col("id").alias("priority"),
        F.lit(0).alias("epoch"),
        F.lit("pending").alias("status"),
        F.lit(None).cast("string").alias("api_image_1"),
    )
    return big.unionByName(small)


def test_two_phase_selection_matches_single_window(spark, skewed_candidates):
    budget = spark.createDataFrame(
        [("big.test", 50, 100), ("small.test", 10, 100)],
        "host string, max_per_epoch int, min_delay_ms int",
    )
    annotated = select_budget_annotated(skewed_candidates, budget, n_salts=4)
    chosen = annotated.filter(F.col("chosen"))
    # reference: direct single-window rank (the semantics to preserve)
    joined = skewed_candidates.join(F.broadcast(budget), "host", "left").fillna(
        {"max_per_epoch": 1 << 30, "min_delay_ms": 0}
    )
    polite = joined.filter(
        ~((F.col("min_delay_ms") <= 0) & (F.col("max_per_epoch") >= (1 << 30)))
    )
    w = Window.partitionBy("host").orderBy("depth", "priority", "url_hash")
    ref = (
        polite.withColumn("slot", F.row_number().over(w) - 1)
        .filter(F.col("slot") < F.col("max_per_epoch"))
        .withColumn("seq_in_host", F.col("slot") + 1)
        .withColumn(
            "scheduled_ms", F.col("slot").cast("long") * F.col("min_delay_ms")
        )
    )
    got = {
        (r["url_hash"], r["slot"], r["seq_in_host"], r["scheduled_ms"])
        for r in chosen.filter(F.col("host") != "nobudget.test").collect()
    }
    want = {
        (r["url_hash"], r["slot"], r["seq_in_host"], r["scheduled_ms"])
        for r in ref.collect()
    }
    assert got == want
    assert len(want) == 60  # 50 big + 10 small


def test_two_phase_prune_bounds_global_window(spark, skewed_candidates):
    """Survivors of phase 1 (the global window's input) are bounded by
    prune_salts * budget per host, not the host's frontier size."""
    budget = spark.createDataFrame(
        [("big.test", 50, 100)], "host string, max_per_epoch int, min_delay_ms int"
    )
    prune_salts = 8
    joined = skewed_candidates.filter(F.col("host") == "big.test").join(
        F.broadcast(budget), "host"
    )
    w_local = Window.partitionBy("host", "_psalt").orderBy(
        "depth", "priority", "url_hash"
    )
    contenders = (
        joined.withColumn("_psalt", F.pmod("url_hash", F.lit(prune_salts)).cast("int"))
        .withColumn("_lrn", F.row_number().over(w_local))
        .filter(F.col("_lrn") <= F.col("max_per_epoch"))
    )
    n = contenders.count()
    assert n <= prune_salts * 50
    assert n < 3000  # actually pruned vs the raw frontier


def test_free_host_all_chosen_null_seq(spark, skewed_candidates):
    """Hosts absent from host_budget: politeness is vacuous — all
    chosen, seq_in_host NULL (per-host order undefined by contract)."""
    budget = spark.createDataFrame(
        [("big.test", 50, 100)], "host string, max_per_epoch int, min_delay_ms int"
    )
    annotated = select_budget_annotated(skewed_candidates, budget, n_salts=4)
    free = annotated.filter(F.col("host").isin("small.test", "nobudget.test"))
    rows = free.collect()
    assert rows and all(r["chosen"] for r in rows)
    assert all(r["seq_in_host"] is None for r in rows)
    assert all(0 <= r["shard"] < 4 for r in rows)


def test_robots_allowed_prefix_rules(spark):
    from webscrape_neko_jirushi_spark.crawl.politeness import robots_allowed

    rules = {"a.test": ["/private/", "/tmp/"], "b.test": ["/"]}
    df = spark.createDataFrame(
        [
            ("https://a.test/private/x", "a.test"),
            ("https://a.test/public/x", "a.test"),
            ("https://b.test/anything", "b.test"),
            ("https://c.test/private/x", "c.test"),  # no rules -> allowed
        ],
        "url string, host string",
    )
    got = {
        r["url"]: r["ok"]
        for r in df.withColumn(
            "ok", robots_allowed(F.col("url"), F.col("host"), rules, spark)
        ).collect()
    }
    assert got == {
        "https://a.test/private/x": False,
        "https://a.test/public/x": True,
        "https://b.test/anything": False,
        "https://c.test/private/x": True,
    }


def test_robots_wired_into_engine(spark, tmp_path):
    """T4: a disallowed profile is never fetched, never a document, and
    never re-queued, while the rest of the crawl is unaffected."""
    mirror = M.build_mirror(seed=7, n_pages=2, cats_per_page=10, fail_rate=0.0)
    blocked_id = mirror.profile_ids[3]
    pages = spark.createDataFrame(mirror.rows(), schemas.PAGES)
    budget = spark.createDataFrame(
        M.host_budget_rows(BUDGET, MIN_DELAY), schemas.HOST_BUDGET
    )
    eng = CrawlEngine(
        spark,
        SnapshotStore(tmp_path, spark),
        MirrorFetcher(pages),
        budget,
        M.BASE_URL,
        fetch_images=False,
        robots_map={M.MAIN_HOST: [f"/foster/{blocked_id}/"]},
    )
    eng.seed([M.listing_url(1)])
    eng.run(max_epochs=15)
    fetched = {r["url"] for r in eng.fetch_log().collect()}
    assert f"{M.BASE_URL}/foster/{blocked_id}/" not in fetched
    docs = {r["doc_id"] for r in eng.documents().collect()}
    assert f"foster/{blocked_id}" not in docs
    # every other live profile still crawled
    others = {f"foster/{i}" for i in mirror.profile_ids if i != blocked_id}
    assert others <= docs
    # and nothing disallowed lingers in the frontier
    assert eng.frontier().filter(
        F.col("url").contains(f"/foster/{blocked_id}/")
    ).count() == 0


def test_media_binary_sink(spark, tmp_path):
    """S8: image fetches land in the committed binary media table in the
    same atomic epoch commit; payload deterministic (md5-of-url blob in
    the mirror; real bytes in production)."""
    mirror = M.build_mirror(seed=7, n_pages=1, cats_per_page=8, fail_rate=0.0)
    pages = spark.createDataFrame(mirror.rows(), schemas.PAGES)
    budget = spark.createDataFrame(
        M.host_budget_rows(200, 0), schemas.HOST_BUDGET
    )
    eng = CrawlEngine(
        spark,
        SnapshotStore(tmp_path, spark),
        MirrorFetcher(pages),
        budget,
        M.BASE_URL,
        fetch_images=True,
    )
    eng.seed([M.listing_url(1)])
    eng.run(max_epochs=10)
    media = eng.media().collect()
    n_img = eng.fetch_log().filter(
        (F.col("status_code") == 200) & F.col("content_type").startswith("image/")
    ).count()
    assert len(media) == n_img > 0
    import hashlib

    for r in media[:10]:
        # 16-byte deterministic payload stub; size_bytes is the
        # pseudo-realistic metadata value (1-49 KB band)
        assert r["content"] == hashlib.md5(r["url"].encode()).digest()
        assert 1008 <= r["size_bytes"] <= (3062 + 63) * 16


def test_complete_pipeline_orchestrator(spark, tmp_path):
    """D1-D4: crawl -> probe -> clean -> dedup -> one-row report, with
    stage flags and preconditions."""
    from webscrape_neko_jirushi_spark.plans.pipeline import CompletePipeline

    mirror = M.build_mirror(seed=7, n_pages=1, cats_per_page=8, fail_rate=0.0)
    pages = spark.createDataFrame(mirror.rows(), schemas.PAGES)
    budget = spark.createDataFrame(M.host_budget_rows(200, 0), schemas.HOST_BUDGET)
    eng = CrawlEngine(
        spark, SnapshotStore(tmp_path, spark), MirrorFetcher(pages), budget,
        M.BASE_URL, fetch_images=True,
    )
    eng.seed([M.listing_url(1)])
    result = CompletePipeline(eng, cascade="advanced", max_epochs=10).run()
    assert result.stages_completed == {
        "scraping": True, "cleaning": True, "dedup": True,
    }
    assert result.errors == []
    row = result.report.collect()[0]
    assert row["total_images"] > 0
    assert 0 < row["surviving_images"] <= row["total_images"]
    assert row["scraping_completed"] and row["cleaning_completed"]
    # dedup really deduplicates: survivor md5s unique
    surv = result.survivors
    assert surv.count() == surv.select("md5").distinct().count()


def test_complete_pipeline_precondition_failure(spark, tmp_path):
    from webscrape_neko_jirushi_spark.plans.pipeline import CompletePipeline

    mirror = M.build_mirror(seed=7, n_pages=1, cats_per_page=4, fail_rate=0.0)
    pages = spark.createDataFrame(mirror.rows(), schemas.PAGES)
    budget = spark.createDataFrame(M.host_budget_rows(200, 0), schemas.HOST_BUDGET)
    eng = CrawlEngine(
        spark, SnapshotStore(tmp_path, spark), MirrorFetcher(pages), budget,
        M.BASE_URL,
    )
    # never seeded: stage-1 precondition fails, report still emitted
    result = CompletePipeline(eng, max_epochs=2).run()
    assert result.stages_completed["scraping"] is False
    assert result.errors and "precondition" in result.errors[0]


# ===========================================================================
# X71: adaptive per-host politeness (AIMD)
# ===========================================================================

def test_adaptive_delays_semantics_and_twin(spark):
    import duckdb
    import pytest

    from webscrape_neko_jirushi_spark.crawl.politeness import (
        adaptive_host_delays,
        adaptive_host_delays_sql,
    )

    budget = spark.createDataFrame(
        [("bad", 10, 1001), ("good", 10, 1001), ("mixed", 10, 1001),
         ("idle", 10, 777), ("capped", 10, 50_000), ("floored", 10, 520),
         ("nullrows", 10, 1001)],
        "host string, max_per_epoch int, min_delay_ms long",
    )
    log_rows = (
        [("bad", 500, None)] * 3 + [("bad", 200, None)] * 2          # 60% err
        + [("good", 200, None)] * 5                                   # clean
        + [("mixed", 200, None)] * 19 + [("mixed", None, "timeout")]  # 5% err
        + [("capped", 429, None)] * 5
        + [("floored", 200, None)] * 4
        # all-NULL status AND error: non-errors (three-valued logic
        # must not sum _n_err to NULL and silently hold where the
        # twin probes)
        + [("nullrows", None, None)] * 3
    )
    log = spark.createDataFrame(log_rows, "host string, status_code int, error string")
    out = {
        r["host"]: r["min_delay_ms"]
        for r in adaptive_host_delays(
            budget, log, backoff_num=3, backoff_den=2
        ).collect()
    }
    assert out["bad"] == 1001 * 3 // 2      # multiplicative backoff, floor-div
    assert out["good"] == 1001 - 100        # additive probe
    assert out["mixed"] == 1001             # 5% < 10% threshold, has errors: hold
    assert out["idle"] == 777               # no traffic: hold
    assert out["capped"] == 60_000          # cap binds
    assert out["floored"] == 500            # floor binds (520-100 -> 500)
    assert out["nullrows"] == 1001 - 100    # NULL rows are clean: probe

    con = duckdb.connect()
    con.register("b", budget.toPandas())
    con.register("l", log.toPandas())
    want = {
        h: int(d)
        for h, _m, d in con.execute(
            adaptive_host_delays_sql("b", "l", backoff_num=3, backoff_den=2)
        ).fetchall()
    }
    assert out == want

    with pytest.raises(ValueError, match="backoff"):
        adaptive_host_delays(budget, log, backoff_num=1)
