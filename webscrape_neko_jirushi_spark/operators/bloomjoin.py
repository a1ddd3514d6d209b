"""Bloom-prefiltered join (SURVEY.md §2.11 X67) — runtime row-level
filtering as a first-class operator: before shuffling a LARGE probe
table into a join, test each key against a compact bloom filter of
the build side's keys and drop the definite non-matches map-side.
The shuffle then moves only might-match rows — at 100 TB, a selective
join's exchange shrinks by orders of magnitude (the same idea as
Spark's own runtime bloom pushdown, made explicit so it applies to
any join the optimizer's heuristics miss, and so the filter can be
REUSED across several joins against the same build side).

Semantics: bit-identical to the plain join for ``inner`` and
``left_semi`` — the bloom only ever drops rows with NO partner (false
positives survive the prefilter and are removed by the exact join
itself; false negatives cannot occur). Outer joins are rejected
loudly: dropping unmatched probe rows would change their result.

Machinery: the sharded ``crawl/bloom.BloomShards`` (distributed
applyInPandas build — the build side is never collected row-wise, the
driver receives n_shards packed bitsets; broadcast-cached
Arrow-vectorized probe). Keys hash through ``xxhash64`` of the
string rendering on BOTH sides (engine-internal; the oracle is plain-
join parity, which is hash-independent).

When NOT to use: if the build side is broadcastable, the broadcast
hash join already probes map-side — a bloom adds nothing. This is the
two-large-tables path, prefilter cost ~ one Arrow scan of the probe
side vs a shuffle of its non-matching majority.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..crawl.bloom import BloomShards

_KH = "_bj_kh"


def bloom_prefiltered_join(
    spark: SparkSession,
    probe: DataFrame,
    build: DataFrame,
    key: str,
    how: str = "inner",
    n_shards: int = 16,
    expected_per_shard: int = 1_000_000,
    fpr: float = 0.01,
) -> tuple[DataFrame, BloomShards]:
    """Join ``probe`` with ``build`` on ``key``, bloom-prefiltering the
    probe side. Returns ``(joined, filter)`` — reuse the filter for
    further joins against the same build side via
    :func:`prefilter_only`. ``how`` in {'inner', 'left_semi'}."""
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_prefiltered_join: how must be inner|left_semi, got {how!r}"
            " — an outer join's unmatched rows would be dropped"
        )
    # NULL-key drop must test the KEY, not its hash: xxhash64(NULL)
    # is the non-null seed constant, so a hash-side isNotNull is dead
    # code — NULL build keys would enter the bloom and NULL probe
    # rows would sail through prefilter_only as 'might-match'
    kh = F.xxhash64(F.col(key).cast("string"))
    filt = BloomShards.build(
        build.filter(F.col(key).isNotNull()).select(kh.alias("url_hash")),
        n_shards=n_shards,
        expected_per_shard=expected_per_shard,
        fpr=fpr,
    )
    pref = prefilter_only(spark, probe, key, filt)
    joined = pref.join(build, on=key, how=how)
    return joined, filt


def prefilter_only(
    spark: SparkSession, probe: DataFrame, key: str, filt: BloomShards
) -> DataFrame:
    """The probe side cut to might-match rows (plus bloom FPs at the
    configured rate) — the exchange input of any subsequent exact join
    against the filter's build side. NULL keys drop (they can never
    equi-join)."""
    kh = F.xxhash64(F.col(key).cast("string"))
    # key-side isNotNull: the hash of NULL is a non-null constant
    out = filt.prefilter(
        spark, probe.filter(F.col(key).isNotNull()).withColumn(_KH, kh), _KH
    )
    return out.filter(F.col("bloom_maybe_seen")).drop(_KH, "bloom_maybe_seen")
