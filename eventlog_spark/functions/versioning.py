"""Dense gapless sequence assignment at cluster scale.

Spark has no ``monotonically_increasing_dense_id``; the naive fix —
``row_number()`` over an unpartitioned window — funnels every row
through ONE task, which is exactly the bottleneck a 100 TB ingest
cannot afford. Even ``row_number() over (partition by pid)`` hash-
shuffles the full dataset on pid.

The shuffle-free technique used here decomposes Spark's
``monotonically_increasing_id()`` (== partition_id * 2^33 + row index
within the partition, a stable documented layout):

1. narrow map: tag each row with (pid, rn) from the id — zero shuffle;
2. ``groupBy(pid).count()`` — partial aggregation means the shuffle
   carries ONE row per (input partition × reducer), trivially small;
3. exclusive prefix sums on the driver (≤ #partitions values);
4. broadcast-join offsets back: ``version = base + offset[pid] + rn + 1``.

The resulting order is partition-major: stable, dense, gapless — all
the reference's version contract requires (versions are opaque,
SURVEY §1.1). Pass ``order_cols`` for a meaningful total order (costs
a range-partitioning sort shuffle, still never a 1-task funnel).

Determinism caveat: the ids must come from one stable scan. Within a
single write job (our use: EventLog.append_dataframe commits) that
holds; across separate actions, persist first.

Also here: the hex version codec (O25, reference
internal/hex/readUint64.go, writeUint64.go) — versions render as
lowercase hex strings at the API edge.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PARTITION_BITS = 33  # monotonically_increasing_id: id = pid << 33 | row_idx


@dataclass
class VersionedBatch:
    """Result of :func:`with_dense_versions_counted`.

    ``df``: input + dense version column. ``total``: exact row count
    (free from the per-partition count pass — the committer publishes the
    new head without re-scanning). ``invalid``: rows failing
    ``valid_col`` (0 when not requested) — folded into the same count
    pass so validation costs no extra job. ``unpersist``: release the
    cached tagged frame once the last downstream action has run."""

    df: DataFrame
    total: int
    invalid: int
    unpersist: Callable[[], None]


def with_dense_versions_counted(
    df: DataFrame,
    base: int = 0,
    col_name: str = "version",
    order_cols: list[str] | None = None,
    persist: bool = False,
    valid_col: str | None = None,
) -> VersionedBatch:
    """Dense versioning with the count pass doubling as a validity audit.

    With ``persist=True`` the post-shuffle tagged frame is cached, so the
    count pass *and* every later action on the returned frame (the final
    write) reuse one materialization instead of re-running the upstream
    scan/shuffle. With ``valid_col`` set (a boolean column present on
    ``df``), invalid rows are tallied inside the same per-partition
    aggregate — no separate probe job."""
    if order_cols:
        df = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)

    mask = (1 << _PARTITION_BITS) - 1
    numbered = (
        df.withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", _PARTITION_BITS).cast("int"))
        .withColumn("_rn", F.col("_mid").bitwiseAND(F.lit(mask)))
        .drop("_mid")
    )
    if persist:
        numbered = numbered.persist()

    aggs = [F.count(F.lit(1)).alias("count")]
    if valid_col is not None:
        aggs.append(
            F.sum(F.when(~F.col(valid_col), 1).otherwise(0)).alias("invalid")
        )
    counts = numbered.groupBy("_pid").agg(*aggs).collect()  # ≤ #partitions rows
    offsets: list[tuple[int, int]] = []
    acc = 0
    bad = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["count"]
        if valid_col is not None:
            bad += int(row["invalid"] or 0)

    spark = df.sparkSession
    offset_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _offset long")
    out = (
        numbered.join(F.broadcast(offset_df), "_pid", "left")
        .withColumn(
            col_name,
            F.lit(base) + F.coalesce("_offset", F.lit(0)) + F.col("_rn") + F.lit(1),
        )
        .drop("_pid", "_rn", "_offset")
    )
    unpersist = (lambda: numbered.unpersist()) if persist else (lambda: None)
    return VersionedBatch(df=out, total=acc, invalid=bad, unpersist=unpersist)


# -- single-materialization ordered versioning (round 13) ---------------------
#
# The persist-based path above materializes the batch TWICE: the count
# job builds the columnar cache, the write job reads it back. For an
# ORDERED bulk append (order_cols given) the cache — sized like the
# whole batch, exactly what guide §5 warns against holding — can be
# removed entirely:
#
# 1. sample the order keys (column-pruned scan) → range-bucket
#    boundaries, our own version of the sampling pass
#    ``repartitionByRange`` was already paying internally;
# 2. ONE cheap job: per-bucket row counts via map-side partial
#    aggregation over the ORDER COLUMNS ONLY — the scan prunes away
#    the payload entirely and the shuffle carries one row per
#    (task × bucket). The (expensive) validity expression does NOT run
#    here: it is evaluated post-shuffle inside the write job and
#    surfaced as an ``observe`` metric the committer checks before any
#    staged file becomes visible — all-or-nothing is preserved because
#    the staging dir is private and discarded on the raise;
# 3. driver: exclusive prefix sums over the bucket counts = version
#    offsets, as before;
# 4. ONE full pass: tag each row with its bucket, STEER bucket b into
#    physical partition b (see below), sort within partition by the
#    order cols, version = base + offset[pid] + rn + 1, write. The
#    payload crosses the cluster exactly once and is never cached.
#
# The steering trick: ``repartition(n, col)`` places rows by
# pmod(murmur3(col), n), which would scatter buckets across partitions
# and break the per-file version/label contiguity the manifest pruning
# relies on. So the driver picks, for each bucket b, a small long
# s_b with pmod(murmur3(s_b), n) == b (``_mmh3_long`` replicates
# Spark's Murmur3Hash for longs bit-exactly — pinned by test), and the
# rows carry s_b as the shuffle key: bucket b lands in partition b,
# partitions stay contiguous key ranges, fragment footers prune
# exactly as with repartitionByRange.
#
# Determinism contract: the bucket expression, the validity filter and
# the source must reproduce the same rows across the two jobs (the
# bucket CASE tree and the boundaries are fixed literals; parquet
# sources are stable). Callers with nondeterministic upstreams should
# checkpoint first — the same caveat the persisted path documented for
# its cache-loss window, now load-bearing for the count/write pair.

_STEER_CACHE: dict[int, list[int]] = {}


def _mmh3_long(v: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of a LongType value (Murmur3_x86_32.hashLong:
    two 32-bit little-endian halves), returned as signed int32 — equals
    ``F.hash(long_col)``. Verified bit-exact in tests."""

    def mix_k1(k1: int) -> int:
        k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        return (k1 * 0x1B873593) & 0xFFFFFFFF

    def mix_h1(h1: int, k1: int) -> int:
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
        return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF

    u = v & 0xFFFFFFFFFFFFFFFF
    h1 = mix_h1(seed, mix_k1(u & 0xFFFFFFFF))
    h1 = mix_h1(h1, mix_k1((u >> 32) & 0xFFFFFFFF))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _steering_values(n: int) -> list[int]:
    """s[b] = smallest long with pmod(murmur3(s[b]), n) == b, so
    ``repartition(n, lit_array[bucket])`` maps bucket b to physical
    partition b. O(n log n) expected probes, memoized per n."""
    cached = _STEER_CACHE.get(n)
    if cached is not None:
        return cached
    out: dict[int, int] = {}
    v = 0
    while len(out) < n:
        p = _mmh3_long(v) % n
        out.setdefault(p if p >= 0 else p + n, v)
        v += 1
    vals = [out[b] for b in range(n)]
    _STEER_CACHE[n] = vals
    return vals


def _order_key(order_cols: list[str]) -> Column:
    return (
        F.col(order_cols[0])
        if len(order_cols) == 1
        else F.struct(*[F.col(c) for c in order_cols])
    )


def _bucket_expr(order_cols: list[str], boundaries: list[tuple]) -> Column:
    """Bucket index via a balanced CASE tree (binary search over the
    sorted boundary tuples — log2(n) struct comparisons per row instead
    of n). Rows equal to a boundary go LEFT (<=). NULL keys go to bucket
    0, matching the ascending sort's nulls-first order: a NULL
    single-column key is routed there explicitly (its comparison is
    NULL), and a struct key with NULL fields already compares below
    every NULL-free boundary."""
    key = _order_key(order_cols)

    def lit_tuple(b: tuple) -> Column:
        if len(order_cols) == 1:
            return F.lit(b[0])
        return F.struct(
            *[F.lit(v).alias(order_cols[i]) for i, v in enumerate(b)]
        )

    def build(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(key <= lit_tuple(boundaries[mid]), build(lo, mid)).otherwise(
            build(mid + 1, hi)
        )

    if len(order_cols) == 1:
        return F.when(key.isNull(), F.lit(0)).otherwise(build(0, len(boundaries)))
    return build(0, len(boundaries))


def _sample_boundaries(
    src: DataFrame, order_cols: list[str], n_target: int
) -> list[tuple]:
    """Range-bucket boundaries from a seeded key sample (the same job
    ``repartitionByRange`` runs internally, but column-pruned and with
    the result kept so the count job can share the buckets). The sample
    fraction comes from the optimizer's size estimate; a wild
    under-estimate only costs balance, never correctness, and the
    collect is capped at twice the target. Keys holding a NULL are left
    out of the sample (Python cannot order None against values, and
    ``_bucket_expr`` routes them to bucket 0 anyway)."""
    keys = src.select(*order_cols)
    try:
        est_bytes = int(
            keys._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        est_bytes = 1 << 40
    est_rows = max(1, est_bytes // 32)
    target = min(100 * n_target, 1_000_000)
    frac = min(1.0, target / est_rows)
    sample = [
        tuple(r)
        for r in keys.where(F.rand(42) < frac).dropna().limit(2 * target).collect()
    ]
    if len(sample) < 2:
        return []
    sample.sort()
    step = len(sample) / n_target
    bounds: list[tuple] = []
    for i in range(1, n_target):
        b = sample[min(len(sample) - 1, int(i * step))]
        if not bounds or b > bounds[-1]:
            bounds.append(b)
    return bounds


@dataclass
class StreamedBatch:
    """Result of :func:`with_dense_versions_streamed`.

    ``df``: versioned frame whose first (only) action runs the single
    full pass. ``total``: exact row count (from the pruned count job).
    ``invalid_observed``: callable returning the invalid-row tally the
    write job OBSERVED — only valid after the frame's action has run
    (the committer calls it between the staged write and the rename)."""

    df: DataFrame
    total: int
    invalid_observed: Callable[[], int]


def with_dense_versions_streamed(
    df: DataFrame,
    base: int,
    order_cols: list[str],
    col_name: str = "version",
    valid_expr: Column | None = None,
    invalid_alias: str = "_invalid",
) -> StreamedBatch:
    """Ordered dense versioning with ONE materialization of the batch
    (see the module comment block above). The count job is pruned to
    the ORDER COLUMNS only — the (expensive) validity expression is
    attached after the steered shuffle, evaluated at full parallelism
    inside the write job, and surfaced through an ``observe`` metric
    instead of its own pass."""
    from pyspark.sql import Observation

    spark = df.sparkSession
    n_target = max(1, spark.sparkContext.defaultParallelism)
    bounds = _sample_boundaries(df, order_cols, n_target)
    nb = len(bounds) + 1
    bkt = _bucket_expr(order_cols, bounds) if bounds else F.lit(0)

    counts = (
        df.select(bkt.alias("_bkt"))
        .groupBy("_bkt")
        .agg(F.count(F.lit(1)).alias("count"))
        .collect()
    )
    offsets: list[tuple[int, int]] = []
    acc = 0
    for row in sorted(counts, key=lambda r: r["_bkt"]):
        offsets.append((int(row["_bkt"]), acc))
        acc += row["count"]

    steer = _steering_values(nb)
    steer_arr = F.array(*[F.lit(s).cast("long") for s in steer])
    shuffled = (
        df.withColumn("_bkt", bkt)
        .withColumn("_steer", F.element_at(steer_arr, (F.col("_bkt") + 1).cast("int")))
        .repartition(nb, "_steer")
        .sortWithinPartitions(*order_cols)
    )
    mask = (1 << _PARTITION_BITS) - 1
    numbered = (
        shuffled.withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", _PARTITION_BITS).cast("int"))
        .withColumn("_rn", F.col("_mid").bitwiseAND(F.lit(mask)))
        .drop("_mid", "_bkt", "_steer")
    )
    offset_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _offset long")
    out = (
        numbered.join(F.broadcast(offset_df), "_pid", "left")
        .withColumn(
            col_name,
            F.lit(base) + F.coalesce("_offset", F.lit(0)) + F.col("_rn") + F.lit(1),
        )
        .drop("_pid", "_rn", "_offset")
    )
    if valid_expr is None:
        return StreamedBatch(df=out, total=acc, invalid_observed=lambda: 0)
    obs = Observation()
    out = out.observe(
        obs, F.sum(F.when(~valid_expr, 1).otherwise(0)).alias(invalid_alias)
    )

    def invalid_observed() -> int:
        return int(obs.get.get(invalid_alias) or 0)

    return StreamedBatch(df=out, total=acc, invalid_observed=invalid_observed)


# -- hex version codec (O25) -------------------------------------------------


def version_to_hex(col: Column | str) -> Column:
    """uint64 → lowercase variable-length hex (reference writeUint64.go:11-33)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.hex(c))


def hex_to_version(col: Column | str) -> Column:
    """lowercase hex string → long (reference readUint64.go:13-31)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(c, 16, 10).cast("long")


def py_version_to_hex(v: int) -> str:
    return format(v, "x")


def py_hex_to_version(s: str) -> int:
    return int(s, 16)
