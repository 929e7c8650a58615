"""Dense gapless sequence assignment at cluster scale.

Spark has no ``monotonically_increasing_dense_id``; the naive fix —
``row_number()`` over an unpartitioned window — funnels every row
through ONE task, which is exactly the bottleneck a 100 TB ingest
cannot afford. Even ``row_number() over (partition by pid)`` hash-
shuffles the full dataset on pid.

``with_dense_versions`` is the one implementation. It builds on
Spark's ``monotonically_increasing_id()`` (== partition_id * 2^33 +
row index within the partition, a stable documented layout):

1. put every row in a bucket — a range of the order keys, or for
   arrival order the source partition itself;
2. ONE column-pruned job counts the rows per bucket (partial
   aggregation: the shuffle carries one row per task × bucket);
3. exclusive prefix sums on the driver (≤ #buckets values);
4. ONE full pass: bucket b lands in partition b, sorted by the order
   keys (in arrival order it already is partition b, in order), and
   ``version = base + offset[b] + row index + 1``.

Versions are dense and gapless, and follow the order keys exactly —
all the reference's version contract requires (versions are opaque,
SURVEY §1.1). Arrival order (no ``order_cols``) is the source's
partition-major row order. Nothing is cached: the count job and the
write job each read the source (the determinism contract below).

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


# -- single-materialization versioning ----------------------------------------
#
# A cached frame would let the count and the write share one
# materialization, but the cache is sized like the whole batch —
# exactly what guide §5 warns against holding. Instead:
#
# 1. bucket the rows. Ordered ingest samples the order keys
#    (column-pruned scan) → range-bucket boundaries, our own version of
#    the sampling pass ``repartitionByRange`` pays internally. In
#    arrival order the bucket IS the source partition: no sample and
#    no shuffle. Measured on 4 cores, sampling source row ids like an
#    order key instead (to spread a narrow source over the cores) cost
#    a 16-partition micro-batch stream 5x its throughput and a 2M-row,
#    4-partition parquet append 2x its time, and gained nothing on a
#    1-partition 1M-row source (Spark's file scan already splits a
#    large file into partitions);
# 2. ONE cheap job: per-bucket row counts via map-side partial
#    aggregation over the bucket expression only — the scan prunes
#    away the payload and the shuffle carries one row per (task ×
#    bucket). In error mode the (expensive) validity expression does
#    NOT run here: it is evaluated inside the write job and surfaced
#    as an ``observe`` metric the committer checks before any staged
#    file becomes visible — all-or-nothing is preserved because the
#    staging dir is private and discarded on the raise. Drop mode
#    must count only valid rows, so it filters ahead of both jobs
#    (the boundary sample skips the filter);
# 3. driver: exclusive prefix sums over the bucket counts = version
#    offsets;
# 4. ONE full pass: tag each row with its bucket, STEER bucket b into
#    physical partition b (see below), sort within partition by the
#    order cols, version = base + offset[pid] + rn + 1, write. The
#    payload crosses the cluster at most once (never in arrival
#    order) and is never cached.
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
# Determinism contract: the count job and the write job must put the
# same rows in the same buckets. Ordered ingest needs the same key
# values in both (the bucket CASE tree and the boundaries are fixed
# literals); arrival order needs the same per-partition row counts
# (not the order of rows inside a partition). Parquet sources and a
# ``foreachBatch`` micro-batch (a replayable offset range) keep both.
# A source whose shuffles adaptive execution sizes at run time does
# not: each job would coalesce (or split) them from its own map
# output, and the column-pruned count job moves far fewer bytes than
# the write. Arrival order therefore pins such a source first
# (``_pinned``). A nondeterministic upstream
# (say an unordered ``limit()``) may still break the contract: the
# committer then finds files that do not tile the counted range and
# aborts the commit before anything is visible
# (``log._check_bulk_range``).

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


def _pinned(df: DataFrame) -> DataFrame:
    """``df`` with its partitions fixed for every later job. A plan
    that adaptive execution re-plans per job (one holding a shuffle)
    runs its shuffle stages once, here, and the result reads that
    run's RDD, whose map stages later jobs skip; any other plan is
    returned as is. This is how Spark hands a ``foreachBatch``
    micro-batch over. Nothing is cached: the shuffle files are the
    ones Spark keeps anyway."""
    qe = df._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() != "AdaptiveSparkPlanExec":
        return df
    jdf = df.sparkSession._jsparkSession.internalCreateDataFrame(
        qe.toRdd(), df._jdf.schema(), False
    )
    return type(df)(jdf, df.sparkSession)


@dataclass
class VersionedFrame:
    """Result of :func:`with_dense_versions`.

    ``df``: versioned frame whose first (only) action runs the single
    full pass. ``total``: exact row count (from the pruned count job).
    ``invalid_observed``: callable returning the invalid-row tally the
    write job OBSERVED — only valid after the frame's action has run
    (the committer calls it between the staged write and the rename);
    always 0 when invalid rows were dropped."""

    df: DataFrame
    total: int
    invalid_observed: Callable[[], int]


def with_dense_versions(
    df: DataFrame,
    base: int,
    order_cols: list[str] | None = None,
    col_name: str = "version",
    valid_expr: Column | None = None,
    drop_invalid: bool = False,
    invalid_alias: str = "_invalid",
) -> VersionedFrame:
    """Dense versioning with ONE materialization of the batch (see the
    comment block above): versions ``base + 1 …`` in ``order_cols``
    order, or in arrival (partition-major source) order when
    ``order_cols`` is None. ``valid_expr`` is tallied through an
    ``observe`` metric on the write, or, with ``drop_invalid``, filters
    the rows ahead of the count job and the write."""
    from pyspark.sql import Observation

    spark = df.sparkSession
    arrival = order_cols is None
    if arrival:
        df = _pinned(df)
        bkt = F.spark_partition_id()
    else:
        n_target = max(1, spark.sparkContext.defaultParallelism)
        bounds = _sample_boundaries(df, order_cols, n_target)
        nb = len(bounds) + 1
        bkt = _bucket_expr(order_cols, bounds) if bounds else F.lit(0)
    if valid_expr is not None and drop_invalid:
        df = df.where(valid_expr)

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

    if arrival:
        # bucket b is source partition b, already in arrival order
        ordered = df
    else:
        steer = _steering_values(nb)
        steer_arr = F.array(*[F.lit(s).cast("long") for s in steer])
        ordered = (
            df.withColumn("_bkt", bkt)
            .withColumn(
                "_steer", F.element_at(steer_arr, (F.col("_bkt") + 1).cast("int"))
            )
            .repartition(nb, "_steer")
            .sortWithinPartitions(*order_cols)
            .drop("_bkt", "_steer")
        )
    mask = (1 << _PARTITION_BITS) - 1
    numbered = (
        ordered.withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", _PARTITION_BITS).cast("int"))
        .withColumn("_rn", F.col("_mid").bitwiseAND(F.lit(mask)))
        .drop("_mid")
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
    if valid_expr is None or drop_invalid:
        return VersionedFrame(df=out, total=acc, invalid_observed=lambda: 0)
    obs = Observation()
    out = out.observe(
        obs, F.sum(F.when(~valid_expr, 1).otherwise(0)).alias(invalid_alias)
    )

    def invalid_observed() -> int:
        return int(obs.get.get(invalid_alias) or 0)

    return VersionedFrame(df=out, total=acc, invalid_observed=invalid_observed)


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
