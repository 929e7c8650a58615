"""Session-artifact cache contract (operators/artifacts.py)."""

from __future__ import annotations

import pytest

from eventlog_spark.operators import artifacts, bpe_scale, curation
from eventlog_spark.operators.bpe_scale import BPE_SCALED_MERGES
from eventlog_spark.operators.curation import BPE_MERGES


def test_cache_hits_and_keying(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(artifacts, "_CACHE", {})
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3)

    a = artifacts.shared(spark, sf_dir, "t", build)
    b = artifacts.shared(spark, sf_dir, "t", build)
    assert a is b and calls["n"] == 1          # second call = cache hit
    artifacts.shared(spark, sf_dir, "other", build)
    assert calls["n"] == 2                      # different name = rebuild
    artifacts.shared(spark, sf_dir + "/x", "t", build)
    assert calls["n"] == 3                      # different dataset = rebuild


def test_disabled_flag_bypasses_cache(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(artifacts, "_CACHE", {})
    monkeypatch.setattr(artifacts, "ENABLED", False)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(2)

    artifacts.shared(spark, sf_dir, "t", build)
    artifacts.shared(spark, sf_dir, "t", build)
    assert calls["n"] == 2 and not artifacts._CACHE  # fresh build each time


def test_cached_values_equal_fresh_build(spark, sf_dir, monkeypatch):
    """The cache must be value-invisible: a cached artifact returns
    exactly what an uncached build returns (here: the IVF answer set)."""
    from eventlog_spark.operators.similarity import ann_ivf_probed

    monkeypatch.setattr(artifacts, "_CACHE", {})
    cached = {tuple(r) for r in ann_ivf_probed(spark, sf_dir).collect()}
    monkeypatch.setattr(artifacts, "ENABLED", False)
    fresh = {tuple(r) for r in ann_ivf_probed(spark, sf_dir).collect()}
    assert cached == fresh and cached


def test_persisted_bundle_write_once_and_fingerprinting(
    spark, sf_dir, tmp_path, monkeypatch
):
    """persisted_bundle writes each table once per (dataset, params)
    fingerprint, serves later calls from disk without invoking the
    builder, and re-trains when the params change."""
    import os

    from pyspark.sql import functions as F

    monkeypatch.setattr(artifacts, "ARTIFACT_ROOT", str(tmp_path))
    calls = {"n": 0}

    def build_all():
        calls["n"] += 1
        return {"tbl": spark.range(6).withColumn("p", F.col("id") % 2)}

    spec = [("tbl", ("p",))]
    tabs = artifacts.persisted_bundle(
        spark, sf_dir, spec, build_all, inputs=("embeddings",), params="a"
    )
    assert tabs["tbl"].count() == 6 and calls["n"] == 1
    # second call (≙ a cold new session): served from disk, no rebuild
    tabs2 = artifacts.persisted_bundle(
        spark, sf_dir, spec, build_all, inputs=("embeddings",), params="a"
    )
    assert calls["n"] == 1 and tabs2["tbl"].count() == 6
    # changed training params → new fingerprint → retrain. The
    # SUPERSEDED fingerprint of the same (name, dataset) is NOT deleted
    # immediately (round-6 advice: a concurrent session may still hold
    # lazy DataFrames over the old path) — it survives the grace window…
    artifacts.persisted_bundle(
        spark, sf_dir, spec, build_all, inputs=("embeddings",), params="b"
    )
    assert calls["n"] == 2
    dirs = [p for p in os.listdir(tmp_path) if p.startswith("tbl-")]
    assert len(dirs) == 2, f"superseded dir GC'd inside grace window: {dirs}"
    # …and is GC'd once older than the grace period: with grace forced
    # negative, the next publish sweeps every superseded fingerprint,
    # leaving exactly one live dir per artifact per dataset.
    monkeypatch.setattr(artifacts, "GC_GRACE_SECONDS", -1)
    artifacts.persisted_bundle(
        spark, sf_dir, spec, build_all, inputs=("embeddings",), params="c"
    )
    assert calls["n"] == 3
    dirs = [p for p in os.listdir(tmp_path) if p.startswith("tbl-")]
    assert len(dirs) == 1, f"stale fingerprints not GC'd past grace: {dirs}"
    # partition layout is real directory partitioning (file pruning)
    assert {"p=0", "p=1"} <= set(os.listdir(os.path.join(tmp_path, dirs[0])))


def test_persisted_bundle_describes_its_jobs(spark, sf_dir, tmp_path, monkeypatch):
    """A cold bundle's Spark jobs say what they build: the build runs
    under ``artifact <names>: build`` and each table write under
    ``artifact <name>: write`` (its tasks record the description into
    the written rows); the caller's description and job group come back
    afterwards."""
    import pandas as pd
    from pyspark import TaskContext

    monkeypatch.setattr(artifacts, "ARTIFACT_ROOT", str(tmp_path))
    key = "spark.job.description"
    seen = {}

    def described(batches):
        for b in batches:
            d = TaskContext.get().getLocalProperty(key)
            yield pd.DataFrame({"id": b["id"], "d": d})

    def build():
        seen["build"] = spark.sparkContext.getLocalProperty(key)
        return {
            n: spark.range(2).mapInPandas(described, "id long, d string")
            for n in ("ta", "tb")
        }

    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller")
    try:
        tabs = artifacts.persisted_bundle(
            spark, sf_dir, [("ta", None), ("tb", ("id",))], build,
            inputs=("embeddings",), params="describe",
        )
        assert sc.getLocalProperty(key) == "caller"
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        for prop in ("spark.jobGroup.id", key):
            sc.setLocalProperty(prop, None)
    assert seen["build"] == "artifact ta+tb: build"
    for n in ("ta", "tb"):
        assert {r["d"] for r in tabs[n].collect()} == {f"artifact {n}: write"}


def test_ivf_pq_served_cold_without_retraining(spark, sf_dir, tmp_path, monkeypatch):
    """The offline-train/online-serve split end-to-end: once the
    codebook/codes tables exist, a NEW session (empty artifact cache)
    serves ann_ivf_pq from the tables — the trainer must not run."""
    from eventlog_spark.operators import curation

    monkeypatch.setattr(artifacts, "ARTIFACT_ROOT", str(tmp_path))
    monkeypatch.setattr(artifacts, "_CACHE", {})
    first = {tuple(r) for r in curation._ivf_pq_build(spark, sf_dir).collect()}

    monkeypatch.setattr(artifacts, "_CACHE", {})  # simulate a fresh session

    def boom(*a, **k):
        raise AssertionError("offline trainer ran although tables exist")

    monkeypatch.setattr(curation, "_pq_offline_frames", boom)
    second = {tuple(r) for r in curation._ivf_pq_build(spark, sf_dir).collect()}
    assert first == second and first


@pytest.mark.parametrize("n_merges", [BPE_MERGES, BPE_SCALED_MERGES])
def test_bpe_served_cold_without_retraining(
    spark, sf_dir, tmp_path, monkeypatch, n_merges
):
    """The tokenizer's offline/online split: once a merge count's
    merge-table and vocabulary tables exist, a NEW session serves its
    train and encode queries from them — the trainer must not run."""
    train, encode = {
        BPE_MERGES: (curation.text_bpe_train, curation.text_bpe_encode),
        BPE_SCALED_MERGES: (
            bpe_scale.text_bpe_train_scaled,
            bpe_scale.text_bpe_encode_scaled,
        ),
    }[n_merges]
    monkeypatch.setattr(artifacts, "ARTIFACT_ROOT", str(tmp_path))
    monkeypatch.setattr(artifacts, "_CACHE", {})
    first = {tuple(r) for r in train(spark, sf_dir).collect()}
    assert len(first) == n_merges

    monkeypatch.setattr(artifacts, "_CACHE", {})  # simulate a fresh session

    def boom(*a, **k):
        raise AssertionError("BPE trainer ran although tables exist")

    monkeypatch.setattr(bpe_scale, "bpe_train_iterative", boom)
    second = {tuple(r) for r in train(spark, sf_dir).collect()}
    assert first == second
    assert encode(spark, sf_dir).count() > 0  # encode serves from the vocab table
