"""BPE trainer (operators/bpe_scale.py) — golden-reference and
plan-shape tests.

The oracle suite (test_oracle.py) already hash-checks every tokenizer
query against the generated DuckDB fold replay;
these tests pin the two properties the oracle can't see: that the
trainer implements EXACTLY the reference algorithm (pure-Python Sennrich
trainer as golden), and that plan depth stays constant in round count
(the whole point of the iterative form)."""

from __future__ import annotations

import os
from collections import Counter

import pytest

from eventlog_spark.operators.bpe_scale import bpe_train_iterative, initial_vocab


# -- pure-Python golden trainer (Sennrich learn_bpe semantics) -----------------


def _golden_vocab(sf_dir: str) -> dict[tuple[str, ...], int]:
    import pyarrow.parquet as pq

    texts = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["text"]
    )["text"].to_pylist()
    words = Counter(
        w for t in texts for w in (t or "").split(" ") if len(w) >= 2
    )
    return {tuple(w): c for w, c in words.items()}


def _golden_merge(syms: tuple[str, ...], left: str, right: str) -> tuple[str, ...]:
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return tuple(out)


def _golden_train(sf_dir: str, n_merges: int):
    vocab = _golden_vocab(sf_dir)
    merges = []
    for k in range(1, n_merges + 1):
        pairs: Counter[str] = Counter()
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[f"{a} {b}"] += cnt
        if not pairs:
            break
        # argmax with (count DESC, pair ASC) tie-break — the trainer's
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        pair, total = best
        left, right = pair.split(" ", 1)
        merges.append((k, pair, left + right, total))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, cnt in vocab.items():
            new_vocab[_golden_merge(syms, left, right)] = (
                new_vocab.get(_golden_merge(syms, left, right), 0) + cnt
            )
        vocab = new_vocab
    return merges, vocab


@pytest.fixture(scope="module")
def trained(spark, sf_dir):
    rounds_seen = []
    merges, vocab = bpe_train_iterative(
        spark, sf_dir, 12, on_round=lambda k, p, t: rounds_seen.append(k)
    )
    return merges, vocab, rounds_seen


def test_matches_pure_python_reference(trained, sf_dir):
    """The distributed trainer must reproduce the reference algorithm
    merge-for-merge: same pairs, same ranks, same counts."""
    merges, _vocab, rounds_seen = trained
    golden, _gv = _golden_train(sf_dir, 12)
    assert merges == golden
    assert rounds_seen == [k for k, *_ in merges]


def test_final_vocab_matches_golden_segmentation(trained, sf_dir):
    """Beyond the merge table: every word's final segmentation must
    match the golden trainer's (the fold applied in the right order),
    and concatenating it must rebuild the word (losslessness)."""
    merges, vocab, _ = trained
    golden_segs: dict[str, tuple[str, ...]] = {}
    gvocab = _golden_vocab(sf_dir)
    for syms in gvocab:
        seg = syms
        for _k, pair, _m, _t in merges:
            left, right = pair.split(" ", 1)
            seg = _golden_merge(seg, left, right)
        golden_segs["".join(syms)] = seg
    rows = vocab.select("word", "syms").collect()
    assert len(rows) == len(golden_segs)
    for r in rows:
        assert tuple(r.syms) == golden_segs[r.word], r.word
        assert "".join(r.syms) == r.word


def test_overlapping_runs_merge_greedily(spark):
    """The semantics a non-overlapping string replace gets wrong
    (ADVICE r6): in ``a a a a a`` the pair (a,a) must merge left-to-
    right into ``aa aa a``, and alternating ``L R L R`` into ``LR LR``."""
    from eventlog_spark.operators.bpe_scale import merge_fold_expr
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(["a"] * 5,), (["L", "R", "L", "R"],), (["x"],), ([],)],
        "syms array<string>",
    )
    out = df.select(
        merge_fold_expr(F.col("syms"), "a", "a").alias("aa"),
        merge_fold_expr(F.col("syms"), "L", "R").alias("lr"),
    ).collect()
    assert out[0].aa == ["aa", "aa", "a"]
    assert out[1].lr == ["LR", "LR"]
    assert out[2].aa == ["x"] and out[2].lr == ["x"]
    assert out[3].aa == [] and out[3].lr == []


def test_plan_depth_constant_in_rounds(spark, sf_dir):
    """The reason this trainer exists: after k rounds the state plans
    are checkpoint scans, not a k-deep unrolled tree. Train 3 vs 9
    rounds and require the final vocabulary's analyzed plan to be the
    same (tiny) size — one unrolled lazy plan would grow linearly."""
    _m3, v3 = bpe_train_iterative(spark, sf_dir, 3)
    _m9, v9 = bpe_train_iterative(spark, sf_dir, 9)
    p3 = v3._jdf.queryExecution().analyzed().toString()
    p9 = v9._jdf.queryExecution().analyzed().toString()
    assert len(p9.splitlines()) == len(p3.splitlines())
    assert "LogicalRDD" in p9  # rooted at the checkpoint, not the corpus scan


def test_snapshot_resume_is_bit_identical(spark, sf_dir, tmp_path):
    """The durable-checkpoint path a production 32k-merge run needs:
    train 4 rounds with snapshots, then 'restart' and continue to 8 —
    the merge table and final segmentations must equal an
    uninterrupted 8-round run's exactly."""
    snapdir = str(tmp_path / "bpe_snap")
    m4, _v4 = bpe_train_iterative(
        spark, sf_dir, 4, snapshot_dir=snapdir, snapshot_every=2
    )
    assert len(m4) == 4
    # resume: a fresh call loads the k=4 snapshot, trains rounds 5-8
    m8_resumed, v8_resumed = bpe_train_iterative(
        spark, sf_dir, 8, snapshot_dir=snapdir, snapshot_every=2
    )
    m8_straight, v8_straight = bpe_train_iterative(spark, sf_dir, 8)
    assert m8_resumed == m8_straight
    assert m8_resumed[:4] == m4
    a = {r.word: (r.cnt, tuple(r.syms)) for r in v8_resumed.collect()}
    b = {r.word: (r.cnt, tuple(r.syms)) for r in v8_straight.collect()}
    assert a == b


def test_snapshot_resume_guards_and_sweep(spark, sf_dir, tmp_path):
    """A snapshot resumes only the run shape it saved: mismatched
    requests raise instead of silently returning other state, and each
    publish sweeps superseded snapshot dirs (pointer-file layout)."""
    snapdir = str(tmp_path / "bpe_guard")
    bpe_train_iterative(spark, sf_dir, 4, snapshot_dir=snapdir, snapshot_every=2)
    with pytest.raises(ValueError, match="past the requested"):
        bpe_train_iterative(spark, sf_dir, 2, snapshot_dir=snapdir, snapshot_every=2)
    probe_vocab = initial_vocab(spark, sf_dir)
    with pytest.raises(ValueError, match="vocab_df"):
        bpe_train_iterative(
            spark, sf_dir, 8, snapshot_dir=snapdir, snapshot_every=2,
            vocab_df=probe_vocab,
        )
    # continue to 8 (two more snapshot publishes): exactly one snapshot
    # dir remains, LATEST points at it, no temp orphans
    bpe_train_iterative(spark, sf_dir, 8, snapshot_dir=snapdir, snapshot_every=2)
    entries = sorted(os.listdir(snapdir))
    snaps = [d for d in entries if d.startswith("snapshot-")]
    assert len(snaps) == 1 and snaps[0].startswith("snapshot-8-")
    with open(os.path.join(snapdir, "LATEST")) as f:
        assert f.read().strip() == snaps[0]
    assert not [d for d in entries if d.startswith(".")]
