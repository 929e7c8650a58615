#!/usr/bin/env python
"""Measure the BPE trainer's per-round cost and plan size as round
count grows (round-6 verdict item 1's "done" evidence).

The claim under test: per-round wall time and per-round plan size are
FLAT in the number of completed rounds — the property
bpe_scale.bpe_train_iterative's per-round checkpoints buy over one
unrolled lazy plan (whose size grows linearly with merges). Prints one JSON line with
quartile timings per round-window plus the analyzed-plan line count at
the first and last round (must be equal).

The testdata corpus has only 30 distinct words at every SF, so for the
vocab-size dimension pass ``--vocab-rows N``: the probe then trains on
a deterministic SYNTHETIC vocabulary of N pseudo-words (base-5 letter
strings, Zipf-ish counts) — same trainer, same loop, honest row counts.

Run: python tools/bpe_scale_probe.py [n_merges] [--vocab-rows N]
         [--snapshot-dir D] [--snapshot-every K] [--round-log FILE]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)

``--snapshot-dir``/``--snapshot-every``: pass through to the trainer's
durable snapshot/resume; if the dir already holds a snapshot the run
RESUMES from it (and ``--vocab-rows`` is ignored — the snapshot carries
the vocabulary). ``--round-log``: append one JSON line per round
({"k", "pair", "total", "sec"}) — the kill+resume rehearsal compares
the overlap region of the killed and resumed runs' logs to prove the
resumed run is bit-identical past the kill point.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synthetic_vocab(spark, n: int):
    """N distinct pseudo-words over the letters a-e: the word for id k is
    k's base-5 digit string (length 12, zero-padded — distinct by
    construction), count Zipf-ish n//(k+1)+1. Deterministic."""
    from pyspark.sql import functions as F

    ids = spark.range(n)
    word = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(11)),
            lambda i: F.char(
                F.lit(97)
                + (
                    F.floor(
                        F.col("id") / F.pow(F.lit(5.0), i.cast("double"))
                    ).cast("long")
                    % 5
                ).cast("int")
            ),
        ),
    )
    return ids.select(
        word.alias("word"),
        (F.lit(n) / (F.col("id") + 1) + 1).cast("long").alias("cnt"),
    ).select(
        "word",
        "cnt",
        F.split(F.trim(F.regexp_replace("word", "(.)", "$1 ")), " ").alias(
            "syms"
        ),
    )


def main() -> None:
    from eventlog_spark.operators.bpe_scale import bpe_train_iterative
    from eventlog_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = [a for a in sys.argv[1:]]

    def opt(flag: str, default: str | None) -> str | None:
        if flag in args:
            i = args.index(flag)
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    vocab_rows = int(opt("--vocab-rows", "0"))
    snapshot_dir = opt("--snapshot-dir", None)
    snapshot_every = int(opt("--snapshot-every", "0"))
    round_log = opt("--round-log", None)
    n_merges = int(args[0]) if args else 256
    spark = get_spark(app_name="bpe_scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    t_round = [time.monotonic()]
    times: list[float] = []
    log_fh = open(round_log, "a") if round_log else None

    def on_round(k: int, pair: str, total: int) -> None:
        now = time.monotonic()
        times.append(now - t_round[-1])
        t_round.append(now)
        if log_fh:
            log_fh.write(
                json.dumps(
                    {"k": k, "pair": pair, "total": total, "sec": round(times[-1], 3)}
                )
                + "\n"
            )
            log_fh.flush()
        if k % 32 == 0:
            print(
                f"# round {k}: {times[-1]:.3f}s merge={pair!r} total={total}",
                file=sys.stderr,
            )

    resuming = bool(
        snapshot_dir and os.path.exists(os.path.join(snapshot_dir, "LATEST"))
    )
    # a snapshot carries its vocabulary; vocab_df alongside it is an error
    vdf = synthetic_vocab(spark, vocab_rows) if vocab_rows and not resuming else None
    t0 = time.monotonic()
    merges, vocab = bpe_train_iterative(
        spark,
        sf_dir,
        n_merges,
        on_round=on_round,
        vocab_df=vdf,
        snapshot_dir=snapshot_dir,
        snapshot_every=snapshot_every,
    )
    wall = time.monotonic() - t0
    plan_lines = len(
        vocab._jdf.queryExecution().analyzed().toString().splitlines()
    )

    def stats(xs: list[float]) -> dict:
        xs = sorted(xs)
        return {
            "n": len(xs),
            "p50": round(xs[len(xs) // 2], 3),
            "p90": round(xs[int(len(xs) * 0.9)], 3),
            "max": round(xs[-1], 3),
        }

    q = max(1, len(times) // 4)
    print(
        json.dumps(
            {
                "metric": "bpe_iterative_train",
                "sf_dir": sf_dir if not vocab_rows else f"synthetic:{vocab_rows}",
                "n_merges_requested": n_merges,
                "n_merges_done": len(merges),
                "wall_sec": round(wall, 2),
                "per_round_first_quarter": stats(times[:q]),
                "per_round_last_quarter": stats(times[-q:]),
                "final_vocab_plan_lines": plan_lines,
                "vocab_rows": vocab.count(),
            }
        )
    )


if __name__ == "__main__":
    main()
