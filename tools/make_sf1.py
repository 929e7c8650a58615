#!/usr/bin/env python
"""Synthesize an sf1 rehearsal dataset (~10× sf0.1) inside the repo.

The driver ships sf{0.001,0.01,0.1} only; the scale rehearsal
(BASELINE.md) wants one order of magnitude more to surface memory
cliffs the plan inventory can't see (IVF-PQ's multi-join DAG, tiled
cosine tile sizing, shuffle spill thresholds). This replicates sf0.1
REPLICAS× with consistent key offsets — every foreign key is shifted by
the same stride as its referenced table, so join selectivities, group
cardinalities per key, and planted near-dup structure are preserved
exactly; only table sizes (and distinct-key counts) scale.

Dimension tables (region, nation) stay fixed — as in TPC-H, where
nation/region are scale-invariant.

Output: /root/repo/.bench/sf1/*.parquet (git-ignored). Usage:

    python tools/make_sf1.py                      # sf1 (10x), the default
    python tools/make_sf1.py --replicas 30 --name sf3   # the next decade
    python tools/make_sf1.py --zipf --name sf1z   # Zipf-skewed sf1
    SPARK_GRAFT_SF_DIR=/root/repo/.bench/sf1 python bench.py

``--zipf`` (r7 verdict item 2): real 100 TB logs and corpora are
Zipfian, while plain replication keeps the testdata's uniform key
frequencies. The flag remaps the high-volume foreign keys through an
exact Zipf(s=1) sampler — rank = floor(N^u) for u ~ U[0,1) gives
P(rank = k) ∝ 1/k over ranks 1..N (hash-deterministic, referentially
intact: every remapped key still hits an existing parent row):

* ``lineitem.l_orderkey``  → Zipf over the full orders domain (the
  hottest order collects ~|lineitem|/ln(|orders|) items — the shape
  that breaks an unsalted shuffle join),
* ``orders.o_custkey`` and ``events.user_id`` → Zipf over customers
  (hot-customer aggregates, skewed window partitions),
* ``documents.text`` → ~25% of docs share a fixed boilerplate prefix
  (hot shingles: exercises the NGRAM_MAX_DF stop-shingle cap and the
  LSH stop-bucket cull at a genuinely binding document frequency).
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
_BENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench"
)


def _arg(flag: str, default: str) -> str:
    return (
        sys.argv[sys.argv.index(flag) + 1] if flag in sys.argv else default
    )


REPLICAS = int(_arg("--replicas", "10"))
ZIPF = "--zipf" in sys.argv
# --zipf-labels (r9): sf1z skews KEYS and shingles but the label
# domain (events.event_type) stays uniform — real topic logs are
# Zipfian in label too. The flag remaps event_type so ONE label
# ("type-hot") carries ~90% of all events and the remaining 10% spread
# uniformly over a 200-label tail, so minor-compaction folds of mixed
# batches carry label bounds spanning most of the tail while
# single-label batches keep exact bounds.
ZIPF_LABELS = "--zipf-labels" in sys.argv
DST = os.path.join(
    _BENCH,
    _arg(
        "--name",
        ("sf1zl" if ZIPF_LABELS else "sf1z") if (ZIPF or ZIPF_LABELS) else "sf1",
    ),
)

# ~25% of documents open with this fixed block → every shingle in it has
# document frequency ≈ corpus/4, far past any stop-shingle cap
_BOILERPLATE = (
    "terms of service privacy policy all rights reserved copyright "
    "notice cookie consent subscribe to our newsletter follow us on "
    "social media home about contact sitemap"
)


def _zipf_expr(n: int, seed_col: str) -> str:
    """Exact Zipf(s=1) rank in [1, n], deterministic in ``seed_col``:
    u = hash/2^64 uniform, rank = floor(n^u) → P(rank=k) ∝ 1/k."""
    u = f"((CAST(hash({seed_col}) AS HUGEINT) % 1000000 + 1000000) % 1000000) / 1000000.0"
    # floor, not CAST: CAST rounds-half-even, biasing ranks upward
    return f"LEAST(CAST(floor(pow({n}, {u})) AS BIGINT), {n})"

# per-table: (key columns to offset, stride source table)  — stride =
# max(key)+1 of the REFERENCED table so copies never collide
STRIDES = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "events": {"event_id": "events", "user_id": "customer"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
KEY_OF = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    strides = {
        t: con.execute(f"SELECT MAX({k}) + 1 FROM '{SRC}/{t}.parquet'").fetchone()[0]
        for t, k in KEY_OF.items()
    }
    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO '{DST}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(t, "copied (dimension, unscaled)")
    # Zipf remaps: (table, column) -> (parent table, per-row seed column).
    # The testdata's parent keys are DENSE 0-based (asserted below), so
    # rank k maps arithmetically: key = (k-1) % n_base in replica
    # (k-1) div n_base — no mapping join (a join on a computed rank
    # planned as a nested loop over 60M lineitems).
    # (column to remap, parent domain, seed column, seed column's domain)
    zipf_cols = (
        {
            "lineitem": ("l_orderkey", "orders", "l_orderkey", "orders"),
            "orders": ("o_custkey", "customer", "o_orderkey", "orders"),
            "events": ("user_id", "customer", "event_id", "events"),
        }
        if ZIPF
        else {}
    )
    base_counts = {
        t: con.execute(f"SELECT COUNT(*) FROM '{SRC}/{t}.parquet'").fetchone()[0]
        for t in KEY_OF
    }
    for _, parent, _, _ in zipf_cols.values():
        mn, mx = con.execute(
            f"SELECT MIN({KEY_OF[parent]}), MAX({KEY_OF[parent]}) "
            f"FROM '{SRC}/{parent}.parquet'"
        ).fetchone()
        assert (mn, mx) == (0, base_counts[parent] - 1), (
            f"{parent} keys not dense 0-based — restore the rank mapping"
        )
    for t, keys in STRIDES.items():
        cols = [
            c[0]
            for c in con.execute(f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'").fetchall()
        ]
        zc = zipf_cols.get(t)
        if zc:
            zcol, parent, seed, seed_domain = zc
            n_base = base_counts[parent]
            n_total = n_base * REPLICAS
            # seed unique per (source row group, replica): the original
            # seed key offset by the replica stride of its own domain
            zrank = _zipf_expr(n_total, f"{seed} + r.i * {strides[seed_domain]}")

        def expr(c: str) -> str:
            if zc and c == zcol:
                # Zipf rank k → parent key (k-1) mod n_base in replica
                # (k-1) div n_base: hottest ranks land on real parents
                # // (integer division): / is float division and CAST
                # rounds, which pushed top-of-last-replica ranks into a
                # nonexistent replica (21.9k orphaned foreign keys)
                return (
                    f"(({zrank} - 1) % {n_base}) + (({zrank} - 1) //"
                    f" {n_base}) * {strides[parent]} AS {c}"
                )
            if c in keys:
                return f"{c} + r.i * {strides[keys[c]]} AS {c}"
            # replica-perturb content columns so copies are NOT
            # cross-replica near-duplicates (which would quadratically
            # inflate every pairwise dedup stage beyond anything a real
            # 10× corpus would do): words get a replica suffix (new
            # vocab per replica — exactly what a larger crawl adds),
            # embeddings get one replica-dependent dimension bumped
            # (rotates the vector away from its copies).
            if t == "documents" and c == "text":
                base = (
                    "CASE WHEN r.i = 0 THEN text ELSE array_to_string("
                    "list_transform(string_split(text, ' '),"
                    " x -> x || 'r' || r.i), ' ') END"
                )
                if ZIPF:
                    # hot shingles: ~25% of docs share one fixed prefix
                    base = (
                        f"CASE WHEN (hash(doc_id + r.i * {strides['documents']})"
                        f" % 4 + 4) % 4 = 0 THEN '{_BOILERPLATE} ' || {base}"
                        f" ELSE {base} END"
                    )
                return f"{base} AS text"
            if ZIPF_LABELS and t == "events" and c == "event_type":
                u = (
                    f"((CAST(hash(event_id + r.i * {strides['events']} + 7)"
                    f" AS HUGEINT) % 1000000 + 1000000) % 1000000) / 1000000.0"
                )
                return (
                    f"CASE WHEN {u} < 0.9 THEN 'type-hot' ELSE 'type-' || "
                    f"CAST(1 + CAST(floor(({u} - 0.9) * 10 * 200) AS BIGINT)"
                    f" % 200 AS VARCHAR) END AS event_type"
                )
            if t == "embeddings" and c == "embedding":
                return (
                    "CASE WHEN r.i = 0 THEN embedding ELSE "
                    "list_transform(range(1, len(embedding) + 1), "
                    "j -> CAST(CASE WHEN (j - 1) = (vec_id + r.i) % 64 "
                    "THEN embedding[j] + 0.7 * r.i ELSE embedding[j] END AS FLOAT)) "
                    "END AS embedding"
                )
            return c

        sel = ", ".join(expr(c) for c in cols)
        sql = f"SELECT {sel} FROM '{SRC}/{t}.parquet', range(0, {REPLICAS}) r(i)"
        con.execute(f"COPY ({sql}) TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
        n = con.execute(f"SELECT COUNT(*) FROM '{DST}/{t}.parquet'").fetchone()[0]
        print(t, n, "rows")


if __name__ == "__main__":
    main()
