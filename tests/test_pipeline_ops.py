"""Behavioral tests for the LLM-pipeline operators (beyond the oracle
equality, which tests/test_oracle.py covers)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from eventlog_spark.operators import dedup, multimodal, similarity


def test_minhash_candidates_cover_near_dups(spark, sf_dir):
    """LSH candidates must include (almost all) truly similar pairs.
    At J >= 0.8, P(miss) = (1 - J^2)^4 < 2%; the planted near-dups in
    the testdata are well above that."""
    jac = dedup.dedup_ngram_jaccard(spark, sf_dir).where(F.col("jaccard") >= 0.8)
    truth = {(r.doc_a, r.doc_b) for r in jac.collect()}
    cand = {(r.doc_a, r.doc_b) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()}
    assert truth, "testdata should contain planted near-duplicates"
    missed = truth - cand
    assert len(missed) <= max(1, len(truth) // 10), f"LSH missed too many: {missed}"


def test_simhash_similar_docs_close(spark, sf_dir):
    """Near-identical docs (J >= 0.9) must land within small Hamming
    distance; random pairs should average ~16 bits apart."""
    sim = {r.doc_id: r.simhash for r in dedup.dedup_simhash(spark, sf_dir).collect()}
    pairs = dedup.dedup_ngram_jaccard(spark, sf_dir).where(F.col("jaccard") >= 0.9).collect()
    assert pairs
    for p in pairs:
        ham = bin(sim[p.doc_a] ^ sim[p.doc_b]).count("1")
        assert ham <= 8, f"docs {p.doc_a},{p.doc_b} J={p.jaccard:.2f} hamming={ham}"


def test_md5_int_matches_python(spark):
    """The engine-portable md5→int60 must equal a reference computation."""
    df = spark.createDataFrame([("hello",), ("world",), ("",)], "s string")
    got = {r.s: r.h for r in df.select("s", dedup.md5_int_col(F.col("s")).alias("h")).collect()}
    for s, h in got.items():
        expect = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        assert h == expect


def test_ann_bruteforce_self_consistency(spark, sf_dir):
    """Every query returns exactly TOP_K ranked neighbors, none itself."""
    rows = similarity.ann_topk_bruteforce(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
    for q, rs in by_q.items():
        assert sorted(x.rk for x in rs) == list(range(1, similarity.TOP_K + 1))
    assert set(by_q) == set(similarity.QUERY_IDS)


def test_lsh_buckets_partition_corpus(spark, sf_dir):
    """Bucket ids are stable and within [0, 2^N_PLANES)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = emb.select(similarity.bucket_col(F.col("embedding")).alias("bucket"))
    stats = b.agg(F.min("bucket"), F.max("bucket"), F.countDistinct("bucket")).collect()[0]
    assert stats[0] >= 0
    assert stats[1] < 2**similarity.N_PLANES
    assert stats[2] > 1  # corpus actually spreads across buckets


def test_bucket_pandas_matches_codegen(spark, sf_dir):
    """The BLAS bucket path must agree with the exact JVM expression."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    fast = {r.vec_id: r.bucket for r in similarity.with_buckets_pandas(emb).collect()}
    exact = {
        r.vec_id: r.bucket
        for r in emb.select(
            "vec_id", similarity.bucket_col(F.col("embedding")).alias("bucket")
        ).collect()
    }
    assert fast == exact


def test_multimodal_decode_matches_reference(spark, sf_dir):
    """mapInPandas features equal a pure-Python recomputation."""
    feats = {r.doc_id: r for r in multimodal.multimodal_decode_features(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20).collect()
    for d in docs:
        payload = hashlib.md5(d.text.encode()).digest()
        row = feats[d.doc_id]
        assert row.byte_len == 16
        assert row.first_byte == payload[0]
        assert abs(row.mean_byte - sum(payload) / 16) < 1e-9
        assert row.n_frames == {"image": 1, "audio": 16, "video": 8}[row.media_type]


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    """IVF with 4/16 lists probed must stay close to the exact top-10
    (the synthetic embeddings are clustered; measured recall is 0.88 at
    sf0.001 — 0.6 is a regression floor, not a target), and every rank
    column must be a contiguous 1..k prefix."""
    from eventlog_spark.queries import REGISTRY

    bf = {(r.query_id, r.neighbor_id) for r in REGISTRY["ann_topk_bruteforce"].fn(spark, sf_dir).collect()}
    rows = REGISTRY["ann_ivf_probed"].fn(spark, sf_dir).collect()
    ivf = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(bf & ivf) / len(bf) >= 0.6
    by_q: dict[int, list[int]] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rk)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_pq_recall_against_bruteforce(spark, sf_dir):
    """Trained-codebook IVF-PQ (64-entry codebooks, 2 Lloyd rounds,
    normalized-L2 ADC, 80-row exact re-rank) must land at the
    probed-lists-exact ceiling (0.92): measured recall@10 is 0.92 at
    sf0.01 — up from 0.36 with the round-3 untrained 8-entry seeds.
    0.7 is the regression floor, not the target."""
    from eventlog_spark import queries as Q

    Q.queries()  # force the full registry load (curation isn't imported here)
    REGISTRY = Q.REGISTRY

    bf = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["ann_topk_bruteforce"].fn(spark, sf_dir).collect()
    }
    rows = REGISTRY["ann_ivf_pq"].fn(spark, sf_dir).collect()
    pq = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(bf & pq) / len(bf) >= 0.7
    by_q: dict[int, list[int]] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rk)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_pq_residual_recall_against_bruteforce(spark, sf_dir):
    """Residual-encoded IVF-PQ (FAISS IndexIVFPQ's by_residual) must be
    at least as good as full-vector ADC at every scale — the coarse
    centroid is subtracted before quantization, so the same 8x64
    codebook budget describes only intra-list variation. At sf0.001
    and sf0.01 both variants sit at/near the probed-exact ceiling; the
    separation shows on the hard sf1 replica corpus (full-vector 0.68).
    0.7 is the regression floor here, and residual must never fall
    below the full-vector variant by more than one hit."""
    from eventlog_spark import queries as Q

    Q.queries()
    REGISTRY = Q.REGISTRY

    bf = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["ann_topk_bruteforce"].fn(spark, sf_dir).collect()
    }
    rows = REGISTRY["ann_ivf_pq_residual"].fn(spark, sf_dir).collect()
    pqr = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(bf & pqr) / len(bf) >= 0.7
    pq = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["ann_ivf_pq"].fn(spark, sf_dir).collect()
    }
    assert len(bf & pqr) >= len(bf & pq) - 1
    by_q: dict[int, list[int]] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rk)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_connected_components_chain_and_singletons(spark):
    """Multi-hop merging: a 4-chain collapses to one component labeled by
    its min id; an isolated vertex keeps its own label; a separate pair
    forms its own component."""
    vertices = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 7)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(vertices, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6, 7: 6}


def test_connected_components_label_flows_against_edge_direction(spark):
    """Edges are undirected: min label must propagate from doc_b to doc_a
    too (pair (5,1): 5 adopts 1)."""
    vertices = spark.createDataFrame([(i,) for i in (1, 5, 9)], "doc_id long")
    pairs = spark.createDataFrame([(5, 9), (5, 1)], "doc_a long, doc_b long")
    got = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(vertices, pairs).collect()
    }
    assert got == {1: 1, 5: 1, 9: 1}


def test_parse_media_header_golden_bytes():
    """The pure-Python header parser against hand-packed golden files:
    PNG IHDR, WAV fmt, JPEG with an APP0 (JFIF) segment before SOF0 —
    the marker scan must skip unknown segments by their length field."""
    import struct

    from eventlog_spark.operators.multimodal import parse_media_header

    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\xde\xad\xbe\xef"
    )
    assert parse_media_header(png) == ("png", 640, 480, 0, 0)
    wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 44100 * 4, 4, 16)
    )
    assert parse_media_header(wav) == ("wav", 0, 0, 44100, 2)
    jpg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9  # APP0
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 480, 640) + b"\x03"
        + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    )
    assert parse_media_header(jpg) == ("jpeg", 640, 480, 0, 0)
    assert parse_media_header(b"") is None
    assert parse_media_header(b"\x00\x01\x02\x03" * 8) is None
    # truncated PNG: signature but no complete IHDR
    assert parse_media_header(png[:20]) is None


def test_multimodal_header_probe_recovers_all_fields(spark, sf_dir):
    """Every synthesized header parses to a known format and the
    recovered fields match the generator formulas."""
    from eventlog_spark.operators.multimodal import multimodal_header_probe

    rows = multimodal_header_probe(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.format in ("png", "wav", "jpeg"), r
        if r.media_type == "audio":
            assert r.format == "wav"
            assert r.sample_rate == (r.doc_id % 6 + 1) * 8000
            assert r.channels == r.doc_id % 2 + 1
        else:
            assert (r.w, r.h) == ((r.doc_id % 64 + 1) * 16, (r.doc_id % 48 + 1) * 16)


def test_lsh_adaptive_mask_widths():
    """The bucket-prefix mask must widen with corpus size: p=4 below
    512 vectors, +1 bit per occupancy doubling, capped at 16 bits."""
    from eventlog_spark.operators.similarity import _MASK_TERMS, LSH_PMIN

    def mask(n: int) -> int:
        return (2**LSH_PMIN - 1) + sum(bit for thr, bit in _MASK_TERMS if n >= thr)

    assert mask(500) == 15        # p=4  (16 buckets/table)
    assert mask(512) == 31        # p=5
    assert mask(2000) == 63       # p=6
    assert mask(20000) == 1023    # p=10
    assert mask(10**9) == 65535   # p=16 cap


def test_parse_media_header_never_crashes_on_fuzz():
    """Property: arbitrary bytes (including signature-prefixed garbage
    and truncations) must return a tuple or None, never raise — a
    malformed upload can't kill a decode stage."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from eventlog_spark.operators.multimodal import parse_media_header

    sigs = [b"", b"\x89PNG\r\n\x1a\n", b"RIFF", b"\xff\xd8", b"\xff\xd8\xff"]

    @settings(max_examples=300, deadline=None)
    @given(
        prefix=st.sampled_from(sigs),
        body=st.binary(min_size=0, max_size=64),
    )
    def check(prefix: bytes, body: bytes) -> None:
        out = parse_media_header(prefix + body)
        assert out is None or (
            isinstance(out, tuple)
            and len(out) == 5
            and out[0] in ("png", "wav", "jpeg")
        )

    check()


def test_substring_dedup_matches_naive_interval_model(spark, tmp_path):
    """Independent check of the lead()-window interval-union math: a
    naive Python model (explicit gram multiset + position-set coverage)
    must agree exactly — including within-doc repeats, full-doc
    duplicates, partial overlap, and a doc shorter than K (the DuckDB
    oracle can't independently confirm this; it computes the same
    window formula)."""
    K = dedup.SUBSTR_K
    base = "abcdefghijklmnopqrstuvwxyz0123"       # 30 unique chars
    block = "ABCDEFGHIJKLMNOPQRST"                # exactly K chars
    docs = [
        (1, base),                                # dup of doc 2, full coverage
        (2, base),
        (3, "tooshort"),                          # < K: zero grams
        (4, block + "-----" + block),             # within-doc repeat
        (5, "zzzzz" + base[:25] + "qqqqq"),       # partial overlap with 1/2
    ]
    rows = [(i, t, "en", "src0", len(t)) for i, t in docs]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    # naive model: global gram multiset, per-doc duplicated-position set
    from collections import Counter

    grams = Counter()
    positions = {}  # doc_id -> [(pos, gram)]
    for i, t in docs:
        positions[i] = [(p, t[p : p + K]) for p in range(len(t) - K + 1)]
        grams.update(g for _, g in positions[i])
    expect = {}
    for i, t in docs:
        dup = sorted(p for p, g in positions[i] if grams[g] > 1)
        covered = set()
        for p in dup:
            covered.update(range(p, p + K))
        expect[i] = (len(dup), len(covered), len(covered) / len(t))

    got = {
        r.doc_id: (r.n_dup_grams, r.dup_chars, r.dup_frac)
        for r in dedup.dedup_substring_exact(spark, str(tmp_path)).collect()
    }
    assert got == expect


def _np_topk(E, ids, anchor_idx, k, mask=None, dims=None):
    """Cosine top-k against row `anchor_idx`, ties by vec_id ascending;
    optional row mask and dim-prefix truncation."""
    import numpy as np

    X = E[:, :dims] if dims else E
    q = X[anchor_idx]
    cos = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    ok = np.ones(len(ids), bool) if mask is None else mask.copy()
    ok[anchor_idx] = False
    order = sorted(np.nonzero(ok)[0], key=lambda j: (-cos[j], ids[j]))
    return [ids[j] for j in order[:k]]


def test_hard_negatives_match_numpy_model(spark, sf_dir):
    """ann_hard_negatives vs a float64 numpy model: per anchor, the
    top-k most-similar DIFFERENT-label ids must agree exactly
    (deterministic tie-break on vec_id)."""
    import numpy as np

    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    got = {}
    for r in similarity.ann_hard_negatives(spark, sf_dir).collect():
        got.setdefault(r.query_id, {})[r.rk] = r.negative_id
    for qid in similarity.QUERY_IDS:
        ai = int(np.nonzero(ids == qid)[0][0])
        want = _np_topk(E, ids, ai, similarity.TOP_K, mask=labels != labels[ai])
        assert [got[qid][rk] for rk in sorted(got[qid])] == want


def test_matryoshka_overlap_matches_numpy_model(spark, sf_dir):
    """ann_matryoshka_probe vs numpy: the truncated-prefix top-k overlap
    with the full top-k must agree for every (m, anchor)."""
    import numpy as np

    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    got = {
        (r.m, r.query_id): r.n_overlap
        for r in similarity.ann_matryoshka_probe(spark, sf_dir).collect()
    }
    for qid in similarity.QUERY_IDS:
        ai = int(np.nonzero(ids == qid)[0][0])
        full = set(_np_topk(E, ids, ai, similarity.TOP_K))
        for m in similarity.MRL_DIMS:
            trunc = set(_np_topk(E, ids, ai, similarity.TOP_K, dims=m))
            assert got[(m, qid)] == len(full & trunc), (m, qid)


def test_bpe_train_encode_match_python_model(spark, tmp_path, monkeypatch):
    """Full tokenizer-loop check against a pure-Python BPE model (same
    greedy (count DESC, pair ASC) argmax and left-to-right
    non-overlapping replace semantics) on a small controlled corpus —
    merges, per-merge counts, and every document's encoded token count
    must agree."""
    from collections import Counter

    from eventlog_spark.operators import artifacts, curation

    monkeypatch.setattr(artifacts, "ARTIFACT_ROOT", str(tmp_path / "arts"))
    monkeypatch.setattr(artifacts, "_CACHE", {})

    texts = [
        "banana bandana ban a banana",
        "canal banal banana nab",
        "b bandana canal canal",
    ]
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    vocab = Counter(
        w for t in texts for w in t.split(" ") if len(w) >= 2
    )
    sym = {w: " " + " ".join(w) + " " for w in vocab}
    model_merges = []
    for k in range(1, curation.BPE_MERGES + 1):
        pc = Counter()
        for w, c in vocab.items():
            arr = sym[w].strip().split(" ")
            for i in range(len(arr) - 1):
                pc[arr[i] + " " + arr[i + 1]] += c
        pair, total = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merged = pair.replace(" ", "")
        model_merges.append((k, pair, merged, total))
        for w in sym:
            sym[w] = sym[w].replace(" " + pair + " ", " " + merged + " ")

    got_merges = [
        (r.rank, r.pair, r.merged, r.total)
        for r in curation.text_bpe_train(spark, str(tmp_path)).collect()
    ]
    assert got_merges == model_merges

    expect = {}
    for i, t in enumerate(texts):
        words = t.split(" ")
        n_bpe = sum(
            len(sym[w].strip().split(" ")) if w in sym else len(w) for w in words
        )
        expect[i] = (len(words), sum(len(w) for w in words), n_bpe)
    got = {
        r.doc_id: (r.n_words, r.n_char_tokens, r.n_bpe_tokens)
        for r in curation.text_bpe_encode(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_dsir_weights_match_python_model(spark, tmp_path):
    """sample_importance_dsir vs a direct Python model of the hashed
    buckets, the ppm weight ratio, and the md5-uniform accept draw."""
    import hashlib
    from collections import Counter

    from eventlog_spark.operators import curation

    texts = [
        (0, "the cat sat on the mat", "en"),
        (1, "der hund lief durch den wald", "de"),
        (2, "the dog ran through the park", "en"),
        (3, "cat dog mat park", "fr"),
    ]
    rows = [(i, t, lang, "s", len(t)) for i, t, lang in texts]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def md5int(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    B, S = curation.DSIR_BUCKETS, curation.DSIR_SCALE
    raw, tgt = Counter(), Counter()
    toks = {}
    for i, t, lang in texts:
        toks[i] = [md5int(w) % B for w in t.split(" ")]
        raw.update(toks[i])
        if lang == curation.DSIR_TARGET_LANG:
            tgt.update(toks[i])
    t_raw, t_tgt = sum(raw.values()), sum(tgt.values())
    w_fp = {b: (S * tgt.get(b, 0) * t_raw) // (raw[b] * t_tgt) for b in raw}
    expect = {}
    for i, t, lang in texts:
        score = sum(w_fp[b] for b in toks[i])
        n = len(toks[i])
        u = md5int(str(i)) % S
        expect[i] = (n, score, score // n, u, 1 if u < min(S, score // n) else 0)
    got = {
        r.doc_id: (r.n_tokens, r.score_fp, r.mean_w_fp, r.u_fp, r.keep)
        for r in curation.sample_importance_dsir(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_padding_waste_buckets_are_next_pow2(spark, tmp_path):
    """corpus_padding_waste vs a direct model: every doc lands in the
    smallest power-of-two bucket >= its token count, and per-bucket
    batch counts / waste fractions follow."""
    from collections import Counter

    from eventlog_spark.operators import corpus

    sizes = [1, 2, 3, 4, 5, 7, 8, 9, 15, 16, 17, 33]
    rows = [
        (i, " ".join(["w"] * n), "en", "s", 2 * n - 1)
        for i, n in enumerate(sizes)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def pow2(n):
        b = 1
        while b < n:
            b <<= 1
        return b

    buckets = Counter((pow2(n), n) for n in sizes)
    agg = {}
    for (b, n), c in buckets.items():
        d = agg.setdefault(b, [0, 0])
        d[0] += c
        d[1] += c * n
    expect = {
        b: (
            nd,
            (nd + corpus.PAD_BATCH - 1) // corpus.PAD_BATCH,
            tok,
            nd * b,
            (nd * b - tok) / (nd * b),
        )
        for b, (nd, tok) in agg.items()
    }
    got = {
        r.bucket: (r.n_docs, r.n_batches, r.token_sum, r.padded_sum, r.waste_frac)
        for r in corpus.corpus_padding_waste(spark, str(tmp_path)).collect()
    }
    assert got == expect


def _py_gopher_feats(sf_dir):
    """(x1, x2, y, source) per doc — the probe's features and Gopher
    pass_all label recomputed in plain Python floats (identical to the
    engines' double math)."""
    import pandas as pd

    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")
    rows = []
    for _, r in pdf.iterrows():
        w = r["text"].split(" ")
        wc = len(w)
        mean_wl = sum(len(x) for x in w) / wc
        short_n = sum(1 for x in w if len(x) <= 2)
        n_stop = sum(1 for s in ("the", "a", "of", "to", "and") if s in w)
        y = int(
            30 <= wc <= 80
            and 4.0 <= mean_wl <= 5.0
            and short_n / wc <= 0.05
            and n_stop >= 2
        )
        rows.append((wc, short_n, y, r["source"]))
    return rows


def test_probe_train_matches_numpy_lstsq(spark, sf_dir):
    """quality_probe_train vs numpy: the fixed-point Cramer weights must
    agree with np.linalg.lstsq to ~1e-6 (the fixed-point truncation),
    and the per-source fixed-point score/error sums must replay exactly
    from the integer weights."""
    import numpy as np

    from eventlog_spark.operators import curation

    rows = _py_gopher_feats(sf_dir)
    X = np.array([[1.0, x1, x2] for x1, x2, _, _ in rows])
    y = np.array([float(v) for _, _, v, _ in rows])
    want, *_ = np.linalg.lstsq(X, y, rcond=None)

    out = {r["source"]: r for r in curation.quality_probe_train(spark, sf_dir).collect()}
    got = next(iter(out.values()))
    for w_got, w_want in zip((got["w0"], got["w1"], got["w2"]), want):
        assert abs(w_got - w_want) < 5e-6, (w_got, w_want)

    fxp = curation.PROBE_FXP
    w_fp = [round(got["w0"] * fxp), round(got["w1"] * fxp), round(got["w2"] * fxp)]
    score, ae, n, npass = {}, {}, {}, {}
    for x1, x2, yv, src in rows:
        yhat = w_fp[0] + w_fp[1] * x1 + w_fp[2] * x2
        score[src] = score.get(src, 0) + yhat
        ae[src] = ae.get(src, 0) + abs(yv * fxp - yhat)
        n[src] = n.get(src, 0) + 1
        npass[src] = npass.get(src, 0) + yv
    for src, r in out.items():
        assert r["n_docs"] == n[src] and r["n_pass"] == npass[src]
        assert r["score_fp_sum"] == score[src], src
        assert r["abs_err_fp_sum"] == ae[src], src


def test_tokenizer_fertility_consistent_with_bpe_encode(spark, sf_dir):
    """text_tokenizer_fertility's per-language totals must equal the
    per-document text_bpe_encode totals rolled up by the doc's lang —
    same trained vocabulary, two serving shapes."""
    import pandas as pd

    from eventlog_spark.operators import curation

    fert = {r["lang"]: r for r in curation.text_tokenizer_fertility(spark, sf_dir).collect()}
    enc = curation.text_bpe_encode(spark, sf_dir).toPandas()
    langs = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "lang"]]
    m = enc.merge(langs, on="doc_id")
    roll = m.groupby("lang").agg(
        n_docs=("doc_id", "count"),
        n_words=("n_words", "sum"),
        n_char_tokens=("n_char_tokens", "sum"),
        n_bpe_tokens=("n_bpe_tokens", "sum"),
    )
    assert set(fert) == set(roll.index)
    for lang, r in roll.iterrows():
        f = fert[lang]
        assert f["n_docs"] == r["n_docs"] and f["n_words"] == r["n_words"]
        assert f["n_char_tokens"] == r["n_char_tokens"]
        assert f["n_bpe_tokens"] == r["n_bpe_tokens"]
        assert abs(f["fertility"] - r["n_bpe_tokens"] / r["n_words"]) < 1e-12


def test_cluster_resample_balanced_caps(spark, sf_dir):
    """embedding_cluster_resample: every cluster keeps exactly
    min(n, cap) vectors; the cap is (total//2)//k, identical on every
    row; the downsample never exceeds half the corpus."""
    from eventlog_spark.operators import corpus

    rows = corpus.embedding_cluster_resample(spark, sf_dir).collect()
    assert rows
    caps = {r["cap"] for r in rows}
    assert len(caps) == 1
    cap = caps.pop()
    n_total = sum(r["n"] for r in rows)
    assert cap == (n_total // 2) // len(rows)
    for r in rows:
        assert r["kept_n"] == min(r["n"], cap)
    assert sum(r["kept_n"] for r in rows) <= n_total // 2


def _py_probe_weights(rows):
    """Exact-integer Cramer reference for the probe solver: truncating
    fixed-point weights from arbitrary-precision Python ints."""
    from eventlog_spark.operators.curation import PROBE_FXP

    n = len(rows)
    s1 = sum(x1 for x1, _, _ in rows)
    s2 = sum(x2 for _, x2, _ in rows)
    s11 = sum(x1 * x1 for x1, _, _ in rows)
    s12 = sum(x1 * x2 for x1, x2, _ in rows)
    s22 = sum(x2 * x2 for _, x2, _ in rows)
    sy = sum(y for _, _, y in rows)
    s1y = sum(x1 * y for x1, _, y in rows)
    s2y = sum(x2 * y for _, x2, y in rows)
    m0 = s11 * s22 - s12 * s12
    m1 = s1 * s22 - s12 * s2
    m2 = s1 * s12 - s11 * s2
    p1 = s1y * s22 - s12 * s2y
    p2 = s1y * s12 - s11 * s2y
    p3 = s1 * s2y - s1y * s2
    det_a = n * m0 - s1 * m1 + s2 * m2
    det0 = sy * m0 - s1 * p1 + s2 * p2
    det1 = n * p1 - sy * m1 + s2 * p3
    det2 = n * (s11 * s2y - s1y * s12) - s1 * p3 + sy * m2

    def w(det_j):
        if det_a == 0:
            return 0
        q = abs(det_j * PROBE_FXP) // abs(det_a)
        return -q if (det_j < 0) != (det_a < 0) else q

    return [w(det0), w(det1), w(det2)]


def test_probe_solver_matches_exact_rational_model():
    """The HUGEINT Cramer solve (the oracle's arithmetic) must equal an
    arbitrary-precision integer reference on random datasets — incl.
    negative determinants and singular systems."""
    import duckdb

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from eventlog_spark.operators.curation import (
        _PROBE_DUCK_DETS,
        _probe_weight_sql,
    )

    sql_w = [
        _probe_weight_sql(_PROBE_DUCK_DETS[0], d).format(div="//")
        for d in _PROBE_DUCK_DETS[1:]
    ]

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2000),
                st.integers(min_value=0, max_value=2000),
                st.integers(min_value=0, max_value=1),
            ),
            min_size=1,
            max_size=12,
        )
    )
    def check(rows):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t(x1 BIGINT, x2 BIGINT, y BIGINT)"
        )
        con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
        got = con.execute(
            f"""SELECT {sql_w[0]}, {sql_w[1]}, {sql_w[2]} FROM (
                SELECT CAST(COUNT(*) AS BIGINT) n,
                       CAST(SUM(x1) AS BIGINT) s1, CAST(SUM(x2) AS BIGINT) s2,
                       CAST(SUM(x1*x1) AS BIGINT) s11,
                       CAST(SUM(x1*x2) AS BIGINT) s12,
                       CAST(SUM(x2*x2) AS BIGINT) s22,
                       CAST(SUM(y) AS BIGINT) sy,
                       CAST(SUM(x1*y) AS BIGINT) s1y,
                       CAST(SUM(x2*y) AS BIGINT) s2y
                FROM t)"""
        ).fetchone()
        assert list(got) == _py_probe_weights(rows), rows

    check()


def test_epoch_plan_cap_and_budget_model(spark, sf_dir):
    """corpus_epoch_plan invariants: epochs <= 4, capped sources
    allocate exactly 4 epochs of their own tokens, uncapped sources
    take the full equal share, and the plan never over-spends the
    budget."""
    from eventlog_spark.operators import corpus

    rows = corpus.corpus_epoch_plan(spark, sf_dir).collect()
    assert rows
    total = sum(r["n_tokens"] for r in rows)
    budget = corpus.EPOCH_BUDGET_X * total
    share = budget // len(rows)
    for r in rows:
        assert r["target_tokens"] == share
        assert r["epochs_fp"] <= corpus.EPOCH_MAX_FXP
        if r["epochs_fp"] == corpus.EPOCH_MAX_FXP and share * 1_000_000 // r["n_tokens"] > corpus.EPOCH_MAX_FXP:
            assert r["alloc_tokens"] == 4 * r["n_tokens"]
        else:
            assert r["alloc_tokens"] == share
    assert sum(r["alloc_tokens"] for r in rows) <= budget


def test_probe_eval_confusion_matches_python_model(spark, sf_dir):
    """quality_probe_eval vs plain Python: confusion counts replayed
    exactly from the trained weights; counts partition n_docs; the
    thresholded predictions agree with the train query's fixed-point
    scores."""
    from eventlog_spark.operators import curation

    train = {r["source"]: r for r in curation.quality_probe_train(spark, sf_dir).collect()}
    ev = {r["source"]: r for r in curation.quality_probe_eval(spark, sf_dir).collect()}
    assert set(train) == set(ev)
    fxp = curation.PROBE_FXP
    some = next(iter(train.values()))
    w_fp = [round(some["w0"] * fxp), round(some["w1"] * fxp), round(some["w2"] * fxp)]
    rows = _py_gopher_feats(sf_dir)
    cm = {}
    for x1, x2, y, src in rows:
        p = int(w_fp[0] + w_fp[1] * x1 + w_fp[2] * x2 >= curation.PROBE_THRESH_FP)
        k = ("tp" if y else "fp") if p else ("fn" if y else "tn")
        cm.setdefault(src, {"tp": 0, "fp": 0, "fn": 0, "tn": 0})[k] += 1
    for src, r in ev.items():
        want = cm[src]
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (
            want["tp"], want["fp"], want["fn"], want["tn"]
        ), src
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == train[src]["n_docs"]
        assert r["tp"] + r["fn"] == train[src]["n_pass"]


def test_hybrid_rrf_matches_python_fusion(spark, sf_dir):
    """hybrid_rrf_fusion vs plain Python: replay the dense ranking with
    sequential-sum cosine, take the BM25 ranking from bm25_search, fuse
    with integer RRF, and require identical (doc_id, ranks, scores)."""
    import pyarrow.parquet as pq

    from eventlog_spark.operators import corpus

    lex = {r["doc_id"]: r["rk"] for r in corpus.bm25_search(spark, sf_dir).collect()}

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    vecs = dict(zip(tbl["vec_id"], tbl["embedding"]))
    qv = [float(x) for x in vecs[corpus.HYBRID_QUERY_VEC]]

    def seq_cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            x, y = float(x), float(y)
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (na**0.5 * nb**0.5)

    ranked = sorted(
        ((vid, seq_cos(v, qv)) for vid, v in vecs.items() if vid != corpus.HYBRID_QUERY_VEC),
        key=lambda t: (-t[1], t[0]),
    )
    sem = {vid: i + 1 for i, (vid, _) in enumerate(ranked[: corpus.HYBRID_SEM_TOP])}

    fused = {}
    for d in set(lex) | set(sem):
        c = 0
        if d in lex:
            c += corpus.RRF_FXP // (corpus.RRF_K + lex[d])
        if d in sem:
            c += corpus.RRF_FXP // (corpus.RRF_K + sem[d])
        fused[d] = (lex.get(d, 0), sem.get(d, 0), c)
    want = sorted(fused.items(), key=lambda t: (-t[1][2], t[0]))[: corpus.HYBRID_TOP]

    got = corpus.hybrid_rrf_fusion(spark, sf_dir).orderBy("fused_rk").collect()
    assert len(got) == corpus.HYBRID_TOP
    for i, r in enumerate(got):
        d, (lrk, srk, c) = want[i]
        assert (r["doc_id"], r["lex_rk"], r["sem_rk"], r["rrf_fp"], r["fused_rk"]) == (
            d, lrk, srk, c, i + 1
        )


def test_decontaminate_semantic_matches_python_replay(spark, sf_dir):
    """decontaminate_semantic vs plain numpy/Python: rebuild the
    multi-table LSH (adaptive mask, stop-bucket cull), the cross-set
    candidates, and the sequential-sum cosine best match, and require
    identical rows."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids = list(tbl["vec_id"])
    A = np.stack([np.asarray(v, dtype=np.float64) for v in tbl["embedding"]])
    n = len(ids)

    m = 2**similarity.LSH_PMIN - 1
    for thr, bit in similarity._MASK_TERMS:
        if n >= thr:
            m += bit
    bits = (A @ similarity.multi_table_matrix().T) > 0
    weights = 1 << np.arange(similarity.LSH_PMAX)
    buckets = {}  # (t, bucket) -> [vec_id]
    for t in range(similarity.LSH_TABLES):
        b = (bits[:, t * similarity.LSH_PMAX : (t + 1) * similarity.LSH_PMAX] @ weights) & m
        for vid, bk in zip(ids, b):
            buckets.setdefault((t, int(bk)), []).append(vid)

    cand = {}  # eval_id -> set of corpus vec_ids
    for members in buckets.values():
        if len(members) > similarity.LSH_STOP:
            continue  # culled
        evs = [v for v in members if v % similarity.DECON_EVAL_MOD == 0]
        others = [v for v in members if v % similarity.DECON_EVAL_MOD != 0]
        for e in evs:
            cand.setdefault(e, set()).update(others)

    vec = dict(zip(ids, A))

    def seq_cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
            na += float(x) * float(x)
            nb += float(y) * float(y)
        return dot / (na**0.5 * nb**0.5)

    want = {}
    for e, cs in cand.items():
        scored = sorted(((seq_cos(vec[e], vec[c]), c) for c in cs), key=lambda t: (-t[0], t[1]))
        cos, match = scored[0]
        want[e] = (match, cos, int(cos >= similarity.DECON_COS))

    got = similarity.decontaminate_semantic(spark, sf_dir).collect()
    assert {r["eval_id"] for r in got} == set(want)
    for r in got:
        match, cos, flag = want[r["eval_id"]]
        assert (r["match_id"], r["contaminated"]) == (match, flag), r
        assert abs(r["cos"] - cos) < 1e-12, r


def test_mixture_reweight_matches_python_model(spark, sf_dir):
    """mixture_reweight_excess vs plain Python: replay excess loss,
    clamped factor, and normalized fixed-point weights exactly from
    the trained probe weights; weights must sum to ~FXP."""
    from eventlog_spark.operators import curation

    train = {r["source"]: r for r in curation.quality_probe_train(spark, sf_dir).collect()}
    fxp = curation.PROBE_FXP
    some = next(iter(train.values()))
    w_fp = [round(some["w0"] * fxp), round(some["w1"] * fxp), round(some["w2"] * fxp)]

    agg = {}
    for x1, x2, y, src in _py_gopher_feats(sf_dir):
        e = abs(y * fxp - (w_fp[0] + w_fp[1] * x1 + w_fp[2] * x2))
        n, t, s = agg.get(src, (0, 0, 0))
        agg[src] = (n + 1, t + x1, s + e)
    t_docs = sum(a[0] for a in agg.values())
    t_err = sum(a[2] for a in agg.values())
    g_mean = t_err // t_docs
    fac = {}
    for src, (n, t, s) in agg.items():
        excess = s // n - g_mean
        f = max(curation.MIX_FLOOR_FP, min(curation.MIX_CEIL_FP, fxp + curation.MIX_ETA * excess))
        fac[src] = (n, t, s // n, excess, f)
    den = sum(f * t for (_, t, _, _, f) in fac.values())

    got = curation.mixture_reweight_excess(spark, sf_dir).collect()
    assert {r["source"] for r in got} == set(fac)
    wsum = 0
    for r in got:
        n, t, mean, excess, f = fac[r["source"]]
        want_w = fxp * f * t // den
        assert (
            r["n_docs"], r["n_tokens"], r["mean_err_fp"],
            r["excess_fp"], r["factor_fp"], r["weight_fp"],
        ) == (n, t, mean, excess, f, want_w), r["source"]
        wsum += r["weight_fp"]
    assert fxp - len(fac) <= wsum <= fxp  # truncation loses < 1 ulp per source


def test_wav_decoder_matches_stdlib_wave(spark, sf_dir):
    """decode_wav_pcm vs the stdlib wave module on the synthesized
    payloads: identical rate/channels/sample bytes — the container is
    really a valid WAV file, and our chunk walk reads it correctly."""
    import io
    import wave

    rows = multimodal.audio_blobs(spark, sf_dir).limit(12).collect()
    assert rows
    for r in rows:
        b = bytes(r["payload"])
        rate, ch, samples = multimodal.decode_wav_pcm(b)
        with wave.open(io.BytesIO(b)) as wf:
            assert wf.getframerate() == rate
            assert wf.getnchannels() == ch
            assert wf.getsampwidth() == 2
            frames = wf.readframes(wf.getnframes())
        assert frames == samples.tobytes()
        # and the samples match the generating formula (signed)
        want = [
            (r["doc_id"] * multimodal._AUDIO_MIX + k * multimodal._AUDIO_STEP) % 65536
            - 32768
            for k in range(multimodal.AUDIO_N)
        ]
        assert list(samples) == want


def test_wav_malformed_payload_yields_sentinel_row():
    """decode_wav_pcm's documented None return (non-PCM16 / invalid WAV)
    must surface as an all-zero sentinel row from audio_features, not a
    TypeError inside the executor (round-6 advice)."""
    for bad in (b"", b"RIFFxxxxWAVE", b"\x00" * 64, b"RIFF" + b"\x00" * 40):
        assert multimodal.decode_wav_pcm(bad) is None
        assert multimodal.audio_features(7, bad) == (7, 0, 0, 0, 0, 0, 0, 0, 0)


def test_wav_numpy_synth_matches_sql_encoder(spark, sf_dir):
    """Round-13 independence pin: the vectorized numpy WAV synthesis
    (synth_wav_pcm_batch, the production encode path) is BYTE-IDENTICAL
    to the JVM SQL hex encoder (audio_blobs, kept as the audit path) —
    a byte-offset or endianness bug in the numpy encoder cannot hide
    behind a matching decoder bug."""
    import numpy as np

    rows = multimodal.audio_blobs(spark, sf_dir).limit(24).collect()
    assert rows
    ids = np.array([r["doc_id"] for r in rows], dtype=np.int64)
    batch = multimodal.synth_wav_pcm_batch(ids)
    for r, row in zip(rows, batch):
        assert bytes(r["payload"]) == row.tobytes(), r["doc_id"]


def test_wav_batch_decoder_matches_generic_walk():
    """Round-13 decoder pin: the vectorized canonical-layout decoder
    returns exactly what the generic per-row RIFF chunk walk returns on
    the same payloads, and refuses (None -> per-row fallback) anything
    whose container fields don't validate."""
    import numpy as np

    ids = np.arange(0, 97, dtype=np.int64) * 13 + 5
    payloads = multimodal.synth_wav_pcm_batch(ids)
    dec = multimodal.decode_wav_pcm_canonical_batch(payloads)
    assert dec is not None
    rate, ch, s = dec
    for i, d in enumerate(ids):
        g_rate, g_ch, g_samples = multimodal.decode_wav_pcm(
            payloads[i].tobytes()
        )
        assert (int(rate[i]), int(ch[i])) == (g_rate, g_ch)
        assert list(s[i]) == list(g_samples)
    # every canonical field is actually checked: flipping any one of
    # them must reject the whole batch into the generic fallback
    for off in (0, 9, 16, 20, 34, 37, 40):
        bad = payloads.copy()
        bad[3, off] ^= 0xFF
        assert multimodal.decode_wav_pcm_canonical_batch(bad) is None, off


def test_png_codec_roundtrip_filters_and_crc():
    """encode_png really emits all three cycling filter types and CRCs
    that a tampered byte breaks; decode_png recovers the exact formula
    pixels and also handles Average/Paeth rows from a hand-built PNG."""
    import struct
    import zlib

    import pytest as _pytest

    b = multimodal.encode_png(123)
    # IDAT payload uses filters 0,1,2 across the 8 rows
    ln = int.from_bytes(b[8:12], "big")
    idat_off = 8 + 12 + ln + 8  # sig + IHDR chunk + IDAT header
    raw = zlib.decompress(b[idat_off : idat_off + int.from_bytes(b[idat_off - 8 : idat_off - 4], "big")])
    stride = 3 * multimodal.IMG_SIDE
    filters = [raw[r * (stride + 1)] for r in range(multimodal.IMG_SIDE)]
    assert set(filters) == {0, 1, 2}
    # pixels survive the round trip exactly
    w, h, px = multimodal.decode_png(b)
    want = [
        multimodal._png_pixel(123, r, c, ch)
        for r in range(multimodal.IMG_SIDE)
        for c in range(multimodal.IMG_SIDE)
        for ch in range(3)
    ]
    assert px == want
    # a flipped IDAT byte must fail the CRC check, not decode quietly
    bad = bytearray(b)
    bad[idat_off + 3] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png(bytes(bad))
    # Average (3) and Paeth (4) rows from a hand-built 2x2 RGB PNG
    pix = [[10, 20, 30, 40, 50, 60], [70, 80, 90, 100, 110, 120]]
    raw2 = bytearray()
    raw2.append(3)  # Average: x - (left + 0)//2 on first row
    raw2.extend(
        (pix[0][j] - ((pix[0][j - 3] if j >= 3 else 0) + 0) // 2) % 256 for j in range(6)
    )
    raw2.append(4)  # Paeth on second row
    for j in range(6):
        a = pix[1][j - 3] if j >= 3 else 0
        up = pix[0][j]
        ul = pix[0][j - 3] if j >= 3 else 0
        p = a + up - ul
        pa, pb, pc = abs(p - a), abs(p - up), abs(p - ul)
        pred = a if pa <= pb and pa <= pc else (up if pb <= pc else ul)
        raw2.append((pix[1][j] - pred) % 256)

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", zlib.crc32(tag + body))

    b2 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw2)))
        + chunk(b"IEND", b"")
    )
    assert multimodal.decode_png(b2) == (2, 2, pix[0] + pix[1])


def test_triangle_count_matches_python_census(spark, sf_dir):
    """graph_triangle_count vs plain Python over the same collected
    candidate pairs: vertex/edge/wedge/triangle counts and the
    fixed-point clustering coefficient replayed exactly."""
    from itertools import combinations

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    deg = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tris = 0
    for v, nbrs in adj.items():
        for x, y in combinations(sorted(nbrs), 2):
            if v < x and (x, y) in pairs:
                tris += 1
    want_cc = 0 if wedges == 0 else 3 * tris * dedup.TRI_FXP // wedges

    row = dedup.graph_triangle_count(spark, sf_dir).collect()[0]
    assert (
        row["n_vertices"], row["n_edges"], row["n_wedges"],
        row["n_triangles"], row["clustering_fp"],
    ) == (len(deg), len(pairs), wedges, tris, want_cc)
    assert tris > 0, "planted near-dup clusters should close triangles"


def test_minhash_calibration_matches_python_replay(spark, sf_dir):
    """dedup_minhash_calibration vs plain Python: rebuild agreement
    buckets and exact fixed-point Jaccard stats from the collected
    signatures + shingle sets; the curve must match exactly and be
    monotone in the mean."""
    from eventlog_spark.operators import curation

    sig = {
        r["doc_id"]: [r[f"mh{j}"] for j in range(8)]
        for r in dedup._minhash_signature(spark, sf_dir).collect()
    }
    sh = {}
    for r in dedup.shingles_shared(spark, sf_dir).collect():
        sh.setdefault(r["doc_id"], set()).add(r["shh"])
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()}

    buckets = {}
    for a, b in pairs:
        agree = sum(1 for j in range(8) if sig[a][j] == sig[b][j])
        i = len(sh.get(a, set()) & sh.get(b, set()))
        j_fp = i * curation.CAL_FXP // (len(sh.get(a, ())) + len(sh.get(b, ())) - i)
        buckets.setdefault(agree, []).append(j_fp)

    got = {r["agree"]: r for r in curation.dedup_minhash_calibration(spark, sf_dir).collect()}
    assert set(got) == set(buckets)
    for agree, js in buckets.items():
        r = got[agree]
        assert (r["n_pairs"], r["mean_j_fp"], r["min_j_fp"], r["max_j_fp"]) == (
            len(js), sum(js) // len(js), min(js), max(js)
        ), agree
    means = [got[a]["mean_j_fp"] for a in sorted(got)]
    assert means == sorted(means), "mean Jaccard must rise with agreement"


def test_ngram_novelty_matches_python_replay(spark, sf_dir):
    """corpus_ngram_novelty vs plain Python over the collected shingle
    table: exact bucket counts, and the curve must end lower than it
    starts (planted duplicate families make later deciles redundant)."""
    import pyarrow.parquet as pq

    sh_rows = dedup.shingles_shared(spark, sf_dir).collect()
    first = {}
    per_doc = {}
    for r in sh_rows:
        d, s = r["doc_id"], r["shh"]
        if s not in first or d < first[s]:
            first[s] = d
    for r in sh_rows:
        d = r["doc_id"]
        g, n = per_doc.get(d, (0, 0))
        per_doc[d] = (g + 1, n + (1 if first[r["shh"]] == d else 0))
    m = max(pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()["doc_id"]) + 1
    agg = {}
    for d, (g, n) in per_doc.items():
        b = d * dedup.NOV_BUCKETS // m
        c = agg.get(b, [0, 0, 0])
        agg[b] = [c[0] + 1, c[1] + g, c[2] + n]

    got = {r["bucket"]: r for r in dedup.corpus_ngram_novelty(spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for b, (nd, g, n) in agg.items():
        r = got[b]
        assert (r["n_docs"], r["n_grams"], r["n_novel"], r["novelty_fp"]) == (
            nd, g, n, n * dedup.NOV_FXP // g
        ), b
    lo, hi = min(got), max(got)
    assert got[hi]["novelty_fp"] < got[lo]["novelty_fp"]


def test_isolation_audit_matches_python_replay(spark, sf_dir):
    """embedding_isolation_audit vs plain Python: best-candidate cosine
    per vector from the collected pair artifact, banded identically."""
    import math

    import pyarrow.parquet as pq

    pairs = [
        (r["vec_a"], r["vec_b"])
        for r in similarity.ann_lsh_bucketed(spark, sf_dir).collect()
    ]
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    vec = dict(zip(tbl["vec_id"], tbl["embedding"]))

    def seq_cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            x, y = float(x), float(y)
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (na**0.5 * nb**0.5)

    best = {}
    for a, b in pairs:
        c = seq_cos(vec[a], vec[b])
        for v in (a, b):
            if v not in best or c > best[v]:
                best[v] = c
    hist = {}
    for v in vec:
        band = (
            similarity.ISO_NONE_BAND
            if v not in best
            else math.floor(best[v] * similarity.ISO_BAND_SCALE)
        )
        hist[band] = hist.get(band, 0) + 1

    got = {r["band"]: r["n_vectors"] for r in similarity.embedding_isolation_audit(spark, sf_dir).collect()}
    assert got == hist


def test_watermark_drop_excludes_exactly_the_late_rows(spark, sf_dir):
    """stream_real_watermark_drop: the append-mode sink's total count
    equals the all-rows batch aggregate over the emitted horizon MINUS
    exactly the hash-selected late rows — proof the watermark dropped
    them and nothing else."""
    from eventlog_spark.operators import streamlike
    from eventlog_spark.tables import load_table

    out = streamlike.stream_real_watermark_drop(spark, sf_dir)
    sink_total = out.agg(F.sum("n")).collect()[0][0]
    max_end = out.agg(F.max("window_end")).collect()[0][0]

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    mx = ev.agg(F.max("ts").alias("mt"))
    cls = ev.crossJoin(F.broadcast(mx)).withColumn(
        "is_late",
        (
            (F.col("ts") < F.col("mt") - F.expr(f"INTERVAL {streamlike.WMD_LATE_MARGIN_H} HOURS"))
            & (
                dedup.md5_int_col(F.col("event_id").cast("string"))
                % streamlike.WMD_LATE_MOD
                == 0
            )
        ).cast("int"),
    )
    horizon = F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR") <= F.lit(max_end)
    all_rows = cls.where(horizon).count()
    late_rows = cls.where(horizon & (F.col("is_late") == 1)).count()
    assert late_rows > 0, "testdata must produce a late slice"
    assert sink_total == all_rows - late_rows


def test_gapfill_matches_pandas_replay(spark, sf_dir):
    """timeseries_gapfill: dense per-type hourly spine (no holes, no
    dupes), counts conserved, gap flags exact, and LOCF equals a pandas
    reindex+ffill replay."""
    import pandas as pd

    from eventlog_spark.operators import streamlike
    from eventlog_spark.tables import load_table

    out = streamlike.timeseries_gapfill(spark, sf_dir).toPandas()

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    pdf = ev.withColumn("ts", F.col("ts").cast("timestamp")).toPandas()
    pdf["bucket_ts"] = pdf.ts.dt.floor("h")
    pdf["cents"] = (pdf.value.astype(float) * 100).round().astype("int64")
    hourly = pdf.groupby(["event_type", "bucket_ts"]).agg(
        n=("cents", "size"), cents=("cents", "sum")
    )

    assert int(out.n.sum()) == len(pdf)  # counts conserved
    assert out.is_gap.sum() > 0, "testdata should leave empty hours"
    for etype, g in out.groupby("event_type"):
        g = g.sort_values("bucket_ts").reset_index(drop=True)
        spine = pd.date_range(g.bucket_ts.iloc[0], g.bucket_ts.iloc[-1], freq="h")
        assert list(g.bucket_ts) == list(spine)  # dense, duplicate-free
        exp = hourly.loc[etype].reindex(spine)
        assert list(g.n) == [int(x) for x in exp.n.fillna(0)]
        assert list(g.is_gap) == [int(x) for x in exp.n.isna()]
        got_locf = [round(float(x) * 100) if pd.notna(x) else None for x in g.locf_sum]
        exp_locf = [int(x) if pd.notna(x) else None for x in exp.cents.ffill()]
        assert got_locf == exp_locf


def test_keep_best_picks_the_maximal_member(spark, sf_dir):
    """dedup_keep_best: every kept doc must be a member of its cluster
    and maximal under the (quality-gate, n_words, lowest-id) order —
    replayed in Python from the components and raw word counts."""
    from eventlog_spark.operators import dedup
    from eventlog_spark.operators.text import STOPWORDS
    from eventlog_spark.tables import load_table

    kept = {
        r.component_id: (r.kept_doc_id, r.kept_is_quality, r.kept_n_words, r.n_members)
        for r in dedup.dedup_keep_best(spark, sf_dir).collect()
    }
    assert kept, "testdata should contain multi-member near-dup clusters"

    comp = {
        r.doc_id: r.component_id
        for r in dedup.dedup_connected_components(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    members: dict = {}
    for r in docs:
        words = r.text.split(" ")
        n_words = len(words)
        n_stop = sum(1 for x in words if x in STOPWORDS)
        is_q = int(20 <= n_words <= 95 and n_stop * 50 >= n_words)
        members.setdefault(comp[r.doc_id], []).append((is_q, n_words, -r.doc_id, r.doc_id))
    for cid, rows in members.items():
        if len(rows) == 1:
            assert cid not in kept  # singletons keep themselves implicitly
            continue
        best = max(rows)
        assert kept[cid] == (best[3], best[0], best[1], len(rows))


def test_bpe_roundtrip_is_lossless(spark, sf_dir):
    """text_bpe_roundtrip: concatenating every vocab word's BPE
    segmentation must reproduce the word — encode/decode is the
    identity on the whole trained vocabulary."""
    from eventlog_spark.operators import curation

    row = curation.text_bpe_roundtrip(spark, sf_dir).collect()[0]
    assert row.n_vocab_words > 0
    assert row.n_roundtrip_exact == row.n_vocab_words
    assert row.max_tokens_per_word >= 1


def test_jpeg_codec_roundtrip_matches_formula():
    """encode_jpeg/decode_jpeg: every pixel of every block equals the
    closed-form 128 + dc(doc, block) + A(x, y) with DC prediction
    exercised across the 4 blocks, and the entropy stream really
    contains a ZRL symbol (>15-zero run) and byte stuffing survives."""
    import numpy as np

    for doc in (0, 1, 17, 999, 123456):
        b = multimodal.encode_jpeg(doc)
        assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
        w, h, img = multimodal.decode_jpeg(b)
        assert (w, h) == (multimodal.JPEG_SIDE, multimodal.JPEG_SIDE)
        A = np.array(multimodal._JPEG_A)
        for blk in range(4):
            dc = multimodal._jpeg_dc(doc, blk)
            r0, c0 = (blk // 2) * 8, (blk % 2) * 8
            assert np.array_equal(
                img[r0 : r0 + 8, c0 : c0 + 8], np.clip(A + dc + 128, 0, 255)
            ), (doc, blk)


def test_jpeg_decoder_rejects_corruption():
    """Bad magic and a truncated entropy stream raise instead of
    decoding quietly, and the 0xFF00 unstuffing path yields the same
    entropy bits as the unstuffed equivalent."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a JPEG"):
        multimodal.decode_jpeg(b"\x00\x01\x02")
    b = multimodal.encode_jpeg(7)
    with _pytest.raises((ValueError, IndexError)):
        multimodal.decode_jpeg(b[: len(b) - 6])  # truncated mid-stream
    # unstuffing: inject a stuffed 0xFF00 pair as the LAST entropy bytes
    # (pure pad bits — consumed by neither Huffman table, so the decode
    # must be unchanged if and only if the unstuffer collapses the pair)
    body, eoi = b[:-2], b[-2:]
    w, h, img = multimodal.decode_jpeg(body + b"\xff\x00" + eoi)
    import numpy as np

    _, _, ref = multimodal.decode_jpeg(b)
    assert np.array_equal(img, ref)


def test_avi_mjpeg_roundtrip_and_frame_sampling():
    """The MJPEG/AVI container round-trips: the independent RIFF walker
    recovers the header fields and exactly the frames the writer
    embedded (each a valid baseline JPEG whose pixels match the seeded
    formula), and stride sampling picks the expected subset."""
    for doc_id in (0, 3, 11):
        b = multimodal.encode_avi_mjpeg(doc_id)
        meta, frames = multimodal.decode_avi(b)
        n = multimodal.avi_n_frames(doc_id)
        assert meta["n_frames"] == n == len(frames)
        assert (meta["w"], meta["h"]) == (multimodal.JPEG_SIDE,) * 2
        assert meta["rate"] / meta["scale"] == multimodal.AVI_FPS_RATE
        assert meta["us_per_frame"] == 1_000_000 // multimodal.AVI_FPS_RATE
        # frames are byte-identical to the seeded JPEG encoder outputs
        for f, fr in enumerate(frames):
            assert fr == multimodal.encode_jpeg(
                doc_id + multimodal.AVI_SEED_STRIDE * f
            )
        # a sampled frame decodes to the closed-form pixel sum
        f = multimodal.AVI_SAMPLE_STRIDE
        if f < n:
            seed = doc_id + multimodal.AVI_SEED_STRIDE * f
            _, _, img = multimodal.decode_jpeg(frames[f])
            want = (
                multimodal.JPEG_SIDE ** 2 * 128
                + 64 * sum(multimodal._jpeg_dc(seed, blk) for blk in range(4))
                + 4 * multimodal._JPEG_A_SUM
            )
            assert int(img.sum()) == want


def test_avi_decoder_rejects_corruption():
    """Container-level corruption is caught by the RIFF walker (not
    silently decoded): bad magic, truncated payload, an idx1 size
    mismatch, and a chunk overrunning its parent all raise."""
    import struct

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not an AVI"):
        multimodal.decode_avi(b"RIFFxxxxWAVE")
    b = bytearray(multimodal.encode_avi_mjpeg(5))
    with _pytest.raises(ValueError, match="truncated"):
        multimodal.decode_avi(bytes(b[:40]))
    # corrupt the LAST idx1 entry's size field (trailing 4 bytes)
    bad = bytearray(b)
    bad[-4:] = struct.pack("<I", 1)
    with _pytest.raises(ValueError, match="idx1 entry disagrees"):
        multimodal.decode_avi(bytes(bad))
    # inflate an inner chunk length so it overruns its parent: the avih
    # chunk header sits right after RIFF(12) + LIST hdr(12) = offset 24
    bad2 = bytearray(b)
    assert bad2[24:28] == b"avih"
    bad2[28:32] = struct.pack("<I", 10_000_000)
    with _pytest.raises(ValueError, match="overruns"):
        multimodal.decode_avi(bytes(bad2))


def test_jpeg_batched_idct_matches_per_block():
    """Round-13 pin: the stacked (nb,8,8) IDCT matmul the decoder now
    runs is BIT-identical to the per-block 2-D form it replaced, on
    arbitrary coefficient blocks (not just this corpus's plans) — the
    float op order is the same dgemm per slice."""
    import numpy as np

    basis = multimodal._idct_basis()
    rng = np.random.default_rng(13)
    Fm = rng.integers(-4000, 4000, size=(500, 8, 8)).astype(np.float64)
    batched = np.floor(basis.T @ Fm @ basis + 0.5)
    per = np.stack([np.floor(basis.T @ f @ basis + 0.5) for f in Fm])
    assert batched.view(np.uint64).tobytes() == per.view(np.uint64).tobytes()


def test_jpeg_fast_huffman_lut_parity():
    """Round-13 pin: the peek-table Huffman decode (_huff_lut) resolves
    exactly the symbols a per-bit canonical walk resolves, for every
    code of an arbitrary canonical table (incl. max-depth codes), and
    every LUT slot under a code's prefix maps back to that code."""
    import itertools
    import random

    rng = random.Random(131)
    for _trial in range(50):
        # random canonical table: random code lengths, canonical codes
        nsyms = rng.randint(2, 12)
        lengths = sorted(rng.randint(1, 9) for _ in range(nsyms))
        code, table = 0, {}
        ok = True
        sym = 0
        prev_len = lengths[0]
        for ln in lengths:
            code <<= ln - prev_len
            prev_len = ln
            if code >= (1 << ln):  # over-subscribed draw: skip trial
                ok = False
                break
            table[(ln, code)] = 0xA0 + sym
            sym += 1
            code += 1
        if not ok:
            continue
        maxlen, mask, lut = multimodal._huff_lut(table)
        assert maxlen == max(ln for ln, _ in table)
        for (ln, c), s in table.items():
            # every padded slot under the code's prefix resolves to it
            for pad in range(1 << (maxlen - ln)):
                assert lut[(c << (maxlen - ln)) + pad] == (s, ln), (ln, c)
        # slots under no code prefix stay None (decode raises on them)
        covered = sum(1 << (maxlen - ln) for ln, _ in table)
        assert sum(x is not None for x in lut) == covered


def test_jpeg_dc_only_matches_full_decode():
    """The compressed-domain path returns exactly the block DCs the
    full decoder uses: block means of the full-decode pixels equal
    128 + dc/8 + the fixed AC pattern's mean contribution (0 here by
    construction of the plan's zero-mean AC pattern check), and the
    DC list matches the seeded plan."""
    for seed in (0, 5, 48, 123):
        w, h, dcs = multimodal.decode_jpeg(
            multimodal.encode_jpeg(seed), dc_only=True
        )
        assert (w, h) == (multimodal.JPEG_SIDE,) * 2
        assert [c // 8 for c in dcs] == [
            multimodal._jpeg_dc(seed, b) for b in range(4)
        ]
        # full decode agrees: per-block pixel sum = 64*(128+dc) + A_SUM
        _, _, img = multimodal.decode_jpeg(multimodal.encode_jpeg(seed))
        for b, c0 in enumerate(dcs):
            r0, col0 = (b // 2) * 8, (b % 2) * 8
            blk = img[r0 : r0 + 8, col0 : col0 + 8]
            assert int(blk.sum()) == 64 * (128 + c0 // 8) + multimodal._JPEG_A_SUM


def test_lsh_star_cull_preserves_components(spark, sf_dir, monkeypatch):
    """The hot-bucket star cull (LSH_MAX_BUCKET, found by the sf1z Zipf
    rehearsal) must change only the PAIR LIST shape, never the duplicate
    CLUSTERS: with the cap forced to 1 (every multi-doc bucket goes
    star) the connected components over the pairs are identical to the
    uncapped all-pairs graph, and the pair count is no larger."""
    from eventlog_spark.operators import dedup as D
    from eventlog_spark.operators import artifacts

    monkeypatch.setattr(artifacts, "ENABLED", False)  # fresh builds

    def components(pairs_df):
        docs = D.load_table(spark, sf_dir, "documents").select("doc_id")
        comp = D.connected_components(docs, pairs_df)
        return {(r.doc_id, r.component_id) for r in comp.collect()}

    uncapped = D._lsh_candidate_pairs_build(spark, sf_dir)
    n_uncapped = uncapped.count()
    comp_uncapped = components(uncapped)

    monkeypatch.setattr(D, "LSH_MAX_BUCKET", 1)
    starred = D._lsh_candidate_pairs_build(spark, sf_dir)
    n_star = starred.count()
    comp_star = components(starred)

    assert comp_star == comp_uncapped  # cluster semantics unchanged
    assert n_star <= n_uncapped  # star edges never exceed all-pairs


def test_load_table_fresh_gives_independent_plan_instances(spark, sf_dir):
    """Round-12 regression contract: the memoized reader returns ONE
    instance per (sf_dir, table), and ``fresh=True`` returns a NEW
    instance whose attribute ids are distinct — the invariant
    self-cogroups need (flatMapCoGroupsInPandas cannot disambiguate two
    legs sharing one plan instance's attribute ids)."""
    from eventlog_spark.tables import load_table

    a = load_table(spark, sf_dir, "embeddings")
    b = load_table(spark, sf_dir, "embeddings")
    assert a is b  # memo: same instance, plan/metadata reuse

    f1 = load_table(spark, sf_dir, "embeddings", fresh=True)
    f2 = load_table(spark, sf_dir, "embeddings", fresh=True)
    assert f1 is not a and f1 is not f2

    def expr_ids(df):
        out = df._jdf.queryExecution().analyzed().output()
        return [out.apply(i).exprId().id() for i in range(out.size())]

    assert expr_ids(f1) != expr_ids(a)
    assert expr_ids(f1) != expr_ids(f2)
    # fresh instances read the same data
    assert f1.count() == a.count()


def test_embedding_cosine_gated_branch_analyzes(spark, sf_dir, monkeypatch):
    """Round-12 regression: the EMB_EXACT_CAP-gated tile path builds a
    self-cogroup whose legs each embed a broadcast sample join — with
    the memoized (shared-instance) readers this failed analysis with an
    ambiguous-column error, which the driver's small-SF flows can never
    see (the gate engages only above the cap). Force the gate at test
    scale and execute the cogroup end to end."""
    from eventlog_spark.operators import dedup as D

    monkeypatch.setattr(D, "EMB_EXACT_CAP", 8)  # gate engages at any SF
    out = D.dedup_embedding_cosine(spark, sf_dir)
    rows = out.collect()  # pre-fix: AnalysisException at plan time
    for r in rows:
        assert r.vec_a < r.vec_b


def test_np_router_and_lut_match_jvm(spark, sf_dir):
    """Round-13 bit-identity pin for the driver-side IVF-PQ serving
    path: the Python cosine routing reproduces the JVM window
    (cos DESC, cid) exactly, and the numpy ADC LUT reproduces the JVM
    sequential squared-distance fold long for long — on the REAL
    artifacts for this dataset."""
    import numpy as np
    from pyspark.sql.window import Window

    from eventlog_spark.operators import curation as C
    from eventlog_spark.operators.corpus import PQ_FXP
    from eventlog_spark.operators.similarity import K_LISTS, N_PROBE, QUERY_IDS

    PQ_M, PQ_SUB, PQ_K = C.PQ_MT, C.PQ_SUBT, C.PQ_KT
    emb = C._emb_normalized(spark, sf_dir)
    ctrl = C._ctrl_plane_rows(emb, K_LISTS, QUERY_IDS)
    probe_pairs, q_items = C._np_query_router(ctrl, K_LISTS, QUERY_IDS, N_PROBE)

    # JVM routing: the exact pre-round-13 formulation
    cents = emb.where(F.col("vec_id") < K_LISTS).select(
        F.col("vec_id").alias("cid"),
        F.col("dvec").alias("cv"),
        F.col("nrm").alias("nc"),
    )
    q = emb.where(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("dvec").alias("qv"),
        F.col("nrm").alias("nq"),
        F.col("nv").alias("qnv"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cid"))
    jvm_probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("cos", C._dot("qv", "cv") / (F.col("nq") * F.col("nc")))
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= N_PROBE)
        .select("query_id", "cid")
        .collect()
    )
    assert sorted(probe_pairs) == sorted(
        (int(r["query_id"]), int(r["cid"])) for r in jvm_probes
    )

    # JVM LUT: the exact pre-round-13 fold, against the same codebook
    from eventlog_spark.operators.artifacts import persisted_bundle

    tabs = persisted_bundle(
        spark, sf_dir,
        [("pq_codebook", None), ("pq_codes", ("list_id",))],
        lambda: C._pq_offline_frames(spark, sf_dir),
        inputs=("embeddings",),
        params=f"kt{C.PQ_KT}-r{C.PQ_ROUNDS}-cap{C.PQ_TRAIN_CAP}-k{K_LISTS}"
        f"-m{C.PQ_MT}x{C.PQ_SUBT}",
    )
    cent = tabs["pq_codebook"]
    np_luts = C._np_adc_luts(cent.collect(), q_items, PQ_M, PQ_SUB, PQ_K, PQ_FXP)
    qlocal = spark.createDataFrame(q_items, "query_id long, qnv array<double>")
    acc = F.lit(0.0)
    for i in range(PQ_SUB):
        d = F.element_at(
            "qnv", (F.col("s") * PQ_SUB + i + 1).cast("int")
        ) - F.col("cv").getItem(i)
        acc = acc + d * d
    jvm_rows = (
        cent.crossJoin(F.broadcast(qlocal))
        .select("query_id", "s", "cid", F.floor(acc * PQ_FXP).cast("long").alias("l"))
        .collect()
    )
    for r in jvm_rows:
        got = np_luts[int(r["query_id"])][int(r["s"]) * PQ_K + int(r["cid"])]
        assert got == int(r["l"]), (r, got)

    # the single-expr squared-L2 evaluates bit-identically to the
    # Column-by-Column form it replaced (same left-to-right fold)
    a = F.lit(0.0)
    for i in range(PQ_SUB):
        d = F.col("x").getItem(3 + i) - F.col("y").getItem(3 + i)
        a = a + d * d
    import random

    rng = random.Random(7)
    frame = spark.createDataFrame(
        [([rng.uniform(-1, 1) for _ in range(16)],
          [rng.uniform(-1, 1) for _ in range(16)]) for _ in range(64)],
        "x array<double>, y array<double>",
    )
    got = frame.select(
        C._sq_l2_sql("x", "y", PQ_SUB, 3).alias("s"), a.alias("r")
    ).collect()
    for r in got:
        assert r["s"] == r["r"] and str(r["s"]) == str(r["r"])


def test_np_router_matches_jvm_on_zero_norm_vectors(spark):
    """ADVICE (low): a zero-norm query or centroid made the driver-side
    router divide by zero. Spark's divide gives NULL there (ANSI off;
    with ANSI on the ``nv`` projection raises first), and the window's
    ``cos DESC`` ranks NULL after every defined cos and NaN (a centroid
    holding a NaN) above them. The driver probes must equal the JVM
    window's, rank for rank."""
    import random

    from pyspark.sql.window import Window

    from eventlog_spark.operators import curation as C

    k_lists, query_ids, n_probe = 6, [100, 101, 102], 4
    rng = random.Random(11)
    vec = lambda: [rng.uniform(-1, 1) for _ in range(64)]  # noqa: E731
    zero = [0.0] * 64
    rows = [(cid, zero if cid == 2 else vec()) for cid in range(k_lists)]
    rows[4][1][5] = float("nan")
    rows += [(100, vec()), (101, zero), (102, vec())]
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        emb = (
            spark.createDataFrame(rows, "vec_id long, dvec array<double>")
            .withColumn(
                "nrm",
                F.expr("sqrt(aggregate(transform(dvec, x -> x * x), 0.0D, (a, v) -> a + v))"),
            )
            .withColumn("nv", F.expr("transform(dvec, x -> x / nrm)"))
        )
        ctrl = C._ctrl_plane_rows(emb, k_lists, query_ids)
        probes, _q_items = C._np_query_router(ctrl, k_lists, query_ids, n_probe)

        cents = emb.where(F.col("vec_id") < k_lists).select(
            F.col("vec_id").alias("cid"), F.col("dvec").alias("cv"), F.col("nrm").alias("nc")
        )
        q = emb.where(F.col("vec_id").isin(*query_ids)).select(
            F.col("vec_id").alias("query_id"), F.col("dvec").alias("qv"), F.col("nrm").alias("nq")
        )
        wp = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cid"))
        jvm = (
            q.crossJoin(cents)
            .withColumn("cos", C._dot("qv", "cv") / (F.col("nq") * F.col("nc")))
            .withColumn("rn", F.row_number().over(wp))
            .where(F.col("rn") <= n_probe)
            .orderBy("query_id", "rn")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert probes == [(int(r["query_id"]), int(r["cid"])) for r in jvm]
    # the NaN centroid ranks first and the zero-norm one last for every
    # query; the zero-norm query ranks every other centroid NULL, so
    # cid order decides after the NaN
    assert probes[0] == (100, 4) and (100, 2) not in probes and (102, 2) not in probes
    assert [c for qid, c in probes if qid == 101] == [4, 0, 1, 2]


def test_distance_kernels_accept_mixed_str_and_column(spark):
    """ADVICE (low): the unrolled squared-L2 and dot kernels take column
    names, Columns, or one of each — a mixed call equals the all-string
    call."""
    from eventlog_spark.operators.curation import _dot, _sq_l2

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [0.5, -1.0, 4.0])], "a array<double>, b array<double>"
    )
    for fn, want in ((_sq_l2, 10.25), (_dot, 10.5)):
        for a, b in (("a", "b"), ("a", F.col("b")), (F.col("a"), "b")):
            assert df.select(fn(a, b, 3).alias("v")).first().v == want
