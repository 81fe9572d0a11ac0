"""Property tests for the approximate/rows-only operators
(SURVEY.md 5.2.4): the driver can only count their rows, so the real
guarantees are asserted here."""

import hashlib

import pandas as pd
import pytest

from pypiper_spark.registry import all_queries

QS = all_queries()


@pytest.fixture(scope="module")
def synth_docs_dir(tmp_path_factory):
    """A tiny documents table with known exact and near duplicates."""
    base = tmp_path_factory.mktemp("synthdocs")
    # 30 distinct words: one changed word gives set-jaccard 29/31
    # ~ 0.935, above the 0.9 near-dup verification threshold
    words = [f"term{i:02d}" for i in range(30)]
    rows = []
    # 0 and 1: exact duplicates. 2: near-dup of 0 (one word changed).
    text0 = " ".join(words * 3)
    text2 = " ".join((words[:-1] + ["omega"]) * 3)
    rows.append((0, text0, "en", "src0", len(text0)))
    rows.append((1, text0, "en", "src0", len(text0)))
    rows.append((2, text2, "en", "src0", len(text2)))
    # unrelated docs with disjoint vocab
    for i in range(3, 20):
        t = " ".join(f"w{i}_{j}" for j in range(30))
        rows.append((i, t, "en", "src0", len(t)))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(base / "documents.parquet")
    return str(base)


def test_minhash_exact_dups_always_collide(spark, synth_docs_dir):
    from pypiper_spark.queries.dedup import _dedup_minhash_pairs

    out = _dedup_minhash_pairs(spark, synth_docs_dir).toPandas()
    pairs = set(zip(out.id_a, out.id_b))
    assert (0, 1) in pairs, "identical docs must share every band"
    j01 = out[(out.id_a == 0) & (out.id_b == 1)].jaccard.iloc[0]
    assert j01 == 1.0
    # near-dup (29/31 word overlap -> jaccard ~0.935) should surface
    assert (0, 2) in pairs and (1, 2) in pairs


def test_minhash_no_false_positives_across_disjoint_vocab(spark, synth_docs_dir):
    from pypiper_spark.queries.dedup import _dedup_minhash_pairs

    out = _dedup_minhash_pairs(spark, synth_docs_dir).toPandas()
    for _, r in out.iterrows():
        assert r.jaccard >= 0.9  # the verification filter actually filters
    # the registered decision form must assert all its own contracts
    dec = QS["q_dedup_minhash"].fn(spark, synth_docs_dir).toPandas()
    assert len(dec) == 1
    assert dec.all_eq_found[0] and dec.precision_ok[0] and dec.recall_ok[0]


def test_simhash_exact_dups_have_zero_hamming(spark, synth_docs_dir):
    from pypiper_spark.queries.dedup import _dedup_simhash_pairs

    out = _dedup_simhash_pairs(spark, synth_docs_dir).toPandas()
    row = out[(out.id_a == 0) & (out.id_b == 1)]
    assert len(row) == 1 and row.hamming.iloc[0] == 0
    # the registered decision form must assert all its own contracts
    dec = QS["q_dedup_simhash"].fn(spark, synth_docs_dir).toPandas()
    assert len(dec) == 1
    assert dec.all_eq_found[0] and dec.hamming_bound_ok[0] and dec.recall_ok[0]


def test_lsh_recall_against_bruteforce(spark, sf_dir):
    from pypiper_spark.queries.vectors import _sim_ann_lsh_topk

    brute = QS["q_sim_topk_bruteforce"].fn(spark, sf_dir).toPandas()
    ann = _sim_ann_lsh_topk(spark, sf_dir).toPandas()
    assert len(ann) > 0
    # every ANN hit must carry the exact cosine the brute-force run found
    merged = ann.merge(
        brute, on=["probe_id", "vec_id"], suffixes=("_ann", "_bf"), how="inner"
    )
    assert (merged.cos_sim_ann == merged.cos_sim_bf).all()
    # multiprobe (Hamming-1 fanout) measured 0.90 recall@10 at
    # sf0.001 vs 0.57 single-bucket; 0.5 floor leaves slack for
    # corpus regeneration while catching a broken fanout.
    recall = len(merged) / len(brute)
    assert recall >= 0.5, f"recall@10 {recall:.2f} below multiprobe floor"
    # the registered decision form must assert all its own contracts
    dec = QS["q_sim_ann_lsh"].fn(spark, sf_dir).toPandas()
    assert dec.recall_ok.all() and dec.k_rows_ok.all()


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    from pypiper_spark.queries.vectors import _sim_ann_ivf_topk

    brute = QS["q_sim_topk_bruteforce"].fn(spark, sf_dir).toPandas()
    ivf = _sim_ann_ivf_topk(spark, sf_dir).toPandas()
    assert len(ivf) > 0
    merged = ivf.merge(
        brute, on=["probe_id", "vec_id"], suffixes=("_ivf", "_bf"), how="inner"
    )
    assert (merged.cos_sim_ivf == merged.cos_sim_bf).all()
    recall = len(merged) / len(brute)
    # nprobe/k = 4/16 of the corpus scanned; unclustered data caps
    # recall well below 1.0 — conservative floor.
    assert recall >= 0.1, f"IVF recall@10 {recall:.2f} suspiciously low"
    dec = QS["q_sim_ann_ivf"].fn(spark, sf_dir).toPandas()
    assert dec.recall_ok.all() and dec.k_rows_ok.all()


def test_approx_count_distinct_rel_error(spark, sf_dir):
    """Direct HLL estimate-vs-exact bound (tighter than the query's
    hashed 6% decision column), plus the decision column itself."""
    from pypiper_spark.catalog import load_table
    from pyspark.sql import functions as F

    out = QS["q_agg_approx_distinct"].fn(spark, sf_dir).toPandas()
    assert out.approx_within_6pct.all(), f"HLL decision flipped:\n{out}"
    raw = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("a"),
            F.countDistinct("l_partkey").alias("e"),
        )
        .toPandas()
    )
    rel = (raw.a - raw.e).abs() / raw.e
    assert (rel < 0.1).all(), f"HLL rel error too high:\n{raw}"


def test_sample_fraction_bounds(spark, sf_dir):
    from pypiper_spark.catalog import load_table
    from pypiper_spark.queries.sorts_setops import _sample_rows

    n_total = load_table(spark, sf_dir, "lineitem").count()
    n_sample = _sample_rows(spark, sf_dir).count()
    assert 0.05 * n_total < n_sample < 0.15 * n_total
    # the registered decision form must assert all its own contracts
    dec = QS["q_sample"].fn(spark, sf_dir).toPandas()
    assert len(dec) == 1
    assert bool(dec.frac_ok[0]) and bool(dec.subset_ok[0]) and bool(dec.mean_price_ok[0])


def test_multimodal_decode_matches_python_md5(spark, sf_dir):
    out = QS["q_multimodal_decode"].fn(spark, sf_dir).toPandas()
    assert (out.byte_len == 16).all()
    assert (out.fmt == "fake16").all()
    from pypiper_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    digests = {
        r.doc_id: hashlib.md5(r.text.encode()).digest() for r in docs.itertuples()
    }
    sample = out.head(20)
    for r in sample.itertuples():
        d = digests[r.doc_id]
        assert r.first_byte == d[0] and r.last_byte == d[-1] and r.checksum == sum(d)


def test_multimodal_resize_halves_payload(spark, sf_dir):
    out = QS["q_multimodal_resize"].fn(spark, sf_dir).toPandas()
    assert (out.width == 2).all() and (out.height == 2).all()
    assert (out.fmt == "fake16_half").all()
    # 16 bytes -> every other -> 8 bytes = 16 hex chars
    assert out.payload_hex.map(len).eq(16).all()


def test_multimodal_frame_sampling_shape(spark, sf_dir):
    out = QS["q_multimodal_frames"].fn(spark, sf_dir).toPandas()
    # 16-byte payload = 4 frames of 4 bytes; stride 2 -> frames 0 and 2
    per_doc = out.groupby("doc_id").frame_idx.apply(list)
    assert per_doc.map(lambda l: sorted(l) == [0, 2]).all()
    assert out.frame_hex.map(len).eq(8).all()  # 4 bytes = 8 hex chars


def test_multimodal_compressed_codecs_guarded_without_pil():
    """Non-PGM payloads need PIL; without it the guard raises instead
    of silently faking a decode."""
    from pypiper_spark.multimodal import decode_image_real

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; compressed path is live")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image_real(b"\x89PNG" + b"\x00" * 16)


def test_multimodal_pgm_decode_is_real():
    """decode_image_real actually parses netpbm bytes: header fields
    and pixel values round-trip a hand-built image."""
    from pypiper_spark.multimodal import decode_image_real

    pixels = bytes(range(12))  # 4x3 gradient
    fmt, w, h, pix = decode_image_real(b"P5\n4 3\n255\n" + pixels)
    assert (fmt, w, h) == ("pgm", 4, 3)
    assert pix == list(range(12))
    with pytest.raises(ValueError):
        decode_image_real(b"P5\n4 3\n255\n" + pixels[:5])  # truncated body


def test_multimodal_decode_real_matches_independent_decoder(spark, sf_dir):
    """The Spark path (JVM-built PGM payload -> mapInPandas decode)
    agrees with an independent pure-Python build+decode of the same
    documents."""
    out = QS["q_multimodal_decode_real"].fn(spark, sf_dir).toPandas()
    assert (out.fmt == "pgm").all()
    assert (out.width == 8).all() and (out.height == 8).all()

    from pypiper_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    expected = {}
    for r in docs.itertuples():
        pix = b"".join(
            hashlib.md5(r.text.encode() + str(i).encode()).digest() for i in range(4)
        )[:64]
        expected[r.doc_id] = (
            round(sum(pix) / 64.0, 6),
            min(pix),
            max(pix),
        )
    sample = out.head(25)
    for r in sample.itertuples():
        mean_px, min_px, max_px = expected[r.doc_id]
        assert (round(r.mean_pixel, 6), r.min_pixel, r.max_pixel) == (
            mean_px,
            min_px,
            max_px,
        ), r.doc_id


def test_stratified_sample_rates_and_strata(spark, sf_dir):
    from pypiper_spark.queries.sorts_setops import _sample_stratified_rows

    out = _sample_stratified_rows(spark, sf_dir).toPandas()
    full = _sample_stratified_rows(spark, sf_dir)  # determinism probe
    assert out.o_orderstatus.isin(["F", "O", "P"]).all()
    # seeded: two runs of the same plan agree exactly
    assert sorted(full.toPandas().o_orderkey) == sorted(out.o_orderkey)
    from pypiper_spark.catalog import load_table

    totals = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .count()
        .toPandas()
        .set_index("o_orderstatus")["count"]
    )
    got = out.groupby("o_orderstatus").size()
    for status, frac in [("F", 0.05), ("O", 0.05), ("P", 0.5)]:
        n, k = int(totals.get(status, 0)), int(got.get(status, 0))
        assert k <= n
        # loose binomial bound: within 5 sigma of n*frac
        import math

        sigma = math.sqrt(max(n * frac * (1 - frac), 1.0))
        assert abs(k - n * frac) <= 5 * sigma, (status, k, n)
    # the registered decision form must assert all its own contracts
    dec = QS["q_sample_stratified"].fn(spark, sf_dir).toPandas()
    assert dec.rate_ok.all() and dec.subset_ok.all()


def test_approx_percentile_within_exact_band(spark, sf_dir):
    """The query's hashed rank-band decisions must all hold, and the
    raw sketch values (recomputed here) must land within 2% of the
    exact interpolated percentile — the tighter direct bound."""
    from pypiper_spark.catalog import load_table
    from pyspark.sql import functions as F

    out = QS["q_agg_approx_percentile"].fn(spark, sf_dir).toPandas()
    assert out.p50_ok.all() and out.p90_ok.all() and out.p99_ok.all(), out
    raw = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000
            ).alias("apx"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("e50"),
            F.percentile("l_extendedprice", F.lit(0.9)).alias("e90"),
            F.percentile("l_extendedprice", F.lit(0.99)).alias("e99"),
        )
        .toPandas()
    )
    for _, r in raw.iterrows():
        # accuracy=10000 -> rank error <= n/10000; values are ~uniform
        # over [~900, 600k], so 2% value tolerance is generous
        for approx, exact in zip(r.apx, [r.e50, r.e90, r.e99]):
            assert abs(approx - exact) <= 0.02 * max(abs(exact), 1.0), r


def test_multimodal_wav_payload_is_real_wav_and_stats_match(spark, sf_dir):
    """The JVM-built WAV payloads must parse with the stdlib wave
    reader, and the Spark-side stats must equal an independent Python
    recomputation from the text."""
    import hashlib
    import math

    from pypiper_spark.catalog import load_table
    from pypiper_spark.multimodal import (
        _WAV_RATE,
        _WAV_SAMPLES,
        decode_audio,
        with_wav_payload,
    )

    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = {
        r["doc_id"]: r
        for r in decode_audio(with_wav_payload(docs)).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        raw = b"".join(
            hashlib.md5(row["text"].encode() + f"wav{i}".encode()).digest()
            for i in range((_WAV_SAMPLES + 15) // 16)
        )[:_WAV_SAMPLES]
        a = [b - 128.0 for b in raw]
        r = out[row["doc_id"]]
        assert r["sample_rate"] == _WAV_RATE
        assert r["n_samples"] == _WAV_SAMPLES
        assert r["duration_ms"] == round(_WAV_SAMPLES * 1000.0 / _WAV_RATE, 6)
        assert r["rms"] == round(math.sqrt(sum(x * x for x in a) / len(a)), 6)
        assert r["peak"] == int(max(abs(x) for x in a))


def test_multimodal_wav_rejects_malformed_riff():
    import pytest as _pytest

    from pypiper_spark.multimodal import decode_audio_real

    with _pytest.raises(Exception):
        decode_audio_real(b"RIFFgarbage-not-a-wav")


def test_hll_sketch_estimates_within_error_bounds(spark, sf_dir):
    """q_agg_sketches: HLL estimates (lgConfigK=12 => ~1.6% stderr)
    must land within 5% of exact distinct counts, per source and for
    the sketch-union global row."""
    from pyspark.sql import functions as F

    from pypiper_spark.catalog import load_table
    from pypiper_spark.registry import all_queries

    got = {
        r["source"]: r
        for r in all_queries()["q_agg_sketches"].fn(spark, sf_dir).collect()
    }
    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    exact = {
        r["source"]: r["n"]
        for r in tok.groupBy("source")
        .agg(F.countDistinct("word").alias("n"))
        .collect()
    }
    exact["__all__"] = tok.select("word").distinct().count()
    assert set(got) == set(exact)
    for src, n_exact in exact.items():
        r = got[src]
        assert r["distinct_words_exact"] == n_exact, (src, r)
        assert r["hll_within_5pct"], f"{src}: HLL estimate outside 5% of {n_exact}"
        assert r["top_is_mode"], f"{src}: approx_top_k item is not a mode"
    # the union row must estimate the UNION of sets (== global exact
    # distinct within 5%), not the sum of per-source estimates
    # (sources share vocabulary) — with the shared vocab the union is
    # far below the sum, so the 5% decision column already proves it;
    # assert the exact relation too
    assert got["__all__"]["distinct_words_exact"] < sum(
        got[s]["distinct_words_exact"] for s in exact if s != "__all__"
    )


def test_pq_recall_against_bruteforce(spark, sf_dir):
    from pypiper_spark.queries.vectors import _sim_ann_pq_topk

    brute = QS["q_sim_topk_bruteforce"].fn(spark, sf_dir).toPandas()
    pq = _sim_ann_pq_topk(spark, sf_dir).toPandas()
    assert len(pq) > 0
    assert set(pq.probe_id) == set(brute.probe_id)
    merged = pq.merge(
        brute, on=["probe_id", "vec_id"], suffixes=("_pq", "_bf"), how="inner"
    )
    # reranked cosine is exact, so overlapping rows agree on the value
    assert (merged.cos_sim_pq == merged.cos_sim_bf).all()
    # 8x4-bit codes + size-adaptive ADC shortlist (r10: max(300,
    # 1.5% of corpus)): measured 1.00 / 0.93 at sf0.01 / sf0.1;
    # exactness comes from the rerank
    recall = len(merged) / len(brute)
    assert recall >= 0.85, f"PQ recall@10 {recall:.2f} below r10 floor"
    dec = QS["q_sim_ann_pq"].fn(spark, sf_dir).toPandas()
    assert dec.recall_ok.all() and dec.k_rows_ok.all()


def test_semantic_dedup_matches_numpy_recompute(spark, sf_dir):
    """q_dedup_semantic invariants, recomputed independently: same
    centroid assignment (argmin L2 against the shared IVF artifact),
    same keep-first drop set at cosine >= 0.35 within clusters."""
    import numpy as np

    from pypiper_spark.catalog import load_table
    from pypiper_spark.queries.dedup import _dedup_semantic_marks
    from pypiper_spark.queries.vectors import build_ivf_index

    got = _dedup_semantic_marks(spark, sf_dir).toPandas()
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    E = np.vstack(rows.embedding.to_numpy()).astype(np.float64)
    ids = rows.vec_id.to_numpy()
    C = np.array(build_ivf_index(spark, sf_dir, k=16))
    assign = ((E[:, None, :] - C[None, :, :]) ** 2).sum(2).argmin(1)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    expected_dropped = set()
    for c in range(len(C)):
        idx = np.where(assign == c)[0]
        S = En[idx] @ En[idx].T
        for j_pos, j in enumerate(idx):
            earlier = idx[:j_pos]
            if len(earlier) and (S[:j_pos, j_pos] >= 0.35).any():
                expected_dropped.add(int(ids[j]))
    got_map = dict(zip(got.vec_id, got.is_semantic_dup))
    assert set(got_map) == set(int(i) for i in ids)
    got_dropped = {v for v, d in got_map.items() if d}
    assert got_dropped == expected_dropped
    # clusters agree too
    got_cluster = dict(zip(got.vec_id, got.cluster))
    for i, v in enumerate(ids):
        assert got_cluster[int(v)] == assign[i]
    # the registered decision form must assert all its own contracts
    dec = QS["q_dedup_semantic"].fn(spark, sf_dir).toPandas()
    assert dec.precision_ok.all() and dec.blocked_complete_ok.all()
    # ...and its anchor truth must agree with the numpy ground truth
    from pypiper_spark.queries.dedup import _SEM_ANCHOR_IDS

    pos = {int(v): i for i, v in enumerate(ids)}
    for _, r in dec.iterrows():
        i = pos[int(r.vec_id)]
        lower = [pos[a] for a in pos if a < r.vec_id]
        best = np.round(En[lower] @ En[i], 6).max() if lower else -1.0
        assert bool(r.has_near_predecessor) == bool(best >= 0.35), r.vec_id
    assert set(dec.vec_id) == set(_SEM_ANCHOR_IDS)


def test_ann_index_artifacts_survive_cold_start(spark, sf_dir, monkeypatch):
    """IVF centroids and PQ codebooks are persisted parquet artifacts:
    a cold process (simulated by clearing the in-process artifact memo)
    must answer index builds WITHOUT re-fitting — we poison the fit
    path (load_table) and assert the loaded artifacts are bit-identical
    to the warm builds."""
    from pypiper_spark import artifacts
    from pypiper_spark.queries import vectors as V

    warm_ivf = V.build_ivf_index(spark, sf_dir, k=16)
    warm_pq = V.build_pq_codebooks(spark, sf_dir)
    artifacts._MEMO.clear()

    def _boom(*a, **k):
        raise AssertionError("cold start re-ran the index fit path")

    monkeypatch.setattr(V, "load_table", _boom)
    cold_ivf = V.build_ivf_index(spark, sf_dir, k=16)
    cold_pq = V.build_pq_codebooks(spark, sf_dir)
    assert cold_ivf == warm_ivf
    assert cold_pq == warm_pq


def test_ivfpq_artifact_survives_cold_start(spark, sf_dir, monkeypatch):
    """The residual codebooks persist like the other two artifacts: a
    memo-cleared process with a poisoned fit path loads bit-identical
    codebooks from parquet."""
    from pypiper_spark import artifacts
    from pypiper_spark.queries import vectors as V

    cents = V.build_ivf_index(spark, sf_dir, k=16)
    warm = V.build_ivfpq_codebooks(spark, sf_dir, cents)
    artifacts._MEMO.clear()

    def _boom(*a, **k):
        raise AssertionError("cold start re-ran the residual-PQ fit path")

    monkeypatch.setattr(V, "load_table", _boom)
    assert V.build_ivfpq_codebooks(spark, sf_dir, cents) == warm


def test_ivfpq_recall_against_bruteforce_and_beats_cell_floor(spark, sf_dir):
    """IVFADC recall@10 vs the exact oracle, plus the composition
    sanity check: every IVFPQ hit must be a vector whose coarse cell
    is among the probe's nprobe cells (the posting-list join can never
    leak a candidate from an unprobed cell), and reranked cos_sim
    values are exact (bit-equal to brute force on shared hits)."""
    from pypiper_spark.queries.vectors import _sim_ann_ivfpq_topk

    brute = QS["q_sim_topk_bruteforce"].fn(spark, sf_dir).toPandas()
    ann = _sim_ann_ivfpq_topk(spark, sf_dir).toPandas()
    assert len(ann) > 0
    merged = ann.merge(
        brute, on=["probe_id", "vec_id"], suffixes=("_ann", "_bf"), how="inner"
    )
    assert (merged.cos_sim_ann == merged.cos_sim_bf).all()
    recall = len(merged) / len(brute)
    # (k=64, nprobe=24, shortlist=400) measured 0.90 recall@10 at both
    # sf0.001 and sf0.01, seed-robust (surface in the query docstring;
    # VERDICT r7 #6 raised the r6 floor of 0.6). 0.85 leaves ~1.5
    # probe-neighbor pairs of slack for corpus regeneration.
    assert recall >= 0.85, f"IVFPQ recall@10 {recall:.2f} below raised floor"
    dec = QS["q_sim_ann_ivfpq"].fn(spark, sf_dir).toPandas()
    assert dec.recall_ok.all() and dec.k_rows_ok.all()


def test_ann_index_artifact_invalidated_by_params(spark, sf_dir):
    """Different params -> different artifact file (no collisions)."""
    from pypiper_spark.artifacts import path_for

    a = path_for("ivf", sf_dir, ("embeddings",), "k=16:frac=0.25:seed=42")
    b = path_for("ivf", sf_dir, ("embeddings",), "k=32:frac=0.25:seed=42")
    assert a != b


def test_filtered_ann_purity_and_recall(spark, sf_dir):
    """q_sim_ann_filtered: every result shares its probe's label
    (purity — the filtered-search contract), ranks are dense 1..k, and
    recall@5 against the EXACT label-filtered brute force is at least
    IVF's unfiltered floor (the filter shrinks the candidate space,
    never the probed cells)."""
    import numpy as np
    import pandas as pd

    from pypiper_spark.queries.vectors import _sim_ann_filtered_topk

    got = _sim_ann_filtered_topk(spark, sf_dir).toPandas()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    labels = emb.set_index("vec_id")["label"]
    E = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    ids = emb["vec_id"].to_numpy()

    recalls = []
    for pid, grp in got.groupby("probe_id"):
        p_label = labels[pid]
        assert (grp["label"] == p_label).all()
        assert sorted(grp["nn_rank"]) == list(range(1, len(grp) + 1))
        # exact filtered top-5
        mask = (labels[ids].to_numpy() == p_label) & (ids != pid)
        pv = En[ids == pid][0]
        sims = np.round(En[mask] @ pv, 6)
        cand_ids = ids[mask]
        order = np.lexsort((cand_ids, -sims))
        exact5 = set(cand_ids[order][:5])
        recalls.append(len(exact5 & set(grp["vec_id"])) / 5)
    assert sum(recalls) / len(recalls) >= 0.2, recalls
    dec = QS["q_sim_ann_filtered"].fn(spark, sf_dir).toPandas()
    assert dec.recall_ok.all() and dec.k_rows_ok.all()


def test_coreset_kcenter_path_equality(spark, sf_dir):
    """The stepped batched-numpy form (the shipped q_coreset_kcenter
    path) and the retired declarative unrolling are INDEPENDENT
    implementations of the same greedy recurrence — identical rows is
    the strongest cheap evidence both are right (different plan
    shapes, different arithmetic engines, same 1e-6-rounded argmax
    trajectory)."""
    from pypiper_spark.queries import vectors as V

    a = sorted(map(tuple, V._kcenter_stepped(spark, sf_dir).collect()))
    b = sorted(map(tuple, V._kcenter_declarative(spark, sf_dir).collect()))
    assert a == b


def test_jaccard_truth_artifact_roundtrip(spark, sf_dir, monkeypatch):
    """The persisted truth-pair artifact (r10: VERDICT r9 #2) serves
    the exact _jaccard_pairs rows, and a cold process with a poisoned
    compute path answers bit-identically from parquet alone — the
    IVF-artifact lifecycle applied to the dedup recall denominators."""
    from pypiper_spark.queries import dedup as D

    live = sorted(
        map(
            tuple,
            D._jaccard_pairs(spark, sf_dir, 0.9)
            .select("id_a", "id_b")
            .collect(),
        )
    )
    art = sorted(map(tuple, D._truth_pairs(spark, sf_dir, 0.9).collect()))
    assert art == live

    def _boom(*a, **k):
        raise AssertionError("warm artifact re-ran the truth join")

    monkeypatch.setattr(D, "_jaccard_pairs", _boom)
    again = sorted(map(tuple, D._truth_pairs(spark, sf_dir, 0.9).collect()))
    assert again == live


def test_hnsw_recall_against_bruteforce(spark, sf_dir):
    """HNSW frontier-join beam search vs the exact oracle: reranked
    cosines are exact on shared hits, recall@10 >= the 0.90 decision
    floor (r10 sweep measured 1.00 at both SFs with M=16, L=1,
    ef0=48, T0=3), and the decision frame's booleans hold."""
    from pypiper_spark.queries.vectors import _sim_ann_hnsw_topk

    brute = QS["q_sim_topk_bruteforce"].fn(spark, sf_dir).toPandas()
    ann = _sim_ann_hnsw_topk(spark, sf_dir).toPandas()
    assert len(ann) > 0
    merged = ann.merge(
        brute, on=["probe_id", "vec_id"], suffixes=("_ann", "_bf"), how="inner"
    )
    assert (merged.cos_sim_ann == merged.cos_sim_bf).all()
    recall = len(merged) / len(brute)
    assert recall >= 0.90, f"HNSW recall@10 {recall:.2f} below floor"
    dec = QS["q_sim_ann_hnsw"].fn(spark, sf_dir).toPandas()
    assert dec.recall_ok.all() and dec.k_rows_ok.all()


def test_hnsw_artifact_survives_cold_start(spark, sf_dir, monkeypatch):
    """The graph/assignment/meta artifacts persist like the IVF
    centroids: a memo-cleared process with a poisoned build path
    returns identical paths and metadata from parquet alone."""
    from pypiper_spark import artifacts
    from pypiper_spark.queries import vectors as V

    warm = V.build_hnsw_graph(spark, sf_dir)
    artifacts._MEMO.clear()

    def _boom(*a, **k):
        raise AssertionError("cold start re-ran the graph build")

    monkeypatch.setattr(V, "load_table", _boom)
    assert V.build_hnsw_graph(spark, sf_dir) == warm


def test_hnsw_graph_shape(spark, sf_dir):
    """Structural invariants of the persisted graph: no self-edges,
    per-node out-degree <= M, the seed (top-layer) set is a spread
    subset of the graph nodes with its embeddings riding along, and
    the assignment covers every corpus vector exactly once (identity
    in the every-distinct-vector-is-a-node regime)."""
    import pyarrow.parquet as pq_

    from pypiper_spark.catalog import load_table
    from pypiper_spark.queries import vectors as V

    epath, spath, apath, n_nodes = V.build_hnsw_graph(spark, sf_dir)
    edges = pq_.read_table(epath).to_pandas()
    assert (edges.src != edges.dst).all()
    assert (edges.groupby("src").size() <= V._HNSW_M).all()
    nodes = set(edges.src)
    assert set(edges.dst) <= nodes
    seeds = pq_.read_table(spath).to_pandas()
    assert set(seeds.node_id) <= nodes
    assert len(seeds) >= min(len(nodes), V._HNSW_SEED_DIV)
    assert seeds.emb.map(len).eq(64).all()
    assign = pq_.read_table(apath).to_pandas()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert len(assign) == n and assign.vec_id.is_unique
    if n <= V._HNSW_SAMPLE_CAP:
        assert (assign.vec_id == assign.node_id).all()
    assert set(assign.node_id) <= nodes


def test_hnsw_build_is_driver_bounded(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r10 #1 pin: the offline graph build must never
    materialize a corpus-sized frame on the driver. toPandas is
    banned outright during the build; every collect() must return at
    most ~_HNSW_SAMPLE_CAP rows (the node sample — the ONLY driver
    materialization the v4 design allows). The corpus-sized posting
    assignment is written by executors via df.write.parquet."""
    from pyspark.sql import DataFrame

    from pypiper_spark import artifacts
    from pypiper_spark.queries import vectors as V

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    artifacts._MEMO.clear()
    collect_sizes = []
    orig_collect = DataFrame.collect

    def counting_collect(self):
        rows = orig_collect(self)
        collect_sizes.append(len(rows))
        return rows

    def banned_topandas(self):
        raise AssertionError("HNSW build pulled a frame via toPandas")

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    monkeypatch.setattr(DataFrame, "toPandas", banned_topandas)
    try:
        epath, spath, apath, n_nodes = V.build_hnsw_graph(spark, sf_dir)
    finally:
        artifacts._MEMO.clear()  # paths point into tmp_path — don't leak
    assert n_nodes > 0
    # hash-sample fluctuation can exceed the cap slightly; 2x is far
    # below any corpus-sized pull at a scale where the pin matters
    assert all(s <= 2 * V._HNSW_SAMPLE_CAP for s in collect_sizes), collect_sizes
    import os

    assert os.path.exists(apath)


def test_artifact_builders_are_driver_bounded(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r11 #1: the HNSW driver-bounded pin, generalized to ALL
    offline-artifact builders — truth pairs, exact-top-k anchors, IVF /
    PQ / IVFPQ codebooks, HNSW graph. Every driver materialization
    (collect / toArrow; toPandas banned outright) during a COLD build
    must be bounded (sample-, probe-, or cap-sized). _truth_pairs in
    particular must do ZERO driver materialization: its pair frame is
    executor-written via artifacts.publish_df (the r11 form collected every
    >=threshold truth pair through the driver — bounded at this corpus
    but data-scaled on a near-dup-heavy crawl)."""
    from pyspark.sql import DataFrame

    from pypiper_spark import artifacts
    from pypiper_spark.queries import dedup as D
    from pypiper_spark.queries import vectors as V

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    artifacts._MEMO.clear()
    sizes = []
    orig_collect, orig_toarrow = DataFrame.collect, DataFrame.toArrow

    def counting_collect(self):
        rows = orig_collect(self)
        sizes.append(len(rows))
        return rows

    def counting_toarrow(self):
        t = orig_toarrow(self)
        sizes.append(t.num_rows)
        return t

    def banned_topandas(self):
        raise AssertionError("artifact build pulled a frame via toPandas")

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    monkeypatch.setattr(DataFrame, "toArrow", counting_toarrow)
    monkeypatch.setattr(DataFrame, "toPandas", banned_topandas)
    try:
        D._truth_pairs(spark, sf_dir, 0.9)
        D._truth_pairs(spark, sf_dir, 0.95)
        assert sizes == [], f"_truth_pairs materialized on the driver: {sizes}"
        V._exact_topk_artifact(spark, sf_dir)
        centroids = V.build_ivf_index(spark, sf_dir)
        V.build_pq_codebooks(spark, sf_dir)
        V.build_ivfpq_codebooks(spark, sf_dir, centroids)
        V.build_hnsw_graph(spark, sf_dir)
    finally:
        artifacts._MEMO.clear()  # cached paths point into tmp_path — don't leak
    cap = 2 * V._HNSW_SAMPLE_CAP
    assert all(s <= cap for s in sizes), sizes


def test_hnsw_build_degenerate_single_vector_corpus(
    spark, tmp_path_factory, monkeypatch
):
    """ADVICE r10: a corpus with ONE distinct vector (nn == 1, k == 0)
    crashed the v3 build (empty float64 array used as an int index).
    v4 must produce an EMPTY typed edge table, a 1-row seed table and
    a total assignment instead."""
    import pandas as pd
    import pyarrow.parquet as pq_

    from pypiper_spark import artifacts
    from pypiper_spark.queries import vectors as V

    base = tmp_path_factory.mktemp("degenerate_emb")
    vec = [0.5] * 64
    pd.DataFrame(
        {"vec_id": [1, 2, 3], "embedding": [vec, vec, vec], "label": [0, 0, 0]}
    ).to_parquet(base / "embeddings.parquet")
    monkeypatch.setenv(
        "SPARK_GRAFT_INDEX_DIR", str(tmp_path_factory.mktemp("degenerate_idx"))
    )
    artifacts._MEMO.clear()
    try:
        epath, spath, apath, n_nodes = V.build_hnsw_graph(spark, str(base))
    finally:
        artifacts._MEMO.clear()
    edges = pq_.read_table(epath)
    assert edges.num_rows == 0
    assert {f.name for f in edges.schema} == {"src", "dst", "dst_emb"}
    assert n_nodes == 1
    seeds = pq_.read_table(spath)
    assert seeds.num_rows == 1 and seeds.column("node_id")[0].as_py() == 1
    assign = pq_.read_table(apath).to_pandas()
    assert sorted(assign.vec_id) == [1, 2, 3]
    assert set(assign.node_id) == {1}
