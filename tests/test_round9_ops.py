"""Round-9 edge-semantics fixtures (ADVICE r8).

- ``embedding_drift_monitor`` must report a label present in only ONE
  snapshot (appearing/disappearing population — the strongest drift
  signal a monitor exists to catch) with count/share 0 on the missing
  side and NULL centroid columns, instead of silently dropping it via
  the old inner join.
- ``dedup_minhash_band_tuning`` must emit all three band configs even
  on a degenerate corpus where a config (here: every config) yields
  zero candidate pairs — n_candidates=0 with NULL-guarded ratios, not a
  vanished row.
"""

from __future__ import annotations

import math

import pytest

from content_analytics_etl_spark.plans.dedup_queries import (
    LSH_TUNE_CONFIGS,
    dedup_minhash_band_tuning,
)
from content_analytics_etl_spark.plans.similarity_queries import (
    embedding_drift_monitor,
)


@pytest.fixture(scope="module")
def onesided_dir(spark, tmp_path_factory) -> str:
    """sf_dir with an embeddings table where label 99 exists only at odd
    vec_ids — i.e. only in the parity snapshot 'b'."""
    out = tmp_path_factory.mktemp("onesided_sf")
    rows = []
    for i in range(40):
        # label 1 everywhere; label 99 only on odd ids (snap 'b')
        label = 99 if (i % 2 == 1 and i >= 31) else 1
        rows.append((i, [float(i % 7), 1.0, float(label)], label))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(out / "embeddings.parquet"))
    return str(out)


def test_drift_monitor_reports_one_sided_label(spark, onesided_dir):
    got = {r["label"]: r for r in embedding_drift_monitor(spark, onesided_dir).collect()}
    assert 99 in got, "label present in only one snapshot must not vanish"
    r99 = got[99]
    assert r99["n_a"] == 0 and r99["n_b"] > 0
    assert r99["share_a"] == 0.0 and r99["share_b"] > 0.0
    assert r99["share_delta"] == r99["share_b"]
    assert r99["centroid_cosine"] is None and r99["centroid_drift"] is None
    # the two-sided label keeps real centroid geometry
    r1 = got[1]
    assert r1["n_a"] > 0 and r1["n_b"] > 0
    assert r1["centroid_cosine"] is not None
    assert not math.isnan(r1["centroid_cosine"])


@pytest.fixture(scope="module")
def alldistinct_dir(spark, tmp_path_factory) -> str:
    """sf_dir whose documents share no shingles at all — every LSH band
    config produces zero candidate pairs and the truth set is empty."""
    out = tmp_path_factory.mktemp("alldistinct_sf")
    docs = [
        (i, " ".join(f"d{i}w{k}" for k in range(10)), "en", f"src{i % 3}", 60)
        for i in range(30)
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(out / "documents.parquet"))
    return str(out)


def test_band_tuning_reports_vacuous_configs(spark, alldistinct_dir):
    rows = dedup_minhash_band_tuning(spark, alldistinct_dir).collect()
    assert len(rows) == len(LSH_TUNE_CONFIGS)
    assert {(r["bands"], r["rows_per_band"]) for r in rows} == set(LSH_TUNE_CONFIGS)
    for r in rows:
        assert r["n_candidates"] == 0 and r["n_hits"] == 0 and r["n_truth"] == 0
        assert r["precision"] is None  # 0/0 guarded, not NaN
        assert r["recall"] is None


def test_warehouse_compact_write_once_and_prune(spark, sf_dir):
    """The compaction materialization is a derived layout
    (``index_store``): stale-content dirs are pruned, a concurrent
    writer's live .tmp- dir survives, and the build-scoped fragment
    staging dir is removed after compaction."""
    import os
    import shutil

    from content_analytics_etl_spark.index_store import (
        layout_path,
        source_fingerprint,
        warehouse_root,
    )
    from content_analytics_etl_spark.plans.analytics_queries import (
        warehouse_compact_roundtrip,
    )

    root = warehouse_root(spark)
    stale = layout_path(spark, "orders_compact", sf_dir, "deadbeef0000")
    live_tmp = f"{stale}.tmp-99999"
    key = source_fingerprint(sf_dir, "orders")
    live = layout_path(spark, "orders_compact", sf_dir, key)
    shutil.rmtree(live, ignore_errors=True)
    for d in (stale, live_tmp):
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "_SUCCESS"), "w").close()

    warehouse_compact_roundtrip(spark, sf_dir).collect()
    assert os.path.exists(os.path.join(live, "_SUCCESS"))
    assert not os.path.exists(stale), "stale-fingerprint compact dir not pruned"
    assert os.path.exists(live_tmp), "concurrent writer's tmp dir was pruned"
    shutil.rmtree(live_tmp, ignore_errors=True)
    # no frag staging dirs left behind
    assert not [d for d in os.listdir(root) if ".frag" in d]

    mtime = os.path.getmtime(os.path.join(live, "_SUCCESS"))
    warehouse_compact_roundtrip(spark, sf_dir).collect()
    assert os.path.getmtime(os.path.join(live, "_SUCCESS")) == mtime


def test_temperature_mix_properties(spark, sf_dir):
    """α=0.5 semantics: temp_share ∝ √n_tokens (ratio check on exact
    integers), shares sum to ~1, and temperature compresses the mix —
    head sources are damped (boost < 1), tail sources lifted (> 1)."""
    from content_analytics_etl_spark.plans.curation_queries import (
        corpus_temperature_mix,
    )

    rows = corpus_temperature_mix(spark, sf_dir).collect()
    assert abs(sum(r["temp_share"] for r in rows) - 1.0) < 1e-12
    assert abs(sum(r["raw_share"] for r in rows) - 1.0) < 1e-12
    big = max(rows, key=lambda r: r["n_tokens"])
    small = min(rows, key=lambda r: r["n_tokens"])
    if big["n_tokens"] > small["n_tokens"]:
        assert big["boost"] < 1.0 < small["boost"]
    for r in rows:
        # ∝ sqrt: temp_share / sqrt(n_tokens) constant across sources
        assert abs(
            r["temp_share"] / r["n_tokens"] ** 0.5
            - rows[0]["temp_share"] / rows[0]["n_tokens"] ** 0.5
        ) < 1e-12


def test_priority_sample_is_weighted_topk(spark, sf_dir):
    """A-ES keys: exactly k rows, rank follows key order, deterministic
    across invocations, and every key is negative (log2 of a uniform)."""
    from content_analytics_etl_spark.plans.curation_queries import (
        PRIORITY_SAMPLE_K,
        corpus_priority_sample,
    )

    a = corpus_priority_sample(spark, sf_dir).collect()
    b = corpus_priority_sample(spark, sf_dir).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert len(a) == PRIORITY_SAMPLE_K
    keys = [r["priority_key"] for r in a]
    assert keys == sorted(keys, reverse=True)
    assert all(k < 0 for k in keys)
    assert [r["rank"] for r in a] == list(range(1, PRIORITY_SAMPLE_K + 1))


def test_padding_waste_invariants(spark, sf_dir):
    from content_analytics_etl_spark.plans.text_queries import (
        PAD_BUCKET,
        PAD_MAX_LEN,
        doc_padding_waste,
    )

    rows = doc_padding_waste(spark, sf_dir).collect()
    assert len(rows) > 1, "corpus should span multiple length buckets"
    for r in rows:
        assert r["bucket_len"] % PAD_BUCKET == 0
        assert r["bucket_len"] <= PAD_MAX_LEN + PAD_BUCKET - 1
        assert r["padded_tokens"] >= r["real_tokens"] > 0
        assert 0.0 <= r["pad_waste_ratio"] < 1.0
        assert r["truncated_tokens"] >= 0
    assert any(r["truncated_tokens"] > 0 for r in rows), (
        "cap chosen so the truncation path is exercised non-vacuously"
    )


def test_zipf_fit_shape(spark, sf_dir):
    from content_analytics_etl_spark.plans.text_queries import vocab_zipf_fit

    r = vocab_zipf_fit(spark, sf_dir).collect()[0]
    assert r["n_terms"] > 10
    assert r["zipf_slope"] < 0, "frequency must fall with rank"
    assert 0.0 < r["r2"] <= 1.0


def test_stl_identity_and_edges(spark, sf_dir):
    """residual ≡ value − trend − seasonal where defined; trend is NULL
    exactly on the 3 edge rows at each end of every event_type series;
    per-(type, dow) the seasonal component equals the mean detrended
    value (the defining property)."""
    from content_analytics_etl_spark.plans.analytics_queries import (
        events_stl_decompose,
    )

    rows = events_stl_decompose(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r["day"])
        n = len(rs)
        for i, r in enumerate(rs):
            edge = i < 3 or i >= n - 3
            assert (r["trend"] is None) == edge, (et, i)
            if r["trend"] is not None and r["seasonal"] is not None:
                assert abs(
                    r["residual"] - (r["value"] - r["trend"] - r["seasonal"])
                ) < 1e-9
        # seasonal sums (weighted by n_dow) to ~0: Σ detrended over all
        # full-window rows is Σ (7v − Σ7)/7 which telescopes near zero
        mid = [r for r in rs if r["trend"] is not None]
        tot_resid = sum(r["value"] - r["trend"] for r in mid)
        tot_seas = sum(r["seasonal"] for r in mid)
        assert abs(tot_resid - tot_seas) < 1e-6


def test_multiprobe_dominates_single_probe(spark, sf_dir):
    """Multi-probe's candidate set is a strict superset per query (own
    bucket + 6 one-bit flips), so its rank-r cosine must be >= the
    single-probe rank-r cosine for every query, pointwise."""
    from content_analytics_etl_spark.plans.similarity_queries import (
        sim_ann_lsh_topk,
        sim_ann_multiprobe_topk,
    )

    single = {
        (r["query_id"], r["rank"]): r["cosine"]
        for r in sim_ann_lsh_topk(spark, sf_dir).collect()
    }
    multi = {
        (r["query_id"], r["rank"]): r["cosine"]
        for r in sim_ann_multiprobe_topk(spark, sf_dir).collect()
    }
    assert set(q for q, _ in single) <= set(q for q, _ in multi)
    for key, cos in single.items():
        assert multi[key] >= cos - 1e-12, key


def test_pca_top2_basis_properties(spark, sf_dir):
    """Deflation must yield a second direction (a) near-orthogonal to
    the first, (b) unit-norm, (c) with a smaller spectral estimate."""
    from content_analytics_etl_spark.plans.similarity_queries import (
        embedding_pca_top2,
    )

    rows = embedding_pca_top2(spark, sf_dir).collect()
    v = {1: [0.0] * 64, 2: [0.0] * 64}
    norm = {}
    for r in rows:
        v[r["component"]][r["d"]] = r["loading"]
        norm[r["component"]] = r["spectral_norm"]
    dot = sum(a * b for a, b in zip(v[1], v[2]))
    n1 = sum(a * a for a in v[1]) ** 0.5
    n2 = sum(a * a for a in v[2]) ** 0.5
    assert abs(n1 - 1) < 1e-9 and abs(n2 - 1) < 1e-9
    assert abs(dot) < 1e-3, f"components not orthogonal: {dot}"
    assert norm[1] >= norm[2] > 0


def test_stl_anomaly_nonvacuous(spark, sf_dir):
    from content_analytics_etl_spark.plans.analytics_queries import (
        events_stl_residual_anomaly,
    )

    rows = events_stl_residual_anomaly(spark, sf_dir).collect()
    assert len(rows) > 0, "threshold chosen so the detector fires non-vacuously"
    for r in rows:
        assert r["robust_z"] > 2.0


def test_affinity_triples_apriori_consistency(spark, sf_dir):
    """Every reported triple's support must not exceed any of its pair
    supports (anti-monotonicity), and confidence in (0, 1]."""
    from content_analytics_etl_spark.plans.analytics_queries import (
        part_affinity_triples,
    )

    rows = part_affinity_triples(spark, sf_dir).collect()
    assert rows, "support threshold chosen non-vacuously for this corpus"
    for r in rows:
        assert r["part_a"] < r["part_b"] < r["part_c"]
        assert r["n_abc"] <= min(r["n_ab"], r["n_ac"], r["n_bc"])
        assert 0 < r["conf_ab_c"] <= 1.0


def test_phash_brightness_invariance_and_geometry_sensitivity():
    """The DC-dropped pHash must be invariant to a base-brightness shift
    (same geometry ⇒ identical 63 AC bits) and sensitive to geometry."""
    from content_analytics_etl_spark.multimodal import encode_bmp24, phash_bmp

    w1, h1, a = phash_bmp(encode_bmp24(12, 6, 10))
    _, _, b = phash_bmp(encode_bmp24(12, 6, 200))
    _, _, c = phash_bmp(encode_bmp24(9, 5, 10))
    assert (w1, h1) == (12, 6)
    assert a == b, "brightness shift must not move any AC bit"
    assert a != c
    assert 0 <= a < 2**63


def test_phash_dedup_groups(spark, sf_dir):
    from content_analytics_etl_spark.plans.multimodal_queries import (
        multimodal_phash_dedup,
    )

    rows = multimodal_phash_dedup(spark, sf_dir).collect()
    assert rows
    assert any(r["n_assets"] > 1 for r in rows), "perceptual groups collapse"
    for r in rows:
        assert 0 <= r["phash"] < 2**63


def test_kl_drift_nonnegative(spark, sf_dir):
    """Gibbs' inequality: KL(p_source || p_corpus) >= 0, with equality
    only if the source's distribution equals the corpus's — on this
    mixed corpus every source must be strictly positive (up to the
    1e-9 fixed-point grid)."""
    from content_analytics_etl_spark.plans.selection_queries import (
        corpus_token_kl_drift,
    )

    rows = corpus_token_kl_drift(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["kl_bits_per_token"] > -1e-9
    assert max(r["kl_bits_per_token"] for r in rows) > 0


def test_quality_calibration_curve(spark, sf_dir):
    """Deciles partition the corpus (sum of n_docs = corpus size, all 10
    present on this data), mean_score is monotone non-decreasing in the
    decile index (by construction of the thresholds), and pass rates
    are valid probabilities."""
    from content_analytics_etl_spark.plans.curation_queries import (
        corpus_quality_calibration,
    )

    rows = sorted(
        corpus_quality_calibration(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == total
    assert [r["decile"] for r in rows] == list(range(1, len(rows) + 1))
    means = [r["mean_score"] for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(means, means[1:]))
    for r in rows:
        assert 0.0 <= r["gates_pass_rate"] <= 1.0
