"""Unit + integration tests for the numpy GBT and the per-domain model
lifecycle (train via applyInPandas, registry, mapInPandas scoring,
argmax price pick)."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import gbt
from htmlentityextraction_spark.operators.gbt import GBTClassifier
from htmlentityextraction_spark.operators import models as md


# --- numpy GBT ---
def _separable(n=200, seed=7):
    rng = np.random.RandomState(seed)
    X = rng.randn(n, 5)
    y = (X[:, 2] > 0.1).astype(float)
    return X, y


def test_gbt_fits_separable_data():
    X, y = _separable()
    m = GBTClassifier(n_estimators=10, max_depth=3).fit(X, y)
    assert (m.predict(X) == y).mean() >= 0.99


def test_gbt_deterministic_and_picklable():
    X, y = _separable()
    m1 = GBTClassifier(n_estimators=5, max_depth=2).fit(X, y)
    m2 = GBTClassifier(n_estimators=5, max_depth=2).fit(X, y)
    assert np.array_equal(m1.margin(X), m2.margin(X))
    m3 = GBTClassifier.from_bytes(m1.to_bytes())
    assert np.array_equal(m1.margin(X), m3.margin(X))


def test_gbt_margin_sign_matches_prediction():
    X, y = _separable()
    m = GBTClassifier(n_estimators=5, max_depth=2).fit(X, y)
    assert np.array_equal(m.predict(X), (m.margin(X) > 0).astype(np.int64))


def test_gbt_xor_needs_depth():
    # depth-2 interactions: xor is unlearnable by depth-1 stumps
    rng = np.random.RandomState(3)
    X = rng.randn(400, 2)
    y = ((X[:, 0] > 0) ^ (X[:, 1] > 0)).astype(float)
    deep = GBTClassifier(n_estimators=20, max_depth=3).fit(X, y)
    assert (deep.predict(X) == y).mean() >= 0.95


# --- url-grouped split ---
def test_url_grouped_split_no_leakage(spark):
    df = spark.range(1000).select(
        F.concat(F.lit("u"), (F.col("id") % 100).cast("string")).alias("url"),
        F.col("id").alias("x"),
    )
    train, test = md.url_grouped_split(df, 0.7)
    tr = {r.url for r in train.select("url").distinct().collect()}
    te = {r.url for r in test.select("url").distinct().collect()}
    assert tr.isdisjoint(te)
    assert len(tr) + len(te) == 100
    assert 50 <= len(tr) <= 90  # ~70 of 100


# --- per-domain lifecycle ---
def _toy_candidates(spark, n_urls=40):
    # two domains; token 'good' marks the positive candidate of a url;
    # each url has one positive and one negative candidate
    rows = []
    for i in range(n_urls):
        dom = f"d{i % 2}.com"
        url = f"http://{dom}/p/{i}"
        rows.append((dom, url, 1, 0.25, f"{100+i}.50", "buy now good deal price", "great offer"))
        rows.append((dom, url, 0, 0.75, f"{200+i}.99", "footer copyright year", "terms apply"))
    return spark.createDataFrame(
        rows,
        "domain string, url string, label int, norm_location double,"
        "candidate string, text_before string, text_after string",
    )


def test_train_score_pick_roundtrip(spark):
    cand = _toy_candidates(spark)
    feats = md.featurize_candidates(cand)
    reg = md.train_per_domain(
        feats, n_estimators=5, max_depth=2, min_doc_freq=2, min_rows=10
    )
    rows = reg.collect()
    assert {r.domain for r in rows} == {"d0.com", "d1.com"}
    assert all(r.train_f1 == 1.0 for r in rows), "separable toy data must fit perfectly"

    scored = md.score_candidates(feats, reg)
    picked = {r.url: r.model_price for r in md.pick_model_price(scored).collect()}
    for i in range(40):
        assert picked[f"http://d{i % 2}.com/p/{i}"] == 100 + i + 0.5


def test_score_missing_model_sentinel(spark):
    cand = _toy_candidates(spark)
    feats = md.featurize_candidates(cand)
    # registry trained only on d0.com -> d1.com urls get sentinel -2.0
    reg = md.train_per_domain(
        feats.filter(F.col("domain") == "d0.com"),
        n_estimators=5, max_depth=2, min_doc_freq=2, min_rows=10,
    )
    picked = md.pick_model_price(md.score_candidates(feats, reg))
    vals = {r.url: r.model_price for r in picked.collect()}
    assert all(v == -2.0 for u, v in vals.items() if "d1.com" in u)
    assert all(v >= 0 for u, v in vals.items() if "d0.com" in u)


def test_train_skips_single_class_and_tiny_domains(spark):
    cand = _toy_candidates(spark).filter(F.col("label") == 1)  # single class
    feats = md.featurize_candidates(cand)
    reg = md.train_per_domain(feats, n_estimators=3, max_depth=2, min_rows=5)
    assert reg.count() == 0


def test_margin_curve_and_prefix_selection():
    X, y = _separable()
    m = GBTClassifier(n_estimators=10, max_depth=2).fit(X, y)
    curves = m.margin_curve(X)
    assert curves.shape == (11, len(y))
    # full-model margin equals the last curve row
    assert np.allclose(curves[-1], m.margin(X))
    k, f1 = m.best_prefix_by_f1(X, y)
    assert 1 <= k <= 10 and 0.9 <= f1 <= 1.0
    # truncation reproduces the prefix margin exactly
    sub = m.truncate(k)
    assert np.allclose(sub.margin(X), curves[k])


def test_truncated_model_survives_pickle():
    X, y = _separable()
    m = GBTClassifier(n_estimators=6, max_depth=2).fit(X, y)
    sub = GBTClassifier.from_bytes(m.truncate(3).to_bytes())
    assert np.allclose(sub.margin(X), m.margin_curve(X)[3])


def test_class_union_vocab_mode(spark):
    # M4 (models/ModelR.scala:51-68): pos ∪ (neg − pos) selection must
    # still fit the separable toy data perfectly and yield a registry
    cand = _toy_candidates(spark)
    feats = md.featurize_candidates(cand)
    reg = md.train_per_domain(
        feats, n_estimators=5, max_depth=2, min_doc_freq=2, min_rows=10,
        vocab_mode="class_union",
    )
    rows = reg.collect()
    assert {r.domain for r in rows} == {"d0.com", "d1.com"}
    assert all(r.train_f1 == 1.0 for r in rows)
    # scoring with class-union indices roundtrips
    picked = {r.url: r.model_price for r in md.pick_model_price(
        md.score_candidates(feats, reg)).collect()}
    assert all(v >= 0 for v in picked.values())


def test_registry_parquet_roundtrip_serves_identically(spark):
    import shutil
    import tempfile

    cand = _toy_candidates(spark)
    feats = md.featurize_candidates(cand)
    reg = md.train_per_domain(
        feats, n_estimators=5, max_depth=2, min_doc_freq=2, min_rows=10
    )
    d = tempfile.mkdtemp(prefix="registry_")
    md.save_registry(reg, d)
    reloaded = md.load_registry(spark, d)
    p1 = {r.url: r.model_price for r in md.pick_model_price(
        md.score_candidates(feats, reg)).collect()}
    p2 = {r.url: r.model_price for r in md.pick_model_price(
        md.score_candidates(feats, reloaded)).collect()}
    assert p1 == p2
    shutil.rmtree(d)


def test_spark_ml_pipeline_single_model(spark):
    # the pure pyspark.ml path must also learn the separable toy data
    from htmlentityextraction_spark.operators import mlpipeline as mp

    cand = _toy_candidates(spark)
    model = mp.fit_single_model(
        cand, min_doc_freq=2, top_k=50, max_iter=5, max_depth=2
    )
    scored = mp.score_with_pipeline(model, cand)
    acc = scored.select(
        F.avg((F.col("prediction") == F.col("label").cast("double")).cast("double")).alias("a")
    ).first().a
    assert acc >= 0.95
    # margin sign agrees with the prediction
    bad = scored.filter(
        ((F.col("confidence") > 0) & (F.col("prediction") == 0.0))
        | ((F.col("confidence") < 0) & (F.col("prediction") == 1.0))
    ).count()
    assert bad == 0


def test_cogrouped_scorer_equals_broadcast_scorer(spark):
    """The no-broadcast scorer (registry stays distributed, cogrouped
    on domain) must produce row-identical predictions/confidences to
    the broadcast path — including the missing-model -2 sentinel for
    domains the registry lacks."""
    cand = _toy_candidates(spark)
    feats = md.featurize_candidates(cand)
    # train on d0.com only so d1.com exercises the sentinel path
    reg = md.train_per_domain(
        feats.filter(F.col("domain") == "d0.com"),
        n_estimators=5, max_depth=2, min_doc_freq=2, min_rows=10,
    )
    key = ["url", "candidate", "norm_location"]
    want = {
        tuple(r[k] for k in key): (r.prediction, r.confidence)
        for r in md.score_candidates(feats, reg).collect()
    }
    got = {
        tuple(r[k] for k in key): (r.prediction, r.confidence)
        for r in md.score_candidates_cogrouped(feats, reg).collect()
    }
    assert got == want
    assert any(p == -2 for p, _ in got.values()), "sentinel rows must exist"
    # and the downstream argmax pick agrees too
    picked_b = {r.url: r.model_price
                for r in md.pick_model_price(md.score_candidates(feats, reg)).collect()}
    picked_c = {r.url: r.model_price
                for r in md.pick_model_price(md.score_candidates_cogrouped(feats, reg)).collect()}
    assert picked_c == picked_b


def test_gbt_predict_proba_is_sigmoid_of_margin():
    # the scikit-style probability surface: sigmoid(margin), in (0,1),
    # monotone in the margin, and 0.5 exactly at the decision boundary
    X, y = _separable()
    m = GBTClassifier(n_estimators=10, max_depth=3).fit(X, y)
    margin = m.margin(X)
    proba = m.predict_proba(X)
    assert np.allclose(proba, 1.0 / (1.0 + np.exp(-margin)))
    assert ((proba > 0.0) & (proba < 1.0)).all()
    assert ((proba > 0.5) == (m.predict(X) == 1)).all()


# --- one-histogram-per-node fit vs the frozen per-feature fit ---
def _reference_tree(binned, thresholds, idx, grad, hess, depth, min_leaf):
    """The per-feature histogram split search the production kernel
    replaced: 3 bincounts per feature per node. Frozen here so the
    one-histogram kernel is pinned to its exact output."""
    eps = gbt._EPS
    node = gbt._Node()
    n = idx.shape[0]
    g, h = grad[idx], hess[idx]
    g_sum, h_sum = g.sum(), h.sum()
    node.value = g_sum / (h_sum + eps)
    if depth == 0 or n < 2 * min_leaf:
        return node
    parent_gain = g_sum * g_sum / (h_sum + eps)
    best_gain, best_f, best_i = 0.0, -1, -1
    for f in range(binned.shape[1]):
        thr = thresholds[f]
        if thr.size == 0:
            continue
        b = binned[idx, f]
        nbins = thr.size + 1
        cnt = np.bincount(b, minlength=nbins)
        gs = np.bincount(b, weights=g, minlength=nbins)
        hs = np.bincount(b, weights=h, minlength=nbins)
        nl = np.cumsum(cnt)[:-1]
        gl = np.cumsum(gs)[:-1]
        hl = np.cumsum(hs)[:-1]
        nr = n - nl
        valid = (nl >= min_leaf) & (nr >= min_leaf)
        if not valid.any():
            continue
        gr, hr = g_sum - gl, h_sum - hl
        gain = gl * gl / (hl + eps) + gr * gr / (hr + eps) - parent_gain
        gain[~valid] = -np.inf
        i = int(np.argmax(gain))
        if gain[i] > best_gain + 1e-9:
            best_gain, best_f, best_i = float(gain[i]), f, i
    if best_f < 0:
        return node
    node.feature = best_f
    node.threshold = float(thresholds[best_f][best_i])
    mask = binned[idx, best_f] <= best_i
    node.left = _reference_tree(binned, thresholds, idx[mask], grad, hess, depth - 1, min_leaf)
    node.right = _reference_tree(binned, thresholds, idx[~mask], grad, hess, depth - 1, min_leaf)
    return node


def _reference_fit(X, y, **params):
    """Boosting loop that re-predicts each new tree over X."""
    m = GBTClassifier(**params)
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    p = min(max(y.mean(), 1e-6), 1 - 1e-6)
    m.base_ = float(np.log(p / (1 - p)))
    thresholds, binned = gbt._bin_features(X, m.n_thresholds)
    idx = np.arange(X.shape[0])
    margin = np.full(X.shape[0], m.base_)
    for _ in range(m.n_estimators):
        prob = gbt._sigmoid(margin)
        grad, hess = y - prob, prob * (1 - prob)
        tree = _reference_tree(binned, thresholds, idx, grad, hess, m.max_depth, m.min_leaf)
        margin = margin + m.learning_rate * gbt._predict_tree(tree, X)
        m.trees_.append(tree)
    return m


def _tfidf_like(rng, n, f):
    """Sparse non-negative columns (mostly exact zeros, so quantile
    thresholds land ON data values), some constant, plus a location."""
    X = rng.exponential(1.0, (n, f)) * (rng.random((n, f)) < 0.15)
    X[:, rng.choice(f, size=max(f // 5, 1), replace=False)] = 0.0
    X[:, -1] = rng.random(n)
    y = (X[:, 0] + 0.5 * X[:, 1] + 0.2 * rng.standard_normal(n) > 0.3).astype(float)
    return X, y


def _tie_matrix(rng, n):
    """Duplicated columns (equal gains on different features), small
    integer codes (x exactly equal to a threshold), a constant column."""
    base = rng.integers(0, 4, size=(n, 3)).astype(float)
    X = np.column_stack([base[:, 0], base[:, 0], base[:, 1], np.full(n, 2.0),
                         base[:, 2], base[:, 1]])
    y = ((base[:, 0] >= 2) ^ (rng.random(n) < 0.1)).astype(float)
    return X, y


def _assert_same_model(X, y, **params):
    want = _reference_fit(X, y, **params)
    got = GBTClassifier(**params).fit(X, y)
    assert got.to_bytes() == want.to_bytes()
    return got


def test_one_histogram_fit_is_byte_identical_to_per_feature_fit():
    for seed in range(12):
        rng = np.random.default_rng(seed)
        X, y = _tfidf_like(rng, int(rng.integers(40, 400)), int(rng.integers(2, 30)))
        _assert_same_model(X, y, n_estimators=8, max_depth=4)
        X, y = _tie_matrix(rng, int(rng.integers(30, 300)))
        _assert_same_model(X, y, n_estimators=8, max_depth=4)


def test_feature_blocked_histograms_are_byte_identical(monkeypatch):
    # a tiny per-block code cap splits the features into many blocks,
    # the shape a 100k-row domain takes
    monkeypatch.setattr(gbt, "_BLOCK_CODES", 500)
    rng = np.random.default_rng(5)
    X, y = _tfidf_like(rng, 120, 23)
    assert len(gbt._Histogram(X, 16).blocks) > 3
    _assert_same_model(X, y, n_estimators=6, max_depth=4)


def test_one_histogram_fit_edge_cases():
    rng = np.random.default_rng(99)
    # tied gains across features: the first column in order must win
    X, y = _tie_matrix(rng, 200)
    m = _assert_same_model(X, y, n_estimators=4, max_depth=3)
    assert m.trees_[0].feature == 0
    # only constant columns: every tree is a single leaf
    m = _assert_same_model(np.ones((50, 3)), (np.arange(50) % 2).astype(float),
                           n_estimators=3, max_depth=3)
    assert all(t.feature == -1 for t in m.trees_)
    # nodes below 2*min_leaf rows stop splitting (root too, at n=9)
    _assert_same_model(*_tfidf_like(rng, 9, 4), n_estimators=3, max_depth=3)
    _assert_same_model(*_tfidf_like(rng, 60, 4), n_estimators=5, max_depth=6, min_leaf=8)
    # min_leaf=0: only real thresholds may split, never the empty bins past them
    _assert_same_model(*_tfidf_like(rng, 80, 6), n_estimators=4, max_depth=4, min_leaf=0)
    # a single feature, continuous and with repeated values
    _assert_same_model(rng.standard_normal((120, 1)), (rng.random(120) < 0.4).astype(float),
                       n_estimators=6, max_depth=4)
    x = rng.integers(0, 5, size=(150, 1)).astype(float)
    _assert_same_model(x, (x[:, 0] >= 3).astype(float), n_estimators=4, max_depth=2)
    # x values exactly on thresholds: the split routes x == thr left
    m = _assert_same_model(x, (x[:, 0] >= 3).astype(float), n_estimators=1, max_depth=1)
    assert m.trees_[0].threshold in set(x[:, 0].tolist())


def test_fit_margin_equals_model_margin_bit_for_bit():
    # fit accumulates leaf values per row instead of re-predicting X;
    # that is exact only because bin <= i  <=>  x <= thr[i]
    for seed in range(6):
        rng = np.random.default_rng(100 + seed)
        for X, y in (_tfidf_like(rng, 300, 12), _tie_matrix(rng, 200)):
            m = GBTClassifier(n_estimators=10, max_depth=5)
            fit_margin = m._boost(X, y)
            assert fit_margin.tobytes() == m.margin(X).tobytes()


def test_registry_memo_retrains_when_fixture_is_rewritten_in_place(spark, sf_dir, tmp_path):
    """The registry memo is keyed on the input files' (path, size,
    mtime_ns), not the sf_dir string: rewriting orders.parquet in place
    in the same process must retrain, not serve the old registry."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from htmlentityextraction_spark.queries import ml

    d = tmp_path / "sf"
    d.mkdir()
    orders = d / "orders.parquet"
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), orders)
    try:
        first = ml.fit_once(spark, str(d))
        assert ml.fit_once(spark, str(d)) is first, "unchanged input must hit the memo"
        domains = {r.domain for r in first}
        assert "d3.example.com" in domains

        # drop domain d3 (o_orderkey % 8 == 3) and rewrite the file in place
        t = pq.read_table(orders)
        pq.write_table(t.filter(pc.not_equal(pc.bit_wise_and(t["o_orderkey"], 7), 3)), orders)
        second = ml.fit_once(spark, str(d))
        assert {r.domain for r in second} == domains - {"d3.example.com"}
        assert len(ml._REG_CACHE) == len({k[0] for k in ml._REG_CACHE}), "stale memo kept"
    finally:
        root = str(orders)
        for cache in (ml._REG_CACHE, ml._LABELED_CACHE):
            for k in [k for k in cache if k[0] == root]:
                ent = cache.pop(k)
                if cache is ml._LABELED_CACHE:
                    ent[1].unpersist()
