"""Stage-3 tree-ensemble page-type classification (the public-data stand-in
for the reference's external XGBoost crate) + the three-way agreement
confidence of extract.rs:55-92."""

import numpy as np
import pytest

from rs_trafilatura_spark.dom import Document
from rs_trafilatura_spark.kernel.ml_features import extract_ml_features
from rs_trafilatura_spark.kernel.ml_trees import (
    ensemble_predict,
    train_ensemble,
    tree_predict_proba,
)
from rs_trafilatura_spark.kernel.page_type import PAGE_TYPES, classify_ml, classify_page
from rs_trafilatura_spark.datagen.corpus import generate_row


def _pages_by_type(n=600, seed=31337):
    out = {}
    for i in range(n):
        row = generate_row(i, seed)
        out.setdefault(row["exp_page_type"], []).append(row)
    return out


def test_ml_classifies_all_seven_page_types():
    """classify_ml alone (no URL/heuristic help beyond the URL features it
    sees) recovers every page type on unseen-seed pages."""
    by_type = _pages_by_type()
    assert set(by_type) == set(PAGE_TYPES)
    for ptype, rows in by_type.items():
        for row in rows[:5]:
            doc = Document(row["html"].decode("utf-8", errors="replace"))
            got, conf = classify_ml(extract_ml_features(doc, row["url"]))
            assert got == ptype, (ptype, row["url"], got)
            assert 0.0 < conf <= 1.0


def test_agreement_confidence_semantics():
    """extract.rs:55-92: URL heuristic + ML agree -> 1.0; HTML-signal
    refinement + ML agree -> 0.95; otherwise ML's own confidence."""
    by_type = _pages_by_type()
    # forum URL (/t/) + forum ML -> 1.0
    row = by_type["forum"][0]
    doc = Document(row["html"].decode("utf-8"))
    ptype, conf = classify_page(doc, row["url"])
    assert ptype == "forum" and conf == 1.0
    # forum page under a NEUTRAL url: stage 1 abstains, the HTML-signal
    # refinement says forum and the ML (strong forum DOM features) agrees
    # -> 0.95
    row = by_type["forum"][0]
    doc = Document(row["html"].decode("utf-8"))
    ptype, conf = classify_page(doc, "https://x.example/x/y")
    assert ptype == "forum" and conf == 0.95
    # plain article: both heuristic stages neutral -> ML decides at ml_conf
    row = by_type["article"][0]
    doc = Document(row["html"].decode("utf-8"))
    ptype, conf = classify_page(doc, "https://x.example/x/y")
    assert ptype == "article" and 0.0 < conf <= 1.0


def test_tree_trainer_deterministic_and_vectorized():
    rng = np.random.RandomState(0)
    X = rng.randn(300, 10)
    y = (X[:, 3] > 0.2).astype(np.int64) + (X[:, 7] > 0.0).astype(np.int64)
    m1 = train_ensemble(X, y, ["a", "b", "c"], n_trees=4, max_depth=5, seed=5)
    m2 = train_ensemble(X, y, ["a", "b", "c"], n_trees=4, max_depth=5, seed=5)
    assert m1 == m2  # fully deterministic
    cls, conf = ensemble_predict(m1, X)
    assert (cls == y).mean() > 0.9
    # batch eval == per-row eval
    one = np.array([tree_predict_proba(m1["trees"][0], X[i:i + 1])[0]
                    for i in range(20)])
    assert np.allclose(one, tree_predict_proba(m1["trees"][0], X[:20]))


def test_fused_signal_walk_matches_refines_own_walk():
    """classify_page hands refine_with_html_signals the markers gathered
    by the ml feature walk (_signals_out) — the fused path must agree
    with refine's own tree walk on every marker family and og:type
    shape, for every url_type branch of the agreement logic."""
    from rs_trafilatura_spark.kernel.page_type import refine_with_html_signals

    cases = [
        # og:type first-wins + forum class marker
        "<html><head><meta property='og:type' content='Article'></head>"
        "<body><div class='post-stream'><p>x</p></div></body></html>",
        # itemtype forum marker
        "<html><body><div itemtype='https://schema.org/DiscussionForum"
        "Posting'><p>y</p></div></body></html>",
        # discourse id + pre>code descendant counting (3 counted, 1 not)
        "<html><body><div id='discourse-main'></div>"
        "<pre><code>a</code></pre><pre><code>b</code></pre>"
        "<span><code>no</code></span>"
        "<pre><div><code>c</code></div></pre></body></html>",
        # docs nav markers
        "<html><body><nav class='docs-sidebar'></nav>"
        "<div class='toc'></div></body></html>",
        # duplicate og:type metas (first wins) + add-to-cart class
        "<html><head><meta property='og:type' content='product'>"
        "<meta property='og:type' content='article'></head>"
        "<body><button class='add-to-cart'>buy</button></body></html>",
        # product-price class + JSON-LD Product
        "<html><body><div class='product-price'>$5</div><script "
        "type='application/ld+json'>{\"@type\":\"Product\"}</script>"
        "</body></html>",
        # add-to-cart id + doc-nav
        "<html><body><div id='add-to-cart-x'></div>"
        "<div class='doc-nav'></div></body></html>",
        # no markers at all
        "<html><body><p>nothing special</p></body></html>",
    ]
    for html in cases:
        for ut in (None, "article", "product", "forum", "documentation"):
            doc = Document(html)
            expected = refine_with_html_signals(doc, ut)
            sig: dict = {}
            extract_ml_features(doc, "", model_only=True, _signals_out=sig)
            fused = refine_with_html_signals(doc, ut, _walk_signals=sig)
            assert fused == expected, (html, ut, sig)


def test_signal_hand_off_checks_its_keys():
    """A partially filled hand-off fails at refine_with_html_signals with
    the missing keys named, and a full one carries exactly the keys
    extract_ml_features fills."""
    from rs_trafilatura_spark.kernel.page_type import (
        WALK_SIGNAL_KEYS, refine_with_html_signals,
    )

    doc = Document("<html><body><p>x</p></body></html>")
    sig: dict = {}
    extract_ml_features(doc, "", model_only=True, _signals_out=sig)
    assert set(sig) == WALK_SIGNAL_KEYS
    del sig["n_code"]
    with pytest.raises(ValueError, match="n_code"):
        refine_with_html_signals(doc, None, _walk_signals=sig)


def test_marker_tables_refuse_empty_markers():
    """An empty marker (or table) would compile to a pattern that matches
    every url."""
    from rs_trafilatura_spark.kernel.page_type import _any_re

    assert _any_re(["/blog/", "a.b"]).search("x/blog/y")
    assert not _any_re(["a.b"]).search("axb")
    for table in ([], ["/news", ""], [""]):
        with pytest.raises(ValueError, match="marker table"):
            _any_re(table)
