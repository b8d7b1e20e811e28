"""Hand-written gradient-free tree ensemble for page-type stage 3.

The reference's stage 3 is a 200-tree XGBoost ensemble from the external
``web_page_classifier`` crate (page_type/ml.rs:29-44) whose weights are not
public, so a verbatim port is impossible.  This module closes the
architectural gap with public machinery only: a CART (gini) trainer and a
bagged ensemble over the same 89-feature vector (kernel/ml_features.py),
trained on the deterministic synthetic corpus (scripts/
train_page_type_model.py) with the weights shipped as data
(kernel/page_type_model.py) — exactly the "model params as data" stance of
SURVEY.md §7 phase 5.

Evaluation is vectorized: trees are flat numpy arrays and a batch of
feature rows descends all nodes with boolean masks, so scoring a whole
Arrow batch is a handful of numpy ops (the reference's batch-eval shape).

Everything is deterministic: seeded bootstrap/feature sampling, midpoint
thresholds, first-best splits, lowest-index tie-breaks.
"""

from __future__ import annotations

import numpy as np

# --- flat tree representation -------------------------------------------------------
#
# A tree is a dict of parallel lists (JSON-serializable, shipped as data):
#   feature[i]  split feature index, or -1 for a leaf
#   thresh[i]   split threshold (x <= thresh goes left)
#   left[i], right[i]   child node indices (-1 for leaves)
#   probs[i]    class-probability vector (only meaningful at leaves)


def _tree_arrays(tree: dict):
    """Numpy views of a tree, converted once and cached on the dict — the
    per-page hot path must not re-build arrays per call."""
    cached = tree.get("_np")
    if cached is None:
        cached = (
            np.asarray(tree["feature"], dtype=np.int64),
            np.asarray(tree["thresh"], dtype=np.float64),
            np.asarray(tree["left"], dtype=np.int64),
            np.asarray(tree["right"], dtype=np.int64),
            np.asarray(tree["probs"], dtype=np.float64),
        )
        tree["_np"] = cached
    return cached


def tree_predict_proba(tree: dict, X: np.ndarray) -> np.ndarray:
    """(N, n_classes) leaf probabilities for a batch — mask descent, no
    per-row Python loop."""
    feature, thresh, left, right, probs = _tree_arrays(tree)

    node = np.zeros(len(X), dtype=np.int64)
    active = feature[node] >= 0
    while active.any():
        idx = node[active]
        f = feature[idx]
        goes_left = X[active, f] <= thresh[idx]
        node[active] = np.where(goes_left, left[idx], right[idx])
        active = feature[node] >= 0
    return probs[node]


def ensemble_predict(model: dict, X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(class_index, confidence) per row: mean of tree probabilities,
    argmax with lowest-index tie-break."""
    acc = np.zeros((len(X), len(model["classes"])), dtype=np.float64)
    for tree in model["trees"]:
        acc += tree_predict_proba(tree, X)
    acc /= len(model["trees"])
    cls = np.argmax(acc, axis=1)  # np.argmax returns the FIRST max: stable
    conf = acc[np.arange(len(X)), cls]
    return cls, conf


def ensemble_predict_one(model: dict, x: list[float]) -> tuple[int, float]:
    """Single-row fast path: plain-Python descent (16 trees x depth-10 is
    ~160 float compares — batch-of-1 numpy pays ~70x that in op overhead,
    measured 1.45 ms vs ~0.02 ms per page)."""
    n_classes = len(model["classes"])
    acc = [0.0] * n_classes
    for tree in model["trees"]:
        feature = tree["feature"]
        thresh = tree["thresh"]
        left = tree["left"]
        right = tree["right"]
        i = 0
        while feature[i] >= 0:
            i = left[i] if x[feature[i]] <= thresh[i] else right[i]
        p = tree["probs"][i]
        for c in range(n_classes):
            acc[c] += p[c]
    n_trees = len(model["trees"])
    best = max(range(n_classes), key=lambda c: (acc[c], -c))
    return best, acc[best] / n_trees


# --- CART trainer ------------------------------------------------------------------


def _gini_gain(col: np.ndarray, y: np.ndarray, n_classes: int):
    """Best (threshold, weighted-gini) for one feature column, or None."""
    order = np.argsort(col, kind="mergesort")  # stable -> deterministic
    xs, ys = col[order], y[order]
    n = len(ys)
    # one-hot cumulative class counts at each prefix
    onehot = np.zeros((n, n_classes), dtype=np.float64)
    onehot[np.arange(n), ys] = 1.0
    cum = np.cumsum(onehot, axis=0)
    total = cum[-1]
    # candidate split points: boundaries where x changes
    change = np.nonzero(np.diff(xs))[0]  # split AFTER these positions
    if len(change) == 0:
        return None
    n_left = (change + 1).astype(np.float64)
    n_right = n - n_left
    lc = cum[change]
    rc = total - lc
    gini_l = 1.0 - ((lc / n_left[:, None]) ** 2).sum(axis=1)
    gini_r = 1.0 - ((rc / n_right[:, None]) ** 2).sum(axis=1)
    weighted = (n_left * gini_l + n_right * gini_r) / n
    best = int(np.argmin(weighted))
    threshold = float((xs[change[best]] + xs[change[best] + 1]) / 2.0)
    return threshold, float(weighted[best])


def _build_tree(X: np.ndarray, y: np.ndarray, n_classes: int, max_depth: int,
                rng: np.random.RandomState) -> dict:
    """One CART tree: a node splits 4+ rows on the best of a random 60 %
    of the features."""
    tree = {"feature": [], "thresh": [], "left": [], "right": [], "probs": []}

    def leaf(ys: np.ndarray) -> int:
        i = len(tree["feature"])
        counts = np.bincount(ys, minlength=n_classes).astype(np.float64)
        tree["feature"].append(-1)
        tree["thresh"].append(0.0)
        tree["left"].append(-1)
        tree["right"].append(-1)
        tree["probs"].append((counts / counts.sum()).tolist())
        return i

    def grow(rows: np.ndarray, depth: int) -> int:
        ys = y[rows]
        if depth >= max_depth or len(rows) < 4 or len(set(ys)) == 1:
            return leaf(ys)
        n_feat = X.shape[1]
        k = max(1, int(n_feat * 0.6))
        cand = np.sort(rng.choice(n_feat, size=k, replace=False))
        best = None
        for f in cand:
            got = _gini_gain(X[rows, f], ys, n_classes)
            if got is None:
                continue
            threshold, score = got
            if best is None or score < best[2] - 1e-12:
                best = (int(f), threshold, score)
        if best is None:
            return leaf(ys)
        f, threshold, _ = best
        mask = X[rows, f] <= threshold
        i = len(tree["feature"])
        tree["feature"].append(f)
        tree["thresh"].append(float(threshold))
        tree["left"].append(-1)
        tree["right"].append(-1)
        tree["probs"].append([0.0] * n_classes)
        li = grow(rows[mask], depth + 1)
        ri = grow(rows[~mask], depth + 1)
        tree["left"][i] = li
        tree["right"][i] = ri
        return i

    grow(np.arange(len(X)), 0)
    return tree


def train_ensemble(X: np.ndarray, y: np.ndarray, classes: list[str],
                   n_trees: int = 12, max_depth: int = 8,
                   seed: int = 7) -> dict:
    """Bagged CART ensemble; returns the shippable model dict."""
    rng = np.random.RandomState(seed)
    trees = []
    for _ in range(n_trees):
        boot = rng.randint(0, len(X), size=len(X))
        trees.append(
            _build_tree(X[boot], y[boot], len(classes), max_depth, rng)
        )
    return {"classes": list(classes), "trees": trees}
