"""Recall and precision on hand-built clusters, and the digest compare."""

import pandas as pd
import pytest

import checks


def _turns(convs: dict) -> pd.DataFrame:
    rows = [
        (cid, i, "user", text, "")
        for cid, texts in convs.items()
        for i, text in enumerate(texts)
    ]
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])


# a~b planted; c is a permuted copy of a (same turn multiset, no planted
# pair); d and e are unrelated singletons
TURNS = _turns({"a": ["x", "y"], "b": ["x", "y!"], "c": ["y", "x"], "d": ["p"], "e": ["q"]})
PAIRS = pd.DataFrame({"conv_a": ["a"], "conv_b": ["b"], "dup_class": ["D1"]})


def _clusters(assign: dict) -> pd.DataFrame:
    return pd.DataFrame({"conv_id": list(assign), "cluster_id": list(assign.values())})


def test_truth_closes_planted_and_multiset_pairs():
    truth = checks.truth_components(TURNS, PAIRS)
    assert truth["a"] == truth["b"] == truth["c"]
    assert len({truth["a"], truth["d"], truth["e"]}) == 3


def test_perfect_clustering():
    truth = checks.truth_components(TURNS, PAIRS)
    r = checks.recall_precision(_clusters({"a": "a", "b": "a", "c": "a", "d": "d", "e": "e"}), PAIRS, truth)
    assert r == {"recall": 1.0, "precision": 1.0, "complete": True, "ok": True}


def test_missed_pair_fails_recall():
    truth = checks.truth_components(TURNS, PAIRS)
    r = checks.recall_precision(_clusters({"a": "a", "b": "b", "c": "a", "d": "d", "e": "e"}), PAIRS, truth)
    assert r["recall"] == 0.0 and not r["ok"]
    assert r["precision"] == 1.0  # the one co-clustered pair (a, c) is true


def test_false_merge_lowers_precision_only():
    truth = checks.truth_components(TURNS, PAIRS)
    # cluster {a,b,c,d}: 6 pairs, 3 true (ab, ac, bc)
    r = checks.recall_precision(_clusters({"a": "a", "b": "a", "c": "a", "d": "a", "e": "e"}), PAIRS, truth)
    assert r["recall"] == 1.0
    assert r["precision"] == pytest.approx(0.5)
    assert r["ok"]


def test_missing_or_duplicated_conversation_is_incomplete():
    truth = checks.truth_components(TURNS, PAIRS)
    missing = checks.recall_precision(_clusters({"a": "a", "b": "a", "c": "a", "d": "d"}), PAIRS, truth)
    assert not missing["complete"] and not missing["ok"]
    dup = pd.concat([_clusters({"a": "a", "b": "a", "c": "a", "d": "d", "e": "e"}),
                     _clusters({"e": "e"})])
    assert not checks.recall_precision(dup, PAIRS, truth)["ok"]


def test_digest_ignores_row_and_column_order_and_float_noise():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 1.5]})
    b = pd.DataFrame({"v": [1.5, 0.3], "k": [2, 1]})
    assert checks.digest(a) == checks.digest(b)
    assert checks.digest(a) != checks.digest(b.assign(v=[1.5, 0.31]))
