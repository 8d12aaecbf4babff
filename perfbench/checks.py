"""Output checks: dedup recall/precision against the synth oracle, and an
order-insensitive digest for comparing query results with their DuckDB
oracle SQL."""

from __future__ import annotations

import datetime
import hashlib
import math

import pandas as pd

#: planted-pair recall below this fails the operation
MIN_RECALL = 0.99


def _components(ids, edges) -> dict:
    """Union-find over ``edges``; maps every id to its component root."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def truth_components(transcripts: pd.DataFrame, oracle_pairs: pd.DataFrame) -> dict:
    """Closure of the planted pairs ∪ same-turn-multiset pairs.  The
    second set covers D4X copies: their turns are permuted, so they are
    true near-duplicates even though synth plants no pair for them."""
    by_multiset: dict[tuple, list] = {}
    for cid, g in transcripts.groupby("conv_id"):
        by_multiset.setdefault(tuple(sorted(zip(g.role, g.text, g.tool))), []).append(cid)
    edges = list(zip(oracle_pairs.conv_a, oracle_pairs.conv_b))
    for ms in by_multiset.values():
        edges += [(ms[0], m) for m in ms[1:]]
    return _components(transcripts.conv_id.unique().tolist(), edges)


def _pairs_within(groups: pd.Series) -> int:
    n = groups.value_counts()
    return int((n * (n - 1) // 2).sum())


def recall_precision(clusters: pd.DataFrame, oracle_pairs: pd.DataFrame, truth: dict) -> dict:
    """``clusters`` is the engine's (conv_id, cluster_id) output.

    recall: share of planted pairs that are co-clustered.
    precision: share of co-clustered pairs inside one truth component.
    ``complete`` is False unless every input conversation is assigned
    exactly once."""
    cid = dict(zip(clusters.conv_id, clusters.cluster_id))
    hits = sum(cid.get(a) is not None and cid.get(a) == cid.get(b)
               for a, b in zip(oracle_pairs.conv_a, oracle_pairs.conv_b))
    recall = hits / len(oracle_pairs) if len(oracle_pairs) else 1.0
    both = pd.DataFrame({"c": clusters.cluster_id, "t": clusters.conv_id.map(truth)})
    co = _pairs_within(both.c)
    good = _pairs_within(both.c.astype(str) + "\x1f" + both.t.astype(str))
    complete = len(clusters) == len(truth) and clusters.conv_id.is_unique and set(cid) == set(truth)
    return {
        "recall": recall,
        "precision": good / co if co else 1.0,
        "complete": bool(complete),
        "ok": bool(complete and recall >= MIN_RECALL),
    }


def _norm_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def digest(df: pd.DataFrame) -> str:
    """Order-insensitive value digest with floats normalised to 9
    significant digits — the same compare the repository's oracle gate
    uses, so a Spark result and its DuckDB oracle digest alike."""
    cols = sorted(df.columns)
    rows = sorted(tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False))
    h = hashlib.sha256()
    h.update("\x1f".join(cols).encode())
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]
