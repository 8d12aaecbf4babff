"""Seeded input builders for the benchmark workloads.

Every builder takes the workload seed as an argument and returns plain
pandas frames plus a stats dict; the same seed gives byte-identical
inputs.  The engine only ever sees the materialised result: a parquet
copy written under the run directory and read back as a DataFrame.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from wdedup_spark import synth

#: the synth module's shared boilerplate turn (the F5 hot-prefix fixture)
_HOT_TEXT = " ".join(synth._vocab()[:40].tolist())


def transcripts(seed: int, n_base: int, hot_prefix_frac: float, dup_frac: float):
    """Synthetic transcripts with planted duplicate classes.

    Returns ``(SynthResult, stats)``; stats carry turns, convs, text
    bytes, planted pairs per class and the share of conversations that
    open with the hot boilerplate turn."""
    res = synth.generate_transcripts(
        n_base=n_base, seed=seed, hot_prefix_frac=hot_prefix_frac, dup_frac=dup_frac
    )
    tr = res.transcripts
    first = tr[tr.turn_idx == 0]
    stats = {
        "turns": int(len(tr)),
        "convs": int(tr.conv_id.nunique()),
        "text_bytes": int(tr.text.str.len().sum()),
        "planted_pairs": {
            str(k): int(v) for k, v in res.oracle_pairs.dup_class.value_counts().sort_index().items()
        },
        "hot_share": round(float((first.text == _HOT_TEXT).mean()), 4),
    }
    return res, stats


def materialise_transcripts(spark, res, path: str, partitions: int):
    """Write the transcripts as parquet (``partitions`` files) and return
    the DataFrame read back from it."""
    synth.to_spark(spark, res).repartition(partitions).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


_WORDS = (
    "a the data spark table query join group key value row column filter sort "
    "scan hash merge batch stream window order part line vector agg small big "
    "fast slow customer index page cache shard replica token model train eval"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def catalogue_tables(seed: int, n_docs: int, n_vecs: int, n_sources: int = 20, dim: int = 64):
    """The two tables the catalogue queries read, in the schema they
    expect: ``documents(doc_id, text, lang, source, n_chars)`` and
    ``embeddings(vec_id, embedding array<float>, label)``.

    One document in ten is a lightly edited copy of an earlier one, so
    the span-dedup, decontamination and repetition queries find work;
    embeddings are noisy draws around ten labelled centres."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, len(_WORDS) + 1)
    p /= p.sum()
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.choice(len(toks), size=max(1, len(toks) // 20), replace=False):
                toks[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            toks = rng.choice(_WORDS, size=int(rng.integers(10, 101)), p=p).tolist()
        texts.append(" ".join(toks))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n_docs, p=_LANG_P),
            "source": [f"src{i % n_sources}" for i in range(n_docs)],
        }
    )
    docs["n_chars"] = docs.text.str.len().astype(np.int64)
    centres = rng.normal(0.0, 0.2, size=(10, dim))
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = (centres[labels] + rng.normal(0.0, 0.05, size=(n_vecs, dim))).astype(np.float32)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )
    tables = {"documents": docs, "embeddings": emb}
    stats = {
        "documents": n_docs,
        "embeddings": n_vecs,
        "text_bytes": int(docs.n_chars.sum()),
    }
    return tables, stats


def materialise_tables(tables: dict, path: str) -> str:
    """Write each table to ``<path>/<name>.parquet`` — the layout the
    catalogue queries read — and return ``path``."""
    os.makedirs(path, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(path, f"{name}.parquet"), index=False)
    return path
