"""Seeded input generator for the benchmark, kept apart from the runner.

Everything here is a pure function of ``seed`` and the size arguments:
the same seed gives byte-identical parquet files. Two schemas are
written, both the ones the engine's DuckDB oracle twins already read:

- ``events.parquet``: (event_id, ts timestamp[us], user_id, event_type,
  value, props json) -- mapped to points by
  ``talna_spark.sources.events`` and checked by
  ``talna_spark.oracle.events_query_sql``;
- ``documents.parquet``: (doc_id, text, lang, source, n_chars) -- read by
  the ``talna_spark.pipeline`` operators and their ``*_sql`` twins.

Each writer returns the input properties results are quoted with (points,
series, days, planted duplicate shares, bytes on disk).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("purchase", "signup", "error", "view")
N_USERS = 32
N_K = 10           # distinct props.k values
DAY_US = 86_400 * 10**6
START_US = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00Z

STOPWORDS = ("the", "a", "and", "of", "to", "in")


def _write(table: pa.Table, path: str) -> int:
    # one row group, no statistics drift: parquet bytes depend only on
    # the table, so the same seed writes the same file
    pq.write_table(table, path, compression="zstd", use_dictionary=True)
    return os.path.getsize(path)


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    # about a fifth of the values exceed 100, which adds the ``hi`` tag
    return np.round(rng.gamma(2.0, 35.0, n), 2)


def events_table(rng: np.random.Generator, n: int, days: int) -> pa.Table:
    """``n`` events over ``days`` days, sorted by ts.

    Timestamps are distinct (sorted draws plus their rank), so no two
    events share a (series, ts) key: compaction's last-writer-wins then
    never merges points, and the oracle over the raw events stays exact.
    """
    span = days * DAY_US - n
    ts = START_US + np.sort(rng.integers(0, span, n)) + np.arange(n)
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    user = rng.integers(0, N_USERS, n)
    k = rng.integers(0, N_K, n)
    props = np.char.add(np.char.add('{"k": ', k.astype(str)), "}")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": user.astype(np.int64),
        "event_type": etype,
        "value": _values(rng, n),
        "props": props,
    })


def events_properties(table: pa.Table) -> dict:
    """Points, series and days of an events table (series identity is
    the engine's tag set: event type, user, props.k and the hi flag)."""
    cols = table.to_pydict()
    series = {
        (e, u, p, v > 100)
        for e, u, p, v in zip(
            cols["event_type"], cols["user_id"], cols["props"], cols["value"]
        )
    }
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    days = len(np.unique(ts // DAY_US)) if len(ts) else 0
    return {"points": table.num_rows, "series": len(series), "days": int(days)}


def write_events(out_dir: str, seed: int, n: int, days: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    table = events_table(np.random.default_rng(seed), n, days)
    props = events_properties(table)
    props["bytes"] = _write(table, os.path.join(out_dir, "events.parquet"))
    return props


# ---------------------------------------------------------------- documents
def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    syl = np.array([c + v for c in "bdfgklmnprstvz" for v in "aeiou"])
    words = set(STOPWORDS)
    out = list(STOPWORDS)
    while len(out) < size:
        w = "".join(syl[rng.integers(0, len(syl), rng.integers(2, 4))])
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _paragraph(rng, vocab, cdf, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi))
    idx = np.minimum(np.searchsorted(cdf, rng.random(n)), len(vocab) - 1)
    return " ".join(vocab[j] for j in idx) + "."


def documents_table(
    rng: np.random.Generator, n_docs: int, exact_share: float,
    near_share: float, para_share: float, vocab_size: int = 3000,
) -> tuple[pa.Table, dict]:
    """Zipf-vocabulary documents with planted duplicates.

    - ``exact_share`` of the docs copy an earlier original verbatim;
    - ``near_share`` copy an earlier original of >= 60 words with one
      word replaced (3-shingle Jaccard >= 0.9, above the LSH threshold);
    - ``para_share`` of the paragraphs come from a small shared pool
      (paragraph-level duplicates across documents).
    """
    vocab = _vocab(rng, vocab_size)
    cdf = np.cumsum(1.0 / np.arange(1, vocab_size + 1) ** 1.1)
    cdf /= cdf[-1]
    pool = [_paragraph(rng, vocab, cdf, 8, 20) for _ in range(24)]
    kind = rng.choice(
        3, n_docs, p=[1.0 - exact_share - near_share, exact_share, near_share]
    )
    kind[:8] = 0  # the first docs are originals, so copies have a source
    texts: list[str] = []
    originals: list[int] = []
    long_originals: list[int] = []
    planted_exact = planted_near = 0
    for i in range(n_docs):
        if kind[i] == 1:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
            planted_exact += 1
            continue
        if kind[i] == 2 and long_originals:
            src = texts[long_originals[int(rng.integers(0, len(long_originals)))]]
            words = src.split(" ")
            j = len(words) // 2
            words[j] = "zzq" + str(i)
            texts.append(" ".join(words))
            planted_near += 1
            continue
        paras = [
            pool[int(rng.integers(0, len(pool)))] if rng.random() < para_share
            else _paragraph(rng, vocab, cdf, 10, 45)
            for _ in range(int(rng.integers(1, 5)))
        ]
        text = "\n".join(paras)
        texts.append(text)
        originals.append(i)
        if len(text.split()) >= 60:
            long_originals.append(i)
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(("en", "de", "fr", "es"))[rng.integers(0, 4, n_docs)],
        "source": np.array(("src0", "src1", "src2", "src3"))[
            rng.integers(0, 4, n_docs)
        ],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return table, {
        "docs": n_docs,
        "planted_exact": planted_exact,
        "planted_near": planted_near,
        "planted_exact_share": round(planted_exact / n_docs, 4),
        "planted_near_share": round(planted_near / n_docs, 4),
    }


def write_documents(out_dir: str, seed: int, n_docs: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    table, props = documents_table(
        np.random.default_rng(seed), n_docs,
        exact_share=0.08, near_share=0.08, para_share=0.15,
    )
    props["bytes"] = _write(table, os.path.join(out_dir, "documents.parquet"))
    return props
