"""Seeded input generators for the three benchmark workloads.

The benchmark cannot read the repository's testdata (a benchmark
checkout holds only committed files), so it builds inputs with the
same schema and the same statistical shape as the sf0.1 testdata:

- ``documents``: a 30-word vocabulary, 10-100 tokens per document,
  5 % near-duplicates (an earlier document plus the token ``dup``),
  a handful of exact copies, 20 sources, five languages (40 % ``en``).
  :func:`amplify_documents` then applies ``tools/amplify_sf.py``'s
  replica rule: replica ``i > 0`` offsets ``doc_id`` by ``i * 10**7``
  and interleaves a replica-marker token after every third token. The
  markers are drawn from the seed.
- ``events``: ids ``first_id + stride * i``, exponential inter-arrival times over 30
  days from 2024-01-01, 1,500 users, five event types, exponential
  values with mean 50 rounded to cents, ``props`` = ``{"k": 0..99}``.
  The rows are written in a seeded permutation of ``event_id`` order.

Every generator is a pure function of its arguments: the same seed
gives byte-identical parquet files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
N_USERS = 1500
DOC_ID_OFFSET = 10_000_000  # tools/amplify_sf.py OFF["doc_id"]
EPOCH0 = dt.datetime(2024, 1, 1)


def base_documents(n: int, seed: int) -> list[dict]:
    """``n`` sf0.1-shaped documents."""
    rng = np.random.default_rng([seed, 1])
    docs: list[dict] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:  # near-duplicate of an earlier doc
            text = docs[int(rng.integers(0, i))]["text"] + " dup"
        elif i > 10 and roll < 0.052:  # exact copy
            text = docs[int(rng.integers(0, i))]["text"]
        else:
            n_tok = int(rng.integers(10, 101))
            text = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok))
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": LANGS[int(rng.choice(len(LANGS), p=LANG_P))],
                "source": f"src{i % 20}",
            }
        )
    return docs


def amplify_documents(docs: list[dict], k: int, seed: int) -> list[dict]:
    """``k`` replicas of ``docs`` under ``tools/amplify_sf.py``'s rule,
    with one seeded marker token per replica."""
    rng = np.random.default_rng([seed, 2])
    markers = [f"zz{rng.integers(0, 16**8):08x}zz" for _ in range(k)]
    out = list(docs)
    for rep in range(1, k):
        for d in docs:
            toks = d["text"].split()
            marked: list[str] = []
            for j, t in enumerate(toks):
                marked.append(t)
                if j % 3 == 2:
                    marked.append(markers[rep])
            out.append(
                dict(d, doc_id=d["doc_id"] + rep * DOC_ID_OFFSET, text=" ".join(marked))
            )
    return out


def documents_table(docs: list[dict]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
            "text": [d["text"] for d in docs],
            "lang": [d["lang"] for d in docs],
            "source": [d["source"] for d in docs],
            "n_chars": pa.array([len(d["text"]) for d in docs], pa.int64()),
        }
    )


def events_table(
    n: int, seed: int, first_id: int = 0, permute: bool = True, stride: int = 1
) -> pa.Table:
    """``n`` sf0.1-shaped events with ids ``first_id + stride * i``."""
    rng = np.random.default_rng([seed, 3, first_id])
    gaps_us = rng.exponential(30 * 86400e6 / max(n, 1), n).astype(np.int64)
    ts_us = np.cumsum(gaps_us) % (30 * 86400 * 10**6)
    ts = np.datetime64(EPOCH0, "us") + ts_us.astype("timedelta64[us]")
    cols = {
        "event_id": first_id + stride * np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, N_USERS, n, dtype=np.int64),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
        "value": np.floor(rng.exponential(50.0, n) * 100 + 0.5) / 100,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }
    if permute:
        order = rng.permutation(n)
        cols = {c: np.asarray(v, dtype=object if c == "props" else None)[order] for c, v in cols.items()}
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(list(cols["event_type"]), pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(list(cols["props"]), pa.string()),
        }
    )


def write_table(table: pa.Table, sf_dir: str, name: str) -> str:
    """Write ``table`` in the single-file layout ``load_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path
