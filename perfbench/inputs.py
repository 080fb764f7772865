"""Seeded benchmark inputs, built with numpy and pyarrow only (no Spark).

Every generator takes a seed and returns pyarrow tables; the same seed
gives byte-identical parquet files. The shapes follow the engine's test
tables (``catalog.TABLES``): a vitals-shaped ``events`` stream, and the
``documents`` / ``embeddings`` corpora the curation operators read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64
ZIPF_A = 1.1
ROW_GROUP_ROWS = 65_536


def _zipf_users(rng: np.random.Generator, n: int, n_users: int) -> np.ndarray:
    """User ids with Zipf-distributed activity over a shuffled rank order."""
    p = 1.0 / np.arange(1, n_users + 1) ** ZIPF_A
    ranks = rng.choice(n_users, size=n, p=p / p.sum())
    return rng.permutation(n_users)[ranks].astype(np.int64)


def _props(k: np.ndarray) -> pa.Array:
    return pa.array([f'{{"k": {int(v)}}}' for v in k], pa.string())


def oltp_events(
    seed: int,
    n_events: int,
    days: int,
    n_users: int,
    redeliver_frac: float = 0.05,
) -> pa.Table:
    """The OLTP ``events`` table the replication reads: ``n_events``
    distinct events over ``days`` days, plus ``redeliver_frac`` of them
    re-delivered as corrections (same ``event_id``, a later ``ts``, a new
    ``value``). Rows are ordered by ``ts``; timestamps are microsecond
    UTC."""
    rng = np.random.default_rng(seed)
    span = days * DAY_US
    ts = np.sort(rng.integers(0, span, n_events))
    ids = np.arange(n_events, dtype=np.int64)
    users = _zipf_users(rng, n_events, n_users)
    types = rng.integers(0, len(EVENT_TYPES), n_events)
    value = np.round(rng.exponential(50.0, n_events), 2)
    k = rng.integers(0, 100, n_events)

    redo = np.sort(rng.choice(n_events, int(n_events * redeliver_frac), replace=False))
    redo_ts = np.minimum(ts[redo] + rng.integers(1_000_000, 1_800_000_000, len(redo)), span - 1)
    redo_value = np.round(rng.exponential(50.0, len(redo)), 2)

    all_ts = np.concatenate([ts, redo_ts])
    order = np.argsort(all_ts, kind="stable")
    cols = {
        "event_id": np.concatenate([ids, ids[redo]])[order],
        "ts": (all_ts + EPOCH_2024_US)[order],
        "user_id": np.concatenate([users, users[redo]])[order],
        "event_type": EVENT_TYPES[np.concatenate([types, types[redo]])][order],
        "value": np.concatenate([value, redo_value])[order],
        "k": np.concatenate([k, k[redo]])[order],
    }
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": _props(cols["k"]),
        }
    )


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """``documents`` (30-word vocabulary, 5% near-duplicates that copy an
    earlier document and append ``dup``) and ``embeddings`` (unit-norm
    64-d vectors around ten label centroids)."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    x = 0.15 * centers[labels] / np.sqrt(EMBED_DIM) + rng.normal(0.0, 1.0, (n_vecs, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {"documents": docs, "embeddings": emb}


def write_landing(events: pa.Table, out_dir: str, days: int) -> None:
    """The landing zone one replication of the first ``days`` days of
    ``events`` leaves: one ``load_date=YYYY-MM-DD`` partition per UTC
    day, as ``sources.replicate.replicate_window`` writes it. ``events``
    is ordered by ``ts`` (``oltp_events``)."""
    ts = events.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    for d in range(days):
        lo, hi = np.searchsorted(ts, [EPOCH_2024_US + d * DAY_US, EPOCH_2024_US + (d + 1) * DAY_US])
        day = np.datetime64(EPOCH_2024_US + d * DAY_US, "us").astype("datetime64[D]")
        os.makedirs(f"{out_dir}/load_date={day}", exist_ok=True)
        pq.write_table(events.slice(lo, hi - lo), f"{out_dir}/load_date={day}/part-00000.parquet")


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the layout ``catalog.table``
    reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet", row_group_size=ROW_GROUP_ROWS)
