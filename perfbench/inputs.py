"""Seeded inputs for the benchmark and the closed forms that check them.

Every input is a pure function of the run's ``--seed``: frame payloads
(per file index, so the order files are staged in does not matter),
lookup keys, the query mix order, and the curation tables
(``documents``, ``embeddings``, ``events``) the registry queries read.

``expected_detections`` restates the engine's stub detector with numpy
over the generated payloads, the way the x233 oracle restates it in SQL;
it deliberately does not import the model it checks.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

THRESHOLD = 0.7  # threshold_filter's default: keep score > 0.7

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")


def _file_rng(seed: int, stream: int, index: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index])


# -- frames ------------------------------------------------------------------


def frame_payloads(
    seed: int, stream: int, index: int, n_frames: int, payload_bytes: int
) -> np.ndarray:
    """(n_frames, payload_bytes) uint8 payload matrix of one frame file."""
    return _file_rng(seed, stream, index).integers(
        0, 256, size=(n_frames, payload_bytes), dtype=np.uint8
    )


def write_frame_file(
    path: str, first_id: int, payloads: np.ndarray
) -> None:
    """One parquet file of (frame_id BIGINT, payload BINARY) rows."""
    n, width = payloads.shape
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    payload = pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(offsets), pa.py_buffer(payloads.tobytes())],
    )
    ids = pa.array(np.arange(first_id, first_id + n, dtype=np.int64))
    tmp = path + ".tmp"
    pq.write_table(pa.table({"frame_id": ids, "payload": payload}), tmp)
    os.replace(tmp, path)


def expected_detections(frame_ids: np.ndarray, payloads: np.ndarray) -> pd.DataFrame:
    """Stub-detector output after the 0.7 threshold, one row per box.

    Closed form over the payload byte sum ``s``: ``s % 3 + 1`` boxes,
    box ``i`` with modular coordinates, label and score.
    """
    s = payloads.sum(axis=1, dtype=np.int64)
    parts = []
    for i in range(3):
        m = (s % 3 + 1) > i
        si = s[m]
        ymin = ((si * 7 + i * 13) % 70) / 100.0
        xmin = ((si * 11 + i * 17) % 70) / 100.0
        parts.append(
            pd.DataFrame(
                {
                    "frame_id": frame_ids[m].astype(np.int64),
                    "box_idx": np.full(len(si), i, dtype=np.int32),
                    "ymin": ymin,
                    "xmin": xmin,
                    "ymax": ymin + ((si * 3 + i * 5) % 25 + 5) / 100.0,
                    "xmax": xmin + ((si * 5 + i * 7) % 25 + 5) / 100.0,
                    "label_id": (1 + (si + i * 31) % 80).astype(np.int32),
                    "score": ((si * 13 + i * 41) % 100) / 100.0,
                }
            )
        )
    out = pd.concat(parts, ignore_index=True)
    return out[out["score"] > THRESHOLD].reset_index(drop=True)


def per_label_counts(det: pd.DataFrame) -> dict[int, int]:
    return {int(k): int(v) for k, v in det.groupby("label_id").size().items()}


# -- curation tables -----------------------------------------------------------


def write_curation_tables(
    sf_dir: str, seed: int, n_docs: int, n_vecs: int, n_events: int
) -> None:
    """documents / embeddings / events with the column layout the
    registry queries and their DuckDB oracles read."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])

    # documents: random word runs, with exact and near duplicates so the
    # dedup queries find pairs
    words = np.array(WORDS)
    texts: list[str] = []
    kind = rng.random(n_docs)
    for d in range(n_docs):
        if d > 10 and kind[d] < 0.03:
            texts.append(texts[int(rng.integers(0, d))])
        elif d > 10 and kind[d] < 0.10:
            src = np.array(texts[int(rng.integers(0, d))].split())
            at = rng.integers(0, len(src), max(1, len(src) // 10))
            src[at] = words[rng.integers(0, len(words), len(at))]
            texts.append("dup " + " ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(10, 101)))]))
    lang_p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=lang_p)]),
            "source": pa.array(np.char.add("src", (np.arange(n_docs) % 5).astype(str))),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(docs, f"{sf_dir}/documents.parquet")

    # embeddings: 10 noisy clusters of unit vectors in 64 dims
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vecs).astype(np.int32)
    vec = centers[label] + rng.normal(scale=1.6, size=(n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )
    pq.write_table(emb, f"{sf_dir}/embeddings.parquet")

    # events: 30 days of timestamped user events
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events)) + t0
    ev = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(1, n_events // 66), n_events).astype(np.int64)
            ),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array(np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)),
                "}")),
        }
    )
    pq.write_table(ev, f"{sf_dir}/events.parquet")


# -- result hashing ------------------------------------------------------------


def _norm(v):
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float):
        return None if v != v else round(v, 9)
    return v


def rows_digest(columns: list[str], rows) -> str:
    """Row-order-insensitive digest of a result set: columns sorted by
    name, floats rounded to 9 places, rows sorted by repr."""
    import hashlib

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        repr(tuple(_norm(r[i]) for i in order)) for r in rows
    )
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


def frame_digest(pdf: pd.DataFrame) -> str:
    return rows_digest(list(pdf.columns), pdf.itertuples(index=False))
