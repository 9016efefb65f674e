"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so two runs with the
same seed see byte-identical inputs:

* ``polygon_lattice``: the 4-polygon / 19-vertex reference layer shrunk
  into a 1.6 x 1.6 stamp and repeated on a 5 x 5 lattice over the
  [0, 8)^2 area (100 polygons, 475 vertices), each stamp shifted by a
  small seeded jitter.
* ``write_query_tables``: ``events``, ``documents`` and ``embeddings``
  parquet tables with the schemas, sizes and value distributions of the
  repository's sf0.1 test tables, for the headline queries of
  ``__spark_entry__``.
"""

from __future__ import annotations

import os

import numpy as np

AOI = dict(x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0)
LATTICE = 5
JITTER = 0.05

# Shape of the repository's sf0.1 test tables (events, documents,
# embeddings), as measured and recorded in BASELINE.md; the generated
# tables reproduce it at the same size.
SF01 = dict(
    n_events=100_000, n_users=1500, events_days=30, value_mean=50.0, n_props=100,
    n_docs=5000, doc_words=(10, 100), near_dup_share=0.05, n_sources=20,
    n_vecs=2000, vec_dim=64, n_labels=10,
)
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
# documents per language at sf0.1: en 2059, zh 753, es 744, fr 742, de 702
LANGS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def polygon_lattice(seed: int):
    """PolygonArrays of the jittered 5 x 5 lattice of reference stamps."""
    import __spark_entry__ as E
    from cuspatial_spark.geometry import PolygonArrays

    rng = np.random.default_rng([seed, 1])
    po = np.asarray(E.POLY_OFFSETS)
    ro = np.asarray(E.RING_OFFSETS)
    xs = np.asarray(E.POLY_X) / LATTICE
    ys = np.asarray(E.POLY_Y) / LATTICE
    step = (AOI["x_max"] - AOI["x_min"]) / LATTICE
    part, ring, allx, ally = [0], [0], [], []
    for gi in range(LATTICE):
        for gj in range(LATTICE):
            dx, dy = rng.uniform(-JITTER, JITTER, 2)
            part.extend(part[-1] + np.cumsum(np.diff(po)))
            ring.extend(ring[-1] + np.cumsum(np.diff(ro)))
            allx.append(xs + gi * step + dx)
            ally.append(ys + gj * step + dy)
    return PolygonArrays(
        np.asarray(part), np.asarray(ring), np.concatenate(allx), np.concatenate(ally)
    )


def rings_as_linestrings(polys):
    """The polygon rings read as closed linestrings (one per polygon)."""
    from cuspatial_spark.geometry import LinestringArrays

    return LinestringArrays(np.asarray(polys.ring_offsets), polys.x, polys.y)


def write_query_tables(out_dir: str, seed: int) -> None:
    """Writes events / documents / embeddings parquet under out_dir with
    the sizes and distributions of ``SF01``."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    c = SF01
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)

    # Poisson arrivals over the month: ts increases with event_id
    n = c["n_events"]
    gaps = rng.exponential(c["events_days"] * 86400.0 / n, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, c["n_users"], n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(c["value_mean"], n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, c["n_props"], n)]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    n = c["n_docs"]
    words = np.asarray(WORDS)
    lo, hi = c["doc_words"]
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(lo, hi + 1, n)]
    # near-duplicates: a copy of the next document with " dup" appended
    for i in rng.choice(n, int(n * c["near_dup_share"]), replace=False):
        texts[i] = texts[(i + 1) % n] + " dup"
    share = np.asarray(list(LANGS.values()), dtype=float)
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(list(LANGS), n, p=share / share.sum()),
        "source": [f"src{i % c['n_sources']}" for i in range(n)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(out_dir, "documents.parquet"))

    # isotropic unit vectors; the label is independent of the vector
    n = c["n_vecs"]
    vec = rng.normal(size=(n, c["vec_dim"]))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, c["n_labels"], n).astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
