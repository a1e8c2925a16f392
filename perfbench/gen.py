"""Seeded input generators for the benchmark workloads.

Every table is written as parquet with the same column names and types
as the engine's input tables, so the public ``(spark, sf_dir)`` entry
points and the DuckDB oracles read them unchanged.  The same seed gives
byte-identical inputs; only values change between seeds, never row
counts, so run-to-run timing spread measures the engine, not the input.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# Per-class base level of the sensor value.  Neighbouring classes
# overlap once the per-user scale is applied, so a classifier trained
# on window features makes real mistakes (model_error_rate > 0).
CLASS_BASE = [12.0, 20.0, 30.0, 44.0, 62.0]
SHAPE = 12.0  # gamma shape of one reading: coefficient of variation 0.29
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` part files under directory
    ``path``: several files, so the scan splits across cores."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = n * i // n_files, n * (i + 1) // n_files
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), f)
        # a file stream reads files in modification-time order: make
        # that the row order, or later files would arrive "late"
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def events(seed: int, n_rows: int, n_users: int, days: int) -> pa.Table:
    """Sensor events in time order: ``event_id, ts, user_id,
    event_type, value, props``.

    * user 0 is Zipf-hot (about a fifth of all rows), the rest follow
      a Zipf(1.1) tail — the skew the sessionizer must absorb;
    * ``ts`` is ``timestamp[us]`` over ``days`` days;
    * ``value`` sits on the 0.01 grid: the oracles' ``ROUND(..., 6)``
      parity on variances depends on it (plans/pipeline.py, 3-axis
      note);
    * each event type draws from its own distribution, scaled per
      user, so window features carry the label imperfectly.
    """
    rng = np.random.default_rng([seed, 1])
    ranks = np.arange(1, n_users, dtype=np.float64)
    tail = ranks ** -1.1
    p = np.concatenate([[0.2], 0.8 * tail / tail.sum()])
    user = rng.choice(n_users, size=n_rows, p=p)
    etype = rng.integers(0, len(EVENT_TYPES), size=n_rows)
    user_scale = rng.lognormal(0.0, 0.15, size=n_users)
    base = np.asarray(CLASS_BASE)[etype] * user_scale[user]
    value = np.round(rng.gamma(SHAPE, base / SHAPE), 2)
    ts = np.sort(T0_US + rng.integers(0, days * DAY_US, size=n_rows))
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_rows).astype(str)), "}")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(np.asarray(EVENT_TYPES)[etype]),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def write_events(seed: int, root: str, n_rows: int, n_users: int, days: int, n_files: int) -> None:
    _write(events(seed, n_rows, n_users, days), os.path.join(root, "events.parquet"), n_files)


def embeddings(seed: int, n: int, dim: int, n_clusters: int, n_extra: int):
    """Clustered unit vectors: each cluster is a centre plus a spread
    along its own 4-dimensional subspace (low intrinsic dimension, as
    learned embeddings have) and a little isotropic noise.  ``n``
    indexed rows plus ``n_extra`` more draws from the same mixture that
    are NOT in the index: held-out queries and insert batches."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(0.0, 1.0, size=(n_clusters, dim))
    bases = rng.normal(0.0, 1.0, size=(n_clusters, dim, 4))
    lab = rng.integers(0, n_clusters, size=n + n_extra)
    z = rng.normal(0.0, 0.6, size=(n + n_extra, 4))
    x = centers[lab] + np.einsum("ndk,nk->nd", bases[lab], z) + rng.normal(0.0, 0.05, size=(n + n_extra, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return x[:n], lab[:n].astype(np.int32), x[n:]


def write_embeddings(seed: int, root: str, n: int, dim: int, n_clusters: int, n_queries: int, n_inserts: int, n_deletes: int, n_files: int) -> dict:
    """The index table ``embeddings`` plus three side inputs:
    ``queries (query_id, e1)`` with ids outside the index, ``inserts``
    (rows of the index schema with new ids) and ``deletes (vec_id)``,
    a seeded sample of indexed ids.  Returns the arrays for the checks."""
    x, lab, extra = embeddings(seed, n, dim, n_clusters, n_queries + n_inserts)
    vec = pa.list_(pa.float32())
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": pa.array(list(x), type=vec),
                "label": pa.array(lab),
            }
        ),
        os.path.join(root, "embeddings.parquet"),
        n_files,
    )
    query_ids = np.arange(n_queries, dtype=np.int64) + 10 * n
    pq.write_table(
        pa.table({"query_id": pa.array(query_ids), "e1": pa.array(list(extra[:n_queries]), type=vec)}),
        os.path.join(root, "queries.parquet"),
    )
    insert_ids = np.arange(n_inserts, dtype=np.int64) + n
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(insert_ids),
                "embedding": pa.array(list(extra[n_queries:]), type=vec),
                "label": pa.array(np.zeros(n_inserts, dtype=np.int32)),
            }
        ),
        os.path.join(root, "inserts.parquet"),
    )
    rng = np.random.default_rng([seed, 5])
    delete_ids = np.sort(rng.choice(n, size=n_deletes, replace=False)).astype(np.int64)
    pq.write_table(pa.table({"vec_id": pa.array(delete_ids)}), os.path.join(root, "deletes.parquet"))
    return {
        "index": x,
        "queries": extra[:n_queries],
        "query_ids": query_ids,
        "inserts": extra[n_queries:],
        "insert_ids": insert_ids,
        "delete_ids": delete_ids,
    }


LANGS = ["en", "de", "es", "fr", "zh"]


def documents(seed: int, n_docs: int, vocab: int, dup_share: float, edit_share: float) -> pa.Table:
    """Corpus ``(doc_id, text, lang, source, n_chars)`` over a Zipf
    vocabulary.  A ``dup_share`` of the documents copy an earlier
    original and replace about ``edit_share`` of its words (one in ten
    copies is exact), so near-duplicate clusters exist and share their
    band buckets."""
    rng = np.random.default_rng([seed, 3])
    words = np.array([f"w{i}" for i in range(vocab)])
    zipf = 1.0 / np.arange(1, vocab + 1) ** 1.05
    zipf /= zipf.sum()
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < dup_share:
            src = texts[originals[rng.integers(0, len(originals))]].split(" ")
            if rng.random() >= 0.1:
                n_edit = max(1, round(edit_share * len(src)))
                pos = rng.choice(len(src), size=n_edit, replace=False)
                for j, w in zip(pos, rng.choice(words, size=n_edit, p=zipf)):
                    src[j] = w
            texts.append(" ".join(src))
        else:
            length = int(rng.integers(30, 90))
            texts.append(" ".join(rng.choice(words, size=length, p=zipf)))
            originals.append(i)
    n_chars = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n_docs)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array(np.char.add("src", rng.integers(0, 20, n_docs).astype(str))),
            "n_chars": pa.array(n_chars),
        }
    )


def write_documents(seed: int, root: str, n_docs: int, vocab: int, dup_share: float, edit_share: float, n_files: int) -> None:
    _write(documents(seed, n_docs, vocab, dup_share, edit_share), os.path.join(root, "documents.parquet"), n_files)


def serving_vectors(seed: int, n: int) -> list[list[float]]:
    """``n`` single-window feature vectors ``(mean_v, var_v,
    avg_abs_diff_v, resultant, avg_time_peak)`` as a client would send
    them: each summarizes a short window drawn like ``events`` does."""
    rng = np.random.default_rng([seed, 4])
    out = []
    for _ in range(n):
        base = CLASS_BASE[rng.integers(0, len(CLASS_BASE))] * rng.lognormal(0.0, 0.15)
        v = np.round(rng.gamma(SHAPE, base / SHAPE, size=int(rng.integers(2, 12))), 2)
        out.append(
            [
                float(v.mean()),
                float(v.var(ddof=1)),
                float(np.abs(v - v.mean()).mean()),
                float(np.abs(v).mean()),
                float(rng.uniform(0.0, 8.64e7)),
            ]
        )
    return out
