"""Seeded input generators. The program under test sees only the files
written here; the same seed always writes the same bytes.

Readings use the package's ``events`` schema (``event_id, ts, user_id,
event_type, value, props``), which ``sources.tables.events_to_readings``
maps to the reference's power readings. The traffic follows the
repository's description of the reference: about nine appliances per house,
each reporting once every ~3 s (FIXTURES.md, section 1.1). Event times are
whole milliseconds (Spark's watermark has millisecond precision, so window
closing is exact) and arrive out of order by less than the 2 s
watermark, so no reading is ever late.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

APPLIANCES = ("fridge", "oven", "heater", "washer", "dryer", "dishwasher",
              "microwave", "kettle", "light")
PERIOD_S = 3                    # one reading per appliance every 3 s
BASE_TS_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
MAX_DISORDER_MS = 1500          # < the 2 s watermark delay
# generated files get fixed, ascending mtimes: the file stream source
# orders micro-batches by mtime, so batch order is part of the input
BASE_MTIME = 1_700_000_000


def readings_files(out_dir: Path, seed: int, n_files: int, n_houses: int,
                   seconds_per_file: int) -> "list[Path]":
    """``n_files`` parquet files of readings from ``n_houses`` x
    ``len(APPLIANCES)`` meters, each reading once every ``PERIOD_S``
    seconds, staggered so every second carries a ``1 / PERIOD_S`` share
    of them; file i holds seconds [i * seconds_per_file,
    (i + 1) * seconds_per_file) of the stream, each reading jittered up
    to ``MAX_DISORDER_MS`` early and the rows shuffled within the file."""
    out_dir.mkdir(parents=True, exist_ok=True)
    n_series = n_houses * len(APPLIANCES)
    names = np.array(APPLIANCES)
    paths = []
    event_id = 0
    for i in range(n_files):
        rng = np.random.default_rng([seed, i])
        secs = np.repeat(np.arange(i * seconds_per_file,
                                   (i + 1) * seconds_per_file), n_series)
        series = np.tile(np.arange(n_series), seconds_per_file)
        due = (secs - series) % PERIOD_S == 0
        secs, series = secs[due], series[due]
        n = len(secs)
        ts_ms = (BASE_TS_MS + secs * 1000
                 - rng.integers(0, MAX_DISORDER_MS, n))
        # a duty cycle needs readings both sides of the 5 W threshold
        power = np.round(rng.gamma(2.0, 4.0, n), 3)
        table = pa.table({
            "event_id": np.arange(event_id, event_id + n, dtype=np.int64),
            "ts": pa.array(ts_ms * 1000, pa.timestamp("us")),
            "user_id": (series // len(APPLIANCES)).astype(np.int64),
            "event_type": names[series % len(APPLIANCES)],
            "value": power,
            "props": pa.nulls(n, pa.string()),
        }).take(rng.permutation(n))
        event_id += n
        path = out_dir / f"part-{i:05d}.parquet"
        pq.write_table(table, path)
        os.utime(path, (BASE_MTIME + i, BASE_MTIME + i))
        paths.append(path)
    return paths


def _doc_text(rng: np.random.Generator, vocab: np.ndarray) -> str:
    return " ".join(vocab[rng.integers(0, len(vocab),
                                       rng.integers(30, 60))])


def _near_dup(rng: np.random.Generator, text: str,
              vocab: np.ndarray) -> str:
    """One or two word substitutions: Jaccard of the 3-shingle sets stays
    well above the 0.5 dedup threshold."""
    words = text.split()
    for _ in range(int(rng.integers(1, 3))):
        words[int(rng.integers(len(words)))] = vocab[
            int(rng.integers(len(vocab)))]
    return " ".join(words)


def documents(path: Path, seed: int, n_docs: int, first_id: int,
              dup_share: float, sources: "list[str] | None" = None
              ) -> "list[str]":
    """``(doc_id, text)`` parquet: each doc is, with probability
    ``dup_share``, a near-duplicate of an earlier doc in this file or of
    one in ``sources``; otherwise fresh random text. Returns the texts."""
    rng = np.random.default_rng([seed, first_id])
    vocab = np.array([f"w{i}" for i in range(2000)])
    texts: "list[str]" = []
    pool = list(sources or [])
    for _ in range(n_docs):
        if pool and rng.random() < dup_share:
            texts.append(_near_dup(rng, pool[int(rng.integers(len(pool)))],
                                   vocab))
        else:
            texts.append(_doc_text(rng, vocab))
        if not sources:
            pool.append(texts[-1])
    pq.write_table(pa.table({
        "doc_id": np.arange(first_id, first_id + n_docs, dtype=np.int64),
        "text": texts}), path)
    return texts


def vectors(path: Path, seed: int, n_vecs: int, first_id: int,
            dim: int = 32, n_clusters: int = 16) -> None:
    """``(vec_id, embedding)`` parquet: float32 vectors scattered around
    ``n_clusters`` seeded centres (the same centres for every call with
    this seed, so probe queries land near the corpus clusters)."""
    centres = np.random.default_rng([seed, 7]).normal(size=(n_clusters,
                                                             dim))
    rng = np.random.default_rng([seed, first_id])
    v = (centres[rng.integers(0, n_clusters, n_vecs)]
         + 0.4 * rng.normal(size=(n_vecs, dim))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(first_id, first_id + n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32()))}), path)


def input_hash(paths: "list[Path]") -> str:
    """sha256 over the generated files' bytes, in the order given."""
    h = hashlib.sha256()
    for p in paths:
        h.update(Path(p).read_bytes())
    return h.hexdigest()
