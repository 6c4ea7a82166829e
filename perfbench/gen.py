"""Seeded input generator for the benchmark.

Writes one table directory in the layout ``spark_spotify.sources.tables``
reads (``<dir>/<table>.parquet``) for the tables the workloads read: a
January-2024 ``events`` stream, the ``customer`` dimension, a text
``documents`` corpus with planted near-duplicates and unit
``embeddings``.  Schemas, row counts and value distributions are those of
the sf0.1 fixture tables (see :class:`Sizes`; event values are rounded to
quarters, see ``VALUE_STEP``); a workload may take a
fraction of them with :meth:`Sizes.scaled`.  The same seed and sizes
always give byte-identical files; :func:`input_hash` proves it in every
record.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field, replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# the fixture corpus draws every word uniformly from these thirty
VOCAB = np.array(sorted(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()))
DUP_MARK = "dup"
EMB_DIM = 64
# events live inside the engine's fixed calendar dim (Jan 2024)
T0_US = int(pd.Timestamp("2024-01-01").value // 1000)
SPAN_US = 30 * 86_400 * 1_000_000
# event values are whole quarters, a subset of the fixture's cents.  They
# keep two decimals, which the engine's exact-cents sums rely on, and
# sums of values and of their squares are exact in float64, so a double
# AVG or SUM has the same bits in any summation order: from one call to
# the next, and in Spark's shuffled aggregation and the DuckDB oracle
# alike.  With any cents, the last bit of a double AVG depends on the
# order of its terms
VALUE_STEP = 1 / 4


@dataclass(frozen=True)
class Sizes:
    """Row counts of the sf0.1 fixture tables."""

    events: int = 100_000
    users: int = 1_500
    customers: int = 15_000
    documents: int = 5_000
    doc_words: tuple[int, int] = (10, 101)
    # share of documents that copy another one with DUP_MARK appended, as
    # in the fixture corpus
    dup_share: float = 0.05
    # copies equal to their original after trimming spaces
    padded_dups: int = 8
    embeddings: int = 2_000

    def scaled(self, f: float) -> "Sizes":
        """Every table at ``f`` times its rows; shapes are kept."""
        return replace(
            self,
            events=round(self.events * f),
            users=round(self.users * f),
            customers=round(self.customers * f),
            documents=round(self.documents * f),
            embeddings=round(self.embeddings * f),
        )


@dataclass
class Generated:
    dir: str
    sizes: Sizes
    # (original, copy) doc ids: copies equal after trimming spaces, which
    # every detector must find, and copies with DUP_MARK appended, which
    # the LSH detectors find with high probability
    planted: list[tuple[int, int]] = field(default_factory=list)
    planted_edits: list[tuple[int, int]] = field(default_factory=list)
    input_bytes: int = 0


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def events_frame(rng: np.random.Generator, s: Sizes) -> pd.DataFrame:
    ts = np.sort(T0_US + rng.integers(0, SPAN_US, size=s.events))
    return pd.DataFrame(
        {
            "event_id": np.arange(s.events, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="us"),
            "user_id": rng.integers(0, s.users, size=s.events, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, size=s.events),
            "value": np.round(
                rng.exponential(50.0, size=s.events) / VALUE_STEP) * VALUE_STEP,
            "props": [
                json.dumps({"k": int(k)})
                for k in rng.integers(0, 100, size=s.events)
            ],
        }
    )


EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _documents(
    rng: np.random.Generator, s: Sizes
) -> tuple[pd.DataFrame, list[tuple[int, int]], list[tuple[int, int]]]:
    n_dup = round(s.documents * s.dup_share)
    n_base = s.documents - s.padded_dups - n_dup
    texts = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(*s.doc_words))))
        for _ in range(n_base)
    ]
    sources = [int(x) for x in rng.choice(
        n_base, s.padded_dups + n_dup, replace=False)]
    planted, edits = [], []
    for src in sources[:s.padded_dups]:
        pad = " " * int(rng.integers(1, 4))
        planted.append((src, len(texts)))
        texts.append(pad + texts[src] + pad)
    for src in sources[s.padded_dups:]:
        edits.append((src, len(texts)))
        texts.append(f"{texts[src]} {DUP_MARK}")
    ids = np.arange(len(texts), dtype=np.int64)
    docs = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, size=len(texts), p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    return docs, planted, edits


def embedding_matrix(rng: np.random.Generator, n: int) -> np.ndarray:
    x = rng.standard_normal((n, EMB_DIM))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def generate(seed: int, out_dir: str, sizes: Sizes = Sizes()) -> Generated:
    """Write every fixture table for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = sizes
    out = Generated(dir=out_dir, sizes=s)
    path = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(s.customers, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
                "c_nationkey": rng.integers(0, 25, s.customers).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999, 9999, s.customers), 2),
                "c_mktsegment": rng.choice(SEGMENTS, size=s.customers),
            }
        ),
        path("customer"),
    )
    _write(events_frame(rng, s), path("events"), EVENTS_SCHEMA)
    docs, out.planted, out.planted_edits = _documents(rng, s)
    _write(docs, path("documents"))
    emb = embedding_matrix(rng, s.embeddings)
    _write(
        pd.DataFrame(
            {
                "vec_id": np.arange(s.embeddings, dtype=np.int64),
                "embedding": list(emb),
                "label": rng.integers(0, 10, s.embeddings).astype(np.int32),
            }
        ),
        path("embeddings"),
        pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    )
    out.input_bytes = sum(
        os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
    )
    return out


def input_hash(out_dir: str) -> str:
    """sha256 over every generated file's name and bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
