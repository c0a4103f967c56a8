"""Seeded input generation for the benchmark workloads.

Every input is written as parquet under a work directory inside the
checkout and read back through the package's own ``load_table``, so the
sources layer is exercised exactly as a user would exercise it. The seed
decides every random choice (salt assignment, which symbol goes hot, the
OHLCV noise, the corpus text, which documents are copies, and the
embeddings); the sizes are fixed per workload and scale, so two runs with
one seed see byte-identical inputs. The distributions follow the sf0.1
test data's, measured column by column; what departs from it is named
where it is made.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SALTS = 8  # symbol = event_type x (user_id mod SALTS): 40 sub-series
HOT_SHARE = 0.8  # share of the ticks on the one hot symbol
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
PAD_CHARS = 100  # width of the panel's padding column (see write_events)

# Shape constants measured on the sf0.1 test data (events: 100k rows;
# documents: 5k; embeddings: 2k); README.md lists the figures.
N_USERS = 1500  # user_id uniform over 0..1499
SPAN_US = 30 * 86_400_000_000  # thirty days; gaps exponential (CV 1.0)
VALUE_MEAN = 50.0  # value ~ Exponential(50), 2 decimals
PROPS_K = 100  # props is '{"k": N}', N uniform over 0..99
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()  # 30 words, drawn uniformly
WORDS = (10, 100)  # words per document, uniform over [10, 100)
COPY_SHARE = 0.05  # documents that are another document + " dup"
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20  # source is src<doc_id mod 20>
DIM = 64  # embeddings: i.i.d. unit vectors, label uniform and unrelated
N_LABELS = 10


@dataclass(frozen=True)
class Sizes:
    """Fixed input sizes of one scale."""

    hot_rows: int  # ta_hot_symbol tick rows
    docs: int  # corpus documents
    vecs: int  # corpus embeddings


SCALES = {
    "bench": Sizes(hot_rows=200_000, docs=5_000, vecs=2_000),
    # the smoke test's scale: every code path, seconds per op
    "smoke": Sizes(hot_rows=6_000, docs=300, vecs=200),
}


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_events(out_dir: str, n: int, seed: int) -> None:
    """An ``events`` table of ``n`` ticks with unique, ascending ``ts``.

    Its columns are the test data's and drawn as they are there: sorted
    timestamps with exponential gaps over thirty days, a uniform user and
    an i.i.d. exponential ``value``. Two departures serve the workload:

    - a ``HOT_SHARE`` of the rows lands on one seed-chosen (event_type,
      salt) symbol, where the test data spreads them evenly;
    - beside the test data's columns it carries the per-tick OHLCV noise
      (``d_open``, ``d_high``, ``d_low``, ``qty``), which the tick
      derivation turns into distinct open/high/low/volume around
      ``value``, and a ``PAD_CHARS`` padding string (``pad``) that makes
      the cached panel pass the skew router's 32 MB size gate. The test
      data has no OHLC or padding; these widths are chosen, not
      measured."""
    rng = np.random.default_rng([seed, 1])
    gaps = 1 + np.floor(rng.exponential(SPAN_US / n, size=n)).astype(np.int64)
    ts = T0_US + np.cumsum(gaps)
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    user = rng.integers(0, N_USERS, size=n)
    h_type = int(rng.integers(0, len(EVENT_TYPES)))
    h_salt = int(rng.integers(0, SALTS))
    on_hot = rng.random(n) < HOT_SHARE
    etype[on_hot] = h_type
    # any user whose id is h_salt mod SALTS lands on the hot symbol
    user[on_hot] = (rng.integers(0, N_USERS // SALTS, size=on_hot.sum())
                    * SALTS + h_salt)
    value = np.round(rng.exponential(VALUE_MEAN, size=n), 2)
    k = pa.array(rng.integers(0, PROPS_K, size=n)).cast(pa.string())
    pad = rng.integers(0, 26, size=(n, PAD_CHARS), dtype=np.uint8) + ord("a")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[etype]),
        "value": pa.array(value),
        "props": pc.binary_join_element_wise('{"k": ', k, "}", ""),
        "pad": pa.array(pad.view(f"S{PAD_CHARS}").ravel()).cast(pa.string()),
        "d_open": pa.array(rng.normal(0, 0.004, size=n)),
        "d_high": pa.array(np.abs(rng.normal(0, 0.003, size=n))),
        "d_low": pa.array(np.abs(rng.normal(0, 0.003, size=n))),
        "qty": pa.array(rng.integers(1, 500, size=n).astype(np.float64)),
    })
    _write(table, out_dir, "events")


def write_corpus(out_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """``documents`` and ``embeddings`` tables drawn as the test data's.

    A document is ``WORDS`` uniform words from the 30-word vocabulary, so
    unrelated documents share almost no word 3-grams. A ``COPY_SHARE`` of
    them, picked at random, are replaced in id order by another random
    document's text plus the word "dup"; a copy of a copy gets "dup dup",
    and two copies of one document are exact duplicates. These are the
    pairs MinHash-LSH has to find. Embeddings are i.i.d. Gaussian
    directions with a label drawn independently, as in the test data,
    which has no pair at cosine 0.99 or above."""
    rng = np.random.default_rng([seed, 2])
    texts = [" ".join(VOCAB[j] for j in rng.integers(
                 0, len(VOCAB), size=int(rng.integers(*WORDS))))
             for _ in range(n_docs)]
    n_copies = round(COPY_SHARE * n_docs)
    for i in np.sort(rng.choice(n_docs, size=n_copies, replace=False)):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in
                          rng.choice(len(LANGS), size=n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    _write(docs, out_dir, "documents")

    vecs = rng.normal(0, 1, size=(n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, size=n_vecs)
                          .astype(np.int32)),
    })
    _write(emb, out_dir, "embeddings")
