"""Seeded inputs: corpora, query streams and streamed refresh batches.

Every input is a pure function of the run's seed, so two runs with the
same seed feed the engine the same bytes.  The engine only ever sees
the generated data.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ir_index_construction_spark.corpusgen import (STOPWORDS, TRICKY, VOCAB,
                                                   make_doc)
from ir_index_construction_spark.text import parse_query

REFERENCE_QUERIES = ["cristina lopes", "machine learning", "ACM",
                     "master of software engineering"]

# Streamed batches take ids far above any base corpus, so they never
# reuse a base document's (seed, i) pair.
STREAM_ID_BASE = 10**7

# Raw vocabulary words (queries go through the query parser, which stems;
# dictionary terms are already stemmed and must not be fed back).
# Zipf weights by VOCAB rank, so head words recur across queries.
_WORDS = [w for w in VOCAB if w not in STOPWORDS and w not in TRICKY]
_WEIGHTS = [1.0 / (VOCAB.index(w) + 1) ** 1.07 for w in _WORDS]


def corpus(seed: int, n_docs: int, first_id: int = 0) -> list:
    return [make_doc(i, seed) for i in range(first_id, first_id + n_docs)]


def refresh_batch(seed: int, batch: int, n_docs: int, base: list,
                  n_overlap: int) -> list:
    """New docs from a disjoint id range, plus ``n_overlap`` docs that
    re-crawl a url of ``base`` (later warc_ts), which the engine must
    drop against its live docs."""
    first = STREAM_ID_BASE * (batch + 1)
    rows = corpus(seed, n_docs, first)
    rng = random.Random(f"overlap-{seed}-{batch}")
    for row in rng.sample(rows, n_overlap):
        row["url"] = rng.choice(base)["url"]
    return rows


def queries(seed: int, n: int, stream: str = "serve",
            reference: bool = True, seen: set | None = None) -> list:
    """``n`` queries of 1-3 Zipf-drawn words, with the reference queries
    mixed in; none parses to an empty term list.

    Each drawn query carries at least one term that is not in ``seen``
    (the terms earlier queries of the same service used; updated in
    place), so every query pays the service's idf lookup while its other
    terms may be cache hits.  Without that, a run's median would flip
    between the lookup and no-lookup latency with the seed."""
    rng = random.Random(f"{stream}-{seed}")
    pending = list(REFERENCE_QUERIES) if reference else []
    rng.shuffle(pending)
    seen = set() if seen is None else seen
    out = []
    while len(out) < n:
        if pending and rng.random() < 0.25:
            q = pending.pop()
        else:
            q = " ".join(rng.choices(_WORDS, _WEIGHTS, k=rng.randint(1, 3)))
            terms = parse_query(q)[0]
            if not terms or set(terms) <= seen:
                continue
        seen.update(parse_query(q)[0])
        out.append(q)
    return out


def stage_parquet(rows: list, path: str) -> int:
    """Write rows as one parquet file in the engine's input schema;
    returns its size in bytes."""
    pdf = pd.DataFrame(rows)
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us")
    return os.path.getsize(path)
