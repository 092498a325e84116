"""Seeded inputs: a corpus window and query streams.

The program under test receives only what this module generates: corpus
rows ``(doc_id, text)`` written as parquet, and query strings. The same
seed always gives the same inputs.

Corpus: a window of the repository's synthetic pages
(``corpus._gen_batch``, the generator behind ``corpus.synth_pages``),
starting at page ``(seed % SEED_WINDOWS) * WINDOW``. The base and each
delta are consecutive slices of the window. Doc ids are renumbered densely
from 0, so the chunk layout (``chunk = doc_id >> chunk_bits``) never
depends on the seed.

Queries: the repository's reference mix for this corpus,
``queryset.synth_reference_queries``. Every stream is a fixed slice of that
sequence, put in a seeded order. So each seed serves the same queries, and
the same head-term share, against its own corpus window.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from themis_search_engine_spark.corpus import _gen_batch
from themis_search_engine_spark.queryset import synth_reference_queries

# pages per seed window: larger than any workload's corpus, so the windows
# of two seeds never overlap
WINDOW = 100_000
# the generator stamps page i with a timestamp of i seconds, which pandas
# bounds at ~9.2e9 seconds
SEED_WINDOWS = 50_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def write_corpus(seed: int, parts: dict[str, int], out_dir: str) -> dict[str, str]:
    """Write consecutive slices of the seed's corpus window, one parquet
    file per named part (``{"base": 4000, "delta1": 250, ...}``), doc ids
    dense from 0 across the parts in order. Returns part name -> path."""
    start = (seed % SEED_WINDOWS) * WINDOW
    texts = _gen_batch(np.arange(start, start + sum(parts.values())))["text"]
    paths, lo = {}, 0
    for name, n in parts.items():
        path = f"{out_dir}/{name}.parquet"
        pq.write_table(pa.table({
            "doc_id": np.arange(lo, lo + n, dtype=np.int64),
            "text": texts[lo:lo + n].tolist(),
        }), path)
        paths[name] = path
        lo += n
    return paths


def query_stream(seed: int, stream: str, lo: int, n: int, first_qid: int = 0) -> dict[int, str]:
    """Queries ``lo .. lo+n-1`` of ``synth_reference_queries``, in the
    seed's order for ``stream``, keyed by qid from ``first_qid``."""
    ref = synth_reference_queries(lo + n)
    order = _rng(seed, stream).permutation(np.arange(lo, lo + n))
    return {first_qid + i: ref[int(q)] for i, q in enumerate(order)}
