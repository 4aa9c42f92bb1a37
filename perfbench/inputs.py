"""Seeded inputs for the benchmark: pages, subscriptions, documents.

Every input is a pure function of the run's seed. Pages come from the
library's own page synthesizer (``web.synth.synth_batch``, a pure
function of page id) over a seed-chosen id range; subscription sets are
seed-chosen windows of the library's templated generators; documents
are drawn here from a seeded numpy generator. Nothing is downloaded.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: ids of documents stay below 100,000: ``dedup.corpus_with_dups`` plants
#: its duplicates at doc_id + 100000 and doc_id + 200000
MAX_DOCS = 100_000

#: stop words that drive ``text.IS_QUALITY_SQL`` and the language markers
#: of ``text.LANG_MARKERS``; the rest of a document is drawn from a
#: Zipf-weighted synthetic vocabulary
_STOP_WORDS = ["the", "a", "and", "of"]
_FOREIGN_MARKERS = ["der", "und", "die", "le", "et", "la"]
_VOCAB_SIZE = 400


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so adding a stream
    never shifts the values another stream draws."""
    return np.random.default_rng([seed, *stream])


def page_id_base(seed: int) -> int:
    """Seed-chosen start of the page id range (ids are hashed by the
    synthesizer, so every base gives a statistically alike crawl)."""
    return 1_000_000 * (1 + seed % 1000)


def write_pages(path: str, seed: int, n_pages: int, n_files: int) -> None:
    """Synthesize ``n_pages`` pages for this seed into a parquet table of
    ``n_files`` files. Generated in this process: at these sizes that is
    several times faster than a Spark job."""
    from a_tree_spark.web.synth import synth_batch

    os.makedirs(path, exist_ok=True)
    base = page_id_base(seed)
    ids = np.arange(base, base + n_pages, dtype=np.int64)
    for i, part in enumerate(np.array_split(ids, n_files)):
        table = pa.Table.from_pandas(synth_batch(part), preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def subscription_window(generator, seed: int, n: int, stream: int) -> dict[int, str]:
    """``n`` consecutive expressions of a library generator, starting at
    a seed-chosen offset; the ids are the generator's own indexes."""
    offset = int(rng_for(seed, stream).integers(0, n))
    every = generator(offset + n)
    return {i: every[i] for i in range(offset, offset + n)}


def documents_frame(seed: int, n_docs: int) -> pd.DataFrame:
    """A synthetic documents table with the schema the pipeline queries
    read (doc_id, text, lang, source, n_chars). Word soups of 20-80 words;
    about one word in eight is an English stop word, so most documents
    pass the quality gate, and a few carry foreign language markers."""
    if n_docs > MAX_DOCS:
        raise ValueError(f"at most {MAX_DOCS} documents, got {n_docs}")
    rng = rng_for(seed, 7)
    ranks = np.arange(1, _VOCAB_SIZE + 1, dtype=np.float64)
    weights = 1.0 / ranks
    weights /= weights.sum()
    lengths = rng.integers(20, 81, size=n_docs)
    total = int(lengths.sum())
    words = rng.choice(_VOCAB_SIZE, size=total, p=weights)
    stop = rng.random(total) < 0.125
    stop_pick = rng.integers(0, len(_STOP_WORDS), size=total)
    foreign = rng.random(total) < 0.01
    foreign_pick = rng.integers(0, len(_FOREIGN_MARKERS), size=total)
    tokens = np.array([f"w{i}" for i in range(_VOCAB_SIZE)], dtype=object)[words]
    tokens[stop] = np.array(_STOP_WORDS, dtype=object)[stop_pick[stop]]
    tokens[foreign] = np.array(_FOREIGN_MARKERS, dtype=object)[foreign_pick[foreign]]
    ends = np.cumsum(lengths)
    starts = ends - lengths
    texts = [" ".join(tokens[s:e]) for s, e in zip(starts.tolist(), ends.tolist())]
    langs = np.array(["en", "de", "fr"])[rng.integers(0, 3, size=n_docs)]
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
