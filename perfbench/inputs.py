"""Seeded input generators for the benchmark.

Everything a run feeds the engine comes from here, derived from a seed
alone: the page corpora, the query-string stream, the append batches
and the delete sets. The two prepared indexes use the fixed
:data:`BASE_SEED`; everything else follows ``--seed``. Pages come from
``noise_spark.corpus.synth_rows`` (the generator behind
``generate_pages``: Zipf(1.1) over the 10k-word vocabulary, pinned
phrases in 1% of docs) and are written to parquet before any timing
starts, so generation is never measured.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from noise_spark.corpus import _CDF, _WORDS, PHRASES, synth_rows

# Size of the two indexes the workloads query. The build cost on this
# engine is bound by the vocabulary (one grouped-map call per term), not
# the doc count, and a cold build or an append + delete cycle takes
# about a minute on a 4-core VM, so both indexes are built once per
# checkout (untimed) from BASE_SEED; every run's queries, and the traced
# runs' writes, follow --seed.
N_DOCS = 2_000
BASE_SEED = 1
# maintain's index: one append of this many new-url pages and one delete
# of this many existing urls on top of the N_DOCS base
APPEND_DOCS = 200
DELETE_DOCS = 20
# traced runs only: query_mix builds a seeded corpus of this size cold;
# maintain deletes DELETE_DOCS seeded urls on a copy of its index
TRACE_BUILD_DOCS = 200
# query shapes of one block; every block has the same mix so the
# per-run median does not move with the seed's shape draw
BLOCK = ("term", "or", "and", "not", "phrase", "prox")


def pages(doc_ids: np.ndarray, seed: int) -> pa.Table:
    pdf = synth_rows(np.asarray(doc_ids, dtype=np.int64), seed=seed)
    return pa.Table.from_pandas(pdf, preserve_index=False)


def write_pages(path: str, doc_ids: np.ndarray, seed: int) -> pa.Table:
    """Materialize a page table once; Spark reads it back as the input."""
    table = pages(doc_ids, seed)
    pq.write_table(table, path, coerce_timestamps="us")
    return table


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


# Zipf bands as thirds of the vocabulary's probability mass: a handful
# of head words, a few hundred mid words, the long tail
BANDS = ((0.0, 1 / 3), (1 / 3, 2 / 3), (2 / 3, 1.0))


class _Words:
    """Draws words Zipf from the corpus vocabulary, each within a band
    that cycles head, mid, tail word by word, starting a block ``i`` at
    band ``i mod 3``: head terms repeat across the stream, tail terms
    mostly do not, and block ``i`` has the same band at the same
    position under every seed."""

    def __init__(self, rng: np.random.Generator) -> None:
        self.rng = rng
        self.k = 0

    def block(self, i: int) -> None:
        self.k = i

    def draw(self, n: int) -> list[str]:
        """``n`` distinct words."""
        out: list[str] = []
        while len(out) < n:
            lo, hi = BANDS[self.k % len(BANDS)]
            u = lo + (hi - lo) * self.rng.random()
            w = str(_WORDS[min(np.searchsorted(_CDF, u), len(_WORDS) - 1)])
            if w not in out:
                out.append(w)
                self.k += 1
        return out


def _clause(w: str) -> str:
    return f'text: ~= "{w}"'


def query_stream(seed: int, n_blocks: int) -> list[str]:
    """Query-language strings, ``n_blocks`` blocks of :data:`BLOCK`.

    The seed draws the words; the block index fixes each shape's size,
    each word's Zipf band (see :class:`_Words`) and the variant (OR of 2-4 terms, AND of 2-3, phrase and proximity on a
    pinned phrase in even blocks and on Zipf words in odd ones), so
    block ``i`` costs about the same under every seed. Every query is
    scored top-10 (``order score() desc``) and returns ``(id, score)``
    so results can be checked bitwise."""
    rng = _rng(seed, 1)
    words = _Words(rng)
    out = []
    for i in range(n_blocks):
        pinned = i % 2 == 0
        words.block(i)
        for shape in BLOCK:
            if shape == "term":
                find = _clause(words.draw(1)[0])
            elif shape == "or":
                find = " || ".join(_clause(w) for w in words.draw(2 + i % 3))
            elif shape == "and":
                find = " && ".join(_clause(w) for w in words.draw(2 + i % 2))
            elif shape == "not":
                a, b = words.draw(2)
                find = f"{_clause(a)} && !{_clause(b)}"
            elif shape == "phrase":
                if pinned:
                    phrase = PHRASES[int(rng.integers(len(PHRASES)))]
                else:
                    phrase = " ".join(words.draw(2))
                find = f'text: ~= "{phrase}"'
            else:  # prox
                if pinned:
                    a, b = ("quick", "fox") if rng.random() < 0.5 else ("multi", "sentence")
                else:
                    a, b = words.draw(2)
                find = f'text: ~{(2, 5, 10)[i % 3]}= "{a} {b}"'
            out.append(
                "find {" + find + "} order score() desc "
                "return {id: ._id, score: score()} limit 10"
            )
    return out


def append_ids(generation: int) -> np.ndarray:
    """Doc ids (hence urls) of an append batch: above the base range,
    disjoint across generations."""
    lo = N_DOCS + (generation - 1) * APPEND_DOCS
    return np.arange(lo, lo + APPEND_DOCS, dtype=np.int64)


def delete_urls(seed: int, urls: list[str]) -> list[str]:
    """:data:`DELETE_DOCS` distinct urls drawn from ``urls``."""
    pick = _rng(seed, 2).permutation(len(urls))[:DELETE_DOCS]
    return [urls[i] for i in pick]
