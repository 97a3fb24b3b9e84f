"""Correctness gate: every result the benchmark times is checked here,
after the timed region.

- A single query's top-10 ``(doc_id, score)`` list, in order, must equal
  ``noise_spark.oracle.OracleIndex`` over the logical corpus bit for bit
  (scores compared by ``float.hex``).
- A ``search_many`` batch must return, per query, exactly the rows of
  the single-query run of the same string.
- Text extracted by a build must be byte-identical per url to the
  generated page text.

The oracle is keyed by the engine's own doc ids (read back from the
docs stage), so the check does not depend on how ids are assigned.
"""

from __future__ import annotations

import pyarrow.parquet as pq

from noise_spark.index.catalog import IndexCatalog
from noise_spark.oracle import OracleIndex
from noise_spark.query.parser import parse_query

K = 10


def rows_key(rows) -> list[tuple[int, str]]:
    return [(int(d), float(s).hex()) for d, s in rows]


def docs_table(index_dir: str, stage: str = "docs") -> dict[str, tuple[int, str]]:
    """url → (doc_id, extracted text) of one committed docs stage."""
    info = IndexCatalog(index_dir).stage_info(stage)
    t = pq.read_table(info["path"], columns=["doc_id", "url", "text"]).to_pydict()
    return {u: (d, x) for d, u, x in zip(t["doc_id"], t["url"], t["text"])}


def extraction_mismatches(docs: dict[str, tuple[int, str]], table) -> int:
    """Pages whose extracted text differs from the generated text (or
    that are missing from the docs stage)."""
    cols = table.select(["url", "text"]).to_pydict()
    return sum(
        1 for u, x in zip(cols["url"], cols["text"]) if u not in docs or docs[u][1] != x
    )


def oracle(doc_texts: dict[int, str]) -> OracleIndex:
    return OracleIndex(sorted(doc_texts.items()))


def expected(oracle_index: OracleIndex, query: str) -> list[tuple[int, str]]:
    node = parse_query(query, analyzer="porter").node
    return rows_key(oracle_index.search(node, k=K))


def batch_mismatches(batch_rows, qids: dict[str, list]) -> int:
    """Queries of one batch whose rows differ from their single run.
    ``qids``: query id → that query's single-run rows."""
    got: dict[str, list] = {q: [] for q in qids}
    for qid, doc_id, score in batch_rows:
        got.setdefault(qid, []).append((doc_id, score))
    bad = 0
    for qid, single in qids.items():
        ranked = sorted(got[qid], key=lambda r: (-r[1], r[0]))[:K]
        bad += rows_key(ranked) != rows_key(single)
    return bad
