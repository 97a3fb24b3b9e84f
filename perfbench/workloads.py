"""The two workloads and the per-layer summary of a traced run.

Both workloads query an index that is prepared once per checkout
(:func:`prepare`, untimed: a cold build and one append + delete cycle
take minutes on a 4-core VM, more than one run may spend). A run starts
a cold session, opens the reader three times (set-up), then one
closed-loop client (one request in flight, the next sent when the
previous returns) sends the seeded query stream block by block until
``--seconds`` have passed, at least one block: each query of a block
singly through ``parser.run_query``, then the block as one
``search_many`` batch.

- ``query_mix``: the fresh, single-generation index; the reader is
  opened once, so its term-stats cache sees the stream's repeats and
  misses.
- ``maintain``: the index after an append and a delete (two
  generations, tombstones); the reader is reopened cold before every
  block.

A traced run (``--trace 1``) also times the writes that untraced runs
cannot fit: query_mix builds a seeded corpus cold, maintain deletes
seeded urls on a copy of its index and then queries the copy. An
append (about 45 s on a 4-core VM) does not fit beside the delete in
one run; its build stages are the ones query_mix's traced build
times.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from pathlib import Path

import numpy as np

import check
import inputs
from tracing import LAYERS, Tracer, layer_of, mean, median

from noise_spark import session
from noise_spark.index import build, incremental
from noise_spark.index.catalog import IndexCatalog
from noise_spark.query import engine, parser

# Spark task slots. On a 4-vCPU shared VM, local[4] plus the Python
# workers and the JVM's own threads oversubscribe the cores, and run to
# run spreads were 0.21-0.44 of the median; local[2] leaves them room
# and measured 0.06-0.14 (perfbench/BASELINE.md).
CPUS = 2
OPENS = 3  # reader opens per set-up; setup_s takes their median
# queries of a block a traced run sends again untraced, for the
# tracing overhead
REF_QUERIES = 3


def now() -> float:
    return time.perf_counter()


class Run:
    """State of one benchmark run: session, samples, op accounting."""

    def __init__(self, root: Path, work: Path, seed: int, seconds: float, traced: bool):
        self.root, self.work, self.seed, self.seconds = root, work, seed, seconds
        self.traced = traced
        self.tracer = Tracer()
        self.tracer.enabled = traced
        self.attempted = 0
        self.failed = 0
        self.session_s = 0.0
        self.opens: list[float] = []
        self.query_lat: list[float] = []
        self.batch_qps: list[float] = []
        # (query, rows, oracle state) of every timed single query
        self.results: list[tuple[str, list, int]] = []
        # trace-only bookkeeping
        self.lat_on: list[float] = []
        self.lat_off: list[float] = []
        self.stage_s: dict[str, list[float]] = {}
        self.write_s: dict[str, list[float]] = {}
        self.delete_bytes: list[int] = []
        self.spark = None
        self.cache = cache_dir(root, work.parent / "cache")

    # -- set-up -------------------------------------------------------------------
    def start_session(self) -> None:
        """The cold session start (JVM launch and the engine's warm-up)."""
        tmp = self.work / "tmp"
        with self.tracer.span("op.setup"):
            t = now()
            self.spark = session.get_spark(
                "perfbench",
                master=f"local[{CPUS}]",
                shuffle_partitions=CPUS,
                extra_conf={
                    "spark.local.dir": str(tmp),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.session_s = now() - t

    def open(self, index_dir: str) -> engine.IndexReader:
        with self.tracer.span("op.open"):
            t = now()
            reader = engine.IndexReader(self.spark, index_dir)
            self.opens.append(now() - t)
        return reader

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- timed operations -----------------------------------------------------
    def query(self, reader, q: str, state: int) -> list | None:
        self.attempted += 1
        prev_acc = getattr(reader, "last_blocks_decoded", None)
        try:
            with self.tracer.span("op.query") as s:
                t = now()
                df = parser.run_query(reader, q)
                with self.tracer.span("execute.collect"):
                    rows = [(r["id"], r["score"]) for r in df.collect()]
                lat = now() - t
                acc = getattr(reader, "last_blocks_decoded", None)
                if s is not None and acc is not None and acc is not prev_acc:
                    s["blocks_decoded"] = acc.value
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            print(f"query failed: {q!r}: {e}", flush=True)
            self.failed += 1
            return None
        self.query_lat.append(lat)
        (self.lat_on if self.tracer.enabled else self.lat_off).append(lat)
        self.results.append((q, rows, state))
        return rows

    def batch(self, reader, block: list[str], singles: list) -> None:
        """The block as one ``search_many`` action, checked against the
        block's single-query rows."""
        self.attempted += 1
        try:
            with self.tracer.span("op.batch"):
                t = now()
                nodes = {
                    f"q{i}": parser.parse_query(q, analyzer=reader.analyzer).node
                    for i, q in enumerate(block)
                }
                df = reader.search_many(nodes, k=check.K)
                with self.tracer.span("execute.collect"):
                    rows = [(r["query_id"], r["doc_id"], r["score"]) for r in df.collect()]
                elapsed = now() - t
        except Exception as e:  # noqa: BLE001
            print(f"batch failed: {e}", flush=True)
            self.failed += 1
            return
        self.batch_qps.append(len(block) / elapsed)
        known = {f"q{i}": r for i, r in enumerate(singles) if r is not None}
        if check.batch_mismatches(rows, known):
            self.failed += 1

    def write_op(self, name: str, fn):
        """A build/append/delete (traced runs only): failures here end
        the run."""
        self.attempted += 1
        with self.tracer.span(name):
            t = now()
            out = fn()
            self.write_s.setdefault(name, []).append(now() - t)
        return out

    def record_stages(self, metrics: dict) -> None:
        for stage, m in metrics["stages"].items():
            self.stage_s.setdefault(stage.rsplit("/", 1)[-1], []).append(m.get("seconds", 0.0))

    # -- end-to-end metrics -----------------------------------------------------
    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.session_s + statistics.median(self.opens), "s"),
            "query_p50_ms": (statistics.median(self.query_lat) * 1e3, "ms"),
            "batch_qps": (statistics.median(self.batch_qps), "1/s"),
        }


def index_bytes(index_dir: str) -> dict:
    """Bytes and files per stage kind over every committed stage."""
    out = {"bytes": 0, "files": 0}
    for name, info in IndexCatalog(index_dir).current_manifest()["stages"].items():
        kind = name.rsplit("/", 1)[-1]
        out[kind] = out.get(kind, 0) + int(info.get("bytes", 0) or 0)
        out["bytes"] += int(info.get("bytes", 0) or 0)
        out["files"] += int(info.get("files", 0) or 0)
    return out


def run_blocks(run: Run, index_dir: str, reader, state: int, reopen: bool):
    """Send the seeded stream block by block until ``--seconds`` have
    passed (at least one block): each query singly, then the block as
    one batch. A traced run sends the first :data:`REF_QUERIES` of each
    block once more untraced, for the tracing overhead (an upper bound:
    the second pass finds the term stats cached)."""
    size = len(inputs.BLOCK)
    stream = inputs.query_stream(run.seed, n_blocks=20)
    deadline = now() + run.seconds
    for b in range(len(stream) // size):
        if b and now() >= deadline:
            break
        if reopen:
            reader = run.open(index_dir)
        block = stream[b * size : (b + 1) * size]
        singles = [run.query(reader, q, state) for q in block]
        run.batch(reader, block, singles)
        if run.traced:
            run.tracer.enabled = False
            for q in block[:REF_QUERIES]:
                run.query(reader, q, state)
            run.tracer.enabled = True
    return reader


def verify_queries(run: Run, workload: str, oracle_for) -> None:
    """Bitwise check of every timed single query against the oracle of
    the logical corpus it ran on. ``oracle_for(state)`` builds that
    oracle; expected results are cached per seed, so a seed seen before
    builds none."""
    path = run.cache / f"expected-{workload}-{run.seed}.json"
    expected = json.loads(path.read_text()) if path.exists() else {}
    oracles: dict = {}
    for q, rows, state in run.results:
        key = f"{state}|{q}"
        if key not in expected:
            if state not in oracles:
                oracles[state] = oracle_for(state)
            expected[key] = [list(r) for r in check.expected(oracles[state], q)]
        if [list(r) for r in check.rows_key(rows)] != expected[key]:
            print(f"wrong top-k: {q!r}", flush=True)
            run.failed += 1
    path.write_text(json.dumps(expected))


# -- the prepared indexes -----------------------------------------------------------
def cache_dir(root: Path, caches: Path) -> Path:
    """The checkout's cache for this code: the prepared indexes and
    expected results are valid only for the code that made them, so the
    directory is keyed by a hash of the engine and benchmark sources
    and caches of other code are dropped."""
    h = hashlib.sha1()
    files = sorted((root / "noise_spark").rglob("*.py")) + sorted(Path(__file__).parent.glob("*.py"))
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    d = caches / h.hexdigest()[:16]
    if not d.exists():
        shutil.rmtree(caches, ignore_errors=True)
        d.mkdir(parents=True)
    return d


def prepare(run: Run) -> Path:
    """``fresh``: a cold build of :data:`inputs.N_DOCS` pages of the
    fixed corpus seed. ``updated``: a copy of it after one append and
    one delete. Built once per checkout, untimed; ``deleted.json`` holds
    the deleted urls."""
    target = run.cache / "indexes"
    if not target.exists():
        traced, run.tracer.enabled = run.tracer.enabled, False
        staging = run.cache / f"staging-{os.getpid()}"
        staging.mkdir()
        base, add = staging / "base.parquet", staging / "append.parquet"
        fresh, updated = staging / "fresh", staging / "updated"
        inputs.write_pages(str(base), np.arange(inputs.N_DOCS), inputs.BASE_SEED)
        build.build_index(
            run.spark, run.spark.read.parquet(str(base)), str(fresh), build.BuildConfig()
        )
        mark(fresh, fresh)
        copy_index(fresh, updated)
        inputs.write_pages(str(add), inputs.append_ids(1), inputs.BASE_SEED)
        incremental.append_docs(run.spark, str(updated), run.spark.read.parquet(str(add)))
        deleted = inputs.delete_urls(inputs.BASE_SEED, sorted(check.docs_table(str(fresh))))
        incremental.delete_docs(run.spark, str(updated), deleted)
        (staging / "deleted.json").write_text(json.dumps(deleted))
        os.remove(base)
        os.remove(add)
        staging.rename(target)
        run.tracer.enabled = traced
    for name in ("fresh", "updated"):
        relocate(target / name)
    return target


def mark(index_dir: Path, written_at: Path) -> None:
    index_dir.with_suffix(".at").write_text(str(written_at))


def relocate(index_dir: Path) -> None:
    """Point the manifests of an index at where it lies now: the
    catalog records absolute stage paths, and the index may have been
    copied or moved since it was written."""
    at = index_dir.with_suffix(".at")
    old = at.read_text()
    if old != str(index_dir):
        for m in (index_dir / "_manifests").glob("*.json"):
            m.write_text(m.read_text().replace(old, str(index_dir)))
        mark(index_dir, index_dir)


def copy_index(src: Path, dst: Path) -> None:
    shutil.copytree(src, dst)
    mark(dst, src)
    relocate(dst)


def live_docs(index_dir: str, generations: int, deleted: set[str]) -> dict[str, tuple[int, str]]:
    """The logical corpus of an index: url → (doc id, text) of every
    live document over the base and ``generations`` appended docs
    stages."""
    docs = check.docs_table(index_dir)
    for g in range(1, generations + 1):
        docs.update(check.docs_table(index_dir, f"gen{g}/docs"))
    return {u: v for u, v in docs.items() if u not in deleted}


def oracle(index_dir: str, generations: int, deleted: set[str]):
    return check.oracle(dict(live_docs(index_dir, generations, deleted).values()))


# -- query_mix ------------------------------------------------------------------
def query_mix(run: Run) -> tuple[dict, str]:
    run.start_session()
    index_dir = str(prepare(run) / "fresh")
    for _ in range(OPENS):
        reader = run.open(index_dir)
    written = index_dir
    if run.traced:  # the build user: a cold build of a seeded corpus
        pages = inputs.write_pages(
            str(run.work / "corpus.parquet"), np.arange(inputs.TRACE_BUILD_DOCS), run.seed
        )
        written = str(run.work / "built")
        df = run.spark.read.parquet(str(run.work / "corpus.parquet"))
        run.record_stages(run.write_op(
            "op.build", lambda: build.build_index(run.spark, df, written, build.BuildConfig())
        ))
        if check.extraction_mismatches(check.docs_table(written), pages):
            print("extracted text differs from the page text", flush=True)
            run.failed += 1
    run_blocks(run, index_dir, reader, 0, reopen=False)

    # -- correctness, untimed
    verify_queries(run, "query_mix", lambda _: oracle(index_dir, 0, set()))
    return run.end_to_end(), written


# -- maintain -------------------------------------------------------------------
def maintain(run: Run) -> tuple[dict, str]:
    run.start_session()
    prepared = prepare(run)
    index_dir = str(prepared / "updated")
    for _ in range(OPENS):
        run.open(index_dir)
    deleted = set(json.loads((prepared / "deleted.json").read_text()))
    state = 1  # the oracle's corpus: 1 = the prepared index, 2 = after the traced delete
    if run.traced:  # the update user: one more delete, on a copy
        copy_index(prepared / "updated", run.work / "index")
        index_dir = str(run.work / "index")
        victims = inputs.delete_urls(run.seed, sorted(live_docs(index_dir, 1, deleted)))
        run.write_op("op.delete", lambda: incremental.delete_docs(run.spark, index_dir, victims))
        run.delete_bytes.append(
            sum(index_bytes(index_dir).get(s, 0) for s in incremental.MUTABLE_STAGES)
        )
        deleted |= set(victims)
        state = 2
    run_blocks(run, index_dir, None, state, reopen=True)

    # -- correctness, untimed
    verify_queries(run, "maintain", lambda _: oracle(index_dir, 1, deleted))
    return run.end_to_end(), index_dir


WORKLOADS = {"query_mix": query_mix, "maintain": maintain}


# -- traced-run summary -----------------------------------------------------------
def per_layer(run: Run, index_dir: str) -> dict:
    """Every per-layer metric, from the spans and the run's records.
    A layer the workload leaves idle reads 0."""
    from noise_spark.index.incremental import compaction_due

    tr = run.tracer
    spans = tr.spans
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    def incl(s, key):
        return s[key] + sum(incl(c, key) for c in kids.get(s["id"], []))

    def under(s, name):
        """Spans named ``name`` in the subtree of ``s``."""
        out = []
        for c in kids.get(s["id"], []):
            if c["name"] == name:
                out.append(c)
            out.extend(under(c, name))
        return out

    def named(name):
        return [s for s in spans if s["name"] == name]

    queries = named("op.query")
    batches = named("op.batch")
    builds = named("build.build_index")
    delete_ops = named("op.delete")
    writes = named("op.build") + delete_ops
    commits = [
        s for s in spans
        if layer_of(s["name"]) == "catalog"
        and (s["parent"] is None or layer_of(spans[s["parent"]]["name"]) != "catalog")
    ]
    dfs = [t for q in queries for t in under(q, "engine.term_dfs")]
    wand = [q for q in queries if under(q, "engine.search_wand") and not under(q, "engine.search")]
    opens = [
        s for s in named("engine.init")
        if s["parent"] is not None and spans[s["parent"]]["name"] == "op.open"
    ]
    due = compaction_due(run.spark, index_dir)
    ib = index_bytes(index_dir)
    self_s = tr.self_times()
    n_q = max(len(queries), 1)
    out = {
        "session.get_spark_s": median(dur(s) for s in named("session.get_spark")),
        "reader.open_s": median(dur(s) for s in opens),
        "build.docs_s": mean(run.stage_s.get("docs", [])),
        "build.segments_s": mean(run.stage_s.get("segments", [])),
        "build.term_stats_s": mean(run.stage_s.get("term_stats", [])),
        "build.corpus_stats_s": mean(run.stage_s.get("corpus_stats", [])),
        "catalog.commit_s": sum(dur(s) for s in commits) / max(len(writes), 1),
        "build.spark_jobs": mean(incl(s, "jobs") for s in builds),
        "build.spark_tasks": mean(incl(s, "tasks") for s in builds),
        "build.failed_tasks": sum(incl(s, "failed_tasks") for s in builds),
        "index.segments_bytes": ib.get("segments", 0),
        "index.docs_bytes": ib.get("docs", 0),
        "index.term_stats_bytes": ib.get("term_stats", 0),
        "index.files": ib["files"],
        "parser.parse_ms": 1e3 * sum(dur(p) for q in queries for p in under(q, "parser.parse_query")) / n_q,
        "query.plan_ms": 1e3 * sum(dur(p) for q in queries for p in under(q, "engine.query")) / n_q,
        "query.execute_ms": 1e3 * sum(dur(p) for q in queries for p in under(q, "execute.collect")) / n_q,
        "query.term_dfs_ms": 1e3 * sum(dur(t) for t in dfs) / n_q,
        "query.df_cache_hit_ratio": sum(t["jobs"] == 0 for t in dfs) / max(len(dfs), 1),
        "query.spark_jobs_per_query": sum(incl(q, "jobs") for q in queries) / n_q,
        "query.spark_tasks_per_query": sum(incl(q, "tasks") for q in queries) / n_q,
        "wand.share": len(wand) / n_q,
        "wand.blocks_decoded_per_query": mean(q.get("blocks_decoded", 0) for q in wand),
        "batch.plan_ms": 1e3 * mean(sum(dur(p) for p in under(b, "engine.search_many")) for b in batches),
        "batch.execute_ms": 1e3 * mean(sum(dur(p) for p in under(b, "execute.collect")) for b in batches),
        "batch.spark_jobs": mean(incl(b, "jobs") for b in batches),
        "incremental.delete_s": mean(dur(s) for s in delete_ops),
        "incremental.delete_spark_tasks": mean(incl(s, "tasks") for s in delete_ops),
        "incremental.delete_bytes_written": mean(run.delete_bytes),
        "incremental.generations": due["generations"],
        "incremental.tombstone_frac": due["tombstone_frac"],
        "trace.wall_s": sum(dur(s) for s in spans if s["parent"] is None),
        "trace.unaccounted_s": self_s["op"],
        "trace.overhead_ms_per_query": 1e3 * (median(run.lat_on) - median(run.lat_off)),
        "trace.bookkeeping_s": tr.bookkeeping_s,
        "trace.spans": len(spans),
    }
    for layer in LAYERS[1:]:
        out[f"self.{layer}_s"] = self_s[layer]
    return out


def layer_unit(name: str) -> str:
    if name.endswith("_ms") or name.endswith("_ms_per_query"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith(("ratio", "share", "frac")):
        return "frac"
    return "count"
