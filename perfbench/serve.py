"""The serving workloads: one closed-loop client on the ``VectorDB`` facade.

``serve_read`` rotates a fixed mix of single and batch queries over a static
table with IVF and graph indexes.  ``serve_write`` interleaves inserts,
duplicate re-inserts, deletes and ``num_rows`` with a smaller read mix, on a
table whose IVF index is maintained by every write.  Every op is timed (or,
with tracing, split into spans) and then checked against numpy outside the
timed section; a raised exception or a failed check counts as a failed op.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from typing import NamedTuple

from data import K, Corpus

SHAPES = ("exact", "exact_f", "ivf", "ivf_f", "graph", "graph_f")
BATCH_SHAPES = ("batch", "batch_ivf")
BATCH = 16
INSERT_ROWS = 100
DELETE_ROWS = 5


def median_ms(seconds: list[float]) -> float:
    return statistics.median(seconds) * 1000.0


def shape_p50_ms(lat: dict[str, list[float]], shapes) -> float:
    """Mean over the shapes run of each shape's median latency: a pooled
    median would sit between the shapes' latency bands and jump with the mix."""
    return statistics.fmean(median_ms(lat[s]) for s in shapes if lat.get(s))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(j0: tuple[int, int], j1: tuple[int, int]) -> float:
    """Share of CPU time between two ``cpu_jiffies`` readings that the
    hypervisor gave to other guests."""
    return (j1[0] - j0[0]) / max(1, j1[1] - j0[1])


class Client:
    """One table plus the benchmark's model of it; runs and checks ops."""

    def __init__(self, corpus: Corpus, db, tracer=None, prefix: str = "") -> None:
        from modal_vector_db_spark.embedders import get_embedder

        self.corpus, self.db, self.tracer = corpus, db, tracer
        self.prefix = prefix  # names this table's requests in the trace
        self.embed = get_embedder(db.embedder_name, dim=db.embedding_dim).embed
        self.lat: dict[str, list[float]] = defaultdict(list)  # op -> seconds
        self.steal: dict[str, list[float]] = defaultdict(list)  # op -> steal share
        self.recall: dict[str, list[float]] = defaultdict(list)  # ivf / graph
        self.attempted = self.failed = self.answered = 0
        self.short = 0  # approximate answers with fewer than K rows

    # -- one op: timed (or traced), then checked ---------------------------
    def _run(self, name: str, call, traced_call=None):
        self.attempted += 1
        try:
            j0 = cpu_jiffies()
            if self.tracer is None:
                t0 = time.perf_counter()
                out = call()
                self.lat[name].append(time.perf_counter() - t0)
            else:
                with self.tracer.request(self.prefix + name) as (rid, root):
                    out = traced_call(rid, root) if traced_call else call()
                s = self.tracer.spans[root]
                self.lat[name].append(s["end"] - s["start"])
            self.steal[name].append(steal_share(j0, cpu_jiffies()))
            return out
        except Exception:  # one failed op must not end the run
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def _verdict(self, name: str, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            print(f"check failed on {name}: {'; '.join(problems)}", file=sys.stderr)

    # -- reads -------------------------------------------------------------
    def _single_call(self, shape: str, q, flt, as_dataframe: bool):
        if shape.startswith("graph"):
            return self.db.query_graph(q, k=K, filters=flt, as_dataframe=as_dataframe)
        return self.db.query(q, k=K, filters=flt, use_index=shape.startswith("ivf"),
                             as_dataframe=as_dataframe)

    def single(self, shape: str) -> None:
        from modal_vector_db_spark.engine import Result

        q, flt = self.corpus.query_vec(), self.corpus.cat_filter(shape)

        def traced(rid, root):
            with self.tracer.span("plan", rid, root):
                df = self._single_call(shape, q, flt, True)
            with self.tracer.span("collect", rid, root):
                rows = df.collect()
            with self.tracer.span("decode", rid, root):
                return [Result(id=r["id"], metadata=json.loads(r["metadata"]),
                               distance=r["distance"]) for r in rows]

        res = self._run(shape, lambda: self._single_call(shape, q, flt, False), traced)
        if res is None:
            return
        self.answered += 1
        got = [(r.metadata.get("n", -1), r.id, r.distance) for r in res]
        problems, rec = self.corpus.check(got, q, flt, exact=shape.startswith("exact"), ordered=True)
        if not shape.startswith("exact"):
            self.recall[shape.removesuffix("_f")].append(rec)
            self.short += len(got) < K
        self._verdict(shape, problems)

    def batch(self, shape: str) -> None:
        qs = [self.corpus.query_vec() for _ in range(BATCH)]
        call = lambda: self.db.query_batch(qs, k=K, use_index=shape == "batch_ivf")  # noqa: E731

        def traced(rid, root):
            with self.tracer.span("plan", rid, root):
                df = call()
            with self.tracer.span("collect", rid, root):
                return df.collect()

        rows = self._run(shape, lambda: call().collect(), traced)
        if rows is None:
            return
        self.answered += BATCH
        per_q: dict[int, list] = defaultdict(list)
        for r in rows:
            per_q[r["q_id"]].append((json.loads(r["metadata"]).get("n", -1), r["id"], r["distance"]))
        problems = []
        for i, q in enumerate(qs):
            p, rec = self.corpus.check(sorted(per_q.get(i, []), key=lambda t: (t[2], t[1])),
                                       q, None, exact=shape == "batch", ordered=False)
            problems += p
            if shape == "batch_ivf":
                self.recall["ivf"].append(rec)
                self.short += len(per_q.get(i, [])) < K
        self._verdict(shape, problems)

    # -- writes ------------------------------------------------------------
    def num_rows(self) -> None:
        n = self._run("num_rows", self.db.num_rows)
        if n is not None:
            self._verdict("num_rows", [] if n == self.corpus.n_live
                          else [f"num_rows {n}, expected {self.corpus.n_live}"])

    def insert(self, docs: list[dict] | None = None, name: str = "insert") -> list[dict]:
        """Insert ``docs`` (new ones when None); a repeat must change nothing."""
        docs = docs or self.corpus.new_docs(INSERT_ROWS, self.embed)
        self._run(name, lambda: self.db.insert(docs, embed_field="text"))
        self.num_rows()
        return docs

    def delete(self) -> None:
        keys = self.corpus.pick_deletions(DELETE_ROWS)
        n = self._run("delete", lambda: self.db.delete({"n": ("in", keys)}))
        if n is not None:
            self.corpus.mark_deleted(keys)
            self._verdict("delete", [] if n == len(keys) else [f"deleted {n}, expected {len(keys)}"])
        self.num_rows()


def build_table(spark, corpus: Corpus, name: str, warehouse: str, ivf: bool, graph: bool) -> tuple:
    """A fresh plain table loaded by ``insert_df``; returns (db, seconds per step)."""
    from modal_vector_db_spark.engine import VectorDB

    steps = {}
    db = VectorDB(spark, name, create_new_table=True, warehouse=warehouse)
    df = spark.createDataFrame(corpus.base_rows(), "metadata string, embedding array<float>")
    for step, do, fn in (("insert_df", True, lambda: db.insert_df(df)),
                         ("create_index", ivf, db.create_index),
                         ("create_graph_index", graph, db.create_graph_index)):
        if do:
            t0 = time.perf_counter()
            fn()
            steps[step] = time.perf_counter() - t0
    return db, steps


def reads(c: Client, singles, batches) -> None:
    for shape in singles:
        c.single(shape)
    for shape in batches:
        c.batch(shape)


def warm_up(c: Client, singles, batches, rounds: int) -> None:
    """The last step of set-up: ``rounds`` untraced rounds of one call of each
    read shape, so that timing starts warm.  A shape's first call in a
    process pays one-time planning and class loading, and the next few still
    run slower while the JVM compiles the hot paths.  The calls are checked;
    their timings and recall are dropped."""
    tracer, c.tracer = c.tracer, None
    for _ in range(rounds):
        reads(c, dict.fromkeys(singles), batches)
    c.tracer = tracer
    c.lat.clear()
    c.steal.clear()
    c.recall.clear()
    c.answered = 0


def read_loop(c: Client, seconds: float) -> None:
    """Rounds of every read shape, until ``seconds`` have passed and at least
    two rounds have run."""
    t0, rounds = time.perf_counter(), 0
    while rounds < 2 or time.perf_counter() - t0 < seconds:
        reads(c, SHAPES, BATCH_SHAPES)
        rounds += 1


WRITE_READS = (("exact", "ivf_f", "exact", "ivf_f"), ("batch_ivf",))


def write_loop(c: Client, seconds: float) -> None:
    """One round of insert, duplicate re-insert and delete, each followed by
    reads (two exact, two filtered IVF, one IVF batch), with ``num_rows``
    checked after every write; then rounds of the same reads on the final
    table until ``seconds`` have passed.  The writes are fixed, so the
    table's end state does not depend on how fast they ran."""
    t0 = time.perf_counter()
    docs = c.insert()
    reads(c, *WRITE_READS)
    c.insert(docs, name="reinsert")
    reads(c, *WRITE_READS)
    c.delete()
    reads(c, *WRITE_READS)
    while time.perf_counter() - t0 < seconds:
        reads(c, *WRITE_READS)


class Workload(NamedTuple):
    rows: int
    graph: bool  # whether the table gets a graph index (IVF it always gets)
    loop: Callable[[Client, float], None]
    reads: tuple  # (single shapes, batch shapes) the loop issues
    warm_rounds: int  # untimed rounds of ``reads`` at the end of set-up


WORKLOADS = {
    "serve_read": Workload(2000, True, read_loop, (SHAPES, BATCH_SHAPES), 3),
    "serve_write": Workload(1000, False, write_loop, WRITE_READS, 1),
}
