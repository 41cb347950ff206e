"""Per-layer metrics of a traced run, named after the modules they time.

Everything here is measured from outside, through public functions: the
traced loop's spans and job counts, write twins (the workload's rows with
no index, IVF, and IVF + graph) for what each index adds to a write, and
direct timings of the embedder, filter compiler and catalog.
"""

from __future__ import annotations

import statistics
import time

from data import Corpus
from serve import BATCH_SHAPES, SHAPES, WORKLOADS, Client, build_table, median_ms

TRACE_MIN_SAMPLES = 3  # traced calls per read shape

TWINS = (("base", False, False), ("ivf", True, False), ("graph", True, True))
LAYOUTS = {"base": "", "ivf": "__ivf", "hnsw": "__hnsw", "hnsw_nodes": "__hnsw_nodes"}


def _timed_ms(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return median_ms(out)


def _first_ms(c: Client, op: str) -> float:
    return c.lat[op][0] * 1000.0


def _top_up(c: Client, shape: str) -> None:
    while len(c.lat[shape]) < TRACE_MIN_SAMPLES:
        (c.batch if shape in BATCH_SHAPES else c.single)(shape)


def _count(tracer, request: str, key: str) -> float:
    vals = [tracer.counts[s["request"]][key] for s in tracer.spans
            if s["parent"] is None and s["name"] == request]
    return statistics.median_low(vals)  # an observed count, not a mean


def measure(args, spark, client: Client, steps: dict, session_s: float,
            dirs: dict, e2e: dict) -> dict:
    """Per-layer metrics; ops run here count toward ``client``'s totals."""
    from modal_vector_db_spark.operators.filters import compile_filters
    from modal_vector_db_spark.sources import catalog

    tr, db = client.tracer, client.db
    m = {"trace.query_p50_ms": (e2e["query_p50_ms"][0], "ms")}
    # layouts as the loop left them, before the probes below add anything
    for label, suffix in LAYOUTS.items():
        files, size = catalog.table_file_stats(db.name + suffix, db.warehouse)
        m[f"catalog.files.{label}"] = (files, "count")
        m[f"catalog.bytes.{label}"] = (size, "bytes")
    stats = db.index_stats()
    m["engine_ivf.max_cluster_frac"] = (stats["max_cluster_frac"], "ratio")
    m["engine_ivf.clusters_nonempty"] = (stats["clusters_nonempty"], "count")

    # Top up the read shapes the loop issued first, while the table is as
    # the loop left it.
    for shape in SHAPES + BATCH_SHAPES:
        if client.lat[shape]:
            _top_up(client, shape)

    # Write twins: the workload's initial rows with no index, IVF, and IVF +
    # graph; each takes a first insert of the same size.  The IVF + graph
    # twin also takes a duplicate re-insert and a delete, and serves the read
    # shapes the workload's own loop does not issue.  serve_read's own table
    # has both indexes and its loop never writes, so it is that twin there.
    w = WORKLOADS[args.workload]
    twins = {}
    for label, ivf, graph in TWINS:
        if graph and w.graph:
            corpus, twin_db = client.corpus, db
        else:
            corpus = Corpus(args.seed, w.rows)
            twin_db, twin_steps = build_table(spark, corpus, f"twin_{label}", dirs["warehouse"], ivf, graph)
            if graph:
                steps = {**twin_steps, **steps}
        twins[label] = twin = Client(corpus, twin_db, tr, prefix=f"twin_{label}.")
        docs = twin.insert()
        if graph:
            twin.insert(docs, name="reinsert")
            twin.delete()
    g = twins["graph"]
    m["engine.insert_ms.base"] = (_first_ms(twins["base"], "insert"), "ms")
    m["engine_ivf.insert_extra_ms"] = (_first_ms(twins["ivf"], "insert") - _first_ms(twins["base"], "insert"), "ms")
    m["engine_graph.insert_extra_ms"] = (_first_ms(g, "insert") - _first_ms(twins["ivf"], "insert"), "ms")
    for op, keys in (("insert", ("jobs", "tasks")), ("reinsert", ("jobs",)), ("delete", ("jobs", "tasks"))):
        for key in keys:
            m[f"engine.{key}.{op}"] = (_count(tr, g.prefix + op, key), "count")

    for shape in SHAPES + BATCH_SHAPES:
        c = client if client.lat[shape] else g
        _top_up(c, shape)
        name = c.prefix + shape
        m[f"engine.plan_ms.{shape}"] = (median_ms(tr.durations("plan", name)), "ms")
        m[f"engine.collect_ms.{shape}"] = (median_ms(tr.durations("collect", name)), "ms")
        m[f"engine.jobs.{shape}"] = (_count(tr, name, "jobs"), "count")
        m[f"engine.tasks.{shape}"] = (_count(tr, name, "tasks"), "count")
    m["engine.decode_ms"] = (median_ms(tr.durations("decode")), "ms")
    for label in ("ivf", "graph"):
        m[f"engine_{label}.recall_at_10"] = (statistics.fmean(client.recall[label] or g.recall[label]), "ratio")
    m["engine.short_answers"] = (client.short + g.short, "count")

    m["session.start_s"] = (session_s, "s")
    m["engine.insert_df_s"] = (steps["insert_df"], "s")
    m["engine_ivf.create_index_s"] = (steps["create_index"], "s")
    m["engine_graph.create_graph_index_s"] = (steps["create_graph_index"], "s")

    texts = [f"note {i} topic {i % 50}" for i in range(100)]
    m["embedders.embed_ms_per_100"] = (_timed_ms(lambda: [client.embed(t) for t in texts], 5), "ms")
    filters = [client.corpus.cat_filter(s) for s in ("exact_f", "ivf_f")]
    m["filters.compile_ms"] = (_timed_ms(lambda: [compile_filters(f) for f in filters], 20), "ms")

    for twin in twins.values():
        client.attempted += twin.attempted
        client.failed += twin.failed
    return m
