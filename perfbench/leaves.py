"""The analytics leaves: a fixed subset of ``bench.py``'s suite, with the
same names and arguments, one or two per operator module.

The graph leaves are the four whose output the DuckDB oracle of the same
name describes (``sr_conductance`` also runs the K-round label-propagation
loop); the corpus leaves are one per module, chosen among its Arrow/numpy
kernels. The rest of the suite (45 more leaves) does not fit the
run-time budget of the benchmark.

Each entry is ``(name, layer, thunk)``. ``layer`` names the module whose
operator the leaf calls; the benchmark charges the leaf's materialization
to it. Thunks look operators up through their modules at call time, so a
traced run sees the wrapped functions.
"""

from __future__ import annotations

import importlib

from pyspark.sql import functions as F


def _op(module: str, name: str):
    return getattr(importlib.import_module(f"graphiti_spark.{module}"), name)


def _c(name: str):
    return _op("operators.community", name)


def graph_leaves(g) -> list[tuple[str, str, object]]:
    E, COM = g.edges, "operators.community"
    return [
        ("kg_interval_census", "operators.temporal",
         lambda: _op("operators.temporal", "interval_relation_census")(E)),
        ("sr_mixing", COM, lambda: _c("degree_mixing")(E)),
        ("kg_path_match", "operators.search",
         lambda: _op("operators.search", "match_path")(
             E, "(a)-[PRECEDES]->(b)-[OPERATES_ON]->(c)")),
        ("sr_conductance", COM, lambda: _conductance(E)),
    ]


def _conductance(edges):
    adj = _c("build_adjacency")(edges.where(F.col("group_id") == "megacorp/monorepo"))
    return _c("conductance_report")(adj, _c("label_propagation_rounds")(adj, rounds=6))


def corpus_leaves(docs, emb, events) -> list[tuple[str, str, object]]:
    probes = emb.where(F.col("vec_id") < 3).select(F.col("vec_id").alias("probe_id"), "embedding")
    return [
        ("td_dedup_minhash", "operators.dedup",
         lambda: _op("operators.dedup", "dedup_minhash_lsh")(docs, threshold=0.5)),
        ("td_ann_bruteforce", "operators.similarity",
         lambda: _op("operators.similarity", "knn_bruteforce")(emb, probes, k=10)),
        ("td_keywords", "operators.textstats",
         lambda: _op("operators.textstats", "doc_keywords")(docs)),
        ("ev_anomaly", "operators.events",
         lambda: _op("operators.events", "anomaly_flags")(events)),
        ("td_bpe_merges", "operators.bpe", lambda: _op("operators.bpe", "bpe_merges")(docs)),
        ("mm_phash_dedup", "operators.multimodal",
         lambda: _op("operators.multimodal", "media_near_dupes")(
             _op("operators.multimodal", "synth_media")(docs))),
    ]


def is_graph_leaf(name: str) -> bool:
    """The graph leaves (kg_*, sr_*); the rest (td_*, ev_*, mm_*) are
    corpus leaves."""
    return not name.startswith(("td_", "ev_", "mm_"))
