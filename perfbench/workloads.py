"""The benchmark's workloads: which registry queries a pass runs, and
how each output is checked.

Every operation is one registry query collected to the driver as Arrow
(the result a caller receives), then checked against the registry's
DuckDB oracle on the same generated files. The oracle digest is cached
per seed (see oracle.OracleCache).

Why these two workloads (one cold set-up plus one pass of each fits
the run budget; see NOTES.md for what was left out and why):

- ``etl_headline`` holds the relational and corpus queries: scans,
  exchanges, aggregates and joins, with no graph loop and no streaming
  sink, and a few wide jobs per query. At the benchmark's input size
  (24 000 lineitem rows) it is bound by per-job and planning cost
  spread over few jobs, not by data volume. It runs six of the eight
  headline queries of ``bench.py``, including the three ROADMAP
  performance targets (flagship rollup, MinHash dedup, multi-hop join);
  ``pricing_summary`` and ``community_metadata_rollup`` are left out to
  fit the run budget. It adds one query each for the three layers no
  headline query reaches: ``operators.relational`` (``topk_per_group``),
  ``text.analysis`` (``text_stats``) and ``operators.curation``
  (``curation_sample_split``).
- ``graph_loops`` is bound by rounds and jobs over small state: three
  of the hand-rolled iterative graph loops (frontier BFS, k-core
  peeling, transitive closure), each materializing state with
  ``localCheckpoint`` every round, and entity resolution over the part
  catalog (``graph.entities``), whose match pairs are closed by a
  Hash-Min components loop.
"""

from __future__ import annotations

HEADLINE = (
    "flagship_order_rollup",
    "dedup_minhash_lsh",
    "join_multihop_revenue",
    "events_tumbling_window",
    "text_chunking",
    "vector_knn_bruteforce",
)

WORKLOADS: dict[str, tuple[str, ...]] = {
    "etl_headline": HEADLINE
    + ("topk_per_group", "text_stats", "curation_sample_split"),
    "graph_loops": (
        "graph_bfs_distances",
        "graph_kcore",
        "graph_transitive_closure",
        "graph_entity_resolution",
    ),
}

ALL_QUERIES = tuple(dict.fromkeys(q for qs in WORKLOADS.values() for q in qs))


class CheckFailed(AssertionError):
    """An operation's output differs from its oracle."""


def run_query(spark, registry, name: str, data_dir: str):
    """Plan and execute one registry query; returns its Arrow result."""
    return registry[name].fn(spark, data_dir).toArrow()


def check(oracles, registry, name: str, table) -> None:
    from oracle import digest

    want = oracles.expected(name, registry[name].oracle)
    got = digest(table)
    if got != want:
        raise CheckFailed(f"{name}: result {got} != oracle {want}")
