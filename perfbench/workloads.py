"""Workload definitions: which ops a run executes, and in which order.

An op is one closed-loop request: build a DataFrame, plan it, collect it.
Most ops are registry queries (``bigdata2016w_spark.registry``);
``postings_write`` drives ``sources.sinks.write_postings`` directly,
because no registry query writes through ``sources.sinks``.

The seed only permutes the op order inside each warm pass. The input
tables are the committed copies under ``perfbench/data``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    # nominal warm-pass time on a 4-core host; with --seconds it fixes the
    # number of warm passes, so every run of a workload measures the same
    # op multiset (a wall-clock deadline would make the count drift)
    warm_pass_s: float


# The workloads BENCHMARK.json names (and says why). Between them they
# reach every layer: PPJoin on the first; sinks, streaming and temp dirs
# on the second. The second reaches sources.sinks through postings_write:
# the reference's inverted index (postings_flat) written by write_postings.
WORKLOADS: dict[str, Workload] = {w.name: w for w in (
    Workload(
        "dedup_ann",
        ("dedup_jaccard", "dedup_keep_best", "dedup_clusters", "hybrid_search_rrf"),
        warm_pass_s=5.5,
    ),
    Workload(
        "ingest_maintain",
        ("orders_upsert", "orders_scd2", "orders_ivm_streamed",
         "events_streamed_sketch_state", "orders_schema_evolution_read",
         "customers_purge_audit", "postings_write"),
        warm_pass_s=5.5,
    ),
)}


def warm_passes(workload: Workload, seconds: float) -> int:
    return max(1, round(seconds / workload.warm_pass_s))


def pass_order(workload: Workload, seed: int, pass_idx: int) -> list[str]:
    """The op order of one pass. The cold pass (0) runs the ops in their
    listed order, as a batch job would: the first op of a session pays
    several seconds of JVM warm-up, so a seeded cold order would make the
    cold wall depend on which op came first. Warm passes are seeded."""
    order = list(workload.ops)
    if pass_idx > 0:
        random.Random(f"{seed}:{pass_idx}").shuffle(order)
    return order
