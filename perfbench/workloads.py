"""The benchmark's workloads and the output digest every item is checked by.

An item is one registered query or one pipeline config. Every item has a
``build`` step (``Query.fn``, or ``parse_config`` + ``Pipeline.run``) that
returns a DataFrame, and the benchmark's action on that frame (the
``noop`` sink when timed, a collect when verifying).
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import dataclass
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
CONFIGS = os.path.join(HERE, "configs")

#: queries whose time is plan building and Spark's per-job floor on the
#: one-row-group fixture: 3-9 jobs each, eager collects, tiny outputs
HEADLINE = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "graph_pagerank_trade",
]

#: executor-CPU-heavy kernels (dot products, BM25) on the multi-file 10x
#: twin, whose scans already fan out to every core
SCALE = [
    "similarity_topk_bruteforce",
    "text_bm25_ranking",
]

#: benchmark-owned HOCON configs under ``configs/``, run in the ``test``
#: environment; between them they use every stage type of the engine's
#: examples (ParquetExtract, SQLTransform, OperatorTransform, SQLValidate,
#: EqualityValidate, ParquetLoad)
PIPELINES = ["curation", "roundtrip"]


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "queries" | "pipelines"
    lane: str  # fixture directory name: sf0.1, sf0.01, sf1-twin, ...
    items: tuple[str, ...]


WORKLOADS = {
    "headline": Workload("headline", "queries", "sf0.1", tuple(HEADLINE)),
    "scale": Workload("scale", "queries", "sf1-twin", tuple(SCALE)),
    "pipelines": Workload("pipelines", "pipelines", "sf0.01", tuple(PIPELINES)),
}


def config_text(item: str) -> str:
    with open(os.path.join(CONFIGS, f"{item}.conf")) as fh:
        return fh.read()


def norm_cell(v):
    """Cell normalization of ``tools/selfcheck.py``: floats by repr (NaN
    as a string), decimals as their float repr, arrays element-wise."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, Decimal):
        return repr(float(v))
    return v


def digest(columns: list[str], rows) -> dict:
    """Row count and an order-insensitive multiset digest; columns are
    taken in name order, as the self-check compares them."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keys = sorted(repr(tuple(norm_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return {"rows": len(keys), "digest": h.hexdigest()[:32]}
