"""Input generation, run as its own process before the timed one.

    python3 perfbench/inputs.py <export|graph> '<spec json>' <seed> <work>

Export inputs are the program's seeded mamba warehouse
(``mamba.fixture_store.ensure_fixture_parquet``), written once per
(seed, patients) under ``$SPARK_GRAFT_FIXTURE_DIR``. Graph inputs are a
directed edge list with zipf-skewed sources and uniform targets, written
once per (seed, nodes, edges). Both are cached, so a repeated seed
skips generation.
"""

from __future__ import annotations

import json
import os
import sys


def graph_edges(seed: int, nodes: int, edges: int):
    """(src, dst, sources): int64 arrays without self-loops, and the
    three highest-weight sources for personalized PageRank."""
    import numpy as np

    rng = np.random.default_rng(seed)
    perm = rng.permutation(nodes).astype(np.int64)
    weight = 1.0 / np.arange(1, nodes + 1) ** 1.1
    rank = rng.choice(nodes, size=edges, p=weight / weight.sum())
    src = perm[rank]
    dst = (src + 1 + rng.integers(0, nodes - 1, size=edges)) % nodes
    return src, dst, [int(v) for v in perm[:3]]


def ensure_graph(work: str, seed: int, spec: dict) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(
        work, "inputs", f"graph_seed{seed}_n{spec['nodes']}_e{spec['edges']}.parquet"
    )
    meta = path + ".json"
    if not os.path.exists(meta):
        src, dst, sources = graph_edges(seed, spec["nodes"], spec["edges"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table({"src": src, "dst": dst}), path)
        with open(meta, "w") as f:
            json.dump({"sources": sources}, f)
    with open(meta) as f:
        return {"edges": path, **json.load(f)}


def main() -> int:
    kind, spec, seed, work = sys.argv[1], json.loads(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
    if kind == "export":
        from data_export_tool_spark.mamba.fixture_store import ensure_fixture_parquet

        ensure_fixture_parquet(seed, spec["patients"])
        extra: dict = {}
    else:
        # the program must be importable here too, so a checkout without
        # it fails before any work
        import data_export_tool_spark.operators.graph  # noqa: F401

        extra = ensure_graph(work, seed, spec)
    json.dump(extra, sys.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
