"""spark-submit entry point for link-graph rank maintenance.

Build mode — full recompute, persisting the per-iteration rank ladder:
    python tools/run_graph_maintenance.py build \\
        --edges /path/edges-parquet --states /path/states-dir \\
        [--iterations 10]

Fold mode — delta-push maintenance against a persisted ladder:
    python tools/run_graph_maintenance.py fold \\
        --edges /path/edges-parquet --states /path/states-dir \\
        [--delta-add /path/add-parquet] [--delta-remove /path/rm-parquet] \\
        --out /path/updated-states-dir

Cluster shape (the north rule's ship story):
    spark-submit --py-files ocr_platform_spark.zip \\
        tools/run_graph_maintenance.py fold --master yarn ...

``build`` writes ``states/iter=0000 … iter=NNNN`` (one parquet dir per
recurrence level — the state a production run keeps so recrawl deltas fold
in O(delta cone) instead of O(graph); operators/linkgraph.
host_pagerank_states). ``fold`` reads that ladder, applies the delta
(added edge rows; removed (src_host, dst_host) pairs — every matching
edge row goes), writes the UPDATED ladder to ``--out`` (chained folds:
tomorrow's delta folds against today's output), and prints one JSON line
with the fold metrics (fallback reason if the vertex set drifted,
per-iteration affected/changed counts, top hosts by updated rank). The
post-delta edge set is written next to the ladder (``edges/``) so the
next fold starts from it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _read_states(spark, states_dir: str) -> list:
    levels = sorted(
        d for d in os.listdir(states_dir) if d.startswith("iter=")
    )
    return [spark.read.parquet(os.path.join(states_dir, d)) for d in levels]


def _write_states(states: list, out_dir: str) -> None:
    for i, df in enumerate(states):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"iter={i:04d}"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("mode", choices=("build", "fold"))
    ap.add_argument("--edges", required=True, help="(src_host, dst_host) parquet")
    ap.add_argument("--states", required=True, help="rank-ladder dir")
    ap.add_argument("--delta-add", default=None, help="added edge rows parquet")
    ap.add_argument("--delta-remove", default=None, help="removed pair parquet")
    ap.add_argument("--out", default=None, help="updated ladder dir (fold mode)")
    ap.add_argument("--iterations", type=int, default=10)
    ap.add_argument("--top", type=int, default=10, help="top hosts in the report")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if args.mode == "fold":
        if not args.out:
            ap.error("fold mode requires --out")
        # the fold reads the ladder lazily while writing the update: an
        # in-place overwrite would destroy its own input mid-write
        if os.path.realpath(args.out) == os.path.realpath(args.states):
            ap.error("fold mode needs --out to differ from --states")

    from ocr_platform_spark.operators.linkgraph import (
        host_pagerank_delta,
        host_pagerank_states,
    )
    from ocr_platform_spark.session import get_spark

    spark = get_spark(master=args.master, app_name=f"graph-maintenance-{args.mode}")
    edges = spark.read.parquet(args.edges)

    if args.mode == "build":
        states = host_pagerank_states(edges, iterations=args.iterations)
        _write_states(states, args.states)
        final = states[-1]
        res = {
            "mode": "build",
            "iterations": len(states) - 1,
            "n_hosts": final.count(),
            "states": args.states,
        }
    else:
        states = _read_states(spark, args.states)
        added = spark.read.parquet(args.delta_add) if args.delta_add else None
        removed = spark.read.parquet(args.delta_remove) if args.delta_remove else None
        metrics: dict = {}
        updated: list = []
        final = host_pagerank_delta(
            edges, states, added=added, removed=removed,
            metrics_out=metrics, states_out=updated,
        )
        _write_states(updated, args.out)
        new_edges = edges
        if removed is not None:
            new_edges = new_edges.join(
                removed.select("src_host", "dst_host"),
                ["src_host", "dst_host"],
                "left_anti",
            )
        if added is not None:
            new_edges = new_edges.unionByName(added.select("src_host", "dst_host"))
        new_edges.write.mode("overwrite").parquet(os.path.join(args.out, "edges"))
        res = {"mode": "fold", "out": args.out, **metrics}
    from pyspark.sql import functions as F

    res["top_hosts"] = [
        {"host": r["host"], "rank": r["rank"]}
        for r in final.orderBy(F.desc("rank"), "host").limit(args.top).collect()
    ]
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
