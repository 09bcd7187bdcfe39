"""Alternating A/B of variants, each rep of each variant in a FRESH
process (startup-bound confs, no cross-variant JVM warmth), variant
order reversed on every other rep so host drift cancels.

    python tools/ab.py [--reps R] [--ops a,b,...] VARIANT VARIANT [...]

A VARIANT is ``label[:checkout[:conf]]``: a checkout directory (empty =
this repo) whose own ``tools/time_ops.py`` does the timing, and a
``SPARK_GRAFT_CONF`` string (empty = none).  Two code shapes are two
checkouts, e.g. the parent commit unpacked with ``git archive``:

    python tools/ab.py base parent:/path/to/parent
    python tools/ab.py base \\
        'pfirst::spark.sql.adaptive.coalescePartitions.parallelismFirst=false'

Per-op numbers are best across reps (each rep is itself time_ops'
best-of-2 adjacent, the bench pass-2 convention); ratios are against
the first variant.  ``--ops`` defaults to the 24-op sample below.  The
sf dir is time_ops' default; for another, set it in the environment:
``SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/ab.py ...``.
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys
from typing import NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

OPS = [
    "scan_projection",
    "q1_pricing_summary",
    "tpch_q5",
    "agg_percentiles",
    "agg_weighted_median",
    "agg_decile_report",
    "window_sessionize",
    "window_rolling_corr",
    "window_hurst_exponent",
    "join_spatial_grid_radius",
    "text_bigram_surprisal",
    "text_langid_ngram_profile",
    "text_textrank_keywords",
    "table_stats_profile_approx",
    "decontam_bloom_filter",
    "ann_ivfpq_topk",
    "embedding_geometric_median",
    "ml_kmeans_lloyd",
    "sample_facility_location",
    "graph_kcore",
    "graph_pagerank",
    "graph_hits_bipartite",
    "sql_recursive_hierarchy",
    "dedup_simhash",
]

# time_ops prints "<sf> <op>: best <s>"; older checkouts print "<op>: best <s>"
_RESULT = re.compile(r"^(?:\S+ )?(\S+): best ([0-9.]+)")


class Variant(NamedTuple):
    label: str
    checkout: str
    conf: str


def parse_variant(spec: str) -> Variant:
    label, _, rest = spec.partition(":")
    checkout, _, conf = rest.partition(":")
    return Variant(label, os.path.abspath(checkout) if checkout else REPO, conf)


def schedule(variants: list[Variant], reps: int) -> list[tuple[int, Variant]]:
    """(rep, variant) in run order: forward on even reps, reversed on
    odd ones, so each variant runs first as often as last."""
    return [
        (rep, v)
        for rep in range(reps)
        for v in (variants if rep % 2 == 0 else variants[::-1])
    ]


def parse_times(stdout: str) -> dict[str, float]:
    out = {}
    for ln in stdout.splitlines():
        if ln.startswith("cpu_calibration "):
            out["_cal"] = float(ln.split()[1])
        elif m := _RESULT.match(ln):
            out[m.group(1)] = float(m.group(2))
    return out


def run_once(v: Variant, ops: list[str]) -> dict[str, float]:
    p = subprocess.run(
        [sys.executable, os.path.join(v.checkout, "tools", "time_ops.py"), *ops],
        cwd=v.checkout,
        capture_output=True,
        text=True,
        env=dict(os.environ, SPARK_GRAFT_CONF=v.conf),
        timeout=1800,
    )
    doc = parse_times(p.stdout)
    if p.returncode or not all(k in doc for k in ["_cal", *ops]):
        raise RuntimeError(f"{v.label}: time_ops failed\n{p.stderr[-800:]}")
    return doc


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--ops", default=",".join(OPS), help="comma-separated op names")
    ap.add_argument("variants", nargs="+", type=parse_variant)
    args = ap.parse_args()
    if len(args.variants) < 2:
        ap.error("an A/B needs at least two variants")
    if len({v.label for v in args.variants}) < len(args.variants):
        ap.error("variant labels must be unique")
    ops = args.ops.split(",")

    results: dict[str, list[dict[str, float]]] = {v.label: [] for v in args.variants}
    for rep, v in schedule(args.variants, args.reps):
        try:
            doc = run_once(v, ops)
        except (RuntimeError, subprocess.TimeoutExpired) as exc:
            print(f"rep{rep} {v.label}: FAILED {exc}", flush=True)
            continue
        results[v.label].append(doc)
        total = sum(doc[op] for op in ops)
        print(f"rep{rep} {v.label}: cal {doc['_cal']:.3f} total {total:.1f}", flush=True)

    # per-op best across reps, per variant
    best = {
        label: {k: min(d[k] for d in docs) for k in ["_cal", *ops]}
        for label, docs in results.items()
        if docs
    }
    for b in best.values():
        b["_total"] = round(sum(b[op] for op in ops), 2)
    base = best.get(args.variants[0].label, {})
    print(f"\n{'op':34s} " + " ".join(f"{label:>14s}" for label in best))
    for key in [*ops, "_cal", "_total"]:
        row = f"{key:34s} "
        for label, b in best.items():
            mark = f"({b[key] / base[key]:.2f})" if b is not base and base.get(key) else ""
            row += f"{b[key]:7.2f}{mark:>7s} "
        print(row)


if __name__ == "__main__":
    main()
