"""sf1 mini-headline (r15 VERDICT #7): local timings that can SEE plan
work on the heavy paths.

At sf0.1 the entire benched set is job-scheduling-latency-bound on this
sandbox (every 8c/32c ratio ≈ 1, ~75-100 ms fixed cost per job), so the
driver's bench cannot resolve structural wins (r15: PPJoin 58→16 plan
nodes read as parity). This tool times the 6 heaviest generatable-table
paths at sf1 (10× sf0.1 rows, workbench_spark/sources/scalegen — the
same deterministic corpus the scale-smoke tier uses), min-of-2 with the
hash-of-struct action that forces full-column evaluation (count() lets
Catalyst prune the computation — the r13 scale-smoke lesson).

Deliberately a STANDALONE tool, not part of bench.py: the driver's bench
contract (one JSON line, headline min-of-2 at $SPARK_GRAFT_SF_DIR) stays
byte-identical, and the sf1 corpus generation (~minutes cold) never
lands in the driver's bench window. Results are committed per round
under plans/r<N>/SF1_MINIHEADLINE*.json next to the plan dumps they
adjudicate.

Usage:
    python tools/bench_sf1.py [--out plans/r16/SF1_MINIHEADLINE.json] \
        [--queries name1,name2] [--passes 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF1_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_DIR", os.path.join(_REPO, ".scale", "sf1")
)
WARM_DIR = "/root/testdata/sf0.001"

# The heavy generatable-table paths (r15 VERDICT #7's pick list): the
# iterative graph loops, both PPJoin variants, NB train+score, and the
# PQ KNN (codebook train + ADC scoring).
DEFAULT_QUERIES = [
    "dedup_leakage_safe_split",
    "dedup_jaccard_prefix_pairs",
    "dedup_containment_pairs",
    "text_nb_classifier",
    "graph_pagerank_authority",
    "knn_cosine_pq",
]


def _timed(fn, spark, sf_dir) -> tuple[float, int]:
    """Full-evaluation timing: (seconds, rows) for building ``fn``'s frame
    and hashing a struct of ALL its output columns. NOT .count(): for
    pure-projection entries (the span-surgery family) Catalyst prunes
    every unused column under count() and the timing measures only the
    scan (r13: text_dedup_spans "ran" 50k docs in 0.2s). The hash itself
    is ~ms at these output sizes."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))).alias("h"),
    ).first()
    return time.perf_counter() - t0, row["n"]


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


def parse_args(argv: list[str] | None = None) -> tuple[argparse.Namespace, list[str]]:
    """Parse the command line; returns the args and the query names to time.
    A pass count below 1 or a name missing from the registry is a usage
    error, reported before any Spark or corpus work starts."""
    from workbench_spark.queries import queries

    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--passes", type=_positive_int, default=2)
    ap.add_argument("--label", default=None, help="tag stored in the record")
    args = ap.parse_args(argv)
    names = (args.queries or ",".join(DEFAULT_QUERIES)).split(",")
    unknown = [n for n in names if n not in queries()]
    if unknown:
        ap.error(f"--queries: unknown registry name(s): {', '.join(unknown)}")
    return args, names


def main() -> None:
    args, names = parse_args()

    from workbench_spark.queries import queries
    from workbench_spark.session import get_spark
    from workbench_spark.sources.scalegen import generate

    spark = get_spark("bench-sf1")
    t0 = time.perf_counter()
    generate(spark, SF1_DIR, sf=1.0)  # no-op when already generated
    gen_s = round(time.perf_counter() - t0, 1)

    reg = queries()
    record: dict = {
        "sf": 1.0,
        "dir": SF1_DIR,
        "passes": args.passes,
        "generate_s": gen_s,
        "label": args.label,
        "queries": {},
    }
    for name in names:
        fn = reg[name]
        spark.sparkContext.setJobDescription(f"sf1:{name}:warm")
        fn(spark, WARM_DIR).count()  # codegen/JIT warm
        best, rows = None, None
        for p in range(args.passes):
            spark.sparkContext.setJobDescription(f"sf1:{name}:pass{p}")
            dt, n = _timed(fn, spark, SF1_DIR)
            print(f"# pass{p} {name}: {dt:.2f}s rows={n}", file=sys.stderr)
            best = dt if best is None else min(best, dt)
            rows = n
        record["queries"][name] = {"sec": round(best, 3), "rows": rows}
        spark.sparkContext.setJobDescription(None)
    line = json.dumps(record)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
