"""Growth-exponent evidence for the quadratic-risk family (VERDICT r14 #2).

The SF1 snapshot answers "is it fast at 10x?" but not the 100 TB question:
WHAT POWER of the data does each operator's runtime follow? This probe
measures the ENGINE side only (the DuckDB ground-truth oracles for these
keys are deliberately brute-force-quadratic replays and are not the claim
under test) at three scale points:

    sf0.1  /root/testdata/sf0.1          (base fixture)
    sf1    /tmp/xps_sf1r                 (10x decimate tiling)
    sf3    /tmp/xps_sf3                  (30x decimate tiling,
                                          documents+embeddings only —
                                          the risk keys read nothing else)

and fits per-segment exponents  e = log(t_hi/t_lo) / log(sf_hi/sf_lo).
The decimate transform is used for ALL tiled points so the corpus's
near-dup rate stays the base fixture's (one family per planted dup
group) as volume grows — the realistic 100 TB shape; the rotate corpus
would plant t-1 twins per doc and measure the adversarial blowup, not
the growth law. Keys with e >= 1.5 on the top segment are flagged for a
plan review (the r14 ask). Expected shapes, from the operators' own
scale-note docstrings: the banded-LSH / blocked-pair dedups are
~linearithmic in docs at fixed dup rate (pair generation is per-bucket,
buckets stay O(1) sized); E-KNN-IVF and q_emb_knn_graph grow ~n^1.5
by the sqrt-N probe-list growth law — sub-quadratic but super-linear,
documented, and the reason the IVF path exists instead of brute force.

Usage: python tools/scaling_probe.py [--runs 2] [--out SCALING.json]
       [keys ...]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xml_processor_spark.registry import get_queries  # noqa: E402
from xml_processor_spark.session import build_session  # noqa: E402

RISK_KEYS = [
    "q_dedup_containment",
    "q_dedup_ngram_jaccard",
    "q_dedup_degree",
    "q_dedup_incremental",
    "E-EMB-LSH-HI",
    "E-KNN-IVF",
    "q_emb_knn_graph",
]

POINTS = [
    ("sf0.1", 0.1, "/root/testdata/sf0.1"),
    ("sf1", 1.0, "/tmp/xps_sf1r"),
    # XPS_SF3_DIR overrides for keys that read beyond documents+embeddings
    # (r16: the events/text-join/basket families sweep against a FULL
    # 30x tiling at /tmp/xps_sf3full — same decimate transform).
    ("sf3", 3.0, os.environ.get("XPS_SF3_DIR", "/tmp/xps_sf3")),
]


def _min_of(fn, runs: int) -> float:
    fn()  # warmup (codegen compile + shuffle file cache)
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="SCALING.json")
    ap.add_argument("keys", nargs="*", default=None)
    args = ap.parse_args()
    keys = args.keys or RISK_KEYS

    for _, _, d in POINTS:
        if not os.path.isdir(d):
            sys.exit(f"fixture missing: {d} (tools/make_sf1.py)")

    queries = get_queries()
    spark = build_session("scaling_probe")
    spark.sparkContext.setLogLevel("ERROR")

    # Session pre-warm at the SMALLEST point (an r15 lesson: the
    # first key in a fresh JVM pays codegen + C2 compile; at sf0.1 that
    # inflates a ~1 s measurement by up to 2x and poisons the exponent's
    # low anchor far more than the multi-second high anchors).
    for key in keys:
        queries[key](spark, POINTS[0][2]).toPandas()

    out: dict[str, dict] = {}
    for key in keys:
        times: dict[str, float] = {}
        for name, _, sf_dir in POINTS:
            times[name] = _min_of(
                lambda: queries[key](spark, sf_dir).toPandas(), args.runs
            )
        exps = {}
        for (n1, s1, _), (n2, s2, _) in zip(POINTS, POINTS[1:]):
            exps[f"exp_{n1}_{n2}"] = round(
                math.log(times[n2] / times[n1]) / math.log(s2 / s1), 2
            )
        top = exps[f"exp_{POINTS[-2][0]}_{POINTS[-1][0]}"]
        out[key] = {
            **{f"t_{n}": times[n] for n, _, _ in POINTS},
            **exps,
            "flag_ge_1.5": bool(top >= 1.5),
        }
        print(f"{key}: " + " ".join(f"{n}={times[n]}s" for n, _, _ in POINTS)
              + f" exps={exps}"
              + (" ** FLAGGED **" if out[key]["flag_ge_1.5"] else ""),
              flush=True)
        with open(args.out, "w") as f:
            json.dump(
                {
                    "protocol": "engine-only growth law (VERDICT r14 #2): "
                    f"1 warmup + min-of-{args.runs} per point after a "
                    "session-wide sf0.1 pre-warm; decimate tiling at every "
                    "tiled point (constant near-dup rate — the realistic "
                    "volume-growth shape; sf3 fixture is documents+"
                    "embeddings only, all these keys read nothing else); "
                    "exponent = log(t_hi/t_lo)/log(sf_hi/sf_lo); the low "
                    "anchor carries the ~0.3-0.9 s per-query Spark floor, "
                    "so sub-linear exp_sf0.1_sf1 values understate growth "
                    "and the sf1->sf3 segment is the honest slope",
                    "points": {n: d for n, _, d in POINTS},
                    "keys": out,
                },
                f,
                indent=1,
            )
    print(f"wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
