#!/usr/bin/env python3
"""Local correctness check mimicking the driver's DuckDB oracle compare.

Usage:
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
  python3 tools/check.py [-j N] /root/testdata/sf0.01 /tmp/verify_out [query ...]

For each query in oracle_sql.json: registers every testdata table as a
DuckDB view, runs the oracle SQL, loads the Spark parquet result, sorts
columns by name (like the driver), then compares row/schema/values.
Each result line ends with the oracle's seconds. `-j N` runs the
oracles in N worker processes, each with its own DuckDB connection, so
one slow oracle (g31's takes minutes at sf0.01) overlaps the others;
lines then print in completion order.

Performance-drift mode:
  python3 tools/check.py --drift [--scale sf1] <bench.json> [more ...]

Compares a bench result (the one-line JSON graft.Bench prints, or a
driver-recorded BENCH_r{N}.json whose truncated "tail" it re-parses)
against the committed steady-state baseline BENCH_BASELINE.json. A
query flags when time > 1.5*steady + 0.3s — calibrated on BENCH_r07,
where it flags exactly the one known anomaly (t6, adjudicated as
harness noise; see BENCH_BASELINE.json notes). Exit 1 on any flag, so
a silent perf regression fails the same gate a wrong answer does.

At sf10 the gate is I/O-sentinel-normalized: each artifact's band
scales by clamp(sentinel_sec / BENCH_BASELINE sentinel_sf10.sec, 1,
10), weighted per query by its recorded I/O sensitivity
(io_frac_sf10, tools/io_frac.py — a pure-CPU query keeps its absolute
band in any disk regime). Pre-r18 artifacts lack sentinel_sec; inject
one (seconds for the pinned lineitem read, e.g. from a dd probe) with
`--sentinel X`. Cross-regime validation: tools/validate_sentinel.py.

`--scale sf1` gates against the `queries_sf1` baseline (two-pass
steadies of the organic-10x sweep over /tmp/sf1, gen_sf1.py) instead
of the default sf0.1 `queries`. The sf0.1 gate cannot see scale
regressions — a plan that goes quadratic in cardinality looks flat at
sf0.1 — so scale-sensitive changes must pass BOTH gates (VERDICT r12
item 1). Same drift rule at both scales; sf1 additionally tolerates
the documented output-bound super-linear families (the baseline values
already embed their F^2/F^3 pair mass, so the 1.5x rule transfers).
"""
import sys, os, json, glob, time
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def compare(name, spark_df, oracle_df):
    a, b = norm(spark_df), norm(oracle_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA mismatch: spark={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS mismatch: spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        # The driver's hash compare rejects int64-vs-float64 even when the
        # numbers agree (r2: a2_sessionize et al.), but tolerates integer
        # width differences (r2: int32-vs-int64 columns all hashed equal).
        # Mirror that: fail only on an integer-vs-floating kind mismatch.
        a_int = np.issubdtype(a[c].dtype, np.integer)
        b_int = np.issubdtype(b[c].dtype, np.integer)
        a_flt = np.issubdtype(a[c].dtype, np.floating)
        b_flt = np.issubdtype(b[c].dtype, np.floating)
        if (a_int and b_flt) or (a_flt and b_int):
            return (f"DTYPE mismatch col={c}: spark={a[c].dtype} oracle={b[c].dtype} "
                    f"(driver hash compare would fail; CAST the oracle side)")
        if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(b[c].dtype, np.floating):
            af = av.astype(float); bf = bv.astype(float)
            ok = (af == bf) | (np.isnan(af) & np.isnan(bf))
            if not ok.all():
                i = int(np.argmin(ok))
                d = np.nanmax(np.abs(af - bf))
                return f"VALUE mismatch col={c} row={i}: spark={av[i]!r} oracle={bv[i]!r} maxdiff={d}"
        else:
            eq = pd.Series(av).astype(str).eq(pd.Series(bv).astype(str))
            if not eq.all():
                i = int(eq.idxmin())
                return f"VALUE mismatch col={c} row={i}: spark={av[i]!r} oracle={bv[i]!r}"
    return None

def _bench_times(bench_path):
    """-> (per-query times, sentinel_sec or None).

    r20: artifacts carrying a `shared_build_sec` map (Bench decomposes
    first-payer rows into build + query; VERDICT r19 item 3) are gated
    on the QUERY component (time − build): which query alphabetically
    happens to pay a session-shared build first is attribution, not a
    regression, and it produced every drift false-lead since r18 (e5/
    t16, q44). Totals and the `queries` map itself keep the historical
    all-in meaning."""
    import re
    raw = json.load(open(bench_path))
    if "queries" in raw and isinstance(raw["queries"], dict):
        builds = raw.get("shared_build_sec") or {}
        times = {q: t - builds.get(q, 0.0) for q, t in raw["queries"].items()}
        return times, raw.get("sentinel_sec")
    # driver-recorded wrapper: re-parse the (possibly truncated) tail
    meta = {"value", "runs_per_query", "sf", "n", "rc", "cpus",
            "sentinel_sec", "sentinel_mbps", "sentinel_bytes",
            "cpu_probe_sec", "n_queries", "n_errors",
            "shared_build_total_sec"}
    tail = raw.get("tail", "")
    sent = re.search(r'"sentinel_sec":([0-9.]+)', tail)
    return ({m.group(1): float(m.group(2)) for m in
             re.finditer(r'"([a-z0-9_]+)":([0-9.]+)', tail)
             if m.group(1) not in meta},
            float(sent.group(1)) if sent else None)


def drift(bench_paths):
    """Flag perf drift vs BENCH_BASELINE.json.

    With ONE bench file, a flag is a LEAD, not a verdict: a single GC
    pause on the shared local[32] JVM adds ~1s to whichever tiny query
    it lands on (observed round 8: q3-q7 once, q9 once — never the same
    query twice, never reproduced by ProfileQuery). With SEVERAL bench
    files, a query flags only if it drifts in EVERY file — a real
    regression reproduces, noise lands somewhere else next run.
    """
    key = "queries"
    # --scale may appear anywhere in the arg tail (before or between bench
    # paths); consuming it positionally silently treated the flag as a
    # bench filename and died on an unrelated open() error.
    if "--scale" in bench_paths:
        i = bench_paths.index("--scale")
        if i + 1 >= len(bench_paths):
            print("[FAIL] --scale requires a value (e.g. --scale sf1)")
            sys.exit(2)
        scale = bench_paths[i + 1]
        bench_paths = bench_paths[:i] + bench_paths[i + 2:]
        key = "queries" if scale in ("sf0.1", "default") else f"queries_{scale}"
    # --sentinel X: inject an I/O-sentinel value (seconds for the pinned
    # lineitem read) for artifacts that predate the in-JVM sentinel
    # (pre-r18) — e.g. derived from a dd probe of the same file.
    sentinel_override = None
    if "--sentinel" in bench_paths:
        i = bench_paths.index("--sentinel")
        sentinel_override = float(bench_paths[i + 1])
        bench_paths = bench_paths[:i] + bench_paths[i + 2:]
    base = json.load(open(os.path.join(os.path.dirname(__file__), "..",
                                       "BENCH_BASELINE.json")))
    steady = base.get(key)
    if steady is None:
        print(f"[FAIL] BENCH_BASELINE.json has no '{key}' baseline — "
              f"record one (two separated passes, min) before gating")
        sys.exit(2)
    # per-query multiplier overrides for queries with MEASURED same-code
    # variance beyond the default 1.5x (see BENCH_BASELINE.json notes —
    # each override must cite its evidence there)
    # Scale-specific overrides first (e.g. tolerance_overrides_sf1 for
    # the clique-pair queries whose sf1 times swing >1.5x same-code
    # under TaskMemoryManager spill pressure), then the shared map.
    tol = dict(base.get("tolerance_overrides", {}))
    if key != "queries":
        tol.update(base.get(f"tolerance_overrides_{key[len('queries_'):]}", {}))
    parsed = [_bench_times(p) for p in bench_paths]
    runs = [t for t, _ in parsed]
    sents = [s if s is not None else sentinel_override for _, s in parsed]
    # I/O-regime normalization (VERDICT r17 item 2) — sf10 only, where
    # the workload is disk-bound and this box's cold-parquet throughput
    # swings 1.1-2.7x between rounds (r16->r17: UNIFORM slowdown on
    # plan-unchanged queries at ~102 MB/s, same HEAD faster at sf0.1).
    # Each artifact's limit scales by its sentinel_sec / the sentinel
    # recorded with the steadies, clamped to [1, 10]: a slower disk
    # widens the band proportionally, a faster disk never tightens it
    # below the recorded steady (CPU-bound queries don't speed up with
    # the disk). Validation: tools/validate_sentinel.py replays the
    # r16->r17 regime flip — 10 absolute false flags, 0 normalized.
    norms = [1.0] * len(runs)
    base_sent = (base.get(f"sentinel_{key[len('queries_'):]}") or {}
                 ).get("sec") if key == "queries_sf10" else None
    # Per-query I/O sensitivity (ADVICE r18): the artifact-level sentinel
    # ratio measures only bytes/sec, but disk and CPU regimes swing
    # independently on this box — scaling EVERY query's band by the disk
    # ratio lets a compute regression on a CPU-bound query hide under a
    # slow-disk round's widened band. `io_frac_sf10` (recorded by
    # tools/io_frac.py from the r16->r17 disk-regime flip) weights each
    # query's norm: norm_q = 1 + frac*(norm-1), so a pure-CPU query
    # (frac 0) keeps its absolute band in any disk regime while a
    # scan-dominated one (frac 1) gets the full rescale. Queries without
    # a recorded fraction default to 1.0 — the pre-r19 behavior.
    io_frac = base.get("io_frac_sf10", {}).get("fractions", {}) \
        if key == "queries_sf10" else {}
    if base_sent:
        for i, s in enumerate(sents):
            if s is None:
                print(f"[warn] {bench_paths[i]}: no sentinel_sec (pre-r18 "
                      f"artifact?) — absolute gate for this artifact; pass "
                      f"--sentinel <sec> to normalize")
            else:
                norms[i] = min(10.0, max(1.0, s / base_sent))
        shown = ", ".join(f"{os.path.basename(p)}={n:.2f}"
                          for p, n in zip(bench_paths, norms) if n != 1.0)
        if shown:
            print(f"[regime] sentinel norm vs baseline {base_sent:.1f}s: {shown}")
    common = set(runs[0])
    for r in runs[1:]:
        common &= set(r)
    flags, unknown = [], []
    for q in sorted(common):
        if q not in steady:
            unknown.append(q)
            continue
        qnorms = [1.0 + io_frac.get(q, 1.0) * (n - 1.0) for n in norms]
        limits = [tol.get(q, 1.5) * steady[q] * n + 0.3 for n in qnorms]
        ts = [r[q] for r in runs]
        if all(t > lim for t, lim in zip(ts, limits)):
            flags.append((q, max(ts), steady[q], max(limits)))
    for q, t, s, lim in flags:
        print(f"[DRIFT] {q}: {t:.2f}s vs steady {s:.2f}s (limit {lim:.2f}s)"
              + (f" in all {len(runs)} runs" if len(runs) > 1 else ""))
    if unknown:
        print(f"[warn] no baseline for: {unknown} — re-run the ProfileQuery "
              f"sweep and refresh BENCH_BASELINE.json")
    note = "" if len(runs) > 1 else \
        " (single run: confirm any flag with a second bench or ProfileQuery)"
    print(f"\n{len(common)} compared, {len(flags)} drift flag(s){note}")
    sys.exit(1 if flags else 0)

def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con

def check_one(con, out_dir, name, sql):
    """-> (ok, result line) for one query; the line carries the oracle's
    seconds."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return False, f"[FAIL] {name}: no spark output"
    try:
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        t0 = time.monotonic()
        oracle_df = con.execute(sql).df()
    except Exception as e:
        return False, f"[FAIL] {name}: {e}"
    secs = time.monotonic() - t0
    err = compare(name, spark_df, oracle_df)
    if err:
        return False, f"[FAIL] {name}: {err} ({secs:.2f} s)"
    return True, f"[ ok ] {name} ({len(spark_df)} rows, {secs:.2f} s)"

_worker_con = None

def _worker_init(sf_dir):
    global _worker_con
    _worker_con = connect(sf_dir)

def _worker_check(job):
    return check_one(_worker_con, *job)

def main():
    if sys.argv[1] == "--drift":
        drift(sys.argv[2:])
        return
    args = sys.argv[1:]
    jobs = 1
    if "-j" in args:
        i = args.index("-j")
        jobs = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    sf_dir, out_dir = args[0], args[1]
    only = set(args[2:])
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    unknown = only - set(oracle)
    if unknown:
        print(f"[FAIL] unknown query name(s): {sorted(unknown)}")
        sys.exit(1)
    todo = [(out_dir, name, sql) for name, sql in sorted(oracle.items())
            if not only or name in only]
    if jobs > 1:
        import multiprocessing
        pool = multiprocessing.Pool(jobs, _worker_init, (sf_dir,))
        results = pool.imap_unordered(_worker_check, todo)
    else:
        con = connect(sf_dir)
        results = (check_one(con, *job) for job in todo)
    n_ok = n_bad = 0
    for ok, line in results:
        print(line, flush=True)
        n_ok += ok
        n_bad += not ok
    if jobs > 1:
        pool.close()
        pool.join()
    print(f"\n{n_ok} ok, {n_bad} fail")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
