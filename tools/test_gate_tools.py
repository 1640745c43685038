#!/usr/bin/env python3
"""Exercise the gate-tooling failure modes (VERDICT r18 item 3): each
abort path of tighten_sf10.py must fire BEFORE BENCH_BASELINE.json is
written, and settled_tier.py must refuse a bare --refresh when more
than one settled entry is stale. Runs against throwaway copies in a
temp dir (both tools resolve the baseline relative to their own file,
so copying the script into <tmp>/tools sandboxes the write target).

Usage: test_gate_tools.py    (exit 0 = all scenarios behave)
"""
import json, os, shutil, subprocess, sys, tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def sandbox(tmp, baseline):
    os.makedirs(os.path.join(tmp, "tools"), exist_ok=True)
    for t in ("tighten_sf10.py", "settled_tier.py"):
        shutil.copy(os.path.join(HERE, t), os.path.join(tmp, "tools", t))
    with open(os.path.join(tmp, "BENCH_BASELINE.json"), "w") as f:
        json.dump(baseline, f)


def art(tmp, name, queries, errors=()):
    p = os.path.join(tmp, name)
    with open(p, "w") as f:
        json.dump({"metric": "total", "sf": "/tmp/sf10",
                   "queries": queries, "errors": list(errors)}, f)
    return p


def run(tmp, tool, *args):
    r = subprocess.run([sys.executable, os.path.join(tmp, "tools", tool),
                        *args], capture_output=True, text=True)
    return r.returncode, r.stdout + r.stderr


def run_stdout(tmp, tool, *args):
    r = subprocess.run([sys.executable, os.path.join(tmp, "tools", tool),
                        *args], capture_output=True, text=True)
    return r.returncode, r.stdout


def baseline_of(tmp):
    return json.load(open(os.path.join(tmp, "BENCH_BASELINE.json")))


fails = []


def check(label, cond, detail=""):
    print(f"[{'ok' if cond else 'FAIL'}] {label}" + ("" if cond else f" — {detail}"))
    if not cond:
        fails.append(label)


BASE = {"queries_sf10": {"qa": 10.0, "qb": 20.0},
        "tolerance_overrides_sf10": {"qb": 2.0}}

# 1. all-errored query aborts, baseline untouched
with tempfile.TemporaryDirectory() as tmp:
    sandbox(tmp, BASE)
    a = art(tmp, "p1.json", {"qa": 11.0, "qb": 99.0}, errors=["qb"])
    b = art(tmp, "p2.json", {"qa": 10.5, "qb": 98.0}, errors=["qb"])
    rc, out = run(tmp, "tighten_sf10.py", a, b)
    check("all-errored aborts", rc != 0 and "qb" in out, out[-200:])
    check("all-errored leaves baseline", baseline_of(tmp) == BASE)

# 2. coverage shrink (artifact missing qb entirely) aborts, untouched
with tempfile.TemporaryDirectory() as tmp:
    sandbox(tmp, BASE)
    a = art(tmp, "p1.json", {"qa": 11.0})
    b = art(tmp, "p2.json", {"qa": 10.5})
    rc, out = run(tmp, "tighten_sf10.py", a, b)
    check("coverage-shrink aborts", rc != 0 and "shrink" in out, out[-200:])
    check("coverage-shrink leaves baseline", baseline_of(tmp) == BASE)
    rc, out = run(tmp, "tighten_sf10.py", "--allow-shrink", a, b)
    check("--allow-shrink records", rc == 0
          and baseline_of(tmp)["queries_sf10"] == {"qa": 10.5}, out[-200:])

# 3. pass spread > 2.5x aborts BEFORE writing
with tempfile.TemporaryDirectory() as tmp:
    sandbox(tmp, BASE)
    a = art(tmp, "p1.json", {"qa": 10.0, "qb": 20.0})
    b = art(tmp, "p2.json", {"qa": 30.0, "qb": 21.0})
    rc, out = run(tmp, "tighten_sf10.py", a, b)
    check("too-wide aborts", rc != 0 and "SPREAD" in out, out[-200:])
    check("too-wide leaves baseline", baseline_of(tmp) == BASE)

# 4. bare --refresh refused when >1 settled entry is stale; named ones
#    refresh only themselves
SETTLED = {"queries_sf10": {},
           "settled_sf10": {
               "s1": {"fingerprints": {"s1": "old1"}},
               "s2": {"fingerprints": {"s2": "old2"}}}}
with tempfile.TemporaryDirectory() as tmp:
    sandbox(tmp, SETTLED)
    with open(os.path.join(tmp, "PLAN_FINGERPRINTS.json"), "w") as f:
        json.dump({"s1": "new1", "s2": "new2"}, f)
    rc, out = run_stdout(tmp, "settled_tier.py")
    check("stale listing", rc == 0 and out.strip() == "s1,s2", out[-200:])
    rc, out = run(tmp, "settled_tier.py", "--refresh")
    check("bare --refresh refused with 2 stale", rc != 0 and "refused" in out,
          out[-200:])
    check("refusal leaves baseline", baseline_of(tmp) == SETTLED)
    rc, out = run(tmp, "settled_tier.py", "--refresh", "s1")
    got = baseline_of(tmp)["settled_sf10"]
    check("named --refresh touches only s1", rc == 0
          and got["s1"]["fingerprints"] == {"s1": "new1"}
          and got["s2"]["fingerprints"] == {"s2": "old2"}, out[-200:])
    rc, out = run(tmp, "settled_tier.py", "--refresh")
    got = baseline_of(tmp)["settled_sf10"]
    check("bare --refresh ok with 1 stale", rc == 0
          and got["s2"]["fingerprints"] == {"s2": "new2"}, out[-200:])
    rc, out = run(tmp, "settled_tier.py", "--refresh", "nope")
    check("unknown name rejected", rc != 0 and "nope" in out, out[-200:])

# 5. bench-artifact parsing (VERDICT r19 items 3/7): the r20
#    shared_build_sec decomposition must be consumed by the drift gate
#    (query component = time − build), and the driver-recorded compact
#    line (the tail PERF re-parses) must stay regex-parseable with the
#    additive shared_build_total_sec key excluded from query names.
import importlib.util
spec = importlib.util.spec_from_file_location(
    "checkmod", os.path.join(HERE, "check.py"))
checkmod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(checkmod)
with tempfile.TemporaryDirectory() as tmp:
    full = os.path.join(tmp, "full.json")
    with open(full, "w") as f:
        json.dump({"metric": "total", "value": 5.0,
                   "queries": {"qa": 3.0, "qb": 2.0},
                   "shared_build_sec": {"qa": 2.1},
                   "shared_build_total_sec": 2.1,
                   "sentinel_sec": 7.5}, f)
    times, sent = checkmod._bench_times(full)
    check("full artifact subtracts shared build",
          abs(times["qa"] - 0.9) < 1e-9 and times["qb"] == 2.0
          and sent == 7.5, str(times))
    tail_line = ('{"metric":"total","value":5.0,"unit":"sec",'
                 '"n_queries":2,"n_errors":0,"errors":[],'
                 '"cpu_probe_sec":0.8,"shared_build_total_sec":2.1,'
                 '"queries":{"qa":3.0,"qb":2.0},'
                 '"runs_per_query":2,"sf":"/tmp/sfX"}')
    wrapper = os.path.join(tmp, "driver.json")
    with open(wrapper, "w") as f:
        json.dump({"n": 20, "rc": 0, "tail": tail_line}, f)
    times, sent = checkmod._bench_times(wrapper)
    check("driver-tail reparse ignores additive keys",
          times == {"qa": 3.0, "qb": 2.0} and sent is None, str(times))

# 6. oracle compare: `-j N` runs the oracles in N worker processes with
#    the same verdicts as a serial run, and every result line carries the
#    oracle's seconds
import re
import pandas as pd
with tempfile.TemporaryDirectory() as tmp:
    sf_dir, out_dir = os.path.join(tmp, "sf"), os.path.join(tmp, "out")
    os.makedirs(sf_dir)
    pd.DataFrame({"doc_id": [1, 2, 3], "lang": ["en", "en", "fr"]}).to_parquet(
        os.path.join(sf_dir, "documents.parquet"))
    oracles = {
        "qa_ok": "SELECT lang, count(*) AS n FROM documents GROUP BY lang",
        "qb_wrong": "SELECT max(doc_id) AS m FROM documents",
        "qc_ok": "SELECT doc_id FROM documents WHERE lang = 'en'",
        "qd_missing": "SELECT 1 AS x"}
    spark = {"qa_ok": pd.DataFrame({"lang": ["fr", "en"], "n": [1, 2]}),
             "qb_wrong": pd.DataFrame({"m": [2]}),
             "qc_ok": pd.DataFrame({"doc_id": [2, 1]})}
    os.makedirs(out_dir)
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    for name, df in spark.items():
        os.makedirs(os.path.join(out_dir, name))
        df.to_parquet(os.path.join(out_dir, name, "part-0.parquet"))
    def verdicts(*flags):
        r = subprocess.run([sys.executable, os.path.join(HERE, "check.py"),
                            *flags, sf_dir, out_dir], capture_output=True, text=True)
        lines = [l for l in r.stdout.splitlines() if l.startswith("[")]
        return r.returncode, lines, r.stdout + r.stderr
    rc1, serial, out1 = verdicts()
    rc2, par, out2 = verdicts("-j", "2")
    strip = lambda ls: sorted(re.sub(r"[ (]*[0-9.]+ s\)$", "", l) for l in ls)
    check("check.py serial verdicts", rc1 == 1 and len(serial) == 4
          and sum(l.startswith("[ ok ]") for l in serial) == 2
          and "2 ok, 2 fail" in out1, out1[-400:])
    check("check.py -j 2 gives the serial verdicts", rc2 == 1
          and strip(par) == strip(serial) and "2 ok, 2 fail" in out2, out2[-400:])
    check("check.py prints each oracle's seconds",
          all(re.search(r"[0-9]+\.[0-9]{2} s\)$", l) for l in serial + par
              if "no spark output" not in l), "\n".join(serial + par))

print(f"\n{'ALL OK' if not fails else 'FAILURES: ' + str(fails)}")
sys.exit(1 if fails else 0)
