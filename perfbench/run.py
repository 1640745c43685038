#!/usr/bin/env python3
"""graft's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It compiles graft and the harness from
source (once per source state), generates the workload's inputs from the
seed (once per seed), runs the harness in one JVM on `local[<cores>]`, checks
every result, and prints one row of metrics per workload followed by one
JSON line. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# Inputs per workload. Sizes keep one run, set-up included, to about a
# minute or less on 4 cores while leaving enough operations for stable
# medians.
WORKLOADS = {
    "curation": {"tables_sf": 0.02},
    "wordcount": {"replicas": 40, "unique_per_line": 2},
    "telemetry_stream": {"files": 6, "rows_per_file": 5000},
}
# a fixed, pre-touched heap, so the resident set does not depend on how far
# the heap happened to grow
HEAP = "2g"
# Queries whose DuckDB oracle finds connected components with recursive SQL
# and takes 15-70 s per seed at the curation scale; the harness checks them
# against the seed's expected hash but not against the oracle.
SLOW_ORACLES = {"g6_dedup_clusters", "g11_cluster_reps", "g17_cluster_sizes",
                "g25_dedup_recall", "g30_winnow_dedup_recall"}
JVM_TIMEOUT_S = 170
DISK_PROBE_MB = 64
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = []
    for d in dirs:
        if not os.path.isdir(d):
            die(f"no sources at {os.path.relpath(d, root)}: run from the repository root")
        for r, _, fs in os.walk(d):
            files += [os.path.join(r, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("SPARK_HOME must point at a Spark installation with a jars/ directory")
    return os.path.join(home, "jars", "*")


def build(root, state):
    """Compile graft's main sources and the harness into one class dir,
    keyed by a digest of every source file."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    out = os.path.join(state, "build", key)
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(classes)
        jars = spark_jars()
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", jars] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if r.returncode != 0:
            die("compile failed:\n" + r.stdout[-4000:])
        open(os.path.join(out, "ok"), "w").close()
    return key, classes


def inputs(state, workload, seed):
    """Generate (once) and describe the workload's inputs for this seed."""
    cfg = WORKLOADS[workload]
    d = os.path.join(state, "inputs", f"{workload}-{seed}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = {}
        if "tables_sf" in cfg:
            gen.write_tables(seed, cfg["tables_sf"], tmp)
        elif "replicas" in cfg:
            meta["tokens"] = gen.corpus(seed, os.path.join(tmp, "corpus"),
                                        cfg["replicas"], cfg["unique_per_line"])
        else:
            gen.telemetry(seed, tmp, cfg["files"], cfg["rows_per_file"])
        meta["digest"] = gen.digest(tmp)
        meta["bytes"] = sum(os.path.getsize(os.path.join(r, f))
                            for r, _, fs in os.walk(tmp) for f in fs)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(meta_path) as fh:
        return d, json.load(fh)


def disk_probe(state):
    """MB/s of a sequential read of a probe file whose pages were dropped
    from the page cache first, so it reads the disk and not memory."""
    path = os.path.join(state, "disk-probe.bin")
    if not os.path.exists(path) or os.path.getsize(path) != DISK_PROBE_MB << 20:
        with open(path, "wb") as fh:
            fh.write(os.urandom(DISK_PROBE_MB << 20))
            fh.flush()
            os.fsync(fh.fileno())
    fd = os.open(path, os.O_RDONLY)
    try:
        os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
        t0 = time.perf_counter()
        n = 0
        while True:
            b = os.read(fd, 4 << 20)
            if not b:
                break
            n += len(b)
        return n / 1048576.0 / (time.perf_counter() - t0)
    finally:
        os.close(fd)


def host_ticks():
    """(busy, stolen) CPU ticks of the machine, as the harness's Host reads
    them."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7] if len(f) > 7 else 0


def run_jvm(classes, workload, input_dir, work, seconds, trace, seed, expected,
            deadline):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}", "-Dspark.local.dir=" + os.path.join(work, "local"),
            "-cp", classes + os.pathsep + spark_jars(), "graft.perfbench.Harness",
            workload, input_dir, work, str(seconds), str(trace), str(seed),
            expected, out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        ticks = host_ticks()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness timed out; log in {os.path.join(work, 'jvm.log')}", 3)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        die(f"harness exited with {rc}:\n{tail}", 3)
    with open(out) as fh:
        raw = json.load(fh)
    # set-up is timed from JVM start, so its stolen share starts at launch
    raw["setup_stolen"] = metrics.stolen(ticks, raw["setup_ticks"])
    return raw


def cross_check(workload, input_dir, meta, raw, work):
    """First run of a seed: check results against DuckDB. -> errors."""
    import oracle
    errs = []
    if workload == "curation":
        sql = {q: s for q, s in raw.get("oracle_sql", {}).items()
               if q not in SLOW_ORACLES}
        res = oracle.check_queries(input_dir, os.path.join(work, "results"), sql)
        errs += [f"{q}: oracle: {e}" for q, e in sorted(res.items()) if e]
    elif workload == "wordcount":
        e = oracle.check_wordcount(os.path.join(input_dir, "corpus"),
                                   raw["wordcount_output"], meta["tokens"])
        if e:
            errs.append(f"wordcount: {e}")
    return errs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    state = os.path.join(root, ".perfbench")
    key, classes = build(root, state)
    deadline = time.time() + JVM_TIMEOUT_S
    input_dir, meta = inputs(state, a.workload, a.seed)
    exp_path = os.path.join(state, "expected", f"{key}-{a.workload}-{a.seed}.json")
    last_path = os.path.join(state, "last", f"{key}-{a.workload}-{a.seed}.json")
    first = not os.path.exists(exp_path)

    def one(trace):
        work = os.path.join(state, "runs", f"{a.workload}-{a.seed}-t{trace}")
        raw = run_jvm(classes, a.workload, input_dir, work, a.seconds, trace,
                      a.seed, exp_path, deadline)
        return raw, work

    # tracing overhead is measured against an untraced run of the same
    # build and seed, made now if there is none yet
    untraced = None
    if a.trace and os.path.exists(last_path):
        with open(last_path) as fh:
            untraced = json.load(fh)["wall_s"]
    elif a.trace:
        untraced = metrics.end_to_end(one(0)[0])["wall_s"]
    raw, work = one(a.trace)
    raw["witness"]["disk_read_mb_per_s"] = disk_probe(state)
    errors = list(raw["errors"])
    checks = 0
    if first and a.workload != "telemetry_stream":
        checks = 1
        t0 = time.time()
        errors += cross_check(a.workload, input_dir, meta, raw, work)
        print(f"  cross-checked against DuckDB in {time.time() - t0:.1f} s")
        if not errors:
            os.makedirs(os.path.dirname(exp_path), exist_ok=True)
            with open(exp_path, "w") as fh:
                json.dump(raw["hashes"], fh, indent=0, sort_keys=True)
    e2e = metrics.end_to_end(raw)
    attempted = raw["attempted"] + checks
    failed = min(attempted, len(errors))
    if not a.trace:
        os.makedirs(os.path.dirname(last_path), exist_ok=True)
        with open(last_path, "w") as fh:
            json.dump({"wall_s": e2e["wall_s"]}, fh)

    row = metrics.report_row(a.workload, raw, e2e, meta["bytes"], failed / attempted)
    print(f"{a.workload:<17} " + "  ".join(
        f"{k}={v:.4g} {u}" if isinstance(v, float) else f"{k}={v} {u}" for k, v, u in row))
    print(f"  seed={a.seed} cores={raw['cores']} input_mb={meta['bytes'] / 1048576.0:.1f} "
          f"input_digest={meta['digest'][:12]} trace={a.trace}")
    print("  as measured " + "  ".join(
        f"{k}={v:.4g}" for k, v in metrics.end_to_end(raw, less_stolen=False).items()
        if k in metrics.TIMINGS) + f"  stolen={statistics.median(raw['passes_stolen']):.3g}")
    print("  witness " + "  ".join(f"{k}={v:.4g}" for k, v in raw["witness"].items()
                                   if k != "probe_sum"))
    for e in errors:
        print(f"  ERROR {e}")
    if a.trace:
        layer = metrics.per_layer(raw, e2e["wall_s"])
        layer["trace.overhead_s"] = e2e["wall_s"] - untraced
        spans_path = os.path.join(work, "spans.json")
        with open(spans_path, "w") as fh:
            json.dump(raw["spans"], fh)
        print(f"  spans={os.path.relpath(spans_path, root)} "
              f"trace.overhead_s={layer['trace.overhead_s']:.4g}")
        out = {k: {"value": v, "unit": metrics.LAYER_UNITS[k]} for k, v in layer.items()}
    else:
        out = {k: {"value": v, "unit": metrics.E2E_UNITS[k]} for k, v in e2e.items()}
    print(f"  elapsed_s={time.time() - started:.1f}")
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
