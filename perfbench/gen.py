"""Seeded input generator for the benchmark.

Every table is drawn from its own numpy stream keyed by (seed, table), so
the same seed gives byte-identical parquet files whatever the order of
generation, and a different seed gives different data with the same
shape. Schemas match the tables `graft.Tables` loads (TPC-H-like star
schema plus `events`, `documents` and `embeddings`); `sf` scales row
counts the way the sf0.001..sf0.1 test tables scale.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The test tables' 31 common words, plus rarer made-up words: with common
# words alone, unrelated documents share so many 3-word shingles that the
# dedup ladder's work depends on chance overlaps that vary with the seed.
VOCAB = ("a the data spark stream batch table column row key value join "
         "group sort hash scan filter merge window query agg part line "
         "order customer vector fast slow big small").split()
RARE = [a + b + c + d for a in "bdgkmprst" for b in "aeiou"
        for c in "lnrs" for d in "aeiou"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "large hot blue old small red green cold new shiny dark light thin".split()
PART_NOUN = "ring bolt plate anvil widget".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

DAY_NS = 86_400 * 10**9
EPOCH_1995 = np.datetime64("1995-01-01", "ns").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "ns").astype(np.int64)


def _rng(seed, name):
    return np.random.default_rng([seed, TABLES.index(name) + 1])


def _ts(ns):
    return pa.array(ns, type=pa.timestamp("ns"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _text(rng, n_words):
    common = rng.random(n_words) < 0.5
    return " ".join(VOCAB[rng.integers(0, len(VOCAB))] if c
                    else RARE[rng.integers(0, len(RARE))] for c in common)


def documents(seed, n):
    """Random texts with planted exact and near duplicates, so the dedup
    ladder finds clusters. Which documents are copies of which does not
    depend on the seed, only the words do: the number of rounds the
    clustering takes follows the duplicate structure, and a structure that
    changed with the seed made run times change with it."""
    rng, shape = _rng(seed, "documents"), _rng(0, "documents")
    texts, originals = [], []
    for i in range(n):
        r = shape.random()
        # copies are taken from original documents only, so every duplicate
        # cluster is a star
        if originals and r < 0.01:
            texts.append(originals[int(shape.integers(0, len(originals)))])
        elif originals and r < 0.05:
            words = originals[int(shape.integers(0, len(originals)))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(8, 100))))
            originals.append(texts[-1])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(seed, sf):
    """-> {name: pyarrow.Table} for every table at scale factor `sf`."""
    n = lambda base: max(1, int(round(base * sf)))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    rng, nc = _rng(seed, "customer"), n(150_000)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, nc), pa.string())})

    rng, ns = _rng(seed, "supplier"), n(10_000)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    rng, np_ = _rng(seed, "part"), n(200_000)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pa.array(_pick(rng, names, np_), pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, np_)], pa.string()),
        "p_type": pa.array(_pick(rng, PART_TYPES, np_), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})

    rng, no = _rng(seed, "orders"), n(1_500_000)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], no), pa.string()),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, no) * DAY_NS),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, no), pa.string())})

    rng, nl = _rng(seed, "lineitem"), n(6_000_000)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], nl), pa.string()),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, nl) * DAY_NS)})

    rng, ne = _rng(seed, "events"), n(1_000_000)
    micros = np.sort(rng.integers(0, 30 * 86_400 * 10**6, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(EPOCH_2024 + micros * 1000),
        "user_id": pa.array(rng.integers(0, max(1, n(15_000)), ne), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, ne), pa.string()),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string())})

    out["documents"] = documents(seed, n(50_000))

    rng, nv = _rng(seed, "embeddings"), n(20_000)
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (nv, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_tables(seed, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def digest(dir_path):
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(dir_path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, dir_path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def corpus(seed, out_dir, replicas, unique_per_line, files=8):
    """Plain-text WordCount corpus built the way `graft.ThroughputDemo`
    builds one: every line of `documents` is repeated `replicas` times,
    each copy followed by tokens unique to it, so the vocabulary grows
    with the corpus. -> number of tokens written."""
    os.makedirs(out_dir, exist_ok=True)
    docs = documents(seed, 5000)
    texts = docs.column("text").to_pylist()
    base_tokens = sum(len(t.split()) for t in texts)
    handles = [open(os.path.join(out_dir, f"part-{i:03d}.txt"), "w")
               for i in range(files)]
    try:
        for r in range(replicas):
            fh = handles[r % files]
            for d, t in enumerate(texts):
                extra = " ".join(f"tok{r}_{d}_{j}" for j in range(unique_per_line))
                fh.write(f"{t} {extra}\n")
    finally:
        for fh in handles:
            fh.close()
    return replicas * (base_tokens + len(texts) * unique_per_line)


def telemetry(seed, out_dir, files, rows_per_file, nodes=8):
    """Event-time-ordered backlog for the streaming workload, one JSON-lines
    file per trigger: `monitor/` holds monitor-log lines of `nodes` nodes
    (the reference collector's `[node-N] CPU: x% | MEM: y%` format plus
    `----` round delimiters), `docs/` holds arriving documents, some of
    them re-sent copies of a document of the previous file. A node goes
    idle now and then, so session windows close. Each directory ends with
    a far-future line that moves the watermark past every real window.
    One file spans 100 s of event time, so a copy is never more than
    200 s from its original."""
    rng = np.random.default_rng([seed, 101])
    t0 = np.datetime64("2024-01-01T00:00:00", "ms")
    step_ms = 100_000 // rows_per_file
    mon, docs = os.path.join(out_dir, "monitor"), os.path.join(out_dir, "docs")
    os.makedirs(mon, exist_ok=True)
    os.makedirs(docs, exist_ok=True)
    cpu_base = rng.uniform(10, 90, nodes)
    idle = np.zeros(nodes, dtype=bool)
    i = doc_id = 0
    recent = []
    for f in range(files):
        lines, dlines, fresh = [], [], []
        for _ in range(rows_per_file):
            ts = str(t0 + i * step_ms).replace("T", " ")
            node = i % nodes
            if rng.random() < 0.002:
                idle[node] = not idle[node]
            if node == 0 and rng.random() < 0.01:
                lines.append(f'{{"ts":"{ts}","line":"----"}}')
            if not idle[node]:
                cpu = min(100.0, max(0.0, cpu_base[node] + rng.normal(0, 8)))
                mem = int(rng.integers(20, 95))
                lines.append(f'{{"ts":"{ts}","line":"[node-{node}] CPU: {cpu:.1f}% | MEM: {mem}%"}}')
            if recent and rng.random() < 0.1:
                text = recent[int(rng.integers(0, len(recent)))]
            else:
                text = f"d{doc_id} " + _text(rng, int(rng.integers(5, 40)))
                fresh.append(text)
            dlines.append(f'{{"ts":"{ts}","doc_id":{doc_id},"text":"{text}"}}')
            doc_id += 1
            i += 1
        recent = fresh
        with open(os.path.join(mon, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        with open(os.path.join(docs, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(dlines) + "\n")
    end = '"ts":"2100-01-01 00:00:00"'
    with open(os.path.join(mon, f"part-{files:05d}.json"), "w") as fh:
        fh.write(f'{{{end},"line":"[node-end] CPU: 0.0% | MEM: 0%"}}\n')
    with open(os.path.join(docs, f"part-{files:05d}.json"), "w") as fh:
        fh.write(f'{{{end},"doc_id":-1,"text":"end"}}\n')
    # the file source takes files oldest first: pin the order to the names
    for d in (mon, docs):
        for k, name in enumerate(sorted(os.listdir(d))):
            os.utime(os.path.join(d, name), (1_700_000_000 + k, 1_700_000_000 + k))
    return files * rows_per_file
