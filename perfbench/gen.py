"""Deterministic inputs for the benchmark.

Two kinds of input are made here, both from integer seeds only:

* ``write_tables`` writes the TPC-H-ish parquet tables the program reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) at a scale factor ``sf``.  Shapes, value sets and
  row counts follow the program's test data: sf 0.01 gives a graph of
  18,630 nodes and about 128k relationships through
  ``GraphBuilder.fromTables``.  The table data uses a fixed data seed, so
  answers recorded from one build stay valid for the next.
* ``job_stream`` builds the serving workload's requests from the
  workload seed: the read mix, Zipf-skewed customer parameters and the
  net-zero write cycles; ``expected_answers`` gives each its answer.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS_A = ["small", "hot", "red", "blue", "large", "old", "cold", "new"]
PART_WORDS_B = ["widget", "gear", "plate", "bolt", "ring", "rod", "gizmo", "anvil"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def tables_counts(sf):
    return {
        "customer": int(round(150000 * sf)),
        "supplier": max(10, int(round(10000 * sf))),
        "part": int(round(200000 * sf)),
        "orders": int(round(1500000 * sf)),
        "lineitem": int(round(6000000 * sf)),
        "events": int(round(1000000 * sf)),
        "documents": max(500, int(round(50000 * sf))),
        "embeddings": max(500, int(round(20000 * sf))),
    }


def _ts_us(base, offsets_s):
    return pa.array((base + offsets_s * 1_000_000).astype("int64"),
                    type=pa.timestamp("us"))


def tables(sf, seed=DATA_SEED):
    """Return {name: pyarrow.Table} for scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = tables_counts(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_WORDS_A, npart), rng.choice(PART_WORDS_B, npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 1))})
    no = n["orders"]
    day = 86400
    base_1995 = 788918400 * 1_000_000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUSES, no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": _ts_us(base_1995, rng.integers(0, 2404, no) * day),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no))})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts_us(base_1995, rng.integers(1, 2500, nl) * day)})
    ne = n["events"]
    base_2024 = 1704067200 * 1_000_000
    ts = np.sort(rng.integers(0, 30 * day * 1_000_000, ne)) + base_2024
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, ne // 66), ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50, ne), 2) + 0.01),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)])})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i % 20 == 19:
            # near-duplicate of an earlier document, so dedup and
            # near-dup operators have something to find
            texts.append(texts[i - 7] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centres = rng.normal(0, 1, (10, 64))
    vecs = centres[labels] + rng.normal(0, 0.6, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_tables(sf, out_dir, seed=DATA_SEED):
    """Write every table as ``<out_dir>/<name>.parquet`` (atomic per dir)."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    if os.path.exists(out_dir):
        import shutil
        shutil.rmtree(out_dir)
    os.rename(tmp, out_dir)
    return out_dir


# ---------------------------------------------------------------- requests

READ_KINDS = ("point", "hop1", "hop2", "scan", "varlen", "legacy")
WRITE_KINDS = ("create", "set", "merge", "delete")


def zipf_keys(rng, n_keys, count, a=1.3):
    """Customer keys with a Zipf skew over a seed-shuffled key order: a
    minority of keys repeat often, most requests touch distinct keys."""
    order = rng.permutation(n_keys)
    ranks = rng.zipf(a, count) - 1
    ranks = np.where(ranks < n_keys, ranks, rng.integers(0, n_keys, count))
    return [int(order[r]) for r in ranks]


def read_request(kind, cust, segment, min_bal):
    """One read request: dict with kind, query, params (None = the request
    has no params field) and arg (the customer, for the answer check).
    Point lookups and scans pass their values as params; path patterns
    carry them inline, because the engine does not resolve params inside a
    path pattern's property map (such a pattern matches nothing)."""
    name = f"Customer#{cust:09d}"
    if kind == "point":
        q, p = "MATCH (c:Customer {name: $name}) RETURN c.acctbal", {"name": name}
    elif kind == "hop1":
        q, p = (f"MATCH (c:Customer {{name: '{name}'}})-[:FROM_NATION]->"
                f"(n:Nation) RETURN n.name"), None
    elif kind == "hop2":
        q, p = (f"MATCH (c:Customer {{name: '{name}'}})-[:PLACED]->(o:Order)"
                f"-[:CONTAINS]->(p:Part) RETURN p.name"), None
    elif kind == "scan":
        q, p = ("MATCH (c:Customer) WHERE c.mktsegment = $seg AND "
                "c.acctbal > $bal RETURN c.name ORDER BY c.name LIMIT 5"), \
            {"seg": segment, "bal": str(min_bal)}
    elif kind == "varlen":
        q, p = (f"MATCH (c:Customer {{name: '{name}'}})-[*2]->(r:Region) "
                f"RETURN r.name"), None
    elif kind == "legacy":
        q, p = f"MATCH NODE Customer WHERE name = {name}", None
    else:
        raise ValueError(kind)
    return {"kind": kind, "query": q, "params": p, "arg": name}


def write_cycle(label):
    """Four writes whose net effect on node and relationship counts is
    zero: create a node, set a property on it, pairwise-merge a
    relationship from it to each of the 5 regions, detach-delete it.
    ``label`` is unique to the cycle, so cycles never touch each other."""
    return [
        {"kind": "create", "arg": label, "params": None,
         "query": f"CREATE (a:{label} {{n: '0'}})"},
        {"kind": "set", "arg": label, "params": None,
         "query": f"MATCH (t:{label}) SET t.n = '1' RETURN t.n"},
        {"kind": "merge", "arg": label, "params": None,
         "query": f"MATCH (a:{label}), (b:Region) MERGE (a)-[:LINKED]->(b)"},
        {"kind": "delete", "arg": label, "params": None,
         "query": f"MATCH (t:{label}) DETACH DELETE t"},
    ]


def net_change(requests):
    """Net (nodes, relationships) a request sequence adds to the graph, by
    simulating the write script: create adds the cycle's node, merge a
    relationship from it to each region, delete removes the node with
    every relationship it has; reads add nothing."""
    live = {}
    n = r = 0
    for req in requests:
        kind, label = req["kind"], req["arg"]
        if kind == "create":
            live[label] = 0
            n += 1
        elif kind == "merge" and label in live:
            live[label] += len(REGIONS)
            r += len(REGIONS)
        elif kind == "delete" and label in live:
            r -= live.pop(label)
            n -= 1
    return n, r


# reads of each kind in one block of the stream; with the block's write
# cycle (4 writes) a block is 16 requests, 25% of them writes
BLOCK_READS = (("point", 3), ("hop1", 2), ("hop2", 2), ("scan", 2),
               ("varlen", 1), ("legacy", 2))
# jobs in one block of the stream: its reads and one write cycle
BLOCK_JOBS = 1 + sum(n for _, n in BLOCK_READS)


def job_stream(seed, n_blocks, n_customers):
    """The serving workload's request stream: a list of jobs, each either
    one read request or one whole write cycle. Clients take the next job
    when they are free; a client runs a cycle's four writes in order, its
    request/reply loop keeping them so. The stream is built from blocks
    of 12 reads (fixed counts per kind) and one write cycle, shuffled
    within the block, so that any stretch of the stream has nearly the
    same mix; the seed picks the order, the Zipf-skewed customer keys and
    the scan parameters."""
    rng = np.random.default_rng(seed)
    per_block = sum(n for _, n in BLOCK_READS)
    keys = iter(zipf_keys(rng, n_customers, n_blocks * per_block))
    jobs = []
    for b in range(n_blocks):
        block = []
        for kind, n in BLOCK_READS:
            for _ in range(n):
                seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
                bal = int(rng.integers(0, 90)) * 100
                block.append([read_request(kind, next(keys), seg, bal)])
        block.append(write_cycle(f"BenchW{b}"))
        jobs += [block[i] for i in rng.permutation(len(block))]
    return jobs


def request_line(job, req, expected):
    """Tab-separated request record read by the benchmark's JVM side:
    job index, kind, query, params (k=v joined by U+001F, or -), arg and
    the expected answer as canonical JSON."""
    params = "-" if req["params"] is None else "\x1f".join(
        f"{k}={v}" for k, v in sorted(req["params"].items()))
    fields = [str(job), req["kind"], req["query"], params, req["arg"], expected]
    assert not any("\t" in f or "\n" in f for f in fields)
    return "\t".join(fields)


def query_orders(seed, queries, passes):
    """The query order of each batch pass, permuted by the seed."""
    rng = np.random.default_rng(seed)
    return [[queries[i] for i in rng.permutation(len(queries))]
            for _ in range(passes)]


# ------------------------------------------------------------ expectations

def expected_answers(data, reqs):
    """Expected answer of every request, computed by DuckDB over the
    parquet tables -- a path independent of the engine under test. Each
    answer is canonical JSON (see ``canonical``); the JVM side renders a
    response the same way and compares the strings. Account balances are
    kept as numbers and compared as numbers, because the engine renders
    them with Java's double formatting."""
    import duckdb
    con = duckdb.connect()
    for t in ("customer", "nation", "region", "orders", "lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    cust = {r[0]: r[1:] for r in con.execute(
        "SELECT c_name, c_acctbal, c_mktsegment, n_name, r_name FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey").fetchall()}
    hop2 = sorted({r["arg"] for r in reqs if r["kind"] == "hop2"})
    parts = {n: [] for n in hop2}
    if hop2:
        con.execute("CREATE TEMP TABLE want_hop2(name VARCHAR)")
        con.executemany("INSERT INTO want_hop2 VALUES (?)", [[n] for n in hop2])
        for name, part in con.execute(
                "SELECT c_name, p_name FROM want_hop2 JOIN customer ON c_name = name "
                "JOIN orders ON o_custkey = c_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                "JOIN part ON p_partkey = l_partkey").fetchall():
            parts[name].append(part)
    scans = {}
    for r in reqs:
        if r["kind"] == "scan":
            key = (r["params"]["seg"], r["params"]["bal"])
            if key not in scans:
                scans[key] = [x[0] for x in con.execute(
                    "SELECT c_name FROM customer WHERE c_mktsegment = ? AND "
                    "c_acctbal > CAST(? AS DOUBLE) ORDER BY c_name LIMIT 5",
                    list(key)).fetchall()]
    out = []
    for r in reqs:
        k, a = r["kind"], r["arg"]
        if k == "point":
            want = [cust[a][0]]
        elif k == "hop1":
            want = [cust[a][2]]
        elif k == "varlen":
            want = [cust[a][3]]
        elif k == "hop2":
            want = sorted(parts[a])
        elif k == "scan":
            want = scans[(r["params"]["seg"], r["params"]["bal"])]
        elif k == "legacy":
            want = [{"acctbal": cust[a][0], "mktsegment": cust[a][1], "name": a}]
        elif k == "create":
            want = [[a, "0"]]
        elif k == "set":
            want = ["1"]
        elif k == "merge":
            want = len(REGIONS)
        else:
            want = 0
        out.append(canonical(want))
    return out


def canonical(value):
    """Compact JSON with sorted keys: the form both sides compare."""
    return json.dumps(value, sort_keys=True, separators=(",", ":"), ensure_ascii=False)
