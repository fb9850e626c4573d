"""Correctness checks: every answer the benchmark times is compared with
DuckDB over the same source parquet. A mismatch fails the run; nothing
is retried or filtered."""
import hashlib
import importlib.util
import json
import os
from collections import defaultdict

import duckdb
import pandas as pd

import gen

SOURCE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def fingerprint(data_dir):
    """Content hash of the source tables; expected answers are cached per value."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(data_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _connect(data_dir, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


# ---- serve workloads -------------------------------------------------------

def expected_reads(data_dir, cache_dir):
    """Canonical answer of every read class for every key, from DuckDB;
    computed once per source fingerprint."""
    path = os.path.join(cache_dir, "serve_expected.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = _connect(data_dir, SOURCE_TABLES)
    cust = gen.CUSTOMER_OFF
    exp = {c: defaultdict(list) for c, _ in gen.READ_MIX}
    for k, name, seg, nation in con.execute(
            "SELECT c_custkey, c_name, c_mktsegment, c_nationkey FROM customer").fetchall():
        exp["point"][str(cust + k)].append([cust + k, name, seg])
        exp["hop1"][str(cust + k)] = []
        exp["hop2"][str(cust + k)] = []
        exp["graphql"][str(nation * len(gen.SEGMENTS) + gen.SEGMENTS.index(seg))].append(
            [f"NATION_{nation}", name])
    for ck, ok in con.execute("SELECT o_custkey, o_orderkey FROM orders").fetchall():
        exp["hop1"][str(cust + ck)].append(gen.ORDER_OFF + ok)
    for ck, pk in con.execute(
            "SELECT o.o_custkey, l.l_partkey FROM orders o "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey").fetchall():
        exp["hop2"][str(cust + ck)].append(gen.PART_OFF + pk)
    for prio, status, n in con.execute(
            "SELECT o_orderpriority, o_orderstatus, count(*) FROM orders GROUP BY 1, 2").fetchall():
        exp["agg"][str(gen.PRIORITIES.index(prio))].append([status, n])
    out = {c: {k: sorted(v) for k, v in m.items()} for c, m in exp.items()}
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def canonical_answer(cls, body):
    rows = json.loads(body)["result"]
    if cls == "point":
        return sorted([r["id"], r["name"], r["mktsegment"]] for r in rows)
    if cls == "hop1":
        return sorted(r["id"] for r in rows)
    if cls == "hop2":
        return sorted(p for r in rows for p in r["parts"])
    if cls == "graphql":
        return sorted([r["name"], r["customers_name"]] for r in rows)
    if cls == "agg":
        return sorted([r["status"], r["n"]] for r in rows)
    raise ValueError(cls)


def check_reads(samples, requests, expected):
    """Returns the (phase, client, seq) of every read answered wrongly."""
    wrong = []
    for s in samples:
        if s["write"] or s["status"] != 200:
            continue
        req = requests[(s["client"], s["seq"])]
        want = expected[s["cls"]].get(str(req["key"]), [])
        try:
            got = canonical_answer(s["cls"], s["body"])
        except (KeyError, ValueError, TypeError):
            got = None
        if got != want:
            wrong.append((s["phase"], s["client"], s["seq"]))
    return wrong


PHASE_ORDER = {"warmup": 0, "http": 1, "traced": 2}


def check_durable(samples, requests, store_end):
    """Every acknowledged write must be in the store reopened from disk.
    Returns a list of problems."""
    customers = {row[0]: row for row in store_end["customers"]}
    edges = {(src, dst) for src, dst in store_end["edges"]}
    problems, last_update = [], {}
    for s in sorted((s for s in samples if s["write"]),
                    key=lambda s: (PHASE_ORDER[s["phase"]], s["client"], s["seq"])):
        req = requests[(s["client"], s["seq"])]
        if s["cls"] == "update":
            # a failed update leaves the key's final value undetermined
            last_update[req["key"]] = req["value"] if s["status"] == 200 else None
        if s["status"] != 200:
            continue
        if s["cls"] == "insert":
            row = customers.get(s["id"])
            if row is None or row[1] != f"Bench#{s['id']}" or row[3] != "BENCH":
                problems.append(f"insert {s['id']} missing or wrong: {row}")
        elif s["cls"] == "edge" and (s["id"], req["key"]) not in edges:
            problems.append(f"edge {s['id']}->{req['key']} missing")
    for key, value in last_update.items():
        if value is not None and (key not in customers or customers[key][2] != value):
            problems.append(f"update of {key} to {value} not durable: {customers.get(key)}")
    return problems


# ---- batch-cold ------------------------------------------------------------

def _check_oracle_module(root):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_batch(root, data_dir, cache_dir, results_dir, oracle_sql, names):
    """Compare each query's parquet result with its DuckDB oracle twin,
    using the compare of tools/check_oracle.py. Oracle answers are cached
    per (source fingerprint, oracle SQL). Returns {query: [problems]}."""
    co = _check_oracle_module(root)
    con = None
    bad = {}
    for name in names:
        if name not in oracle_sql:
            bad[name] = ["no oracle twin"]
            continue
        sql = oracle_sql[name]
        cached = os.path.join(cache_dir, "oracle",
                              f"{name}-{hashlib.sha1(sql.encode()).hexdigest()[:12]}.pkl")
        if os.path.exists(cached):
            want = pd.read_pickle(cached)
        else:
            if con is None:
                con = _connect(data_dir, co.TABLES)
            want = con.execute(sql).df()
            os.makedirs(os.path.dirname(cached), exist_ok=True)
            want.to_pickle(cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        qdir = os.path.join(results_dir, name)
        parts = sorted(p for p in os.listdir(qdir) if p.endswith(".parquet")) \
            if os.path.isdir(qdir) else []
        if not parts:
            bad[name] = ["no result written"]
            continue
        got = pd.concat([pd.read_parquet(os.path.join(qdir, p)) for p in parts])
        problems = [p for p in co.cmp_frames(name, got, want) if not p.startswith("dtype")]
        if problems:
            bad[name] = problems
    return bad
