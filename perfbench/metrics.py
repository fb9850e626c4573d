"""Derive the printed metrics from what the harness wrote.

Every workload prints the same metric names (BENCHMARK.json declares
them once). The end-to-end times are scaled to the reference host speed
over the interval they were measured in (see speed.py); the per-layer
times are as measured, with `host.kernel_ms` beside them. A per-layer metric of a layer the workload never enters is
reported as 0: that layer did no work in that workload.
"""
import json
import os
import statistics
from collections import defaultdict

import check
import gen
import speed
import stats

END_TO_END = [("setup_s", "s"), ("latency_ms", "ms"), ("cpu_ms", "ms")]

READ_CLASSES = [c for c, _ in gen.READ_MIX]
CORES = 4

BATCH_PHASES = [
    ("graph", ["connected_components", "pagerank", "graph_triangles", "graph_closeness",
               "graph_hits", "graph_lpa_modularity", "graph_random_walks"]),
    ("llm", ["dedup_exact", "dedup_minhash", "dedup_spans", "sim_topk",
             "sim_ivfpq_residual_topk", "text_quality", "pipeline_prep",
             "pipeline_decontaminate_bloom"]),
]

PER_LAYER = (
    [("spark.session_s", "s"), ("load.create_s", "s"), ("load.open_s", "s"),
     ("server.start_s", "s"),
     ("query.compile_ms.p50", "ms"), ("query.plan_ms.p50", "ms"),
     ("query.exec_ms.p50", "ms"), ("server.overhead_ms.p50", "ms"),
     ("server.read_p50_ms", "ms"), ("server.reads", "count"),
     ("server.ops_per_s", "1/s")]
    + [(f"server.class.{c}.{m}", "ms") for c in READ_CLASSES
       for m in ("p50_ms", "overhead_ms")]
    + [("server.jobs_per_read", "count"), ("server.stages_per_read", "count"),
       ("server.tasks_per_read", "count"), ("server.write_p50_ms", "ms"),
       ("load.rows_scanned_per_row_returned", "ratio"),
       ("load.bytes_scanned_per_read", "bytes"),
       ("load.dml_ms.p50", "ms"), ("load.reload_ms.p50", "ms"), ("load.sweep_ms.p50", "ms"),
       ("load.bytes_written_per_write", "bytes"), ("load.store_files_end", "count"),
       ("load.live_generations_end", "count"), ("load.store_bytes_ratio", "ratio")]
    + [(f"queries.{p}.{m}", u) for p, _ in BATCH_PHASES for m, u in (
        ("wall_s", "s"), ("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
        ("driver_gap_s", "s"), ("task_busy_ratio", "ratio"), ("shuffle_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("checkpoint_bytes", "bytes"), ("gc_s", "s"))]
    + [(f"queries.{q}.{m}", u) for _, qs in BATCH_PHASES for q in qs for m, u in (
        ("wall_s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"))]
    + [("jvm.peak_rss_mb", "MB"), ("fail_ratio", "ratio"), ("trace.overhead_ratio", "ratio"),
       ("host.kernel_ms", "ms")]
)


def _json(path):
    with open(path) as f:
        return json.load(f)


def _lines(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _ms(s):
    return (s["t1_ns"] - s["t0_ns"]) / 1e6


def _result(e2e, layer, attempted, failed, problems, trace):
    names = PER_LAYER if trace else END_TO_END
    values = layer if trace else e2e
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values.get(n, 0.0), "unit": u} for n, u in names},
            "problems": problems}


def _setup(out):
    return _json(os.path.join(out, "setup.json"))


def _host(out):
    return speed.HostSpeed(_json(os.path.join(out, "probe.json")))


def _setup_s(setup, host):
    """`setup_s` at the reference speed of the set-up's own interval,
    from the harness JVM's spawn to the end of set-up."""
    return setup["setup_s"] * host.scale(host.spawn_ns, setup["end_ns"])


def _rss(out):
    return _json(os.path.join(out, "rss.json"))["peak_rss_mb"]


def serve(out, data_dir, requests, expected, trace):
    samples = _lines(os.path.join(out, "samples.jsonl"))
    store_end = _json(os.path.join(out, "store_end.json"))
    setup = _setup(out)
    wrong = check.check_reads(samples, requests, expected)
    problems = [f"wrong answer: {w}" for w in wrong]
    problems += check.check_durable(samples, requests, store_end)
    problems += [f"HTTP {s['status']}: {s['phase']} {s['client']}/{s['seq']} {s['cls']}"
                 for s in samples if s["status"] != 200]
    failed = sum(s["status"] != 200 for s in samples) + len(wrong)
    by_phase = defaultdict(list)
    for s in samples:
        by_phase[s["phase"]].append(s)
    http = by_phase["http"]
    reads = defaultdict(list)
    for s in http:
        if not s["write"] and s["status"] == 200:
            reads[s["cls"]].append(_ms(s))
    done = sum(s["status"] == 200 for s in http)
    host = _host(out)
    window = (min(s["t0_ns"] for s in http), max(s["t1_ns"] for s in http))
    scale = host.scale(*window)
    e2e = {
        "setup_s": _setup_s(setup, host),
        "latency_ms": stats.mix_latency(reads, dict(gen.READ_MIX)) * scale,
        "cpu_ms": store_end["phases"]["http_cpu"] * 1e3 / done * scale,
    }
    layer = {}
    if trace:
        layer = _serve_layers(out, data_dir, setup, store_end, by_phase)
        layer["host.kernel_ms"] = host.kernel_ms(*window)
        layer["fail_ratio"] = failed / len(samples)
        layer["jvm.peak_rss_mb"] = _rss(out)
    return _result(e2e, layer, len(samples), failed, problems, trace)


def _read_p50(samples, cls=None):
    return stats.p50([_ms(s) for s in samples if not s["write"] and s["status"] == 200
                      and (cls is None or s["cls"] == cls)])


def _serve_layers(out, data_dir, setup, store_end, by_phase):
    http, traced = by_phase["http"], by_phase["traced"]
    spans = _lines(os.path.join(out, "spans.jsonl"))
    jobs = {g["group"]: g for g in _lines(os.path.join(out, "jobs.jsonl"))}
    dur = defaultdict(list)
    for sp in spans:
        dur[sp["name"]].append((sp["end_ns"] - sp["start_ns"]) / 1e6)
    read_groups = [(f"traced-{s['client']}-{s['seq']}", s) for s in traced
                   if not s["write"] and s["status"] == 200]
    write_groups = [f"traced-{s['client']}-{s['seq']}" for s in traced
                    if s["write"] and s["status"] == 200]

    def total(groups, key):
        return sum(jobs[g][key] for g in groups if g in jobs)

    n_reads = len(read_groups)
    rows_returned = sum(len(json.loads(s["body"])["result"]) for _, s in read_groups)
    source_bytes = sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
                       for t in check.SOURCE_TABLES)
    rg = [g for g, _ in read_groups]
    m = {
        "spark.session_s": setup["session_s"], "load.create_s": setup["create_s"],
        "load.open_s": setup["open_s"], "server.start_s": setup["start_s"],
        "query.compile_ms.p50": stats.p50(dur["query.compile"]),
        "query.plan_ms.p50": stats.p50(dur["query.plan"]),
        "query.exec_ms.p50": stats.p50(dur["query.exec"]),
        "server.overhead_ms.p50": _read_p50(http) - _read_p50(traced),
        "server.read_p50_ms": _read_p50(http),
        "server.reads": sum(not s["write"] for s in http),
        "server.ops_per_s": sum(s["status"] == 200 for s in http) / store_end["phases"]["http"],
        "server.jobs_per_read": total(rg, "jobs") / n_reads,
        "server.stages_per_read": total(rg, "stages") / n_reads,
        "server.tasks_per_read": total(rg, "tasks") / n_reads,
        "server.write_p50_ms": stats.p50_or_zero(
            [_ms(s) for s in http if s["write"] and s["status"] == 200]),
        "load.rows_scanned_per_row_returned": total(rg, "input_records") / max(1, rows_returned),
        "load.bytes_scanned_per_read": total(rg, "input_bytes") / n_reads,
        "load.dml_ms.p50": stats.p50_or_zero(dur["load.dml"]),
        "load.reload_ms.p50": stats.p50_or_zero(dur["load.reload"]),
        "load.sweep_ms.p50": stats.p50_or_zero(dur["load.sweep"]),
        "load.bytes_written_per_write":
            total(write_groups, "output_bytes") / len(write_groups) if write_groups else 0.0,
        "load.store_files_end": store_end["store_files"],
        "load.live_generations_end": store_end["live_generations"],
        "load.store_bytes_ratio": setup["store_bytes"] / source_bytes,
        "trace.overhead_ratio": store_end["phases"]["tracer"] / store_end["phases"]["traced"],
    }
    for c in READ_CLASSES:
        m[f"server.class.{c}.p50_ms"] = _read_p50(http, c)
        m[f"server.class.{c}.overhead_ms"] = _read_p50(http, c) - _read_p50(traced, c)
    return m


def batch(out, bad, trace):
    queries = _lines(os.path.join(out, "queries.jsonl"))
    setup = _setup(out)
    host = _host(out)
    window = (queries[0]["t0_ns"], queries[-1]["t1_ns"])
    scale = host.scale(*window)
    e2e = {
        "setup_s": _setup_s(setup, host),
        # mix_latency with each query as a class of one sample and an
        # equal share: the mean cold wall time, the pass time per query
        "latency_ms": statistics.mean(q["wall_s"] for q in queries) * 1e3 * scale,
        "cpu_ms": statistics.mean(q["cpu_s"] for q in queries) * 1e3 * scale,
    }
    problems = [f"{q}: {'; '.join(p)}" for q, p in sorted(bad.items())]
    layer = {}
    if trace:
        layer = _batch_layers(out, queries, setup)
        layer["host.kernel_ms"] = host.kernel_ms(*window)
        layer["fail_ratio"] = len(bad) / len(queries)
        layer["jvm.peak_rss_mb"] = _rss(out)
    return _result(e2e, layer, len(queries), len(bad), problems, trace)


def _batch_layers(out, queries, setup):
    phases = _json(os.path.join(out, "phases.json"))
    jobs = {g["group"]: g for g in _lines(os.path.join(out, "jobs.jsonl"))}
    m = {"spark.session_s": setup["session_s"],
         "trace.overhead_ratio": phases["tracer_s"] / sum(q["wall_s"] for q in queries)}
    for phase, names in BATCH_PHASES:
        qs = [q for q in queries if q["phase"] == phase]
        groups = [jobs.get(f"q:{q}", defaultdict(int)) for q in names]
        wall = phases[phase]["wall_s"]
        m.update({
            f"queries.{phase}.wall_s": wall,
            f"queries.{phase}.build_s": sum(q["build_s"] for q in qs),
            f"queries.{phase}.plan_s": sum(q["plan_s"] for q in qs),
            f"queries.{phase}.exec_s": sum(q["exec_s"] for q in qs),
            f"queries.{phase}.driver_gap_s": wall - phases[phase]["job_covered_s"],
            f"queries.{phase}.task_busy_ratio":
                sum(g["run_ms"] for g in groups) / 1e3 / (wall * CORES),
            f"queries.{phase}.shuffle_bytes": sum(g["shuffle_write"] for g in groups),
            f"queries.{phase}.spill_bytes": sum(g["spill"] for g in groups),
            f"queries.{phase}.checkpoint_bytes": phases[phase]["checkpoint_bytes"],
            f"queries.{phase}.gc_s": phases[phase]["gc_s"],
        })
        for q in qs:
            g = jobs.get(f"q:{q['query']}", defaultdict(int))
            m[f"queries.{q['query']}.wall_s"] = q["wall_s"]
            m[f"queries.{q['query']}.jobs"] = g["jobs"]
            m[f"queries.{q['query']}.shuffle_bytes"] = g["shuffle_write"]
    return m
