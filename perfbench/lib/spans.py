"""Span arithmetic for traced runs: self time, stage coverage, and the
per-layer metrics of one operation (a query pass or a session)."""
import json
from collections import defaultdict

MB = 1 << 20

# per-layer metric -> (span field, scale), summed over an operation's spans
SUMS = {
    "planner.plan_s": ("plan_s", 1),
    "spark.jobs": ("jobs", 1),
    "spark.stages": ("stages", 1),
    "spark.tasks": ("tasks", 1),
    "spark.single_task_stages": ("single_task_stages", 1),
    "spark.executor_cpu_s": ("cpu_s", 1),
    "spark.gc_s": ("gc_s", 1),
    "spark.shuffle_write_mb": ("shuffle_write_bytes", 1 / MB),
    "spark.spill_mb": ("spill_bytes", 1 / MB),
    "spark.output_mb": ("output_bytes", 1 / MB),
    "spark.retained_storage_mb": ("retained_bytes", 1 / MB),
}

# ingest_train spans timed by name, and the serialize half of a session
INGEST_TIMED = ["archive.fetch", "archive.extract", "ingest.read_construct", "catalog.preflight",
                "catalog.save", "export.count", "export.shapes", "export.pin"]
SERIALIZE = {"archive.fetch", "archive.extract", "ingest.read_construct", "catalog.preflight",
             "catalog.save"}


def load(path):
    """(spans, unattributed job count) from a harness spans file."""
    spans, unattributed = [], 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            d = json.loads(line)
            if "unattributed_jobs" in d:
                unattributed = d["unattributed_jobs"]
            else:
                spans.append(d)
    return spans, unattributed


def duration(s):
    return s["end"] - s["start"]


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
                     for a, b in intervals)
    total, cur = 0.0, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: duration(s) - union_length(kids[s["id"]], s["start"], s["end"]) for s in spans}


def by_op(spans):
    ops = defaultdict(list)
    for s in spans:
        ops[s["op"]].append(s)
    return dict(ops)


def op_metrics(spans):
    """Per-layer metrics every workload has, for one operation's spans.
    A request is a top-level span (one query or one session); the wall of
    a request no stage covers is driver time."""
    m = {k: sum(s[f] for s in spans) * scale for k, (f, scale) in SUMS.items()}
    m["construct_s"] = sum(duration(s) for s in spans if s["kind"] == "construct")
    m["construct_jobs"] = sum(s["jobs"] for s in spans if s["kind"] == "construct")
    m["spark.execute_s"] = sum(duration(s) for s in spans if s["kind"] == "execute")
    requests = defaultdict(list)
    for s in spans:
        requests[s["request"]].append(s)
    busy = gap = 0.0
    for rid, members in requests.items():
        root = next(s for s in members if s["id"] == rid)
        covered = union_length([tuple(i) for s in members for i in s["stage_intervals"]],
                               root["start"], root["end"])
        busy += covered
        gap += duration(root) - covered
    m["spark.stage_busy_s"] = busy
    m["spark.driver_gap_s"] = gap
    return m


def ingest_metrics(spans, extra):
    """The ingest_train layer metrics of one traced session."""
    selfs = self_times(spans)
    m = {}
    for name in INGEST_TIMED:
        m[name + "_s"] = sum(duration(s) for s in spans if s["name"] == name)
    m["ingest.construct_jobs"] = sum(s["jobs"] for s in spans if s["name"] == "ingest.read_construct")
    m["serialize.single_task_stages"] = sum(s["single_task_stages"] for s in spans
                                            if s["name"] in SERIALIZE)
    waits = sorted((s for s in spans if s["name"] == "export.next"), key=lambda s: s["start"])
    m["export.first_batch_s"] = duration(waits[0]) if waits else 0.0
    m["export.batch_wait_s"] = sum(duration(s) for s in waits)
    rows = extra.get("export.rows_delivered", 0.0)
    m["export.rows_per_s"] = rows / m["export.batch_wait_s"] if m["export.batch_wait_s"] else 0.0
    m["ml.fit_self_s"] = sum(selfs[s["id"]] for s in spans if s["name"] == "ml.fit")
    for k in ("ml.steps", "archive.files", "catalog.sink_bytes_per_input_byte"):
        m[k] = extra.get(k, 0.0)
    return m


def query_metrics(spans):
    """The query-pass layer metrics of one traced pass, with each query's
    construction and execution."""
    m = {"queries.construct_s": sum(duration(s) for s in spans if s["name"] == "queries.construct"),
         "queries.construct_jobs": sum(s["jobs"] for s in spans if s["name"] == "queries.construct")}
    for s in spans:
        if s["name"] in ("queries.construct", "queries.execute"):
            key = f"{s['label']}.{s['name'].split('.')[1]}_s"
            m[key] = m.get(key, 0.0) + duration(s)
    return m
