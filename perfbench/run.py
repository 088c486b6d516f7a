#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine together
with the harness (perfbench/harness), generates the query tables and a
prepared warehouse snapshot under .bench_build/perfbench/; later runs
reuse them. Every run then starts from the same state: a fresh run dir
holding a copy of that snapshot. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`; the lines above it
give each timing's median, tail percentile and sample count, the
calibration probe, and (traced) the workload's layer table. A record of
the run is kept under .bench_build/perfbench/records/ for compare.py.

Workloads and metrics are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))

from lib import archive, fingerprint, spans, stats  # noqa: E402

QUERIES = {"table_commits": ["q122_time_travel", "q242_scd2_fold"]}
WORKLOADS = ["ingest_train", *QUERIES]
# the query tables: tools/gen_fixtures.py at this seed and scale
# (x sf0.001: 12k lineitem rows, 1000 documents)
FIXTURE_SEED, FIXTURE_SCALE = 4242, 2
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_GRACE_S = 5
EXPECTED = HERE / "expected" / "queries.json"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# end-to-end metric -> (result field, what it is called in each workload)
END_TO_END = {
    "op_s": {"ingest_train": "session_s", "table_commits": "commits_pass_s"},
    "produce_s": {"ingest_train": "serialize_s", "table_commits": "commits_construct_s"},
    "consume_s": {"ingest_train": "train_s", "table_commits": "commits_execute_s"},
}
GENERIC_LAYERS = list(spans.SUMS) + ["construct_s", "construct_jobs", "spark.execute_s",
                                      "spark.stage_busy_s", "spark.driver_gap_s"]
UNITS = {"_per_s": "1/s", "_s": "s", "_mb": "MB", "_per_input_byte": "ratio"}


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def digest(paths):
    h = hashlib.sha256()
    for base in paths:
        for p in sorted(base.rglob("*") if base.is_dir() else [base]):
            if p.is_file() and "target" not in p.relative_to(base.parent).parts:
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    harness = HERE / "harness"
    stamp = WORK / "build.stamp"
    cp_file = WORK / "classpath.txt"
    key = digest([ROOT / "src" / "main", harness / "build.sbt", harness / "project" / "build.properties",
                  harness / "src"])
    if stamp.exists() and cp_file.exists() and stamp.read_text() == key:
        cp = cp_file.read_text().strip()
        if Path(cp.split(os.pathsep)[0]).is_dir():
            return cp, key
    log("building engine and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Xmx2g", "-Dsbt.server.autostart=false"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], cwd=harness, env=env,
                         stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=800)
    lines = [l for l in out.stdout.splitlines() if "/classes" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    WORK.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp.write_text(key)
    return lines[-1], key


def fixtures():
    """The query tables, generated once per checkout."""
    data = WORK / "data" / f"scale{FIXTURE_SCALE}"
    done = data / "_DONE"
    if not done.exists():
        log("generating query tables")
        shutil.rmtree(data, ignore_errors=True)
        subprocess.run([sys.executable, str(ROOT / "tools" / "gen_fixtures.py"), str(data),
                        "--seed", str(FIXTURE_SEED), "--scale", str(FIXTURE_SCALE)],
                       check=True, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, timeout=600)
        done.write_text("ok")
    return data


def jvm(cp, args, cwd, timeout, log_path):
    """Run the harness main in `cwd`, its temp files kept inside it."""
    tmp = cwd / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main", *args]
    with open(log_path, "w") as logf:
        try:
            r = subprocess.run(cmd, cwd=cwd, stdin=subprocess.DEVNULL, stdout=logf,
                               stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness timed out after {timeout:.0f} s (log: {log_path})")
    if r.returncode != 0:
        sys.stderr.write(Path(log_path).read_text()[-4000:])
        raise SystemExit(f"perfbench: harness exited {r.returncode}")


def warehouse_snapshot(cp, key, data):
    """`SparkEntry.prepare` run once per build on an empty warehouse; every
    query run starts from a copy of it."""
    snap = WORK / "warehouse"
    done = snap / "_DONE"
    key = f"{key} {data}"
    if not done.exists() or done.read_text() != key:
        log("preparing the warehouse snapshot")
        shutil.rmtree(snap, ignore_errors=True)
        snap.mkdir(parents=True)
        jvm(cp, ["mode=prepare", f"data={data}"], snap, 600, WORK / "prepare.log")
        shutil.rmtree(snap / "tmp", ignore_errors=True)
        done.write_text(key)
    return snap / "spark-warehouse"


def query_checks(workload, check_dir, record_expected):
    """Fingerprint every query's warm-pass output against the recorded one."""
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    got = {q: fingerprint.fingerprint(fingerprint.read_hashes(check_dir / f"{q}.hashes"))
           for q in QUERIES[workload] if (check_dir / f"{q}.hashes").exists()}
    if record_expected:
        expected.update(got)
        EXPECTED.write_text(json.dumps(dict(sorted(expected.items())), indent=1) + "\n")
    return [f"{q}: fingerprint {got.get(q)} != expected {expected.get(q)}"
            for q in QUERIES[workload] if q in got and got[q] != expected.get(q)]


def summarize(name, xs):
    label, value = stats.tail(xs)
    return f"{name} median={stats.median(xs):.4f} {label}={value:.4f} n={len(xs)}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="store this run's query fingerprints as the expected ones")
    a = ap.parse_args()
    started = time.time()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "tools" / "gen_fixtures.py").exists():
        raise SystemExit("perfbench: run from a checkout of the engine (src/main/scala and tools/ missing)")

    cp, key = build()
    data = fixtures()
    # made on the first run of any workload, where building time is allowed
    snapshot = warehouse_snapshot(cp, key, data)
    # a run that had to build gets the whole time limit after its build
    ready = time.time()
    if ready - started < BUILD_GRACE_S:
        ready = started
    run = WORK / "run"
    shutil.rmtree(run, ignore_errors=True)
    log("staging the run")

    # set-up starts here: stage the run dir, then the JVM's session,
    # warm-up, prepare and warm operation
    t_start = time.time()
    run.mkdir(parents=True)
    args = ["mode=run", f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"run={run}", f"out={run / 'result.json'}"]
    if a.workload in QUERIES:
        shutil.copytree(snapshot, run / "spark-warehouse")
        args += [f"data={data}", "queries=" + ",".join(QUERIES[a.workload])]
    else:
        n = archive.make_archive(a.seed, run / "dataset.zip", run / "manifest.tsv")
        log(f"archive: {n} images")
        args += [f"archive={run / 'dataset.zip'}", f"manifest={run / 'manifest.tsv'}"]
    jvm(cp, args, run, max(10, RUN_LIMIT_S - (time.time() - ready)), run / "harness.log")
    res = json.loads((run / "result.json").read_text())
    log("harness done")

    wrong = query_checks(a.workload, run / "check", a.record_expected) if a.workload in QUERIES else []
    setup_s = res["setup_end"] - t_start
    result, lines, layers = report(a.workload, a.trace, res, setup_s, wrong)
    for line in lines:
        print(line)
    out = result["metrics"]
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "cpus": res["cpus"], "calibration_s": res["calibration_s"], "setup": res["setup"],
              "failures": result.pop("failures")}
    if layers is not None:
        record["layers"] = layers
    record["metrics"] = {k: v["value"] for k, v in out.items()}
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(started))
    name = f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}"
    (records / f"{name}.json").write_text(json.dumps(record))
    if a.trace:
        shutil.copy(res["spans_file"], records / f"{name}.spans.jsonl")
    shutil.rmtree(run / "tmp", ignore_errors=True)
    print(json.dumps(result))


def tally(res, wrong):
    """(attempted, failed, failure messages, timed operations) of a harness
    result; `wrong` holds the output-check failures found after the run.
    An operation with a failure counts in `failed` and gives no timings."""
    attempted = res["warm"]["attempted"]
    failures = list(res["warm"]["failures"])
    failed = min(len(failures), attempted)
    timed = []
    for i, o in enumerate(res["ops"]):
        attempted += o["attempted"]
        failures += o["failures"]
        failed += min(len(o["failures"]), o["attempted"])
        if not o["failures"] and o["op_s"] is not None:
            timed.append(dict(o, index=i))
    return attempted, failed + len(wrong), failures + list(wrong), timed


def report(workload, trace, res, setup_s, wrong):
    """The result object (with its failure messages under `failures`), the
    lines printed above it, and the traced run's layer table (or None)."""
    attempted, failed, failures, timed = tally(res, wrong)
    for f in failures:
        log(f"FAILED {f}")
    plain = [o for o in timed if o["kind"] == "plain"]
    if not plain:
        raise SystemExit("perfbench: no operation completed: " + "; ".join(failures[:5]))
    lines = [summarize("calibration_s", res["calibration_s"]),
             f"setup_s {setup_s:.4f} cpus={res['cpus']} "
             + " ".join(f"{k}={v:.4f}" for k, v in res["setup"].items())]
    for field, names in END_TO_END.items():
        lines.append(summarize(f"{names[workload]} ({field})", [o[field] for o in plain]))
    lines.append(f"failed_ratio {failed / max(attempted, 1):.4f} ({failed}/{attempted})")
    layers = None
    if trace == 0:
        metrics = {"setup_s": setup_s}
        for field in END_TO_END:
            metrics[field] = stats.median([o[field] for o in plain])
        out = {k: {"value": v, "unit": "s"} for k, v in metrics.items()}
    else:
        out, layers = traced_metrics(workload, res, timed)
        lines += [f"layer {k} {v:.6g} {unit_of(k)}" for k, v in sorted(layers.items())]
    return ({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out,
             "failures": failures}, lines, layers)


def traced_metrics(workload, res, timed):
    """Per-layer metrics (median over the traced operations) and the
    workload's own layer table. `trace.overhead_s` compares traced
    operations with untraced ones that make the same calls."""
    all_spans, unattributed = spans.load(res["spans_file"])
    ops = spans.by_op(all_spans)
    traced = [o for o in timed if o["kind"] == "traced" and o["index"] in ops]
    if not traced:
        raise SystemExit("perfbench: no traced operation completed")
    kinds = {k: [o["op_s"] for o in timed if o["kind"] == k] for k in ("plain", "replay")}
    twin = kinds["replay"] or kinds["plain"]
    generic, specific = [], []
    for o in traced:
        op_spans = ops[o["index"]]
        generic.append(spans.op_metrics(op_spans))
        specific.append(spans.ingest_metrics(op_spans, o["extra"]) if workload == "ingest_train"
                        else spans.query_metrics(op_spans))
    metrics = {k: stats.median([g[k] for g in generic]) for k in GENERIC_LAYERS}
    metrics["trace.overhead_s"] = stats.median([o["op_s"] for o in traced]) - stats.median(twin)
    metrics["trace.unattributed_jobs"] = unattributed
    out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    layers = dict(metrics)
    for k in sorted({k for s in specific for k in s}):
        layers[k] = stats.median([s.get(k, 0.0) for s in specific])
    if workload == "ingest_train":
        layers["service.post_serialize_s"] = stats.median(
            [o["extra"]["service.post_serialize_s"] for o in timed if o["kind"] == "plain"])
        # the HTTP session against direct calls, both untraced
        layers["service.http_gap_s"] = stats.median(kinds["plain"]) - stats.median(kinds["replay"])
    return out, layers


if __name__ == "__main__":
    main()
