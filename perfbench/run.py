#!/usr/bin/env python3
"""Lake-engine benchmark for graft.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the JVM runner
(perfbench/jvm, compiled together with graft's src/main) with sbt; later
runs reuse the build while the sources are unchanged. Each run generates
its inputs from the seed, starts one local Spark session with graft's
catalog, builds the workload's table and warms up (set-up), drives it
with one closed-loop client, then checks every result against DuckDB over
the raw parquet. The read workloads run for --seconds; `ingest` runs a
fixed number of statements sized to end within --seconds, so that every
run ends in the same table state.

stdout ends with one JSON line {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1 (a traced run traces every other statement of each kind).
The line before it is a report with the environment, per-kind counts,
known-defect probes and the metrics that carry no bound.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
from oracle import IngestModel, Oracle, same_rows, static_model  # noqa: E402

ROOT = os.path.dirname(HERE)
JVM = os.path.join(HERE, "jvm")
SPEC = os.path.join(HERE, "layers.json")
# A ceiling only: the heap grows as graft needs it, so the process's
# resident size follows the program's memory use.
HEAP = "2g"
# Timed statements of `ingest` per second of --seconds: 10 at 15 s, one
# block of its fixed mix. The slowest run of the steadiness sets on a 4-vCPU
# host managed 0.70 per second, so runs end before --seconds.
INGEST_OPS_PER_S = 0.7
READS = ("select", "lib_select")
WRITE_KIND = {"insert": "insert", "ctas": "insert", "append_grouped": "insert",
              "delete": "delete", "eq_delete": "delete", "update": "update", "props": "props"}
KNOWN_DEFECTS = {
    "delta commit with no changes": "row-level commit with no matching row",
    "UNABLE_TO_INFER_SCHEMA": "insert of zero rows",
}
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(JVM, "src"),
             os.path.join(JVM, "build.sbt"), os.path.join(JVM, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the runner with graft's sources unless an identical build
    exists. Returns the source digest."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft sources (src/main/scala/graft) not found; "
                         "run from the root of a graft checkout")
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("perfbench: SPARK_HOME is not set")
    digest = source_digest()
    stamp = os.path.join(JVM, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    log("building the JVM runner with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    done = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=JVM,
                          env=env, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if done.returncode != 0:
        raise SystemExit(f"perfbench: sbt compile failed ({done.returncode})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


# ---------------------------------------------------------------- helpers

def timed_plan(workload, seed, seconds):
    """The workload's plan for a run of `seconds`. `ingest` changes its
    table with every statement, so it runs a fixed number of them and every
    run ends in the same table state; the read workloads run until the
    deadline."""
    plan = gen.plan(workload, seed)
    fixed = workload == "ingest"
    if fixed:
        plan["ops"] = plan["ops"][:max(1, round(seconds * INGEST_OPS_PER_S))]
    plan["until_deadline"] = not fixed
    return plan


def calibrate():
    """A fixed pure-CPU probe: best of three timings of the same loop."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc = (acc * 31 + i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(plan_path, out_path, log_path, work, timeout):
    cp = os.pathsep.join([os.path.join(JVM, "target", "scala-2.13", "classes"),
                          os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Runner", plan_path, out_path]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM runner exceeded {timeout} s; log in {log_path}")
    if code != 0:
        with open(log_path) as lf:
            tail = lf.read()[-3000:]
        raise SystemExit(f"perfbench: JVM runner exited with {code}:\n{tail}")


def remove_stale(work_root):
    """Deletes work directories left by runs whose process has ended."""
    for name in os.listdir(work_root) if os.path.isdir(work_root) else []:
        try:
            os.kill(int(name.rsplit("-", 1)[1]), 0)
        except (ValueError, IndexError, ProcessLookupError):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)
        except PermissionError:
            pass


def load_records(path):
    recs = {"op": [], "span": []}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            if r["type"] in recs:
                recs[r["type"]].append(r)
            else:
                recs[r["type"]] = r
    return recs


def defect_of(error):
    for needle, name in KNOWN_DEFECTS.items():
        if error and needle in error:
            return name
    return None


# ----------------------------------------------------------- verification

def verify(workload, plan, recs, oracle):
    """Checks every result against the reference model. Returns per-op
    verdicts (id -> 'ok' | 'error' | 'wrong'), DuckDB times of
    the timed reads, rows matching each traced read's predicate, the live
    row count, the rows the timed INSERTs added and the probe outcomes."""
    by_id = {op["id"]: op for part in ("fixture", "warmup", "ops", "after") for op in plan[part]}
    verdict, ref_s, matching, probes = {}, [], {}, {}
    timed = [r for r in recs["op"] if r["phase"] == "timed"]
    if workload == "ingest":
        model = IngestModel(gen.Ingest.SEED_PRED)
        models = []
        for k, r in enumerate(timed):
            models.append(model.at(k))
            if not r["error"]:
                model.apply(k, by_id[r["id"]])
        end_model = model.at(len(timed))
    else:
        end_model = static_model(workload)
        models = [end_model] * len(timed)
    oracle.query("SELECT count(*) FROM {t}", end_model)  # warm DuckDB before timing it
    last_props = None
    inserted = 0
    for k, r in enumerate(timed):
        op = by_id[r["id"]]
        if r["error"]:
            verdict[r["id"]] = "error"
            continue
        if op["kind"] in READS:
            want, took = oracle.query(op["sql"], models[k])
            if workload != "ingest":
                ref_s.append(took)
            verdict[r["id"]] = "ok" if same_rows(r["rows"], want) else "wrong"
            if r["traced"]:
                matching[r["id"]] = oracle.count(models[k], op["where"])
        else:
            verdict[r["id"]] = "ok"
            if op["kind"] == "props":
                last_props = op["value"]
            elif op["kind"] == "insert":
                inserted += oracle.count("SELECT * FROM raw", op["inserts"])
    for r in recs["op"]:
        if r["phase"] in ("fixture", "warmup"):
            verdict[f"{r['phase']}:{r['id']}"] = "error" if r["error"] else "ok"
        elif r["phase"] == "after":
            op = by_id[r["id"]]
            if op["kind"] == "probe":
                probes[op["probe"]] = ("ok" if not r["error"] else
                                       f"known defect: {defect_of(r['error'])}" if defect_of(r["error"])
                                       else f"error: {r['error']}")
            elif r["error"]:
                verdict[r["id"]] = "error"
            elif op["kind"] == "props_check":
                got = [row[1] for row in r["rows"] if row and row[0] == "perfbench.clock"]
                verdict[r["id"]] = "ok" if got == ([last_props] if last_props else []) else "wrong"
            else:
                want, _ = oracle.query(op["sql"], end_model)
                verdict[r["id"]] = "ok" if same_rows(r["rows"], want) else "wrong"
    live = oracle.query("SELECT count(*) FROM {t}", end_model)[0][0][0]
    return verdict, ref_s, matching, live, inserted, probes


# ---------------------------------------------------------------- metrics

def commits(recs):
    """The write statements of the timed phase or, for a workload whose
    timed phase only reads, of its fixture."""
    writes = [r for r in recs["op"] if r["kind"] in WRITE_KIND]
    return [r for r in writes if r["phase"] == "timed"] or [
        r for r in writes if r["phase"] == "fixture"]


def end_to_end(recs, live):
    timed = [r for r in recs["op"] if r["phase"] == "timed"]
    lat = [r["latency_s"] for r in timed]
    setup = recs["setup"]
    return {
        "setup_s": setup["total_s"],
        "op_p50_s": stats.median(lat),
        "ops_per_s": len(timed) / recs["timed"]["wall_s"],
        "heap_live_mb": recs["timed"]["heap_live_mb"],
        "storage_bytes_per_row": recs["end"]["table_bytes"] / live,
    }


def unbounded(recs, verdict, ref_s, inserted):
    """The end-to-end figures reported beside the bounded metrics: they are
    zero on some workloads or too few to be steady in one run."""
    timed = [r for r in recs["op"] if r["phase"] == "timed"]
    failed = sum(v != "ok" for v in verdict.values())
    return {
        "peak_rss_mb": {"value": recs["end"]["peak_rss_mb"], "unit": "MiB"},
        "op_tail_s": tail([r["latency_s"] for r in timed]),
        "read_p50_s": {"value": stats.median([r["latency_s"] for r in timed if r["kind"] in READS]),
                       "unit": "s"},
        "cpu_per_op_s": {"value": recs["timed"]["cpu_s"] / len(timed), "unit": "s"},
        "commit_p50_s": {"value": stats.median([r["latency_s"] for r in commits(recs)]),
                         "unit": "s"},
        "commit_tail_s": tail([r["latency_s"] for r in timed if r["kind"] in WRITE_KIND]),
        "failed_frac": {"value": failed / len(verdict), "unit": "frac"},
        "rows_per_s": {"value": inserted / recs["timed"]["wall_s"], "unit": "rows/s"},
        "ref.duckdb_p50_s": {"value": stats.median(ref_s) if ref_s else None, "unit": "s"},
    }


def tail(latencies):
    """The highest percentile with at least ten samples beyond it (None when
    the run has too few samples), its value and the sample count."""
    p = stats.tail_percentile(len(latencies))
    return {"value": stats.percentile(latencies, p) if p else None, "unit": "s",
            "percentile": p, "samples": len(latencies),
            "beyond": stats.beyond(len(latencies), p) if p else None}


def span_self_s(spans):
    """Median self time per span name over the traced operations, seconds."""
    self_ms = stats.self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(self_ms[s["id"]] / 1e3)
    return {name: stats.median(v) for name, v in sorted(by_name.items())}


def per_layer(recs, matching, live, ref_s, calibration):
    timed = [r for r in recs["op"] if r["phase"] == "timed"]
    traced = [r for r in timed if r["traced"]]
    reads = [r for r in traced if r["kind"] in READS]
    writes = [r for r in commits(recs) if r["traced"]]
    end = recs["end"]
    spans = {}
    for s in recs["span"]:
        spans.setdefault((s["op"], s["name"]), []).append(s["end_ms"] - s["start_ms"])

    def med(rows, f):
        vals = [v for v in (f(r) for r in rows) if v is not None]
        return stats.median(vals) if vals else 0.0

    def span_s(name):
        return lambda r: sum(spans[(r["id"], name)]) / 1e3 if (r["id"], name) in spans else None

    def exec_s(r):
        return span_s("collect")(r) if r["kind"] in READS else span_s("spark.sql")(r)

    def commit_s(kind):
        return med([w for w in writes if WRITE_KIND[w["kind"]] == kind], lambda r: r["latency_s"])

    untraced = [r["latency_s"] for r in timed if not r["traced"]]
    traced_lat = [r["latency_s"] for r in traced]
    libs = [r for r in timed if r["kind"] == "lib_select"]
    sqls = [r["latency_s"] for r in timed if r["kind"] == "select"]
    amplification = [r["records_read"] / matching[r["id"]] for r in reads
                     if matching.get(r["id"])]
    data_records = end["data_records"]
    return {
        "metadata.read_s": med(reads, span_s("metadata.read")),
        "metadata.plan_files_s": med(reads, span_s("metadata.plan_files")),
        "metadata.manifests_read": med(reads, lambda r: r["metadata"].get("manifests_read")),
        "metadata.manifests_total": med(reads, lambda r: r["metadata"].get("manifests_total")),
        "metadata.files_selected": med(reads, lambda r: r["metadata"].get("files_selected")),
        "metadata.files_total": med(reads, lambda r: r["metadata"].get("files_total")),
        "metadata.json_bytes": med(reads, lambda r: r["metadata"].get("json_bytes")),
        "catalyst.analysis_s": med(reads, lambda r: r["catalyst"].get("analysis")),
        "catalyst.optimization_s": med(reads, lambda r: r["catalyst"].get("optimization")),
        "catalyst.planning_s": med(reads, lambda r: r["catalyst"].get("planning")),
        "exec.s": med(traced, exec_s),
        "exec.jobs": med(traced, lambda r: r["jobs"]),
        "exec.stages": med(traced, lambda r: r["stages"]),
        "exec.tasks": med(traced, lambda r: r["tasks"]),
        "exec.scheduler_wait_s": med(traced, lambda r: r["scheduler_wait_s"]),
        "exec.task_cpu_s": med(traced, lambda r: r["task_cpu_s"]),
        "exec.input_bytes": med(traced, lambda r: r["input_bytes"]),
        "exec.records_read": med(traced, lambda r: r["records_read"]),
        "exec.shuffle_bytes": med(traced, lambda r: r["shuffle_bytes"]),
        "exec.spill_bytes": med(traced, lambda r: r["spill_bytes"]),
        "scan.read_amplification": stats.median(amplification) if amplification else 0.0,
        "deletes.dv_blobs": end["dv_blobs"],
        "deletes.dv_positions": end["dv_positions"],
        "deletes.eq_keys": end["eq_keys"],
        "deletes.rows_removed_frac": 1.0 - live / data_records if data_records else 0.0,
        "lib.construct_s": med([r for r in libs if r["traced"]], lambda r: r["construct_s"]),
        "lib.construct_jobs": med([r for r in libs if r["traced"]], lambda r: r["construct_jobs"]),
        "lib.op_p50_s": med(libs, lambda r: r["latency_s"]),
        "sql.op_p50_s": stats.median(sqls) if sqls else 0.0,
        "commit.insert_s": commit_s("insert"),
        "commit.delete_s": commit_s("delete"),
        "commit.update_s": commit_s("update"),
        "commit.props_s": commit_s("props"),
        "commit.jobs": med(writes, lambda r: r["jobs"]),
        "commit.tasks": med(writes, lambda r: r["tasks"]),
        "commit.data_files_added": med(writes, lambda r: r.get("data_files_added")),
        "commit.data_bytes_added": med(writes, lambda r: r.get("data_bytes_added")),
        "commit.metadata_bytes_added": med(writes, lambda r: r.get("metadata_bytes_added")),
        "commit.snapshots_end": end["snapshots"],
        "commit.manifests_end": end["manifests"],
        "commit.table_files_end": end["table_files"],
        "jvm.gc_s": sum(r["gc_s"] for r in timed) / len(timed),
        "jvm.heap_peak_mb": recs["timed"]["heap_peak_mb"],
        "host.calibration_s": calibration,
        "trace.overhead_frac": (stats.median(traced_lat) / stats.median(untraced) - 1.0
                                if traced_lat and untraced else 0.0),
        "ref.duckdb_p50_s": stats.median(ref_s) if ref_s else 0.0,
    }


# ------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["lookup", "mor_scan", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    spec = json.load(open(SPEC))

    t_start = time.perf_counter()
    digest = build()
    t_built = time.perf_counter()
    calib_before = calibrate()
    work_root = os.path.join(HERE, ".work")
    remove_stale(work_root)
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        raw = os.path.join(work, "raw", "lineitem.parquet")
        os.makedirs(os.path.dirname(raw))
        rows = gen.ROWS[args.workload]
        gen.write_lineitem(raw, args.seed, rows)
        plan = timed_plan(args.workload, args.seed, args.seconds)
        cpus = len(os.sched_getaffinity(0))
        plan.update(workload=args.workload, seconds=args.seconds, trace=bool(args.trace),
                    raw=raw, work=work, cpus=cpus)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        out_path = os.path.join(work, "out.jsonl")
        t_gen = time.perf_counter()
        run_jvm(plan_path, out_path, os.path.join(work, "jvm.log"), work,
                   timeout=args.seconds + 150)
        t_jvm = time.perf_counter()
        calib_after = calibrate()
        recs = load_records(out_path)
        verdict, ref_s, matching, live, inserted, probes = verify(
            args.workload, plan, recs, Oracle(raw))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    t_end = time.perf_counter()
    log(f"build {t_built - t_start:.1f} s, inputs {t_gen - t_built:.1f} s, "
        f"jvm {t_jvm - t_gen:.1f} s, checks {t_end - t_jvm:.1f} s")
    calibration = stats.median([calib_before, calib_after])
    timed = [r for r in recs["op"] if r["phase"] == "timed"]
    attempted = len(verdict)
    failed = sum(v != "ok" for v in verdict.values())
    by_kind = {}
    for r in timed:
        k = by_kind.setdefault(r["kind"], {"attempted": 0, "failed": 0, "latency_s": []})
        k["attempted"] += 1
        k["failed"] += verdict[r["id"]] != "ok"
        k["latency_s"].append(r["latency_s"])
    for k in by_kind.values():
        k["p50_s"] = stats.median(k.pop("latency_s"))
    metrics = (end_to_end(recs, live) if args.trace == 0
               else per_layer(recs, matching, live, ref_s, calibration))
    group = "end_to_end" if args.trace == 0 else "per_layer"
    units = {m["name"]: m["unit"] for m in spec[group]}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "env": dict({k: v for k, v in recs["env"].items() if k != "type"},
                    nproc=cpus, heap=f"-Xmx{HEAP}", git_commit=git_commit(),
                    source_sha256=digest, rows=rows,
                    host_calibration_s=[calib_before, calib_after]),
        "samples": len(timed),
        "by_kind": by_kind,
        "known_defect_probes": probes,
        "setup": {k: v for k, v in recs["setup"].items() if k != "type"},
        "unbounded": unbounded(recs, verdict, ref_s, inserted),
        "not_ok": {k: v for k, v in verdict.items() if v != "ok"},
    }
    if args.trace:
        report["span_self_s"] = span_self_s(recs["span"])
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
