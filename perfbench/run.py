#!/usr/bin/env python3
"""Layered benchmark of the CVA engine: one closed-loop client, one
process, ``local[nproc]``.

    python3 perfbench/run.py --workload cva_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The run sets up a session in a fresh
process (``setup_s``), times one cold pass (``cold_pass_s``), then warm
passes until ``--seconds`` have elapsed and at least ``MIN_WARM`` ran
(``pass_s``, ``cpu_s``: medians over the warm passes), checks
every pass's outputs against engine-free references, and prints one JSON
object as its last stdout line. ``--trace 1`` instead reports the
per-layer metrics from spans, job groups and Spark's event log.
See perfbench/README.md for the metric -> layer -> workload table.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "calp_cva_tracking_pipeline_spark"
TIME_LIMIT_S = 170  # the run must end within 180 s, cleanup included
# Warm passes per run, at the least. One pass is one sample, and a slow
# spell on the host lands in it whole; the median of two halves that.
MIN_WARM = 2

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
              "cpu_s": "s", "ok_share": "share"}


def per_layer_names() -> list[str]:
    from workloads import CATALOG_QUERIES, CHAIN_STEPS

    names = [
        "session.get_spark_s", "session.normalize_s",
        "catalog.build_s", "catalog.build_jobs", "plans.build_s",
        "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
        "exec.executor_run_s", "exec.executor_cpu_s", "exec.jvm_gc_s",
        "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
        "exec.spill_bytes", "exec.task_wait_s", "exec.slot_util",
        "exec.failed_tasks", "exec.driver_errors", "exec.peak_rss_mb",
        "python.bytes_to_worker", "python.bytes_from_worker",
        "sources.write_s", "sources.write_bytes", "sources.files_written",
    ]
    names += [f"plans.{s}.{k}" for s in CHAIN_STEPS for k in ("s", "rows_out")]
    names += [f"catalog.{q}.{k}" for q in CATALOG_QUERIES for k in (
        "build_s", "build_jobs", "exec_s", "shuffle_write_bytes")]
    return names + ["trace.pass_s"]


def unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    last = name.rsplit(".", 1)[-1]
    if last == "s" or last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "bytes"
    if last.endswith("_mb"):
        return "MB"
    return "share" if last == "slot_util" else "count"


def _fail(msg: str, code: int) -> int:
    print(f"perfbench: {msg}", file=sys.__stderr__, flush=True)
    return code


def shipped_zip_mismatches(root_dir: Path) -> list[str]:
    """Members of every package zip shipped to the Python workers that
    differ from the working tree's sources, plus sources missing from it.
    A stale zip would make the workers run old code against the new
    driver, so the run aborts before timing if this is not empty. No
    package zip at all is reported too: then nothing was checked."""
    tree = {f"{PKG}/{p.relative_to(ROOT / PKG)}": p.read_bytes()
            for p in (ROOT / PKG).rglob("*.py")}
    bad, shipped = [], 0
    for z in sorted(root_dir.glob("*.zip")):
        with zipfile.ZipFile(z) as zf:
            members = {n: zf.read(n) for n in zf.namelist()
                       if n.endswith(".py")}
        if not any(n.startswith(f"{PKG}/") for n in members):
            continue
        shipped += 1
        bad += [f"{z.name}:{n}" for n in sorted(set(tree) | set(members))
                if tree.get(n) != members.get(n)]
    return bad if shipped else [f"no {PKG} zip in {root_dir}"]


def _stop_jvm(spark) -> None:
    """Stop Spark, then the JVM and every process under it, and wait."""
    from tracing import process_tree

    proc = spark.sparkContext._gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def per_layer(tr, folded, passes, profile, cores, setup, extra):
    """Per-layer metrics, averaged over the traced run's warm passes."""
    from tracing import union_seconds
    from workloads import CATALOG_QUERIES, CHAIN_STEPS

    m = {"session.get_spark_s": setup[0], "session.normalize_s": setup[1]}
    rows = []
    for tag, wall in passes:
        spans = [s for s in tr.spans if s.get("group", "").startswith(tag + "|")]
        groups = {g: v for g, v in folded.items() if g.startswith(tag + "|")}

        def span_sum(layer, name, key=lambda s: s["end"] - s["start"]):
            return sum(key(s) for s in spans
                       if s["layer"] == layer and s["name"] == name)

        def fold(key):
            return sum(v.get(key, 0) for v in groups.values())

        r = {
            "catalog.build_s": span_sum("catalog", "build"),
            "catalog.build_jobs": span_sum("catalog", "build",
                                           lambda s: s["jobs"]),
            "plans.build_s": span_sum("plans", "build"),
            "exec.s": union_seconds([i for v in groups.values()
                                     for i in v["intervals"]]),
            "exec.jobs": fold("jobs"), "exec.stages": fold("stages"),
            "exec.tasks": fold("tasks"),
            "exec.executor_run_s": fold("executor_run_s"),
            "exec.executor_cpu_s": fold("executor_cpu_s"),
            "exec.jvm_gc_s": fold("jvm_gc_s"),
            "exec.shuffle_write_bytes": fold("shuffle_write_bytes"),
            "exec.shuffle_read_bytes": fold("shuffle_read_bytes"),
            "exec.spill_bytes": fold("spill_bytes"),
            "exec.task_wait_s": fold("task_wait_s"),
            "exec.slot_util": fold("executor_run_s") / (wall * cores),
            "exec.failed_tasks": fold("failed_tasks"),
            "python.bytes_to_worker": fold("py_to_worker"),
            "python.bytes_from_worker": fold("py_from_worker"),
            "sources.write_s": span_sum("sources", "sink"),
        }
        for q in CATALOG_QUERIES:
            qs = [s for s in spans if s["group"].split("|")[-2] == q]
            r[f"catalog.{q}.build_s"] = sum(
                s["end"] - s["start"] for s in qs if s["name"] == "build")
            r[f"catalog.{q}.build_jobs"] = sum(
                s["jobs"] for s in qs if s["name"] == "build")
            r[f"catalog.{q}.exec_s"] = sum(
                s["end"] - s["start"] for s in qs if s["name"] == "execute")
            r[f"catalog.{q}.shuffle_write_bytes"] = sum(
                v.get("shuffle_write_bytes", 0) for g, v in groups.items()
                if g.split("|")[-2] == q)
        rows.append(r)
    for k in rows[0]:
        m[k] = statistics.fmean(r[k] for r in rows)
    for step in CHAIN_STEPS:
        s, n = (profile or {}).get(step, (0.0, 0))
        m[f"plans.{step}.s"] = s
        m[f"plans.{step}.rows_out"] = n
    m.update(extra)
    m["trace.pass_s"] = statistics.median(w for _, w in passes)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / PKG / "__init__.py").is_file() or not (
            ROOT / "bench.py").is_file():
        return _fail(f"no {PKG} package and bench.py next to {HERE.name}/; "
                     "run from a full checkout", 2)
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; "
                     f"choose from {sorted(WORKLOADS)}", 2)

    # Per-run isolation: a fresh TMPDIR (where the session builds the
    # package zip it ships to Python workers), Spark local dirs, JVM temp
    # dir and warehouse, all inside the checkout and removed at the end.
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    out_root = ROOT / ".perfbench"
    run_dir = out_root / f"run-{run_id}"
    tmp = run_dir / "tmp"
    shutil.rmtree(run_dir, ignore_errors=True)  # left by a killed run
    tmp.mkdir(parents=True)
    (run_dir / "eventlog").mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    # the JVM inherits fd 2: its driver log goes to a file whose ERROR
    # lines are counted; our own messages go to the saved real stderr
    real_err = os.dup(2)
    log_path = run_dir / "driver.log"
    log = open(log_path, "w")
    os.dup2(log.fileno(), 2)
    sys.__stderr__ = sys.stderr = os.fdopen(real_err, "w", buffering=1)

    def on_alarm(*_):
        raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(TIME_LIMIT_S)
    live: dict = {}  # the session while it runs, for cleanup on failure
    code = 0
    try:
        code = _run(args, run_id, run_dir, out_root, log_path, live)
    except Exception:
        tail = log_path.read_text(errors="replace").splitlines()[-30:]
        code = _fail(traceback.format_exc() + "\n".join(tail), 3)
    finally:
        signal.alarm(0)
        if live.get("spark") is not None:
            try:
                _stop_jvm(live["spark"])
            except Exception as exc:  # best effort after a failure
                _fail(f"stopping Spark: {exc!r}", 3)
        os.dup2(real_err, 2)
        log.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


def _run(args, run_id, run_dir, out_root, log_path, live) -> int:
    from tracing import (
        Tracer,
        fold_event_log,
        host_steal_s,
        peak_rss_mb,
        tree_cpu_s,
    )
    from workloads import WORKLOADS

    from calp_cva_tracking_pipeline_spark.session import (
        get_spark,
        normalize_session,
    )

    cores = len(os.sched_getaffinity(0))
    conf = {"spark.sql.warehouse.dir": str(run_dir / "warehouse")}
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    os.chdir(run_dir)
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores,
                      extra_conf=conf)
    t1 = time.perf_counter()
    normalize_session(spark)
    t2 = time.perf_counter()
    live["spark"] = spark
    setup = (t1 - t0, t2 - t1)

    from pyspark import SparkFiles

    stale = shipped_zip_mismatches(Path(SparkFiles.getRootDirectory()))
    if stale:
        raise RuntimeError("shipped package zip missing or differing from "
                           f"the working tree: {stale[:5]}")
    t3 = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, run_dir, args.seed)
    t4 = time.perf_counter()
    wl.prepare_reference()
    t5, steal0 = time.perf_counter(), host_steal_s()
    tr = Tracer(spark.sparkContext, run_id, bool(args.trace))

    pid = os.getpid()
    attempted = failed = 0
    passes, failures = [], []
    written = (0, 0)

    def one_pass(i: int) -> tuple[float, float]:
        nonlocal attempted, failed, written
        spark.catalog.clearCache()
        tag = f"{run_id}|p{i}"
        c0, w0 = tree_cpu_s(pid), time.perf_counter()
        with tr.span(f"pass{i}", layer="pass"):
            out = wl.run_pass(tr, tag)
        wall, cpu = time.perf_counter() - w0, tree_cpu_s(pid) - c0
        if hasattr(wl, "written"):
            written = wl.written()
        for unit, ok, detail in wl.check(out):
            attempted += 1
            if not ok:
                failed += 1
                failures.append(f"pass {i} {unit}: {detail}")
        if i > 0:
            passes.append((tag, wall, cpu))
        return wall, cpu

    with tr.span("run", layer="run"):
        cold, _ = one_pass(0)
        warm_s = 0.0
        while len(passes) < MIN_WARM or warm_s < args.seconds:
            warm_s += one_pass(len(passes) + 1)[0]
        profile = (wl.profile(tr, f"{run_id}|profile")
                   if args.trace and hasattr(wl, "profile") else None)
    rss = peak_rss_mb(pid) + peak_rss_mb(
        spark.sparkContext._gateway.proc.pid)
    t6, steal = time.perf_counter(), host_steal_s() - steal0
    _stop_jvm(live.pop("spark"))
    t7 = time.perf_counter()
    driver_errors = sum(1 for line in open(log_path, errors="replace")
                        if re.search(r"\bERROR\b", line))
    for f in failures[:10]:
        print(f"# check failed: {f}", file=sys.stderr)

    if args.trace:
        folded = fold_event_log(run_dir / "eventlog")
        extra = {"exec.driver_errors": driver_errors,
                 "exec.peak_rss_mb": rss,
                 "sources.files_written": written[0],
                 "sources.write_bytes": written[1]}
        metrics = per_layer(tr, folded, [(t, w) for t, w, _ in passes],
                            profile, cores, setup, extra)
        tr.write(out_root / f"trace-{run_id}.json",
                 {"metrics": metrics, "job_groups": folded})
    else:
        metrics = {
            "setup_s": sum(setup),
            "cold_pass_s": cold,
            "pass_s": statistics.median(w for _, w, _ in passes),
            "cpu_s": statistics.median(c for _, _, c in passes),
            "ok_share": 1.0 - failed / attempted,
        }

    import pyspark

    from bench import box_calibration

    host = {
        "nproc": cores, "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "box_calibration_md5_s": box_calibration(),
        "warm_passes": len(passes), "driver_errors": driver_errors,
        # untimed phases of this run, for sizing the benchmark's budget
        "generate_s": t4 - t3, "reference_s": t5 - t4,
        "passes_s": t6 - t5, "teardown_s": t7 - t6,
        # CPU time taken from this machine by other guests meanwhile
        "passes_steal_s": round(steal, 2),
    }
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
