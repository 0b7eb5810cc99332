"""Closed-loop benchmark of the lakehouse engine.

One client in one process drives a ``local[nproc]`` session through one
workload, op after op:

- ``llm_corpus``: the 5 LLM bench queries, noop sink;
- ``lake_ingest``: a streaming replay, results collected, and one table
  cycle through ``catalog``, ``versioning`` and ``matview``.

A run starts the session and runs one pass that checks every result
against DuckDB, then the workload's untimed warm passes; all of that is
set-up. Measured passes follow, at least ``workloads.MIN_PASSES`` of
them, until the next one would end past ``--seconds``. ``--seed`` fixes
the rows, keys and predicates of the table cycle. ``--trace 1`` turns
on the Spark event log, py4j call counting and spans, and reports
per-layer metrics instead of end-to-end ones.

Usage:
    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 15 --trace 0

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
is the full run record (run identity, every metric, per-op detail).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE = "aws_iceberg_automation_spark"
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from stats import covered, percentile, self_times, space_amp, write_amp  # noqa: E402
from tracing import (  # noqa: E402
    BATCH_PHASES,
    EventLog,
    Py4jCounter,
    Spans,
    StreamProgress,
    batch_start,
    plan_text,
    read_event_log,
    streaming_totals,
)

# Ops that only read; every other table-cycle op commits a write, and
# its latency is a commit_s sample.
READ_LAYERS = {"query", "replay", "versioning.read", "versioning.scan"}


def load_benchmark_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_identity() -> dict:
    """The git commit when there is one, and a digest of the engine's
    sources, which identifies the code in a checkout without git."""
    commit = None
    if os.path.isdir(os.path.join(REPO, ".git")):
        out = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = out.stdout.strip() or None
    h = hashlib.sha256()
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(REPO, ENGINE)):
        paths += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU ticks by state, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings (the 8th /proc/stat field is steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def load_compare():
    """The canonicalising comparator of the repo's contract gate."""
    path = os.path.join(REPO, "scripts", "verify_contract.py")
    spec = importlib.util.spec_from_file_location("verify_contract", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.compare


class Runner:
    """Runs units step by step and records one entry per op."""

    def __init__(self, spark, traced: bool, compare, progress) -> None:
        from pyspark.sql import DataFrame

        self.spark = spark
        self.traced = traced
        self.compare = compare
        self.progress = progress  # tracing.StreamProgress, or None without streams
        self.DataFrame = DataFrame
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.content_checks = 0
        self.py4j = Py4jCounter(spark) if traced else None

    def _fail(self, what: str, detail: str) -> None:
        self.failures.append(f"{what}: {detail}")
        print(f"[perfbench] FAIL {what}: {detail}", file=sys.stderr, flush=True)

    def _set_group(self, op: int, phase: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(f"pb{op}:{phase}", phase)

    def run_step(self, unit, step, pass_no: int, check: bool) -> float:
        """Run one step; returns the seconds spent outside the engine
        (DuckDB and comparison) so the caller can leave them out."""
        op = len(self.ops)
        rec = {"op": op, "pass": pass_no, "unit": unit.name, "name": step.name,
               "layer": step.layer, "ok": True}
        result = t1 = w1 = None
        self._set_group(op, "build")
        calls0 = self.py4j.calls if self.py4j else 0
        w0, t0 = time.time(), time.perf_counter()
        try:
            if self.py4j:
                with self.py4j:
                    out = step.call()
            else:
                out = step.call()
            t1, w1 = time.perf_counter(), time.time()
            if isinstance(out, self.DataFrame):
                self._set_group(op, "sink")
                if check:
                    result = out.toPandas()
                elif step.sink == "noop":
                    out.write.format("noop").mode("overwrite").save()
                elif step.sink == "collect":
                    out.collect()
        except Exception:
            rec["ok"] = False
            self._fail(step.name, traceback.format_exc(limit=3))
        t2, w2 = time.perf_counter(), time.time()
        if t1 is None:
            t1, w1 = t2, w2
        calls1 = self.py4j.calls if self.py4j else 0
        rec.update(op_s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1,
                   w0=w0, w1=w1, w2=w2, py4j_calls=calls1 - calls0)
        if self.progress is not None and step.layer == "replay":
            self.progress.wait_terminated()
            rec["progress"] = self.progress.take()
        if unit.after_step is not None:
            unit.after_step(step)
        self.ops.append(rec)
        outside = 0.0
        if check and rec["ok"] and result is not None:
            c0 = time.perf_counter()
            if step.expect is None:
                problems = [] if len(result) else ["no rows"]
            else:
                problems = self.compare(result, step.expect())
            if problems:
                rec["ok"] = False
                self._fail(step.name, "; ".join(problems))
            outside = time.perf_counter() - c0
        return outside

    def run_pass(self, units, pass_no: int, check: bool) -> float:
        """One pass over ``units``; returns the engine seconds spent."""
        t0 = time.perf_counter()
        outside = 0.0
        for make in units:
            unit = make()
            for step in unit.steps:
                outside += self.run_step(unit, step, pass_no, check)
            if unit.finish is not None:
                unit.finish()
            if unit.stats or unit.bytes_by_layer:
                self.ops[-1]["unit_stats"] = {
                    **unit.stats,
                    "bytes_by_layer": unit.bytes_by_layer,
                    "user_bytes": unit.user_bytes,
                }
            if check:
                c0 = time.perf_counter()
                for label, engine, expected in unit.checks:
                    self.content_checks += 1
                    try:
                        problems = self.compare(engine().toPandas(), expected())
                    except Exception:
                        problems = [traceback.format_exc(limit=3)]
                    if problems:
                        self._fail(f"{unit.name} {label}", "; ".join(problems))
                outside += time.perf_counter() - c0
        return time.perf_counter() - t0 - outside


def build_units(workload: str, spark, sf_dir: str, work: str, warehouse: str, seed: int, oracle):
    """Factories for the workload's units; the table cycle is rebuilt on
    fresh tables every time a pass reaches it."""
    w = workloads
    if workload == "llm_corpus":
        return [lambda u=u: u for u in w.query_units(spark, sf_dir, w.LLM_CORPUS, "query", "noop", oracle)]
    inputs = w.make_lake_inputs(sf_dir, os.path.join(work, "inputs"), seed)
    spec_path = os.path.join(REPO, "tablespecs", "events_bronze.yml")
    replays = w.query_units(spark, sf_dir, w.LAKE_REPLAYS, "replay", "collect", oracle)
    units = [lambda u=u: u for u in replays]
    units.append(lambda: w.table_cycle(spark, work, warehouse, spec_path, inputs, oracle))
    return units


def end_to_end(
    ops: list[dict], measured: list[int], setup_s: float, rss_mb: float
) -> tuple[dict, dict]:
    m_ops = [o for o in ops if o["pass"] in measured]
    lat = [o["op_s"] for o in m_ops]
    passes = [sum(o["op_s"] for o in m_ops if o["pass"] == p) for p in measured]
    p50, p90 = percentile(lat, 50), percentile(lat, 90)
    out = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "op_s.p50": (p50.value, "s"),
        "op_s.p90": (p90.value, "s"),
        "jvm_peak_rss_mb": (rss_mb, "MB"),
    }
    samples = {"passes": len(passes), "pass_s": passes, "ops": p50.n, "beyond_p90": p90.beyond}
    return out, samples


def lake_metrics(ops: list[dict], measured: list[int]) -> tuple[dict, dict]:
    """The lake_ingest-only user-facing metrics."""
    m_ops = [o for o in ops if o["pass"] in measured]
    batches = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for o in m_ops
        for p in o.get("progress", [])
    ]
    commits = [o["op_s"] for o in m_ops if o["layer"] not in READ_LAYERS]
    last = [o["unit_stats"] for o in m_ops if "unit_stats" in o][-1]
    out = {
        "microbatch_s.p50": (percentile(batches, 50).value, "s"),
        "microbatch_s.p90": (percentile(batches, 90).value, "s"),
        "commit_s.p50": (percentile(commits, 50).value, "s"),
        "commit_s.p90": (percentile(commits, 90).value, "s"),
        "write_amp": (write_amp(sum(last["bytes_by_layer"].values()), last["user_bytes"]), "ratio"),
        "space_amp": (space_amp(last["vt_root_bytes"], last["vt_live_bytes"]), "ratio"),
    }
    samples = {
        "microbatches": len(batches),
        "microbatches_beyond_p90": percentile(batches, 90).beyond,
        "commits": len(commits),
        "commits_beyond_p90": percentile(commits, 90).beyond,
    }
    return out, samples


def per_layer(ops, measured, start_s, warmup_s, events_dir) -> tuple[dict, dict, Spans]:
    """Per-layer metrics of the traced run: each summed over a measured
    pass, then the median over passes; per-op detail; and the spans."""
    from aws_iceberg_automation_spark.plans.explain import final_exchange_count

    log = EventLog(read_event_log(events_dir))
    spans = Spans()
    per_pass: dict[int, dict[str, float]] = {p: {} for p in measured}
    op_detail: dict[str, list[dict]] = {}

    def add(p: int, name: str, value: float) -> None:
        if p in per_pass:
            per_pass[p][name] = per_pass[p].get(name, 0.0) + value

    for o in ops:
        p = o["pass"]
        engine_op = o["layer"] in ("query", "replay")
        root = spans.add(f"op:{o['name']}", o["w0"], o["w2"], None, o["op"])
        build = spans.add("operators.build" if engine_op else o["layer"],
                          o["w0"], o["w1"], root, o["op"])
        sink = spans.add("operators.sink", o["w1"], o["w2"], root, o["op"])
        batches = []
        for prog in o.get("progress", []):
            b0 = batch_start(prog)
            d = prog["durationMs"]
            b1 = b0 + d["triggerExecution"] / 1000.0
            batches.append((b0, b1, spans.add("streaming.microbatch", b0, b1, build, o["op"])))
            # durationMs gives each phase's length, not its start: lay
            # the phases end to end in the order the trigger runs them
            t = b0
            for key, name in BATCH_PHASES:
                dt = d.get(key, 0) / 1000.0
                spans.add(name, t, t + dt, batches[-1][2], o["op"])
                t += dt
        for j in log.jobs_between(o["w0"], o["w2"]):
            job = log.jobs[j]
            end = job["end"] if job["end"] is not None else job["start"]
            parent = build if job["start"] <= o["w1"] else sink
            parent = next((b for b0, b1, b in batches if b0 <= job["start"] <= b1), parent)
            spans.add("spark.job", job["start"], end, parent, o["op"])
        if not engine_op:
            add(p, f"{o['layer']}_s", o["op_s"])  # e.g. catalog.merge_s
        if "unit_stats" in o:
            st = o["unit_stats"]
            add(p, "versioning.files_live", st["versioning.files_live"])
            add(p, "versioning.scan_skip_frac", st["versioning.scan_skip_frac"])
            add(p, "versioning.bytes_written", float(sum(
                v for k, v in st["bytes_by_layer"].items() if k.startswith("versioning."))))
        if not engine_op:
            continue
        build_jobs = log.jobs_between(o["w0"], o["w1"])
        all_jobs = log.jobs_between(o["w0"], o["w2"])
        intervals = [(log.jobs[j]["start"], log.jobs[j]["end"] or log.jobs[j]["start"])
                     for j in build_jobs]
        eager_s = covered(intervals, o["w0"], o["w1"])
        m = {
            "operators.build_s": o["build_s"],
            "operators.py4j_calls": float(o["py4j_calls"]),
            "operators.eager_jobs": float(len(build_jobs)),
            "operators.eager_s": eager_s,
            "operators.plan_s": max(0.0, o["build_s"] - eager_s),
            "operators.exec_s": o["exec_s"],
            **log.task_totals(all_jobs),
            "plans.final_exchanges": 0.0,
            "plans.broadcast_joins": 0.0,
            "plans.sort_merge_joins": 0.0,
        }
        if o["layer"] == "query":
            for ex in log.root_executions(f"pb{o['op']}:sink"):
                text = plan_text(log.final_plan(ex))
                m["plans.final_exchanges"] += final_exchange_count(text)
                m["plans.broadcast_joins"] += text.count("BroadcastHashJoin") + text.count(
                    "BroadcastNestedLoopJoin")
                m["plans.sort_merge_joins"] += text.count("SortMergeJoin")
        if o.get("progress"):
            m.update(streaming_totals(o["progress"]))
        for k, v in m.items():
            if k == "operators.peak_exec_mem_mb":
                if p in per_pass:
                    per_pass[p][k] = max(per_pass[p].get(k, 0.0), v)
            else:
                add(p, k, v)
        if p in per_pass:
            op_detail.setdefault(o["name"], []).append(
                {k: m[k] for k in ("operators.build_s", "operators.py4j_calls",
                                   "operators.eager_jobs", "operators.plan_s",
                                   "plans.final_exchanges")}
            )
    names = [x["name"] for x in load_benchmark_spec()["per_layer"]]
    metrics = {}
    for name in names:
        if name == "session.start_s":
            metrics[name] = start_s
        elif name == "session.warmup_s":
            metrics[name] = warmup_s
        else:
            metrics[name] = statistics.median([per_pass[p].get(name, 0.0) for p in measured])
    detail = {
        name: {k: statistics.median([r[k] for r in rows]) for k in rows[0]}
        for name, rows in op_detail.items()
    }
    return metrics, detail, spans


def run(args, work: str) -> tuple[dict, dict]:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    warehouse = os.path.join(work, "warehouse")
    events = os.path.join(work, "events")
    for d in (local, tmp, warehouse, events):
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    sys.path.insert(0, REPO)

    import __spark_entry__

    from aws_iceberg_automation_spark.session import get_spark
    import pyspark

    sf_dir = os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), workloads.SCALE)
    compare = load_compare()
    oracle = workloads.Oracle(sf_dir)
    conf = {
        # keep the JVM's temporary and perf-data files out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
        })

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", warehouse=warehouse,
                      extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    # spark-submit execs the driver JVM, so the gateway's child is the JVM
    gateway = spark.sparkContext._gateway
    progress = None
    try:
        if args.workload == "lake_ingest":
            progress = StreamProgress(spark)
        runner = Runner(spark, bool(args.trace), compare, progress)
        units = build_units(args.workload, spark, sf_dir, work, warehouse, args.seed, oracle)

        # Every pass runs the units in one fixed order: op latencies
        # depend on which ops ran before (a seeded order per run widened
        # the run-to-run spread of pass_s from about 0.1 to 0.2-0.3).
        # The first pass checks every result; it and the warm passes
        # after it are set-up. Measured passes follow until the next one
        # would end past --seconds.
        warmup_s = runner.run_pass(units, 0, check=True)
        warm = workloads.WARM_PASSES[args.workload]
        for p in range(1, warm + 1):
            warmup_s += runner.run_pass(units, p, check=False)
        measured = []
        cpu0 = cpu_ticks()
        m0 = time.perf_counter()
        while True:
            p0 = time.perf_counter()
            measured.append(warm + len(measured) + 1)
            runner.run_pass(units, measured[-1], check=False)
            now = time.perf_counter()
            if (len(measured) >= workloads.MIN_PASSES[args.workload]
                    and now - m0 + (now - p0) > args.seconds):
                break
        steal = steal_frac(cpu0, cpu_ticks())
        rss = peak_rss_mb(gateway.proc.pid)
    finally:
        if progress is not None:
            progress.close()
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    # Every op is one attempt, and so is every check of a table's
    # contents after a cycle; an op fails on an exception or a wrong result.
    ops = runner.ops
    attempted = len(ops) + runner.content_checks
    failed = len(runner.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        **source_identity(),
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                            if k.startswith("SPARK_GRAFT_")},
        "scale": workloads.SCALE,
        "warm_passes": workloads.WARM_PASSES[args.workload],
        "host_steal_frac": steal,
        "attempted": attempted,
        "failed": failed,
        "fail_frac": failed / attempted,
        "failures": runner.failures,
    }
    setup_s = start_s + warmup_s
    e2e, samples = end_to_end(ops, measured, setup_s, rss)
    if args.workload == "lake_ingest":
        lake, lake_samples = lake_metrics(ops, measured)
        e2e.update(lake)
        samples.update(lake_samples)
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    record["samples"] = samples
    by_name: dict[str, list[float]] = {}
    for o in ops:
        if o["pass"] in measured:
            by_name.setdefault(o["name"], []).append(o["op_s"])
    record["op_s_by_name"] = {k: statistics.median(v) for k, v in by_name.items()}
    record["warmup_op_s"] = {o["name"]: o["op_s"] for o in ops if o["pass"] == 0}
    spec = load_benchmark_spec()
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    last_path = os.path.join(out_dir, f"last-{args.workload}.json")
    if args.trace:
        layer, detail, spans = per_layer(ops, measured, start_s, warmup_s, events)
        units_of = {x["name"]: x["unit"] for x in spec["per_layer"]}
        metrics = {k: {"value": v, "unit": units_of[k]} for k, v in layer.items()}
        self_s = self_times(spans.spans)
        span_path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
        spans.write(span_path, self_s)
        measured_ops = {o["op"] for o in ops if o["pass"] in measured}
        self_by_span: dict[str, float] = {}
        for s in spans.spans:
            if s.op in measured_ops and not s.name.startswith("op:"):
                self_by_span[s.name] = self_by_span.get(s.name, 0.0) + self_s[s.id]
        record.update(per_layer=metrics, ops=detail, span_file=os.path.relpath(span_path, REPO),
                      self_s_by_span={k: v / len(measured) for k, v in sorted(self_by_span.items())})
        if os.path.exists(last_path):
            with open(last_path) as f:
                plain = json.load(f)["metrics"]["pass_s"]["value"]
            record["trace_overhead"] = e2e["pass_s"][0] / plain - 1.0
    else:
        with open(last_path, "w") as f:
            json.dump(record, f)
        names = [x["name"] for x in spec["end_to_end"]]
        metrics = {k: record["metrics"][k] for k in names}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
    return record, line


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found beside {HERE}", file=sys.stderr)
        return 2
    work_root = os.path.join(HERE, "_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        record, line = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)  # unless another run is using it
        except OSError:
            pass
    print(json.dumps(record))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
