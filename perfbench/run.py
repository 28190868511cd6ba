"""Closed-loop benchmark of the query catalog, measured from outside it.

Usage (from the repository root)::

    python3 perfbench/run.py --workload headline --seed 1 --seconds 5 --trace 0

One client, one query at a time, on ``local[nproc]``. The run:

1. rewrites the program's default dataset into a fixture that depends only
   on ``--seed`` (``fixture.py``) and computes the DuckDB oracle results on
   it (cached per seed);
2. sets up: builds the session, imports the catalog, runs one warm-up query;
3. runs one cold pass over the workload's queries;
4. checks every query once against its oracle, outside the timed passes;
   this also runs the JIT-compiled code a second time before it is timed;
5. runs warm passes until ``--seconds`` have gone by and at least five ran.
   Every query of a pass runs inside ``persist_scope()`` after
   ``clearCache()`` and writes to the ``noop`` sink. ``pass_s`` sums each
   query's median over the warm passes, ``pass_cpu_s`` the same over CPU
   seconds;
6. stops the session and its JVM, then sets up once more in a fresh process
   (``setup_probe.py``), so ``setup_s`` is the median of two cold set-ups.

With ``--trace 1`` the same run also records spans (run, pass, query,
build/plan/execute/release, Spark jobs and stages, streaming batches), writes
them to ``.perfbench_work/traces/`` and reports the per-layer metrics.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; earlier lines give a readable
report. Every run also appends its full record to
``.perfbench_work/results.jsonl``, which ``compare.py`` reads. Exit code 0
means a result was printed; 2 means the program or its dataset is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

from spans import Tracer, innermost, self_time, union_length  # noqa: E402

from workloads import WARMUP_QUERY, WORKLOADS  # noqa: E402


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(tmp: str) -> None:
    """Point every process the run starts at the checkout: the Python workers
    import the program from it, and Spark and Python scratch files go to
    ``tmp``. The JVM keeps its JIT compiler threads for its whole life, so
    ``layers.tree_cpu_s`` can leave their CPU time out. Must run before the
    JVM starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"),
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    sys.path.insert(0, ROOT)


def source_digest() -> str:
    """SHA-1 over the program's Python sources, standing in for a commit id
    when the checkout is not a git repository."""
    h = hashlib.sha1()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, "prajna_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:12]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


# Warm passes, after the cold pass and the correctness check. In some JVMs
# the first two of them still ran up to twice as slow as the later ones, so
# each query's figure is the median of at least five.
MIN_WARM_PASSES = 5


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def warm(per_pass: list) -> list:
    """The samples of the warm passes, from a list indexed by pass number;
    pass 0 is the cold one."""
    return per_pass[1:] or per_pass


def percentile_with_support(values: list[float], q: float) -> float | None:
    """The ``q`` quantile of ``values`` if at least ten samples lie above it."""
    if len(values) * (1 - q) < 10:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


class Runner:
    """Runs one workload's queries on one session, one at a time."""

    def __init__(self, names: list[str], fixture: str, tracer: Tracer):
        self.fixture = fixture
        self.tracer = tracer
        self.trace = tracer.enabled
        self.names = names
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.catalog = None
        self.lifecycle = None
        self.stream = None
        self.by_query: dict[str, list[float]] = {}
        self.cpu_by_query: dict[str, list[float]] = {}
        self.leaked: dict[str, int] = {}

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict:
        """Build the session, import the catalog and run the warm-up query.
        Called once per process, so every set-up is cold."""
        from prajna_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        from prajna_spark.queries import queries

        self.catalog = queries()
        if self.trace:
            from layers import LifecycleProbe

            self.lifecycle = LifecycleProbe(lambda: self.spark)
            self.lifecycle.install()
        t2 = time.time()
        self.catalog[WARMUP_QUERY](self.spark, self.fixture).write.mode(
            "overwrite"
        ).format("noop").save()
        t3 = time.time()
        if self.trace:
            from layers import StreamProbe

            self.stream = StreamProbe()
            self.spark.streams.addListener(self.stream)
        return {"start_s": t1 - t0, "import_s": t2 - t1, "warmup_s": t3 - t2, "total_s": t3 - t0}

    # -- one query ------------------------------------------------------
    def run_query(self, name: str, pass_no: int) -> None:
        from prajna_spark.operators.lifecycle import persist_scope

        from layers import tree_cpu_s

        tr, spark = self.tracer, self.spark
        self.attempted += 1
        cpu0 = tree_cpu_s()
        with tr.span("query", query=name) as rec:
            spark.catalog.clearCache()
            scope = persist_scope()
            scope.__enter__()
            try:
                with tr.span("build"):
                    df = self.catalog[name](spark, self.fixture)
                if self.trace:
                    from layers import force_plan

                    with tr.span("plan") as plan:
                        plan.update(force_plan(df))
                with tr.span("execute"):
                    df.write.mode("overwrite").format("noop").save()
                if self.trace:
                    self.lifecycle.sample()
            except Exception as exc:  # a failing query is a result, not a crash
                self.fail(name, f"pass {pass_no}: {exc!r}")
                rec["error"] = True
            finally:
                with tr.span("release"):
                    scope.__exit__(None, None, None)
            if self.trace:
                from layers import cached_storage

                blocks = cached_storage(spark)[1]
                rec["leaked_blocks"] = blocks
                if blocks:
                    self.leaked[name] = max(self.leaked.get(name, 0), blocks)
        if not rec.get("error"):
            self.by_query.setdefault(name, []).append(rec["elapsed"])
            self.cpu_by_query.setdefault(name, []).append(tree_cpu_s() - cpu0)

    def run_pass(self, pass_no: int) -> tuple[float, int | None]:
        with self.tracer.span("pass", index=pass_no) as rec:
            pid = self.tracer.current()
            for name in self.names:
                self.run_query(name, pass_no)
        return rec["elapsed"], pid

    # -- correctness ----------------------------------------------------
    def check(self) -> None:
        """Run every query once more, collect it and compare with its oracle
        result on the same fixture."""
        from oracle import expected
        from prajna_spark.operators.lifecycle import persist_scope
        from prajna_spark.queries import registry
        from prajna_spark.sources.catalog import TABLES
        from tools.check_parity import compare

        specs = registry()
        oracles = {n: specs[n].oracle for n in self.names if specs[n].oracle}
        wanted = expected(self.fixture, oracles, TABLES)
        for name in self.names:
            self.attempted += 1
            want = wanted.get(name, "no oracle SQL")
            if isinstance(want, str):
                self.fail(name, want)
                continue
            self.spark.catalog.clearCache()
            try:
                with persist_scope():
                    pdf = self.catalog[name](self.spark, self.fixture).toPandas()
            except Exception as exc:
                self.fail(name, f"check: {exc!r}")
                continue
            problems = compare(pdf, want)
            if problems:
                self.fail(name, "check: " + "; ".join(problems))

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.setdefault(name, why[:500])

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def layer_metrics(runner: Runner, passes: list[tuple], cores: int) -> dict:
    """Per-layer metrics of each traced pass (dict of metric -> list)."""
    import layers

    tr, spark = runner.tracer, runner.spark
    out: dict[str, list[float]] = {}

    def put(k, v):
        out.setdefault(k, []).append(float(v))

    for _pass_no, _wall, pid, data in passes:
        jobs, stages, pyw, pystages, progress, life = data
        kids = tr.children()
        query_ids = [q.id for q in kids.get(pid, [])]
        phase_ids = [c.id for q in query_ids for c in kids.get(q, [])]
        spans = tr.spans
        by_stage = {s["id"]: s for s in stages}
        # jobs and stages become child spans of the phase that launched them
        for j in jobs:
            if j["start"] is None or j["end"] is None:
                continue
            parent = innermost(spans, phase_ids, j["start"])
            jid = tr.add("job", j["start"], j["end"], parent, job=j["id"])
            for sid in j["stages"]:
                s = by_stage.get(sid)
                if s and s["start"] is not None and s["end"] is not None:
                    tr.add("stage", s["start"], s["end"], jid, stage=sid, tasks=s["tasks"])
        for p in progress:
            parent = innermost(spans, phase_ids, p["start"])
            tr.add("batch", p["start"], p["start"] + p["trigger_s"], parent, rows=p["rows"])
        kids = tr.children()
        phases = {n: [spans[i] for i in phase_ids if spans[i].name == n]
                  for n in ("build", "plan", "execute", "release")}
        build_jobs = [c for b in phases["build"] for c in kids.get(b.id, []) if c.name == "job"]
        put("queries.build_s", sum(b.end - b.start for b in phases["build"]))
        put("queries.build_driver_s", sum(self_time(b, kids.get(b.id, [])) for b in phases["build"]))
        put("queries.build_jobs", len(build_jobs))
        for k in ("analysis_ms", "optimization_ms", "planning_ms", "exchanges"):
            put(f"catalyst.{k}", sum(p.attrs.get(k, 0.0) for p in phases["plan"]))
        intervals = [(s["start"], s["end"]) for s in stages if s["start"] is not None]
        idle = 0.0
        for e in phases["execute"]:
            clipped = [(max(a, e.start), min(b, e.end)) for a, b in intervals]
            idle += (e.end - e.start) - union_length(clipped)
        active = union_length(intervals)
        task_s = sum(s["run_s"] for s in stages)
        put("scheduler.jobs", len(jobs))
        put("scheduler.stages", len(stages))
        put("scheduler.tasks", sum(s["tasks"] for s in stages))
        put("scheduler.idle_s", idle)
        put("scheduler.slot_util", task_s / (active * cores) if active else 0.0)
        put("executor.task_s", task_s)
        for k in ("cpu_s", "gc_s", "deser_s", "result_ser_s"):
            put(f"executor.{k}", sum(s[k] for s in stages))
        skews = [layers.stage_skew(spark, s) for s in stages if s["tasks"] >= cores]
        put("executor.skew_max", max([x for x in skews if x] or [1.0]))
        put("shuffle.write_mb", sum(s["shuffle_write"] for s in stages) / layers.MB)
        put("shuffle.read_mb", sum(s["shuffle_read"] for s in stages) / layers.MB)
        put("shuffle.fetch_wait_s", sum(s["fetch_wait_s"] for s in stages))
        put("shuffle.spill_mb", sum(s["spill"] for s in stages) / layers.MB)
        put("sources.input_mb", sum(s["input"] for s in stages) / layers.MB)
        put("sources.input_rows", sum(s["input_rows"] for s in stages))
        for k, v in life.items():
            put(f"lifecycle.{k}", v)
        put("lifecycle.leaked_blocks", sum(spans[q].attrs.get("leaked_blocks", 0) for q in query_ids))
        put("streaming.batches", len(progress))
        for k in ("rows", "trigger_s", "add_batch_s", "commit_s", "planning_s"):
            name = "input_rows" if k == "rows" else k
            put(f"streaming.{name}", sum(p[k] for p in progress))
        last: dict[str, dict] = {}
        for p in progress:
            last[p["query"]] = p
        put("streaming.state_rows", sum(p["state_rows"] for p in last.values()))
        put("streaming.state_mb", sum(p["state_mb"] for p in last.values()))
        put("pyworker.data_sent_mb", pyw["sent"] / layers.MB)
        put("pyworker.data_received_mb", pyw["received"] / layers.MB)
        put("pyworker.rows", pyw["rows"])
        put("pyworker.wait_s", sum(
            max(0.0, s["run_s"] - s["cpu_s"] - s["gc_s"]) for s in stages if s["id"] in pystages
        ))
    return out


def collect_pass_data(runner: Runner, marks: dict) -> tuple:
    """Status-store, SQL-metric, streaming and lifecycle data since ``marks``."""
    import layers

    spark = runner.spark
    jobs, stages = layers.jobs_and_stages(spark, marks["job"], marks["stage"])
    pyw, pystages, max_exec = layers.python_sql_metrics(spark, marks["exec"])
    progress = runner.stream.drain()
    life = runner.lifecycle.take()
    if jobs:
        marks["job"] = max(j["id"] for j in jobs) + 1
    all_stage_ids = [s for j in jobs for s in j["stages"]] + [s["id"] for s in stages]
    if all_stage_ids:
        marks["stage"] = max(all_stage_ids) + 1
    marks["exec"] = max_exec + 1
    return jobs, stages, pyw, pystages, progress, life


def shutdown_jvm() -> None:
    """End the JVM the session started (it exits when its stdin closes) and
    wait for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fresh_setup(fixture: str) -> dict:
    """One cold set-up in a new Python process with its own JVM, started with
    the environment ``prepare_env`` gave this one; returns its timings.

    A run takes one, so ``setup_s`` is the median of two cold set-ups. Each
    costs 12-26 s on 4 cores; a third would push the runs a regression check
    makes past its hour."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "setup_probe.py"), fixture],
        capture_output=True, text=True, timeout=150,
    )
    if out.returncode != 0:
        raise RuntimeError(f"set-up probe failed: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def load_results(workload: str, seed: int, trace: int, names: list[str]) -> list[dict]:
    path = os.path.join(WORK, "results.jsonl")
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if (rec["workload"], rec["seed"], rec["trace"], rec.get("queries")) == (
                workload, seed, trace, names
            ):
                out.append(rec)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    load1, load5, _ = os.getloadavg()
    ticks = cpu_ticks()
    run_id = uuid.uuid4().hex[:12]
    tmp = os.path.join(WORK, "tmp", run_id)
    os.makedirs(tmp)
    try:
        return run(args, run_id, tmp, (load1, load5), ticks)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, run_id: str, tmp: str, load: tuple[float, float], ticks: tuple[int, int]) -> int:
    caller_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    prepare_env(tmp)
    try:
        from prajna_spark.sources.catalog import DEFAULT_SF_DIR, TABLES
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    missing = [t for t in TABLES if not os.path.exists(os.path.join(DEFAULT_SF_DIR, f"{t}.parquet"))]
    if missing:
        print(f"perfbench: dataset {DEFAULT_SF_DIR} lacks {missing}", file=sys.stderr)
        return 2

    import fixture

    t_fix = time.time()
    fdir = fixture.fixture_dir(DEFAULT_SF_DIR, args.seed, WORK, TABLES)
    fixture_s = time.time() - t_fix

    tracer = Tracer(run_id, enabled=bool(args.trace))
    runner = Runner(WORKLOADS[args.workload]["queries"], fdir, tracer)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    import layers

    passes = []
    marks = {"job": 0, "stage": 0, "exec": 0}
    with tracer.span("run", workload=args.workload, seed=args.seed) as run_rec:
        with tracer.span("setup"):
            setups = [runner.setup()]
        if args.trace:
            marks["exec"] = layers.next_execution_id(runner.spark)
            collect_pass_data(runner, marks)  # discard the warm-up's jobs
        first, pid = runner.run_pass(0)
        if args.trace:
            passes.append((0, first, pid, collect_pass_data(runner, marks)))
        with tracer.span("check") as check_rec:
            runner.check()
        if args.trace:
            collect_pass_data(runner, marks)  # discard the check's jobs
        later = []
        t_later = time.time()
        while len(later) < MIN_WARM_PASSES or time.time() - t_later < args.seconds:
            wall, pid = runner.run_pass(len(later) + 1)
            later.append(wall)
            if args.trace:
                passes.append((len(later), wall, pid, collect_pass_data(runner, marks)))
        peak_rss = layers.tree_peak_rss_mb()
        per_layer = layer_metrics(runner, passes, cores) if args.trace else {}
        runner.stop()
        shutdown_jvm()
        with tracer.span("setup"):
            setups.append(fresh_setup(fdir))
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))

    metrics = {
        "setup_s": statistics.median(s["total_s"] for s in setups),
        "first_pass_s": first,
        "pass_s": sum(statistics.median(warm(ts)) for ts in runner.by_query.values()),
        "pass_cpu_s": sum(statistics.median(warm(ts)) for ts in runner.cpu_by_query.values()),
        "peak_rss_mb": peak_rss,
    }
    failed = runner.failed
    query_times = [t for ts in runner.by_query.values() for t in ts]
    report = {
        "error_rate": failed / runner.attempted,
        "failed_queries": runner.failures,
        "query_samples": len(query_times),
        "query_s_p50": percentile_with_support(query_times, 0.5),
        "query_s_p90": percentile_with_support(query_times, 0.9),
        "later_passes": later,
        "query_s": runner.by_query,
        "query_cpu_s": runner.cpu_by_query,
        "setups": setups,
        "check_s": check_rec["elapsed"],
        "fixture_s": fixture_s,
        "run_s": run_rec["elapsed"],
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "queries": runner.names,
        "run_id": run_id,
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "commit": git_commit(),
        "source_sha1": source_digest(),
        "nproc": nproc(),
        "spark_graft_cpus_env": caller_cpus,
        "loadavg_start": list(load),
        "steal_share": steal / total if total else 0.0,
        "metrics": metrics,
        "report": report,
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    gated = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    units = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}
    for k, v in metrics.items():
        print(f"perfbench: {args.workload} {k} = {v:.4f} {units[k]}")
    print(f"perfbench: {args.workload} error_rate = {report['error_rate']:.4f} "
          f"({failed} of {runner.attempted} query executions)")
    for q in ("query_s_p50", "query_s_p90"):
        v = report[q]
        shown = f"{v:.4f} s" if v is not None else "not reported (fewer than 10 samples beyond it)"
        print(f"perfbench: {args.workload} {q} = {shown} over {report['query_samples']} samples")
    print(f"perfbench: {args.workload} run took {run_rec['elapsed']:.1f} s after "
          f"{fixture_s:.1f} s of fixture generation; CPU time stolen by the "
          f"hypervisor: {100 * record['steal_share']:.1f}%")
    for name, why in runner.failures.items():
        print(f"perfbench: FAILED {name}: {why}")

    if args.trace:
        med = {k: statistics.median(warm(v)) for k, v in per_layer.items()}
        for k, part in (("session.start_s", "start_s"), ("session.warmup_s", "warmup_s"),
                        ("queries.import_s", "import_s")):
            med[k] = statistics.median(s[part] for s in setups)
        record["per_layer"] = med
        record["per_layer_passes"] = per_layer
        record["leaked_by_query"] = runner.leaked
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}-{run_id}.jsonl")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        tracer.dump(trace_path)
        record["trace_file"] = os.path.relpath(trace_path, ROOT)
        record["split"] = split_report(tracer)
        print_trace_report(args.workload, med, record, runner, layer_units)
        result_metrics = {k: {"value": med[k], "unit": u} for k, u in layer_units.items()}
    else:
        result_metrics = {k: {"value": metrics[k], "unit": u} for k, u in gated.items()}

    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": result_metrics,
    }), flush=True)
    return 0


def split_report(tracer: Tracer) -> list[dict]:
    """Per pass: where its wall time went. Each query phase (build, plan,
    execute, release) splits into driver-only time (its self time) and time
    with a Spark job or streaming micro-batch in flight (its children);
    ``other_s`` is the query loop's own time. The parts sum to the pass
    wall."""
    kids = tracer.children()
    out = []
    for p in tracer.spans:
        if p.name != "pass":
            continue
        split: dict[str, float] = {}
        queries = kids.get(p.id, [])
        for q in queries:
            for ph in kids.get(q.id, []):
                jobs = kids.get(ph.id, [])
                split[f"{ph.name}_driver_s"] = split.get(f"{ph.name}_driver_s", 0.0) + self_time(ph, jobs)
                split[f"{ph.name}_spark_s"] = split.get(f"{ph.name}_spark_s", 0.0) + (
                    (ph.end - ph.start) - self_time(ph, jobs))
        wall = p.end - p.start
        split["other_s"] = self_time(p, queries) + sum(
            self_time(q, kids.get(q.id, [])) for q in queries)
        bpe = sum(v for k, v in split.items() if k.split("_")[0] in ("build", "plan", "execute"))
        out.append({
            "pass": p.attrs["index"],
            "wall_s": wall,
            "split_s": split,
            "build_plan_execute_share": bpe / wall if wall else 0.0,
        })
    return out


def print_trace_report(workload: str, med: dict, record: dict, runner: Runner, units: dict) -> None:
    for k in sorted(med):
        unit = units.get(k) or {"s": "s", "ms": "ms", "mb": "MB"}.get(k.rsplit("_", 1)[-1], "")
        print(f"perfbench: {workload} {k} = {med[k]:.4f} {unit}")
    for s in record["split"]:
        parts = ", ".join(f"{k} {v:.3f}" for k, v in sorted(s["split_s"].items()))
        print(f"perfbench: pass {s['pass']} wall {s['wall_s']:.3f} s; "
              f"build+plan+execute {100 * s['build_plan_execute_share']:.1f}% of it; {parts}")
    if runner.leaked:
        print(f"perfbench: cached blocks left after persist_scope exit: {runner.leaked}")
    base = [r for r in load_results(workload, record["seed"], 0, record["queries"])
            if r["source_sha1"] == record["source_sha1"]]
    if base:
        overhead = record["metrics"]["pass_s"] - base[-1]["metrics"]["pass_s"]
        record["trace_overhead_s"] = overhead
        print(f"perfbench: tracing overhead (traced minus untraced pass_s, seed "
              f"{record['seed']}) = {overhead:+.4f} s")
    else:
        print("perfbench: tracing overhead unknown: no untraced run of this seed yet")
    print(f"perfbench: spans written to {record['trace_file']}")


if __name__ == "__main__":
    sys.exit(main())
