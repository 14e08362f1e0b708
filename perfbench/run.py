#!/usr/bin/env python3
"""pontem-spark benchmark: seeded query-mix workloads in one long-lived session.

Run from the repository root:

    python3 perfbench/run.py --workload sql_star --seed 7 --seconds 1 --trace 0

Load shape: a closed loop with one client. The driver thread runs the
workload's registry queries (perfbench/workloads.py) back to back in one
SparkSession on ``local[<cores>]``. A query is timed the way bench.py times
it: ``q.fn(spark, sf_dir)`` followed by a noop-format write, which executes
every projected column. The seed only permutes each pass's query order (the
order is printed), so interference between neighbouring queries is sampled.
The program receives nothing but the tables, which perfbench/datagen.py
generates once per scale factor under perfbench/.work/ with a fixed seed.

A run sets the session up once from a cold JVM, then runs a first pass and
warm passes until ``--seconds`` have passed since the first pass started (at
least one warm pass). The JIT keeps cutting a warm pass's cost for several
passes, so runs compare only when they run the same number of passes:
BENCHMARK.json asks for 1 s, which means exactly one warm pass. The first
pass collects each result to pandas and compares it with the query's DuckDB
oracle outside the query's timing.

``--trace 0`` reports the end-to-end metrics: ``setup_s``, ``first_pass_cpu_s``,
``pass_cpu_s`` (median over warm passes) and ``query_cpu_geomean_s`` (the
geometric mean over queries of each query's median warm cost). Each counts
the CPU seconds the program spent (this driver, the JVM and its Python
workers) outside the JVM's JIT compiler threads, whose seconds are printed
apart, read from /proc, not wall seconds: on a virtual machine whose host
is oversubscribed, the host steals CPU time and a run's wall time doubles
from one minute to the next (the benchmark prints the stolen share), while
the CPU seconds the program spends move far less. Wall seconds of the same
phases are printed for reading, not reported.

``--trace 1`` is a separate
run that reports per-layer metrics: it times the calls into each layer,
reads Spark's status store after each query, alternates traced and untraced
warm passes to report the tracing overhead, re-runs each query on its own to
measure the in-suite vs isolated gap, and writes its spans to
perfbench/.work/trace-<workload>-<seed>.json.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA_SEED = 42
DATA_VERSION = 2
ISOLATED_RUNS = 2

sys.path.insert(0, HERE)

from tracing import STAGE_FIELDS, StatusStore, Tracer, plan_counts  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def ensure_data(sf: float) -> str:
    """Generate the tables for ``sf`` once; later runs reuse them."""
    import datagen

    out = os.path.join(WORK, f"data-sf{sf}-seed{DATA_SEED}-v{DATA_VERSION}")
    stamp = os.path.join(out, "COMPLETE")
    if not os.path.exists(stamp):
        t0 = time.perf_counter()
        datagen.write(out, sf, DATA_SEED)
        open(stamp, "w").close()
        log(f"# generated sf{sf} tables in {time.perf_counter() - t0:.1f}s")
    return out


def prepare_env(tmp: str) -> dict[str, str]:
    """Point every temp path of Python, its workers and the JVM into the
    checkout, and let Python workers import pontem_spark."""
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    # spark-submit first runs a launcher JVM; without this it writes its
    # performance counters to /tmp/hsperfdata_<user>
    opts = os.environ.get("SPARK_LAUNCHER_OPTS")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData" + (" " + opts if opts else "")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # compiler threads then live as long as the JVM, so usage_s reads
        # all their CPU time from /proc (the JVM otherwise ends idle ones)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }


def cpu_reference_s() -> float:
    """BASELINE.md's CPU-loop reference, ``sum(i*i for i in range(20_000_000))``,
    to read absolute seconds across boxes. Its first tenth is timed and
    scaled by 10 (every iteration costs the same), which keeps it near 1 s."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return 10 * (time.perf_counter() - t0)


def proc_stat(pid: int) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name (state first),
    or None if the process has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree() -> dict[int, list[str]]:
    """This process and every process it started, directly or not (the JVM,
    its Python workers), each with its proc_stat fields."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (fields := proc_stat(int(pid))) is not None:
            stats[int(pid)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return tree


def jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads ("C1 CompilerThread0", ...) of
    process ``pid``; 0 for a process that is not a JVM."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name, fields = stat[stat.index("(") + 1 :].rsplit(")", 1)
        if "CompilerThre" in name:
            ticks += sum(int(x) for x in fields.split()[11:13])  # utime stime
    return ticks


def usage_s() -> tuple[float, float]:
    """(CPU seconds, JIT seconds) used so far by this process and every
    process it started: the JVM, its Python workers and the children they
    have reaped, read from /proc. CPU seconds leave out the JVM's JIT
    compiler threads, which JIT seconds count: compiling is about half of a
    pass's CPU time here, and how much of it lands in a pass depends on when
    the JVM's compile queue drains, so it swings far more from run to run
    than the work of the queries does. The kernel counts time the host of a
    virtual machine steals apart from both."""
    total = jit = 0
    for pid, f in process_tree().items():
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        if pid != os.getpid():
            jit += jit_ticks(pid)
    tck = os.sysconf("SC_CLK_TCK")
    return (total - jit) / tck, jit / tck


def cpu_s() -> float:
    """CPU seconds so far, as usage_s counts them."""
    return usage_s()[0]


def alive(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has ended)."""
    fields = proc_stat(pid)
    return fields is not None and fields[0] not in ("Z", "X")


def stop_processes(spark) -> None:
    """Stop the session, the JVM and every process below this one, and wait
    until each has ended. The JVM's Python workers are children of the JVM
    and outlive it for a moment, so they are listed before it is stopped."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # a second SIGTERM must not cut this short
    started = [pid for pid in process_tree() if pid != os.getpid()]
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # noqa: BLE001 - the processes below must stop regardless
            log(f"# spark.stop: {type(e).__name__}: {e}"[:400])
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception as e:  # noqa: BLE001 - the JVM may be gone already
            log(f"# gateway.shutdown: {type(e).__name__}: {e}"[:400])
    if jvm is not None:
        if jvm.stdin is not None:
            jvm.stdin.close()  # the gateway ends itself when its stdin closes
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    started += [pid for pid in process_tree() if pid != os.getpid() and pid not in started]
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in started:
            if alive(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            for pid in started:  # reap the ones that are this process's children
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            if not any(alive(pid) for pid in started):
                return
            time.sleep(0.05)
    log(f"# processes still running after SIGKILL: {[p for p in started if alive(p)]}")


def stolen_s() -> float:
    """CPU seconds the host of this virtual machine has given the machine's
    CPUs to others, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def environment(spark, cpu_ref: float, sf: float) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "PONTEM_DRIVER_MEM": os.environ.get("PONTEM_DRIVER_MEM", "unset"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "commit": commit,
        "cpu_ref_s": round(cpu_ref, 3),
        "sf": sf,
        "data_seed": DATA_SEED,
    }


def setup(extra_conf: dict, sf_dir: str):
    """Set-up from a cold JVM: session, first scan + count of every table,
    Python-worker spin-up (as bench.py warms them). Returns the session and
    its timings."""
    from pontem_spark.session import get_spark
    from pontem_spark.sources.tables import TABLES, load_table

    (c0, j0), t0 = usage_s(), time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    t2 = time.perf_counter()
    spark.range(100).mapInPandas(lambda it: it, "id long").count()
    t3 = time.perf_counter()
    c1, j1 = usage_s()
    return spark, {
        "setup_s": c1 - c0,
        "setup_jit_s": j1 - j0,
        "setup_wall_s": t3 - t0,
        "session.start_s": t1 - t0,
        "sources.warm_s": t2 - t1,
    }


def pass_order(names: tuple[str, ...], seed: int, index: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}/{index}").shuffle(order)
    return order


def timed_query(spark, q, sf_dir: str) -> tuple[float, float] | None:
    """(wall seconds, CPU seconds as cpu_s counts them) to build and execute
    ``q``; None if it raised."""
    c0, t0 = cpu_s(), time.perf_counter()
    try:
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001 - one failing query must not end the run
        log(f"# {q.name}: ERROR {type(e).__name__}: {e}"[:400])
        return None
    return time.perf_counter() - t0, cpu_s() - c0


def run_pass(spark, queries, order, sf_dir, index) -> tuple[float, float, dict]:
    """One warm pass: (wall seconds, CPU seconds, per-query timings)."""
    print(f"# pass {index} order: {' '.join(order)}", flush=True)
    (c0, j0), t0 = usage_s(), time.perf_counter()
    times = {n: timed_query(spark, queries[n], sf_dir) for n in order}
    wall, (c1, j1) = time.perf_counter() - t0, usage_s()
    cpu = c1 - c0
    log(
        f"# pass {index}: {wall:.3f}s wall, {cpu:.2f}s CPU, {j1 - j0:.2f}s JIT; "
        + " ".join(f"{n}={t[0]:.3f}/{t[1]:.2f}" for n, t in times.items() if t is not None)
    )
    return wall, cpu, times


def same_result(got, want) -> bool:
    """The comparison of tests/test_oracle.py, on its own normalization."""
    import pandas as pd
    from tests.test_oracle import _normalize

    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]):
            for a, b in zip(g[c], w[c]):
                if not (a == b or (math.isnan(a) and isinstance(b, float) and math.isnan(b))):
                    return False
        else:
            try:
                pd.testing.assert_series_equal(g[c], w[c], check_dtype=False, check_names=False)
            except AssertionError:
                return False
    return True


def first_pass(spark, queries, order, sf_dir) -> tuple[float, float, dict, int]:
    """The cold pass. Each query is built, executed and collected to pandas
    (timed), then compared with its DuckDB oracle (untimed), so checking the
    results costs no pass of its own. Returns the pass's wall and CPU
    seconds, per-query timings as in timed_query and the number of wrong
    results."""
    import duckdb

    from pontem_spark.sources.tables import TABLES

    print(f"# pass 0 order: {' '.join(order)}", flush=True)
    times, wrong = {}, 0
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for n in order:
            q = queries[n]
            c0, t0 = cpu_s(), time.perf_counter()
            try:
                got = q.fn(spark, sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - one failing query must not end the run
                log(f"# {n}: ERROR {type(e).__name__}: {e}"[:400])
                times[n] = None
                continue
            times[n] = (time.perf_counter() - t0, cpu_s() - c0)
            if q.oracle is not None and not same_result(got, con.execute(q.oracle).fetchdf()):
                log(f"# {n}: WRONG RESULT")
                wrong += 1
    wall, cpu = (sum(t[k] for t in times.values() if t is not None) for k in (0, 1))
    log(f"# pass 0 (cold, collected): {wall:.3f}s wall, {cpu:.2f}s CPU")
    return wall, cpu, times, wrong


def run_passes(spark, queries, names, args, sf_dir, traced_pass=None):
    """The timed region: the first pass, then warm passes until ``args.seconds``
    have passed since it started, with at least one warm pass. With
    ``traced_pass``, warm passes alternate traced and untraced, at least one
    of each; the seed's parity picks which kind comes first, so that over
    seeds neither kind runs on the less warmed-up JVM. Returns (untraced
    passes, first of them cold; traced passes; wrong results)."""
    stolen0, jit0, t_start = stolen_s(), usage_s()[1], time.perf_counter()
    *first, wrong = first_pass(spark, queries, pass_order(names, args.seed, 0), sf_dir)
    passes, traced = [tuple(first)], []
    while (
        len(passes) < 2
        or (traced_pass is not None and not traced)
        or time.perf_counter() - t_start < args.seconds
    ):
        index = len(passes) + len(traced)
        order = pass_order(names, args.seed, index)
        if traced_pass is not None and (index + args.seed) % 2:
            traced.append(traced_pass(order, index))
        else:
            passes.append(run_pass(spark, queries, order, sf_dir, index))
    share = (stolen_s() - stolen0) / ((time.perf_counter() - t_start) * cpu_count())
    print(f"# cpu_steal_share {share:.3f} (of this machine's CPU time during the passes)", flush=True)
    jit = usage_s()[1] - jit0
    print(f"# jit_cpu_s {jit:.2f} s (JIT compiler threads during the passes, not in the CPU metrics)", flush=True)
    return passes, traced, wrong, jit


def warm_medians(passes: list[tuple[float, float, dict]], k: int) -> dict[str, float]:
    """Per query, the median over warm (non-first) passes of its wall (k=0)
    or CPU (k=1) seconds, where it succeeded."""
    out = {}
    for n in passes[0][2]:
        vals = [t[n][k] for *_, t in passes[1:] if t[n] is not None]
        if vals:
            out[n] = statistics.median(vals)
    return out


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def count_runs(passes) -> tuple[int, int]:
    """(query runs attempted, query runs that raised) over ``passes``."""
    return sum(len(t) for *_, t in passes), sum(v is None for *_, t in passes for v in t.values())


def run_untraced(spark, queries, names, args, sf_dir, setup_layers):
    passes, _, wrong, _ = run_passes(spark, queries, names, args, sf_dir)
    print(f"# storage_mb_end {StatusStore(spark.sparkContext).storage_mb():.3f} MiB", flush=True)
    warm = passes[1:]
    print(
        f"# wall seconds: setup {setup_layers['setup_wall_s']:.3f}, first pass {passes[0][0]:.3f}, "
        f"pass {statistics.median(p[0] for p in warm):.3f}, "
        f"query geomean {geomean(warm_medians(passes, 0).values()):.4f}",
        flush=True,
    )
    print(f"# setup_jit_s {setup_layers['setup_jit_s']:.2f} s (not in setup_s)", flush=True)
    metrics = {
        "setup_s": (setup_layers["setup_s"], "s"),
        "first_pass_cpu_s": (passes[0][1], "s"),
        "pass_cpu_s": (statistics.median(p[1] for p in warm), "s"),
        "query_cpu_geomean_s": (geomean(warm_medians(passes, 1).values()), "s"),
    }
    return (metrics, *count_runs(passes), wrong)


def trace_query(spark, status, tracer, q, sf_dir, pass_span) -> dict:
    """Build, plan and execute ``q`` under spans; then, outside every span,
    read its jobs, stages, plan shape and what it left pinned."""
    sc = spark.sparkContext
    qspan = tracer.open("query", q.name, pass_span)
    built = []
    steps = (
        ("build", lambda: built.append(q.fn(spark, sf_dir))),
        ("plan", lambda: built[0]._jdf.queryExecution().executedPlan()),
        ("exec", lambda: built[0].write.format("noop").mode("overwrite").save()),
    )
    marks, phases = [status.next_job_id()], []
    for phase, step in steps:
        sc.setJobGroup(f"{q.name}:{phase}", q.name)
        span = tracer.open(phase, q.name, qspan)
        step()
        tracer.close(span)
        phases.append(span)
        marks.append(status.next_job_id())
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracer.close(qspan)

    status.drain()
    rec = {"query": q.name, "spark.stages_unread": 0, **{f"spark.{k}": 0.0 for k in STAGE_FIELDS}}
    for phase, span_id, lo, hi in zip(("build", "plan", "exec"), phases, marks, marks[1:]):
        jobs, unread = status.jobs(lo, hi)
        rec["spark.stages_unread"] += unread
        for j in jobs:
            if j["start"] is not None and j["end"] is not None:
                tracer.add("job", f"job {j['id']}", j["start"], j["end"], span_id)
            for k in STAGE_FIELDS:
                rec[f"spark.{k}"] += j[k]
        span = tracer.spans[span_id]
        rec[f"{phase}.s"] = span["end"] - span["start"]
        rec[f"{phase}.jobs"] = len(jobs)
        rec[f"{phase}.stages"] = sum(j["stages"] for j in jobs)
        rec[f"{phase}.tasks"] = sum(j["tasks"] for j in jobs)
    rec.update(plan_counts(built[0]))
    rec["pinned.rdds"] = status.pinned_rdds()
    rec["pinned.storage_mb"] = status.storage_mb()
    rec["build_span"] = phases[0]
    return rec


# Per-layer metrics summed over one traced warm pass (then the median over
# traced passes is reported).
PASS_SUMS = (
    "build.s", "build.jobs", "plan.s", "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
    "spark.run_s", "spark.cpu_s", "spark.gc_s", "spark.input_mb", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.stages_unread",
    "plans.exchanges", "plans.broadcasts", "plans.python_nodes",
)


def run_traced(spark, queries, names, args, sf_dir, setup_layers):
    from pontem_spark.sources.tables import TABLES, load_table

    status, tracer = StatusStore(spark.sparkContext), Tracer()
    hits = []
    for _ in range(5):
        t0 = time.perf_counter()
        for t in TABLES:
            load_table(spark, sf_dir, t)
        hits.append(time.perf_counter() - t0)

    run_span = tracer.open("run", args.workload, None)

    def traced_pass(order, index):
        print(f"# pass {index} (traced) order: {' '.join(order)}", flush=True)
        pspan = tracer.open("pass", str(index), run_span)
        recs = [trace_query(spark, status, tracer, queries[n], sf_dir, pspan) for n in order]
        tracer.close(pspan)
        # the pass's wall time without the status reads made between queries
        wall = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] == pspan)
        log(f"# pass {index} (traced): {wall:.3f}s")
        return wall, recs

    passes, traced, wrong, jit = run_passes(spark, queries, names, args, sf_dir, traced_pass)
    tracer.close(run_span)

    # in-suite vs isolated: each query re-run back to back on its own; the
    # last of the runs counts
    isolated = {}
    for n in names:
        for _ in range(ISOLATED_RUNS):
            t = timed_query(spark, queries[n], sf_dir)
            isolated[n] = t and t[0]
    in_suite = warm_medians(passes, 0)
    common = [n for n in names if n in in_suite and isolated[n]]

    self_time = tracer.self_times()
    per_pass = []
    for _, recs in traced:
        tot = {k: sum(r[k] for r in recs) for k in PASS_SUMS}
        tot["build.driver_s"] = sum(self_time[r["build_span"]] for r in recs)
        tot["build.job_s"] = tot["build.s"] - tot["build.driver_s"]
        per_pass.append(tot)
    recs = [r for _, rs in traced for r in rs]
    layers = {
        "session.start_s": (setup_layers["session.start_s"], "s"),
        "sources.warm_s": (setup_layers["sources.warm_s"], "s"),
        "sources.load_table_hit_s": (statistics.median(hits), "s"),
        "jvm.setup_jit_s": (setup_layers["setup_jit_s"], "s"),
        "jvm.jit_s": (jit, "s"),
    }
    for k in per_pass[0]:
        unit = "s" if k.endswith((".s", "_s")) else "MiB" if k.endswith("_mb") else "count"
        layers[k] = (statistics.median(p[k] for p in per_pass), unit)
    overhead = statistics.median(w for w, _ in traced) - statistics.median(p[0] for p in passes[1:])
    rdds_end, storage_end = status.pinned_rdds(), status.storage_mb()
    layers.update(
        {
            "pinned.rdds_max": (max(rdds_end, *(r["pinned.rdds"] for r in recs)), "count"),
            "pinned.rdds_end": (rdds_end, "count"),
            "pinned.storage_mb_max": (max(storage_end, *(r["pinned.storage_mb"] for r in recs)), "MiB"),
            "pinned.storage_mb_end": (storage_end, "MiB"),
            "suite.gap_ratio": (sum(in_suite[n] for n in common) / sum(isolated[n] for n in common), "ratio"),
            "trace.overhead_s": (overhead, "s"),
        }
    )
    path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {"spans": tracer.spans, "self_s": self_time, "queries": recs,
             "in_suite_s": in_suite, "isolated_s": isolated},
            f,
        )
    print(f"# trace written to {os.path.relpath(path, ROOT)}")
    print(f"# tracing overhead: {overhead:+.3f} s per pass (traced minus untraced wall seconds)")
    attempted, failed = count_runs(passes)
    return (
        layers,
        attempted + len(recs) + len(names) * ISOLATED_RUNS,
        failed + sum(isolated[n] is None for n in names),
        wrong,
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="scale factor of the generated tables")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pontem_spark", "__init__.py")):
        log(f"perfbench: no pontem_spark package next to {HERE}; run from a repository checkout")
        return 2

    cpu_ref = cpu_reference_s()
    sf_dir = ensure_data(args.sf)
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    extra_conf = prepare_env(tmp)
    sys.path.insert(0, ROOT)
    from pontem_spark.queries.registry import all_queries

    queries = all_queries()
    names = WORKLOADS[args.workload]
    spark = None
    # a SIGTERM ends the run through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        spark, setup_layers = setup(extra_conf, sf_dir)
        print("# env " + json.dumps(environment(spark, cpu_ref, args.sf)), flush=True)
        run = run_traced if args.trace else run_untraced
        metrics, attempted, failed, wrong = run(spark, queries, names, args, sf_dir, setup_layers)
    finally:
        stop_processes(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"# failed_frac {failed / attempted:.4f} ({failed} of {attempted} query runs raised)")
    print(f"# wrong_results {wrong} (of {len(names)} checked against their DuckDB oracles)")
    for k, (v, unit) in metrics.items():
        print(f"# {k} {v:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": wrong == 0 and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
