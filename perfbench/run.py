#!/usr/bin/env python3
"""The repository benchmark: end-to-end and per-layer performance of the
engine on fixed query mixes.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. ``--seed`` generates the input tables.
Each workload runs its query list once as a warm-up pass that doubles
as the correctness gate against the DuckDB twins, then repeats the list
in timed passes until ``--seconds`` have been measured. With
``--trace 0`` the last stdout line
is a JSON object with the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics, taken from spans around the
benchmark's calls into the engine and from the Spark event log. See
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import types  # noqa: E402
from collections import defaultdict  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

import fixtures  # noqa: E402
import tracing  # noqa: E402


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]
    service: bool = False


WORKLOADS = {
    # Job-count-bound iterative queries: 57/44/25 Spark jobs each, under
    # a megabyte of shuffle. Scheduler ticks and eager materialization
    # inside the query functions set their time.
    "iterative-sf0.01": Workload(0.01, (
        "graph_hits_bipartite",
        "similarity_topk_mips",
        "pagerank_personalized_seeded",
    )),
    # Submissions to the resident service at sf0.1: socket + JSON,
    # collect/limit/count instead of the noop sink, a long-lived
    # session, and the MapReduce facade beside its native twins.
    "service-sf0.1": Workload(0.1, (
        "word_count",
        "word_count_mr",
        "inverted_index",
        "inverted_index_mr",
        "join_revenue_by_nation",
    ), service=True),
}
# facade query -> native twin whose result it must reproduce
MR_TWINS = {"word_count_mr": "word_count", "inverted_index_mr": "inverted_index"}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.parquet_scans": "count",
    "plans.rdd_leaves": "count",
    "plans.joins_smj": "count",
    "plans.joins_bhj": "count",
    "exec.sink_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.offcpu_s": "s",
    "exec.gc_s": "s",
    "exec.peak_mem_mb": "MB",
    "exec.busy_ratio": "ratio",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "shuffle.write_time_s": "s",
    "shuffle.spill_mb": "MB",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "mapreduce.facade_ratio": "ratio",
    "service.start_s": "s",
    "service.ping_s": "s",
    "service.request_s": "s",
    "service.reply_kb": "KB",
    "service.jobs_per_request": "count",
    "storage.blocks_mb_end": "MB",
    "trace.pass_s": "s",
    "trace.unaccounted_ratio": "ratio",
}
# physical-plan node -> per-layer metric counting it
PLAN_NODES = {
    "Exchange": "plans.exchanges",
    "Scan parquet": "plans.parquet_scans",
    "Scan ExistingRDD": "plans.rdd_leaves",
    "SortMergeJoin": "plans.joins_smj",
    "BroadcastHashJoin": "plans.joins_bhj",
}


def tail_latency(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that has at least
    ten samples beyond it, or None when there are too few samples."""
    at_or_below = len(values) - 10
    if at_or_below < 1:
        return None
    return 100.0 * at_or_below / len(values), sorted(values)[at_or_below - 1]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of a live process."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_probe_s() -> float:
    """bench.py's single-thread calibration probe: a sha256 chain."""
    t0 = time.perf_counter()
    b = b"\x00" * 64
    for _ in range(400_000):
        b = hashlib.sha256(b).digest()
    return time.perf_counter() - t0


def shuffle_probe_s(spark, cpus: int) -> float:
    """bench.py's scheduler probe, sized to the core count: the median
    of three empty ``cpus``-task shuffles."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 1024 * cpus, 1, cpus).repartition(cpus).write.mode(
            "overwrite").format("noop").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def load_registry() -> tuple[dict, dict]:
    from mapreduce_project_spark import queries_registry as R

    return {**R.QUERIES, **R.EXTRA_QUERIES}, {**R.ORACLES, **R.EXTRA_ORACLES}


class Run:
    """State and measurements of one benchmark invocation."""

    def __init__(self, name: str, seed: int, seconds: int, trace: bool) -> None:
        self.name, self.wl = name, WORKLOADS[name]
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.cpus = len(os.sched_getaffinity(0))
        self.registry, self.oracles = load_registry()
        missing = [q for q in self.wl.queries if q not in self.registry or q not in self.oracles]
        if missing:
            raise SystemExit(f"{name}: not registered with an oracle: {missing}")
        self.work = os.path.join(WORK, f"run-{os.getpid()}")
        self.tracer = tracing.Tracer()
        self.excluded_s = 0.0  # untimed work inside the set-up interval
        self.latencies: dict[str, list[float]] = defaultdict(list)
        self.passes: list[int] = []  # span ids
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.wrong: dict[str, str] = {}
        self.layer_runs: dict[str, float] = {}
        self.shapes: dict[str, dict[str, int]] = {}
        self.query_jobs: dict[str, list[int]] = defaultdict(list)
        self.record: dict = {
            "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
            "host": {"nproc": self.cpus, "loadavg_1m_start": os.getloadavg()[0]},
        }

    # -- set-up -----------------------------------------------------------

    def fixture(self) -> str:
        """Generate this run's input tables from the seed."""
        sf_dir = os.path.join(self.work, f"sf{self.wl.sf}")
        took = fixtures.generate(sf_dir, self.wl.sf, self.seed)
        self.excluded_s += took
        self.record["fixture_s"] = took
        return sf_dir

    def oracle_con(self, sf_dir: str):
        import duckdb

        t0 = time.perf_counter()
        con = duckdb.connect()
        for t in fixtures.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self.excluded_s += time.perf_counter() - t0
        return con

    def spark_env(self, log_dir: str | None) -> None:
        """Environment for the JVM this run starts, directly or through
        the service: every scratch path inside the checkout."""
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        # -XX:-UsePerfData keeps the JVMs out of /tmp/hsperfdata_<user>
        submit = ["--driver-java-options", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"]
        if log_dir:
            submit += tracing.event_log_conf(log_dir)
        py_path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
            PYTHONPATH=os.pathsep.join(py_path),
            PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        )

    # -- bookkeeping ------------------------------------------------------

    def fail(self, query: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{query}: {type(exc).__name__}: {str(exc)[:300]}")

    def wrong_result(self, query: str, why: str) -> None:
        self.wrong.setdefault(query, why[:300])

    def save(self) -> None:
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        path = os.path.join(WORK, "runs", f"{self.name}-seed{self.seed}-trace{int(self.trace)}.json")
        with open(path + ".tmp", "w", encoding="utf-8") as fh:
            json.dump(self.record, fh, indent=1, default=str)
        os.replace(path + ".tmp", path)

    def end_pass(self, span: int) -> None:
        self.tracer.close(span)
        self.passes.append(span)
        self.record["passes_s"] = [self.tracer.spans[p].duration for p in self.passes]
        self.record["executions"] = [
            [(self.tracer.spans[k].name, self.tracer.spans[k].duration)
             for k in self.tracer.children(p)] for p in self.passes]
        self.save()

    def window(self, run_pass) -> None:
        """Timed passes until ``seconds`` have been measured."""
        t0 = time.perf_counter()
        index = 1
        while True:
            span = self.tracer.open("pass", index=index, wall_ms=time.time() * 1e3)
            run_pass(index, span)
            self.tracer.spans[span].attrs["wall_end_ms"] = time.time() * 1e3
            self.end_pass(span)
            index += 1
            if time.perf_counter() - t0 >= self.seconds:
                return

    # -- in-process workload ----------------------------------------------

    def run_inprocess(self) -> None:
        from pyspark import SparkContext

        sf_dir = self.fixture()
        duck = self.oracle_con(sf_dir)
        log_dir = os.path.join(self.work, "eventlog") if self.trace else None
        self.spark_env(log_dir)
        from mapreduce_project_spark.session import get_spark
        from tests.conftest import assert_matches_oracle

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        self.layer_runs["session.start_s"] = time.perf_counter() - t0
        gateway = SparkContext._gateway
        try:
            sc = spark.sparkContext
            sc.setLogLevel("ERROR")
            # warm-up pass = correctness gate: each query collected once
            # and compared with its DuckDB twin (comparison untimed)
            t0, excluded0 = time.perf_counter(), self.excluded_s
            for q in self.wl.queries:
                spark.catalog.clearCache()
                self.attempted += 1
                q0 = time.perf_counter()
                try:
                    got = self.registry[q](spark, sf_dir).toPandas()
                except Exception as exc:  # noqa: BLE001 - counted as failed
                    self.fail(q, exc)
                    continue
                self.record.setdefault("warmup_s", {})[q] = time.perf_counter() - q0
                c0 = time.perf_counter()
                try:
                    assert_matches_oracle(types.SimpleNamespace(toPandas=lambda: got),
                                          duck, self.oracles[q])
                except AssertionError as exc:
                    self.wrong_result(q, str(exc))
                self.excluded_s += time.perf_counter() - c0
            self.layer_runs["session.warmup_s"] = (
                time.perf_counter() - t0 - (self.excluded_s - excluded0))
            self.record["setup_s"] = time.perf_counter() - T_START - self.excluded_s
            self.record["host"]["cpu_probe_s"] = cpu_probe_s()
            self.record["host"]["shuffle_probe_s"] = shuffle_probe_s(spark, self.cpus)
            self.save()

            def run_pass(index: int, pass_span: int) -> None:
                for q in self.wl.queries:
                    spark.catalog.clearCache()
                    self.execute(spark, q, sf_dir, index, pass_span)

            self.window(run_pass)
            self.layer_runs["session.peak_rss_mb"] = vm_hwm_mb(gateway.proc.pid)
        finally:
            tree = descendants(gateway.proc.pid)
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            wait_gone(tree)
        if self.trace:
            self.layers_inprocess(tracing.read_event_log(log_dir))

    def execute(self, spark, q: str, sf_dir: str, index: int, pass_span: int) -> None:
        sc, tr = spark.sparkContext, self.tracer
        self.attempted += 1
        span = tr.open(q, pass_span)
        try:
            if self.trace:
                sc.setJobGroup(f"b|{index}|{q}", q)
            s = tr.open("build", span)
            df = self.registry[q](spark, sf_dir)
            tr.close(s)
            if self.trace:
                s = tr.open("plan", span)
                df._jdf.queryExecution().executedPlan()
                tr.close(s)
                sc.setJobGroup(f"s|{index}|{q}", q)
            s = tr.open("sink", span)
            df.write.format("noop").mode("overwrite").save()
            tr.close(s)
            self.latencies[q].append(tr.close(span))
        except Exception as exc:  # noqa: BLE001 - counted as failed
            tr.close(span)
            tr.spans[span].attrs["failed"] = True
            self.fail(q, exc)
            return
        finally:
            if self.trace:
                sc.setJobGroup("idle", "idle")
        if self.trace and q not in self.shapes:
            from mapreduce_project_spark.plans.inspect import count_node

            s = tr.open("plan-shape", pass_span)
            self.shapes[q] = {m: count_node(df, node) for node, m in PLAN_NODES.items()}
            tr.close(s)

    def layers_inprocess(self, log: tracing.EventLog) -> None:
        per_pass = []
        for p in self.passes:
            index = self.tracer.spans[p].attrs["index"]
            build = log.select(lambda j: (j.group or "").startswith(f"b|{index}|"))
            sink = log.select(lambda j: (j.group or "").startswith(f"s|{index}|"))
            for q in self.wl.queries:
                self.query_jobs[q].append(sum(j.group in (f"b|{index}|{q}", f"s|{index}|{q}")
                                              for j in build + sink))
            m = self.pass_layers(p, log, build + sink)
            m["plans.build_jobs"] = len(build)
            m["exec.jobs"] = len(sink)
            per_pass.append(m)
        self.finish_layers(per_pass)

    # -- service workload -------------------------------------------------

    def run_service(self) -> None:
        sf_dir = self.fixture()
        duck = self.oracle_con(sf_dir)
        t0 = time.perf_counter()
        expected = {
            q: duck.sql(f"SELECT count(*) FROM ({self.oracles[MR_TWINS.get(q, q)]})").fetchone()[0]
            for q in self.wl.queries
        }
        self.excluded_s += time.perf_counter() - t0
        state = os.path.join(self.work, "service")
        log_dir = os.path.join(self.work, "eventlog") if self.trace else None
        self.spark_env(log_dir)
        self.record["host"]["cpu_probe_s"] = cpu_probe_s()
        self.record["host"]["shuffle_probe_s"] = None  # no JVM in this process
        from mapreduce_project_spark import service

        requests: list[tuple[float, float]] = []  # timed requests' epoch-ms windows

        def submit(q: str, parent: int | None) -> None:
            self.attempted += 1
            span = self.tracer.open(q, parent, warmup=parent is None)
            w0 = time.time() * 1e3
            try:
                reply = service.request({"op": "run", "query": q, "sf_dir": sf_dir, "limit": 20},
                                        state, timeout=170.0)
            except (OSError, ValueError) as exc:
                self.tracer.close(span)
                self.fail(q, exc)
                return
            latency = self.tracer.close(span)
            if parent is not None:
                requests.append((w0, time.time() * 1e3))
            if not reply.get("ok"):
                self.fail(q, RuntimeError(reply.get("error")))
                return
            self.tracer.spans[span].attrs["reply_kb"] = len(json.dumps(reply)) / 1024.0
            if reply["n"] != expected[q]:
                self.wrong_result(q, f"n={reply['n']}, twin has {expected[q]} rows")
            if parent is not None:
                self.latencies[q].append(latency)

        t0 = time.perf_counter()
        pid = None
        try:
            service.start(state)
            self.layer_runs["session.start_s"] = time.perf_counter() - t0
            pid = service_pid(state)
            jvm = descendants(pid)[0]
            p0 = time.perf_counter()
            service.request({"op": "ping"}, state, timeout=30.0)
            self.layer_runs["service.ping_s"] = time.perf_counter() - p0
            w0 = time.perf_counter()
            for q in self.wl.queries:
                submit(q, None)
            self.layer_runs["session.warmup_s"] = time.perf_counter() - w0
            self.record["warmup_s"] = {s.name: s.duration for s in self.tracer.spans
                                       if s.attrs.get("warmup")}
            self.record["setup_s"] = time.perf_counter() - t0
            self.save()

            def run_pass(index: int, pass_span: int) -> None:
                for q in self.wl.queries:
                    submit(q, pass_span)

            self.window(run_pass)
            self.layer_runs["session.peak_rss_mb"] = vm_hwm_mb(jvm)
        finally:
            stop_service(service, state, pid)
        self.layer_runs["service.start_s"] = self.layer_runs["session.start_s"]
        if self.trace:
            self.layers_service(tracing.read_event_log(log_dir), requests)

    def layers_service(self, log: tracing.EventLog, requests) -> None:
        per_pass = []
        for p in self.passes:
            a = self.tracer.spans[p].attrs
            per_pass.append(self.pass_layers(p, log, log.select(
                lambda j: a["wall_ms"] <= j.submitted_ms <= a["wall_end_ms"])))
        self.layer_runs["service.jobs_per_request"] = statistics.median(
            len(log.select(lambda j: lo <= j.submitted_ms <= hi)) for lo, hi in requests)
        self.layer_runs["service.request_s"] = statistics.median(
            v for vs in self.latencies.values() for v in vs)
        self.layer_runs["service.reply_kb"] = statistics.median(
            s.attrs["reply_kb"] for s in self.tracer.spans if "reply_kb" in s.attrs)
        self.finish_layers(per_pass)

    # -- per-layer aggregation ----------------------------------------------

    def pass_layers(self, p: int, log: tracing.EventLog, jobs: list) -> dict[str, float]:
        """Per-layer values of one timed pass."""
        span, spans = self.tracer.spans[p], self.tracer.spans
        grandkids = [spans[g] for k in self.tracer.children(p) for g in self.tracer.children(k)]
        c = log.counters(jobs)

        def phase(name: str) -> float:
            return sum(g.duration for g in grandkids if g.name == name)

        a = span.attrs
        return {
            "plans.build_s": phase("build"),
            "plans.plan_s": phase("plan"),
            "exec.sink_s": phase("sink"),
            "exec.jobs": c.jobs,
            "exec.stages": c.stages,
            "exec.tasks": c.tasks,
            "exec.failed_tasks": c.failed_tasks,
            "exec.run_s": c.run_s,
            "exec.cpu_s": c.cpu_s,
            "exec.offcpu_s": c.run_s - c.cpu_s,
            "exec.gc_s": c.gc_s,
            "exec.peak_mem_mb": c.peak_mem_mb,
            "exec.busy_ratio": c.run_s / (span.duration * self.cpus),
            "shuffle.write_mb": c.shuffle_write_mb,
            "shuffle.read_mb": c.shuffle_read_mb,
            "shuffle.fetch_wait_s": c.fetch_wait_s,
            "shuffle.write_time_s": c.shuffle_write_time_s,
            "shuffle.spill_mb": c.spill_mb,
            "sources.input_mb": c.input_mb,
            "sources.input_rows": c.input_rows,
            "storage.blocks_mb_end": log.rdd_mb_at(a["wall_end_ms"]),
            "trace.pass_s": span.duration,
            "trace.unaccounted_ratio": self.tracer.self_time(p) / span.duration,
        }

    def finish_layers(self, per_pass: list[dict[str, float]]) -> None:
        out = {name: 0.0 for name in PER_LAYER}
        for name in per_pass[0]:
            out[name] = statistics.median(m[name] for m in per_pass)
        for shape in self.shapes.values():
            for name, n in shape.items():
                out[name] += n
        out.update(self.layer_runs)
        med = {q: statistics.median(v) for q, v in self.latencies.items() if v}
        pairs = [(mr, nat) for mr, nat in MR_TWINS.items() if mr in med and nat in med]
        if pairs:
            out["mapreduce.facade_ratio"] = (sum(med[mr] for mr, _ in pairs)
                                             / sum(med[nat] for _, nat in pairs))
        self.record["per_layer"] = out

    # -- results ------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        passes = [self.tracer.spans[p].duration for p in self.passes]
        pooled = [v for vs in self.latencies.values() for v in vs]
        return {
            "setup_s": self.record["setup_s"],
            "pass_s": statistics.median(passes),
            "latency_p50_s": statistics.median(pooled),
        }


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, children before grandchildren."""
    out, todo = [], [pid]
    while todo:
        parent = todo.pop(0)
        for task in glob.glob(f"/proc/{parent}/task/*/children"):
            try:
                with open(task, encoding="ascii") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except FileNotFoundError:
                continue
            out += kids
            todo += kids
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended, killing the
    survivors after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while any(running(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def service_pid(state: str) -> int | None:
    try:
        with open(os.path.join(state, "service.pid"), encoding="ascii") as fh:
            return int(fh.read())
    except (FileNotFoundError, ValueError):
        return None


def stop_service(service, state: str, pid: int | None) -> None:
    """Stop the service and wait until it and every process it started
    (its JVM and that JVM's Python workers) have ended."""
    pid = pid or service_pid(state)
    if pid is None:
        return
    tree = [pid] + descendants(pid)
    # the service is this process's child: reap it so stop() sees it exit
    threading.Thread(target=_reap, args=(pid,), daemon=True).start()
    service.stop(state)
    wait_gone(tree)


def _reap(pid: int) -> None:
    try:
        os.waitpid(pid, 0)
    except ChildProcessError:
        pass


def report(run: Run, e2e: dict[str, float]) -> list[str]:
    """Human-readable lines printed before the JSON result."""
    n = sum(len(v) for v in run.latencies.values())
    lines = [f"{run.name} seed={run.seed} trace={int(run.trace)}: "
             f"{len(run.passes)} passes, {n} timed executions"]
    lines += [f"  {k:<22} {v:12.4f} {END_TO_END[k]}" for k, v in e2e.items()]
    tail = tail_latency([v for vs in run.latencies.values() for v in vs])
    lines.append(f"  {'latency_tail_s':<22} " + (
        f"{tail[1]:12.4f} s  (p{tail[0]:.1f} of {n} samples)" if tail
        else f"{'n/a':>12}    ({n} samples; a tail needs more than 10)"))
    lines.append(f"  {'failed_ratio':<22} {run.failed / run.attempted:12.4f} "
                 f"({run.failed}/{run.attempted})")
    lines.append(f"  {'wrong_results':<22} {len(run.wrong):12d} count")
    lines += [f"    wrong: {q}: {why}" for q, why in run.wrong.items()]
    lines += [f"    failed: {e}" for e in run.errors]
    for q, v in sorted(run.latencies.items()):
        jobs = f"  jobs/execution {run.query_jobs[q]}" if run.query_jobs.get(q) else ""
        lines.append(f"    {q:<32} median {statistics.median(v):8.3f} s over {len(v)}{jobs}")
    if run.trace:
        for k, v in run.record["per_layer"].items():
            lines.append(f"  {k:<26} {v:14.4f} {PER_LAYER[k]}")
    host = run.record["host"]
    lines.append("  host: " + ", ".join(f"{k}={v}" for k, v in host.items()))
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark or the service in its finally blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if run.wl.service:
            run.run_service()
        else:
            run.run_inprocess()
        e2e = run.end_to_end()
        run.record.update(end_to_end=e2e, attempted=run.attempted, failed=run.failed,
                          wrong=run.wrong, errors=run.errors)
    finally:
        # normally empty: only a run cut short leaves processes behind
        leftover = descendants(os.getpid())
        for pid in leftover:
            os.kill(pid, signal.SIGTERM)
        wait_gone(leftover)
        run.save()
        shutil.rmtree(run.work, ignore_errors=True)
    print("\n".join(report(run, e2e)))
    values = run.record["per_layer"] if run.trace else e2e
    units = PER_LAYER if run.trace else END_TO_END
    print(json.dumps({
        "correct": not run.wrong,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
