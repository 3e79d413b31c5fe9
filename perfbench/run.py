"""Closed-loop benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload sql_ingest --seed 1 --trace 0

One process drives ``local[4]``; one client issues each op only after the
previous one has finished. A run:

1. generates its inputs, not counted in ``setup_s``: the fixed query
   corpus (written once per checkout) and the seed's pipeline feed;
2. sets up once: session start, a fresh state root, the feed server, and
   one untimed warm-up pass that builds the persisted stores and checks
   every op's output (DuckDB oracle; rows and schema for an op without
   one; completion line and Derby's row counts for the pipeline), then
   one more untimed pass over every op but the pipeline, in which the
   JIT settles;
3. runs as many whole passes over the workload's ops as fit in
   ``--seconds`` (at least one), each in a seed-permuted order;
4. re-checks, untimed, the rows and schema of ops without an oracle.

``--seconds`` defaults to ``run_seconds`` in ``BENCHMARK.json``. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the Spark event log is on, each op runs under its own job
group, spans are kept and written out at exit, and the line carries the
per-layer metrics every workload has; the layers only this workload
calls are printed before it and kept in the details. Details (per-op rows, host facts) go to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from layers import ProcTree, StreamListener, Tracer, event_log_layers, wrap_layers  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS,
    FeedServer,
    PipelineOp,
    install_derby_views,
    point_state,
    workload_ops,
)

CPUS = 4
DRIVER_MEM = "2g"


def process_start() -> float:
    """Epoch seconds at which this process was started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


class Context:
    """What ops see: the session, the input directory and the run's dirs."""

    def __init__(self, run_dir: str, sf_dir: str):
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.spark = None
        self.state_dir = None
        self._n = 0

    def new_dir(self, prefix: str) -> str:
        self._n += 1
        path = os.path.join(self.run_dir, f"{prefix}-{self._n}")
        os.makedirs(path)
        return path


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of the driver, the JVM and the Python
    workers under ``run_dir``; returns the Spark confs that do the same."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    # the feed server is on the loopback; no proxy may sit in between
    no_proxy = ",".join(p for p in (os.environ.get("NO_PROXY"), "127.0.0.1,localhost") if p)
    os.environ.update({
        "NO_PROXY": no_proxy,
        "no_proxy": no_proxy,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_PAIR_CACHE_DIR": os.path.join(run_dir, "pair-cache"),
        "SPARK_GRAFT_ANN_INDEX_DIR": os.path.join(run_dir, "ann-index"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = tmp
    # Derby's durability=test skips its log syncs, so the JDBC sink is timed
    # on the engine and Derby, not on the shared disk's fsync latency
    java = (
        f"-Djava.io.tmpdir={tmp} -Duser.timezone=UTC "
        f"-Dderby.system.home={run_dir} -Dderby.stream.error.file={run_dir}/derby.log "
        "-Dderby.system.durability=test"
    )
    return {
        "spark.driver.extraJavaOptions": java,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, and that
    percentile; None with fewer than twenty samples, where that percentile
    would fall below the median."""
    s = sorted(samples)
    if len(s) < 20:
        return None
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def schema_of(pdf) -> tuple[int, tuple[tuple[str, str], ...]]:
    return len(pdf), tuple(sorted((c, pdf[c].dtype.kind) for c in pdf.columns))


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.tracer = Tracer() if self.trace else None
        self.proc = ProcTree()
        self.server = None
        self.listener = None
        self.op_rows: list[dict] = []

    # -- set-up ------------------------------------------------------------

    def start_session(self):
        from zylyty_data_engineer_challenge_spark.session import get_spark

        conf = dict(self.confs)
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": self.event_dir,
            })
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        return spark

    def set_up(self) -> None:
        ctx = self.ctx
        ctx.spark = self.start_session()
        ctx.state_dir = ctx.new_dir("state")
        point_state(ctx.spark, ctx.state_dir)
        if self.trace:
            self.listener = StreamListener(ctx.spark)
        if WORKLOADS[self.workload]["etl"]:
            install_derby_views()
            self.server = FeedServer(self.feed)
        self.ops = workload_ops(self.workload, self.server, self.feed["expected"])

    # -- passes ------------------------------------------------------------

    def run_op(self, op, pass_no: int, check=None) -> dict:
        """One closed-loop call. With ``check`` the op's output is collected
        to the driver instead of written to the noop sink, and ``check(op,
        output)`` then judges it, untimed."""
        ctx, row = self.ctx, {"op": op.name, "module": op.module, "pass": pass_no}
        group = f"p{pass_no}:{op.name}"
        if self.trace:
            self.tracer.op_id = group
            ctx.spark.sparkContext.setJobGroup(group, group)
        op.prepare(ctx)
        try:
            t0 = time.perf_counter()
            row["start"] = time.time()
            df = self.timed(f"{op.module}.build", op.build, ctx)
            t1 = time.perf_counter()
            out = self.timed(f"{op.module}.exec", op.execute, ctx, df, check is not None)
            t2 = time.perf_counter()
            row.update(end=time.time(), build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
            row.update(op.facts())
            if self.trace and df is not None:
                row["planning_s"] = planning_s(df)
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            row.update(error=traceback.format_exc(limit=3), end=time.time())
        finally:
            op.finish(ctx)
            if self.trace:
                self.tracer.op_id = None
                ctx.spark.sparkContext.setJobGroup("perfbench-idle", "between ops")
        if check is not None and "error" not in row:
            c0 = time.perf_counter()
            try:
                why = check(op, out)
            except Exception as e:  # noqa: BLE001
                why = f"{type(e).__name__}: {e}"
            row["check_s"] = time.perf_counter() - c0
            if why:
                row["wrong"] = why
        return row

    def timed(self, span: str, fn, *args):
        if not self.trace:
            return fn(*args)
        with self.tracer.span(span):
            return fn(*args)

    def run_pass(self, pass_no: int, ops=None, check=None) -> float:
        """Seconds the pass spent in the engine (output checks excluded)."""
        order = list(self.ops if ops is None else ops)
        self.rng.shuffle(order)
        t0, checking = time.perf_counter(), 0.0
        for op in order:
            row = self.run_op(op, pass_no, check)
            checking += row.get("check_s", 0.0)
            self.op_rows.append(row)
        return time.perf_counter() - t0 - checking

    def checker(self):
        """``check(op, output)`` for the warm-up pass: the DuckDB oracle; for
        an op without one, its rows and schema are kept for the re-check;
        the pipeline checks its completion line and Derby's row counts."""
        import __spark_entry__ as entry
        from check import OutputCheck

        oracle = OutputCheck(ROOT, self.sf_dir, entry.oracle_sql())
        self.warm_shapes: dict[str, tuple] = {}

        def check(op, pdf):
            if isinstance(op, PipelineOp):
                return op.check(self.ctx)
            if op.name in oracle.oracles:
                return oracle.against_oracle(op.name, pdf)
            self.warm_shapes[op.name] = schema_of(pdf)
            return None

        return check

    def recheck(self, pass_no: int) -> list[dict]:
        """Rows and schema of each op without an oracle against its warm-up
        result, after the timed passes."""
        ops = [op for op in self.ops if op.name in self.warm_shapes]

        def check(op, pdf):
            got, want = schema_of(pdf), self.warm_shapes[op.name]
            return None if got == want else f"rows/schema {got} != warm-up {want}"

        saved, self.op_rows = self.op_rows, []
        self.run_pass(pass_no, ops, check)
        rows, self.op_rows = self.op_rows, saved
        return rows

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        started = process_start()
        os.makedirs(self.run_dir)
        self.confs = isolate(self.run_dir)
        self.event_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(self.event_dir)
        load_at_start = os.getloadavg()[0]
        g0 = time.time()
        self.sf_dir = gen.corpus_dir(os.path.join(ROOT, ".perfbench", "inputs"))
        self.feed = gen.etl_feed(np.random.default_rng(args.seed))
        gen_s = time.time() - g0
        self.ctx = Context(self.run_dir, self.sf_dir)

        self.set_up()
        if args.break_op:
            break_op(self.ops, args.break_op)
        if self.trace:
            wrap_layers(self.tracer)
        # the warm-up pass builds the stores and is the run's output check;
        # the settle pass lets the JIT finish: the first pass after the cold
        # one ran 10-25% slower than the passes after it, by an amount that
        # varied from run to run. The pipeline is left out of it: its second
        # call already ran at its steady time (median 5.60 s against 5.61 s
        # over ten runs), and settling it would cost 6 s a run
        warmup_s = self.run_pass(0, check=self.checker())
        settle_s = self.run_pass(0, [op for op in self.ops if not isinstance(op, PipelineOp)])
        wrong = {r["op"]: r.get("wrong") or r["error"] for r in self.op_rows
                 if "wrong" in r or "error" in r}
        warm_rows = self.op_rows
        self.op_rows = []

        # timed region: as many whole passes as fit in --seconds (the next
        # pass is taken to last as long as the last one), at least one
        setup_s = time.time() - started - gen_s
        cpu0, steal0 = self.proc.cpu_s(), steal_ticks()
        served0 = self.server_counts()
        timed_start, passes = time.perf_counter(), []
        window = (time.time(), None)
        while not passes or time.perf_counter() - timed_start + passes[-1] <= args.seconds:
            passes.append(self.run_pass(len(passes) + 1))
        window = (window[0], time.time())
        steal_share = (steal_ticks() - steal0) / (
            (window[1] - window[0]) * os.cpu_count() * os.sysconf("SC_CLK_TCK"))
        cpu_s = (self.proc.cpu_s() - cpu0) / len(passes)
        rss_mb = self.proc.peak_rss_mb()
        served = {k: v - served0[k] for k, v in self.server_counts().items()}

        recheck_rows = self.recheck(len(passes) + 1)
        wrong.update({r["op"]: r.get("wrong") or r["error"] for r in recheck_rows
                      if "wrong" in r or "error" in r})

        spark = self.ctx.spark
        host = {
            "cpus_effective": spark.sparkContext.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)),
            "input_dir": self.sf_dir,
            "input_bytes": dir_bytes(self.sf_dir),
            "seed": args.seed,
            "spark_version": spark.version,
            "loadavg_start": load_at_start,
            "steal_share_timed": steal_share,
        }

        attempted = len(self.op_rows)
        failed = sum(1 for r in self.op_rows if "error" in r or r["op"] in wrong)
        walls = [r["wall_s"] for r in self.op_rows if "wall_s" in r]
        # op_p50_s, op_tail_s and failed_ops_share are printed, not gated:
        # one run has too few op samples for steady per-op statistics
        # (compare.py pools them over a set of runs), and no op is expected
        # to fail
        e2e = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(passes), "s"),
            "cpu_s": (cpu_s, "s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
        detail = {
            "workload": self.workload,
            "trace": int(self.trace),
            "seconds": args.seconds,
            "host": host,
            "session_start_s": self.session_start_s,
            "input_gen_s": gen_s,
            "warmup_s": warmup_s,
            "settle_s": settle_s,
            "passes_s": passes,
            "op_p50_s": statistics.median(walls),
            "op_tail": tail(walls),
            "op_samples": len(walls),
            "failed_ops_share": failed / attempted,
            "wrong_outputs": wrong,
            "warmup_ops": warm_rows,
            "recheck_ops": recheck_rows,
            "ops": self.op_rows,
        }
        metrics = e2e
        if self.trace:
            metrics, own = self.layer_metrics(passes, window, served)
            detail["layers"] = {k: {"value": v, "unit": u} for k, (v, u) in own.items()}
            detail["trace_spans"] = len(self.tracer.spans)
        return {
            "correct": not wrong and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "_detail": detail,
            "_e2e": e2e,
        }

    def close(self) -> None:
        """Stop the session, the JVM and the feed server, and wait for each."""
        if self.ctx.spark is not None:
            stop_spark(self.ctx.spark)
        if self.server is not None:
            self.server.close()

    def server_counts(self) -> dict[str, int]:
        s = self.server
        if s is None:
            return {"requests": 0, "non200": 0, "rows": 0}
        return {"requests": s.requests, "non200": s.non200, "rows": s.tx_rows_served}

    def layer_metrics(self, passes, window, served):
        """Per-layer metrics of the timed passes, per pass (median over
        passes where a per-pass value exists, else total / passes).

        Returns two dicts. The first holds the layers every workload
        reaches (session, catalog, all ops, Spark, Python workers, the
        tracer); ``BENCHMARK.json`` lists these. The second holds the layers
        only some workloads reach (one engine module each, the streaming
        listener, the pipeline's sources, cleaning and sinks), for the
        layers this workload calls."""
        n = len(passes)
        rows = [r for r in self.op_rows if "wall_s" in r]
        groups = {f"p{r['pass']}:{r['op']}": (r["start"], r["end"]) for r in rows}
        spark_l = event_log_layers(self.event_dir, groups)
        selft = self.tracer.self_times(set(groups))

        def per_pass(values: dict[int, float]) -> float:
            return statistics.median(values.get(p, 0.0) for p in range(1, n + 1))

        def sum_by_pass(pick) -> float:
            acc: dict[int, float] = {}
            for r in rows:
                v = pick(r)
                if v is not None:
                    acc[r["pass"]] = acc.get(r["pass"], 0.0) + v
            return per_pass(acc)

        def spark_sum(key):
            acc: dict[int, float] = {}
            for r in rows:
                g = f"p{r['pass']}:{r['op']}"
                acc[r["pass"]] = acc.get(r["pass"], 0.0) + spark_l[g].get(key, 0.0)
                r.setdefault("spark", {})[key] = spark_l[g].get(key, 0.0)
            return per_pass(acc)

        spans = [s for s in self.tracer.spans if s["op"] in groups]

        def span_total(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / n

        m: dict[str, tuple[float, str]] = {}
        m["session.start_s"] = (self.session_start_s, "s")
        m["catalog.load_table_s"] = (span_total("catalog.load_table"), "s")
        m["catalog.load_table_calls"] = (
            sum(s["name"] == "catalog.load_table" for s in spans) / n, "count")
        m["ops.build_s"] = (sum_by_pass(lambda r: r["build_s"]), "s")
        m["ops.exec_s"] = (sum_by_pass(lambda r: r["exec_s"]), "s")
        for key, unit in SPARK_KEYS:
            m[f"spark.{key}"] = (spark_sum(key), unit)
        tasks = sum(v.get("tasks", 0) for v in spark_l.values())
        m["spark.failed_tasks_share"] = (
            sum(v.get("failed_tasks", 0) for v in spark_l.values()) / tasks if tasks else 0.0,
            "ratio")
        m["spark.planning_s"] = (sum_by_pass(lambda r: r.get("planning_s")), "s")
        for key in ("rows_in", "bytes_in", "bytes_out"):
            m[f"python.{key}"] = (spark_sum(f"python_{key}"), "count" if key == "rows_in" else "B")
        m["trace.pass_s"] = (statistics.median(passes), "s")
        m["trace.self_s"] = (sum(selft.values()) / n, "s")

        own: dict[str, tuple[float, str]] = {}
        for name in sorted({op.module for op in self.ops if op.fn is not None}):
            first, second = (("run_s", "readback_s") if name.startswith("streaming.")
                             else ("build_s", "exec_s"))
            own[f"{name}.{first}"] = (sum_by_pass(
                lambda r: r["build_s"] if r["module"] == name else None), "s")
            own[f"{name}.{second}"] = (sum_by_pass(
                lambda r: r["exec_s"] if r["module"] == name else None), "s")
        if any(op.fresh_state for op in self.ops):
            b = [x for x in self.listener.batches if window[0] <= x["time"] <= window[1] + 5]
            own["streaming.batches"] = (len(b) / n, "count")
            own["streaming.batch_p50_ms"] = (
                statistics.median([x["ms"] for x in b]) if b else 0.0, "ms")
            own["streaming.input_rows"] = (sum(x["rows"] for x in b) / n, "count")
            own["streaming.empty_batch_share"] = (
                sum(x["rows"] == 0 for x in b) / len(b) if b else 0.0, "ratio")
        if self.server is not None:
            own["sources.fetch_csv_s"] = (span_total("sources.fetch_csv"), "s")
            own["sources.read_transactions_s"] = (span_total("sources.read_transactions"), "s")
            own["sources.http_requests"] = (served["requests"] / n, "count")
            own["sources.http_non200_share"] = (
                served["non200"] / served["requests"] if served["requests"] else 0.0, "ratio")
            own["etl.clean.s"] = (span_total("etl.clean"), "s")
            tx_written = sum(r["written"]["transactions"] for r in rows if "written" in r)
            own["etl.clean.kept_ratio"] = (
                tx_written / served["rows"] if served["rows"] else 0.0, "ratio")
            own["sinks.jdbc.write_s"] = (span_total("sinks.jdbc.write"), "s")
            written = [s for s in spans if s["name"] == "sinks.jdbc.write"]
            own["sinks.jdbc.rows_written"] = (sum(s.get("rows", 0) for s in written) / n, "count")
            own["sinks.jdbc.create_views_s"] = (span_total("sinks.jdbc.create_views"), "s")
        return m, own


SPARK_KEYS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("driver_gap_s", "s"),
    ("stage_busy_s", "s"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("output_bytes", "B"),
)


def planning_s(df) -> float:
    """Analysis + optimisation + planning seconds of the op's DataFrame,
    from its query execution's phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        p = it.next()
        total += p.endTimeMs() - p.startTimeMs()
    return total / 1e3


def break_op(ops, name: str) -> None:
    """Self-test: make ``name`` return a wrong (empty) result."""
    for op in ops:
        if op.name == name and op.fn is not None:
            fn = op.fn
            op.fn = lambda spark, sf_dir, fn=fn: fn(spark, sf_dir).limit(0)
            return
    raise SystemExit(f"--break-op: {name} is not a registered op of this workload")


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def steal_ticks() -> int:
    """Clock ticks the hypervisor ran other guests while this guest's CPUs
    had work (the steal column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(ROOT, "zylyty_data_engineer_challenge_spark", "__init__.py")
    )


def run_seconds() -> float:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return float(json.load(f)["run_seconds"])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, help="default: run_seconds in BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--break-op", help="self-test: return a wrong result from this op")
    args = p.parse_args(argv)
    if not engine_present():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = run_seconds()
    bench = Bench(args)
    # a terminated run still stops its JVM and removes its run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = bench.run()
    finally:
        try:
            if getattr(bench, "ctx", None) is not None:
                bench.close()
        finally:
            shutil.rmtree(bench.run_dir, ignore_errors=True)
    detail, e2e = result.pop("_detail"), result.pop("_e2e")
    detail["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({**detail, "metrics": result["metrics"]}, f, indent=1, default=str)
    if bench.tracer is not None:
        bench.tracer.write(stem + "-spans.json")
    report(result, detail, stem + ".json")
    print(json.dumps(result))
    return 0


def report(result: dict, detail: dict, path: str) -> None:
    """Human-readable lines before the final JSON line."""
    print(f"# workload {detail['workload']}  trace {detail['trace']}  details {path}")
    print("# host " + " ".join(f"{k}={v}" for k, v in detail["host"].items()))
    print(f"# failed_ops_share {detail['failed_ops_share']:.4f} ratio "
          f"({result['failed']}/{result['attempted']})")
    print(f"# op_p50_s {detail['op_p50_s']:.6g} s (median of {detail['op_samples']} op samples)")
    n, t = detail["op_samples"], detail["op_tail"]
    if t is None:
        print(f"# op_tail_s undefined: {n} op samples in {len(detail['passes_s'])} passes, "
              "fewer than the twenty a tail above the median with ten samples beyond needs")
    else:
        print(f"# op_tail_s {t[0]:.6g} s (p{t[1]:.1f} of {n} op samples)")
    for name, why in detail["wrong_outputs"].items():
        print(f"# WRONG {name}: {why[:300]}")
    for r in detail["ops"]:
        if "error" in r:
            print(f"# ERROR pass {r['pass']} {r['op']}: {r['error'].strip().splitlines()[-1]}")
    if detail["trace"]:
        print("# per op (timed passes): op wall_s jobs driver_gap_s")
        for r in detail["ops"]:
            s = r.get("spark", {})
            print(f"#   p{r['pass']} {r['op']} {r.get('wall_s', 0):.3f} "
                  f"{s.get('jobs', 0):.0f} {s.get('driver_gap_s', 0):.3f}")
    for k, v in {**result["metrics"], **detail.get("layers", {})}.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")


if __name__ == "__main__":
    sys.exit(main())
