#!/usr/bin/env python3
"""Benchmark runner: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload nft_cascade --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke      # every workload once at sf0.001

Run from the repository root. The runner generates the workload's
inputs from ``--seed`` into a private directory under the root, starts
the package's own session (``session.get_spark``, its defaults kept),
runs one warm-up pass, checked against the oracles, then
timed passes for ``--seconds`` and at least the workload's minimum
number of passes (``workloads.MIN_PASSES``). The figures
are medians over the later half of the timed passes, past the JVM's
JIT warm-up. A pass calls every op of the workload once, in order; an
op is one call into a public function, ``count()`` on its result, then
``session.drop_query_caches``. The last stdout line is a JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1`` (which also
writes the Spark event log and the span tree into the artifact under
``.perfbench_out/``). See ``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import procfs  # noqa: E402

WORKLOAD_NAMES = ("nft_cascade", "daily_writes", "llm_dedup")
DEFAULT_SF = 0.01
MB = 1024 * 1024
E2E_UNITS = {"setup_s": "s", "pass_s": "s"}
# printed per workload too; not in the JSON line (see README)
REPORT_UNITS = {
    **E2E_UNITS, "cpu_s": "CPU-s", "peak_rss_mb": "MiB", "fail_ratio": "ratio",
    "stored_mb": "MiB",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=16.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DEFAULT_SF)
    p.add_argument("--min-passes", type=int,
                   help="timed passes to run even after --seconds has passed"
                        " (default: the workload's own minimum)")
    p.add_argument("--smoke", action="store_true",
                   help="run every workload once at sf0.001 (one checked pass)")
    a = p.parse_args(argv)
    if not a.smoke and a.workload is None:
        p.error("--workload is required")
    return a


def require_program() -> None:
    """Refuse to run (exit 2) in a tree that lacks the package."""
    needed = ("innercircle_etl_spark/session.py", "tools/verify_local.py")
    missing = [n for n in needed if not os.path.isfile(os.path.join(ROOT, n))]
    if missing:
        sys.stderr.write(f"perfbench: not a source checkout, missing {missing}\n")
        sys.exit(2)


def isolate(run_dir: str) -> None:
    """Point every path the package or Spark writes at ``run_dir``."""
    for sub in ("scratch", "local", "tmp", "cwd", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the spark-submit launcher JVM: no /tmp/hsperfdata file
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # local[nproc]
    os.chdir(os.path.join(run_dir, "cwd"))  # spark-warehouse, derby.log
    sys.path.insert(0, ROOT)


def du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total / MB


def median(xs):
    return statistics.median(xs) if xs else 0.0


def program_hash() -> str:
    """Short sha256 of the package's and the benchmark's source, so
    that artifacts of different program versions are told apart."""
    h = hashlib.sha256()
    for top in ("innercircle_etl_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


class Checker:
    """Warm-pass correctness gate: DuckDB oracle over views on the
    generated files, compared with ``tools/verify_local.canon``."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in gen.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet/*.parquet')"
            )

    def compare(self, got, sql: str) -> str | None:
        """None when ``got`` (pandas) equals the oracle, else why not."""
        import pandas as pd
        from tools.verify_local import canon

        want = self.con.execute(sql).fetchdf()
        if len(got) != len(want):
            return f"rowcount {len(got)} != oracle {len(want)}"
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
        try:
            pd.testing.assert_frame_equal(
                canon(got), canon(want), check_dtype=False, check_exact=True
            )
        except AssertionError as e:
            return "values: " + str(e).splitlines()[0][:300]
        return None

    def days_with_rows(self, days) -> list[str]:
        lst = ", ".join(f"DATE '{d}'" for d in days)
        rows = self.con.execute(
            "SELECT DISTINCT CAST(o_orderdate AS DATE) FROM orders "
            f"WHERE CAST(o_orderdate AS DATE) IN ({lst})"
        ).fetchall()
        return sorted(r[0].isoformat() for r in rows)


class Runner:
    def __init__(self, args, run_dir: str):
        self.a = args
        self.run_dir = run_dir
        self.trace = bool(args.trace)
        self.spans: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0
        self.pass_stats: list[dict] = []
        self.warm_rows: dict[str, int] = {}

    # -- spans: kept in memory, written into the artifact at the end --
    def span(self, kind, name, start, end, parent=None, trace_id=None, **attrs):
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "parent": parent, "trace_id": trace_id, "kind": kind,
            "name": name, "start_ms": start * 1e3, "end_ms": end * 1e3, **attrs,
        })
        return sid

    def fail(self, pass_id: str, op: str, why: str) -> None:
        self.failures.append({"pass": pass_id, "op": op, "error": why})

    def settled(self) -> list[dict]:
        """The later half of the timed passes. The JVM keeps compiling
        through the first ones, so those measure its JIT warm-up."""
        return self.pass_stats[len(self.pass_stats) // 2:]

    def op_stats(self, name: str) -> list[dict]:
        return [p["ops"][name] for p in self.settled() if p["ops"].get(name)]

    def run(self) -> dict:
        from workloads import MIN_PASSES, WORKLOADS, Ctx

        a = self.a
        host = procfs.host_record()
        phases = {"start": time.time()}
        data_dir = os.path.join(self.run_dir, "data", f"sf{a.sf:g}")
        rows = gen.generate(data_dir, a.sf, a.seed)
        missing, run_date = gen.june_damage(a.seed)
        checker = Checker(data_dir)
        damaged = checker.days_with_rows(missing) + [run_date]
        phases["inputs"] = time.time()

        from innercircle_etl_spark.plans.registry import pinned_rdd_ids
        from innercircle_etl_spark.session import drop_query_caches, get_spark

        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
            })

        t_setup = time.time()
        spark = get_spark(extra_conf=conf)
        get_spark_s = time.time() - t_setup
        sc = spark.sparkContext
        snap = procfs.snapshot()
        jvm = procfs.find_jvm(os.getpid(), snap)
        max_heap_mb = sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / MB
        ctx = Ctx(spark, data_dir, os.environ["SPARK_GRAFT_SCRATCH"], missing, run_date)
        ops = WORKLOADS[a.workload]
        check_s = 0.0

        def run_op(op, pass_id: str, checked: bool, pass_span) -> dict | None:
            """A checked op collects its result for the oracle gate; a
            timed one counts it, and is traced in a traced run."""
            nonlocal check_s
            group = f"{a.workload}/{pass_id}/{op.name}"
            sc.setJobGroup(group, op.name)
            self.attempted += 1
            st = {"group": group}
            t0 = time.time()
            try:
                df = op.fn(ctx)
                t1 = time.time()
                if checked:
                    got = df.toPandas()
                    n = len(got)
                else:
                    n = df.count()
                t2 = time.time()
            except Exception as e:  # an op failure is data, not a crash
                t2 = time.time()
                self.fail(pass_id, op.name, f"{type(e).__name__}: {str(e).splitlines()[0][:300]}")
                drop_query_caches(spark)
                return None
            traced = self.trace and not checked
            if traced:
                # the benchmark's own probes: kept out of the op's time
                pinned = pinned_rdd_ids(spark)
                info = sc._jsc.sc().getRDDStorageInfo()
                st["pinned_rdds"] = len(pinned)
                st["pinned_mb"] = sum(
                    (i.memSize() + i.diskSize()) for i in info if i.id() in pinned
                ) / MB
            t3 = time.time()
            drop_query_caches(spark)
            t4 = time.time()
            st.update(rows=n, s=(t2 - t0) + (t4 - t3), build_s=t1 - t0,
                      count_s=t2 - t1, drop_s=t4 - t3, start=t0, end=t4)
            if traced:
                st["leaked_rdds"] = len(pinned_rdd_ids(spark))
                st["active_streams"] = len(spark.streams.active)
                oid = self.span("op", op.name, t0, t4, pass_span, pass_id, group=group)
                self.span("build", op.name, t0, t1, oid, pass_id)
                self.span("count", op.name, t1, t2, oid, pass_id)
                self.span("probe", op.name, t2, t3, oid, pass_id)
                self.span("drop", op.name, t3, t4, oid, pass_id)
            if op.name == "run_daily":
                st["rewrite_ratio"] = ctx.rewritten / len(damaged)
            tc = time.time()
            if checked:
                why = checker.compare(got, op.oracle(ctx))
                if why:
                    self.fail(pass_id, op.name, "oracle mismatch: " + why)
                self.warm_rows.setdefault(op.name, n)
            elif n != self.warm_rows.get(op.name):
                self.fail(pass_id, op.name,
                          f"rowcount {n} != checked pass {self.warm_rows.get(op.name)}")
            check_s += time.time() - tc
            return st

        def run_pass(pass_id: str, checked: bool) -> None:
            cpu0 = procfs.tree_cpu(jvm)
            thr0 = procfs.thread_ticks(jvm)
            steal0 = procfs.steal_s()
            t0 = time.time()
            pass_span = None
            if self.trace and not checked:
                pass_span = self.span("pass", pass_id, t0, t0, None, pass_id)
            per_op = {op.name: run_op(op, pass_id, checked, pass_span) for op in ops}
            t1 = time.time()
            cpu1 = procfs.tree_cpu(jvm)
            thr1 = procfs.thread_ticks(jvm)
            steal1 = procfs.steal_s()
            if checked:
                return
            if pass_span is not None:
                self.spans[pass_span]["end_ms"] = t1 * 1e3
            self.pass_stats.append({
                "id": pass_id,
                "s": t1 - t0,
                "cpu_s": (cpu1["jvm"] + cpu1["python"]) - (cpu0["jvm"] + cpu0["python"]),
                "python_cpu_s": cpu1["python"] - cpu0["python"],
                "jvm_threads_cpu_s": procfs.thread_cpu_delta(thr0, thr1),
                "steal_s": steal1 - steal0,
                "stored_mb": du_mb(ctx.scratch),
                "ops": per_op,
            })

        run_pass("w0", checked=True)
        t_timed = time.time()
        setup_s = t_timed - t_setup - check_s
        min_passes = MIN_PASSES[a.workload] if a.min_passes is None else a.min_passes
        k = 0
        while time.time() - t_timed < a.seconds or k < min_passes:
            run_pass(f"p{k}", checked=False)
            k += 1

        phases["timed"] = time.time()
        peak_rss_mb = procfs.status_kb(jvm, "VmHWM") / 1024
        workers = procfs.descendants(jvm, procfs.snapshot())
        stop_session(spark)
        procfs.wait_gone([jvm, *workers])
        phases["stopped"] = time.time()
        host["loadavg_end"] = procfs.host_record()["loadavg"]
        host["jvm_max_heap_mb"] = max_heap_mb

        passes = self.settled()
        n_fail = len(self.failures)
        report = {
            "setup_s": setup_s,
            "pass_s": median([p["s"] for p in passes]),
            "cpu_s": median([p["cpu_s"] for p in passes]),
            "peak_rss_mb": peak_rss_mb,
            "fail_ratio": n_fail / max(1, self.attempted),
            "stored_mb": median([p["stored_mb"] for p in passes]),
        }
        result = {
            "workload": a.workload, "seed": a.seed, "sf": a.sf,
            "seconds": a.seconds, "trace": a.trace, "program": program_hash(),
            "host": host,
            "inputs": rows, "damage": {"missing": missing, "run_date": run_date},
            "passes": len(self.pass_stats), "settled_passes": len(passes),
            "report": report,
            "pass_s_all": [p["s"] for p in self.pass_stats],
            "cpu_s_all": [p["cpu_s"] for p in self.pass_stats],
            "op_s_all": [
                {n: st and st["s"] for n, st in p["ops"].items()}
                for p in self.pass_stats
            ],
            "jvm_threads_cpu_s": [p["jvm_threads_cpu_s"] for p in self.pass_stats],
            "steal_s_all": [p["steal_s"] for p in self.pass_stats],
            "get_spark_s": get_spark_s, "check_s": check_s, "max_heap_mb": max_heap_mb,
            "phases_s": {k: v - phases["start"] for k, v in phases.items()},
            "failures": self.failures,
            "ops": {
                op.name: {"s": median([s["s"] for s in v]), "rows": v[0]["rows"]}
                for op in ops if (v := self.op_stats(op.name))
            },
        }
        if self.trace:
            result["layers"] = self.layers(ops, get_spark_s, max_heap_mb, peak_rss_mb)
            result["spans"] = self.spans
        return result

    # -- per-layer metrics from the traced run --------------------------
    def layers(self, ops, get_spark_s, max_heap_mb, peak_rss_mb) -> dict:
        log = eventlog.parse(eventlog.log_files(os.path.join(self.run_dir, "eventlog")))
        intervals = {
            st["group"]: (st["start"] * 1e3, st["end"] * 1e3)
            for p in self.pass_stats for st in p["ops"].values() if st
        }
        eventlog.assign_by_time(log, intervals)
        groups = eventlog.by_group(log)
        self.add_job_spans(log)

        passes = self.settled()

        def per_pass(fn) -> float:
            """Median over settled passes of a per-pass sum over ops."""
            vals = []
            for p in passes:
                sts = [s for s in p["ops"].values() if s is not None]
                vals.append(sum(fn(s) for s in sts))
            return median(vals)

        def ev(key):
            return lambda s: groups.get(s["group"], {}).get(key, 0.0)

        def driver_s(s) -> float:
            spans = groups.get(s["group"], {}).get("job_spans_ms", [])
            return s["s"] - eventlog.union_ms(spans) / 1e3

        peak = [
            max((ev("peak_exec_mb")(s) for s in p["ops"].values() if s), default=0.0)
            for p in passes
        ]
        m = {
            "session.get_spark_s": get_spark_s,
            "session.peak_rss_mb": peak_rss_mb,
            "session.drop_query_caches_s": per_pass(lambda s: s["drop_s"]),
            "session.max_heap_mb": max_heap_mb,
            "registry.pinned_rdds": per_pass(lambda s: s["pinned_rdds"]),
            "registry.pinned_mb": per_pass(lambda s: s["pinned_mb"]),
            "registry.leaked_rdds": per_pass(lambda s: s["leaked_rdds"]),
            "plans.build_s": per_pass(lambda s: s["build_s"]),
            "plans.count_s": per_pass(lambda s: s["count_s"]),
            "plans.jobs": per_pass(ev("jobs")),
            "plans.tasks": per_pass(ev("tasks")),
            "plans.driver_s": per_pass(driver_s),
            "plans.task_cpu_s": per_pass(ev("task_cpu_s")),
            "plans.gc_s": per_pass(ev("gc_s")),
            "plans.input_mb": per_pass(ev("input_mb")),
            "plans.shuffle_write_mb": per_pass(ev("shuffle_write_mb")),
            "plans.shuffle_read_mb": per_pass(ev("shuffle_read_mb")),
            "plans.spill_mb": per_pass(ev("spill_mb")),
            "plans.peak_exec_mb": median(peak),
            "process.cpu_s": median([p["cpu_s"] for p in passes]),
            "functions.python_cpu_s": median([p["python_cpu_s"] for p in passes]),
            "jvm.jit_cpu_s": median([p["jvm_threads_cpu_s"]["jit"] for p in passes]),
            "jvm.gc_cpu_s": median([p["jvm_threads_cpu_s"]["gc"] for p in passes]),
            "streaming.active_after_op": per_pass(lambda s: s["active_streams"]),
            "pipeline.stored_mb": median([p["stored_mb"] for p in passes]),
        }
        for op in metric_ops(ops):
            sts = self.op_stats(op.name)
            secs = f"{op.layer}.{op.name}" + ("_s" if op.layer == "pipeline" else ".s")
            m[secs] = median([s["s"] for s in sts])
            m[f"{op.layer}.{op.name}.jobs"] = median([ev("jobs")(s) for s in sts])
        ratios = [s["rewrite_ratio"] for s in self.op_stats("run_daily")]
        m["pipeline.rewrite_ratio"] = median(ratios)
        self.event_groups = {
            g: {k: v for k, v in d.items() if k != "job_spans_ms"}
            for g, d in groups.items()
        }
        settled_ids = {p["id"] for p in passes}
        per_kind: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            if sp["trace_id"] not in settled_ids:
                continue
            kind = per_kind.setdefault(sp["kind"], {})
            kind[sp["trace_id"]] = kind.get(sp["trace_id"], 0.0) + sp["self_ms"] / 1e3
        self.self_s = {k: median(list(v.values())) for k, v in per_kind.items()}
        return m

    def add_job_spans(self, log: dict) -> None:
        """Hang Spark jobs under the build/count/drop span that was open
        when they were submitted, and stages under their jobs."""
        leaves = [s for s in self.spans if s["kind"] in ("build", "count", "drop")]
        job_span = {}
        for jid, job in sorted(log["jobs"].items()):
            parent = next(
                (s for s in leaves
                 if s["start_ms"] <= job["submit_ms"] <= s["end_ms"]), None,
            )
            if parent is None or job["end_ms"] is None:
                continue
            job_span[jid] = self.span(
                "job", str(jid), job["submit_ms"] / 1e3, job["end_ms"] / 1e3,
                parent["id"], parent["trace_id"],
            )
        for sid, st in sorted(log["stages"].items()):
            if st["job"] in job_span and st["end_ms"] is not None:
                parent = self.spans[job_span[st["job"]]]
                self.span("stage", str(sid), st["submit_ms"] / 1e3, st["end_ms"] / 1e3,
                          parent["id"], parent["trace_id"], tasks=st["tasks"])
        self_times(self.spans)


def metric_ops(ops):
    """The ops that get per-op metrics: every op of the BENCHMARK.json
    workloads (0 where this workload does not run it), then the rest
    of this workload's ops."""
    from workloads import BENCH_WORKLOADS, WORKLOADS

    out = {}
    for w in BENCH_WORKLOADS:
        out.update((op.name, op) for op in WORKLOADS[w])
    out.update((op.name, op) for op in ops)
    return list(out.values())


def self_times(spans: list[dict]) -> None:
    """Set each span's ``self_ms``: its duration minus the part of its
    interval covered by its children."""
    kids: dict[int, list[tuple]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        clipped = [(max(lo, a), min(hi, b)) for a, b in kids.get(s["id"], ()) if b > lo and a < hi]
        s["self_ms"] = (hi - lo) - eventlog.union_ms(clipped)


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM; the caller waits for the pids."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def untraced_pass_s(out_dir: str, traced: dict) -> float | None:
    """Median pass_s of the untraced runs in ``out_dir`` of the traced
    run's workload, scale, seconds and program version (the tracing
    overhead's base)."""
    key = ("sf", "seconds", "program")
    vals = []
    for path in glob.glob(os.path.join(out_dir, f"{traced['workload']}-s*-t0.json")):
        try:
            with open(path) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        if all(r.get(k) == traced[k] for k in key) and r.get("passes"):
            vals.append(r["report"]["pass_s"])
    return median(vals) if vals else None


def print_report(result: dict) -> None:
    rep = result["report"]
    w = result["workload"]
    print(f"# {w} seed={result['seed']} sf={result['sf']} passes={result['passes']}"
          f" settled={result['settled_passes']}"
          f" nproc={result['host']['nproc']} load={result['host']['loadavg'][0]}")
    for k, unit in REPORT_UNITS.items():
        print(f"{w}  {k:<12} {rep[k]:>12.4f} {unit}")
    for f in result["failures"]:
        print(f"{w}  FAILED {f['op']} ({f['pass']}): {f['error']}")
    if result.get("layers"):
        for k, v in result["layers"].items():
            print(f"{w}  {k:<48} {v:>12.4f}")
        print(f"{w}  span self time per pass (s): " + ", ".join(
            f"{k} {v:.3f}" for k, v in result["self_s_per_pass"].items()))
        ov = result.get("trace_overhead")
        print(f"{w}  trace overhead (traced / untraced pass_s): "
              + (f"{ov:.3f}" if ov else "n/a, no matching untraced run recorded"))


def main(argv=None) -> int:
    a = parse_args(argv)
    require_program()
    if a.smoke:
        return smoke()
    run_dir = os.path.join(
        ROOT, ".perfbench_tmp", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        isolate(run_dir)
        runner = Runner(a, run_dir)
        result = runner.run()
        if a.trace:
            base = untraced_pass_s(out_dir, result)
            result["trace_overhead"] = (
                result["report"]["pass_s"] / base if base else None
            )
            result["event_groups"] = runner.event_groups
            result["self_s_per_pass"] = runner.self_s
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    print_report(result)
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": result["report"][k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    n_fail = len({(f["pass"], f["op"]) for f in result["failures"]})
    print(json.dumps({
        "correct": n_fail == 0,
        "attempted": runner.attempted,
        "failed": n_fail,
        "metrics": metrics,
    }), flush=True)
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("cpu_s"):
        return "CPU-s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def smoke() -> int:
    """Each workload once at sf0.001: one checked pass, no timing."""
    rc = 0
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", "0", "--seconds", "0", "--trace", "0",
               "--sf", "0.001", "--min-passes", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        last = (out.stdout.strip().splitlines() or ["{}"])[-1]
        try:
            ok = out.returncode == 0 and json.loads(last).get("correct") is True
        except ValueError:
            ok = False
        print(f"smoke {w}: {'ok' if ok else 'FAILED'} {last[:200]}")
        if not ok:
            sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
