#!/usr/bin/env python3
"""postpy_spark benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload etl_write --seed 1 --seconds 10 --trace 0

Reads the reference input tables in ``perfbench/data/sf0.01`` (fixed; the
seed only shuffles the query order inside each pass), starts a session with
the program's defaults and runs one cold pass over the workload's registered
queries, which collects every query's rows and compares them with its
DuckDB oracle, then two untimed warm-up passes, then a fixed number of
timed passes.  Closed loop, one client: one query at a time.

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (see
README.md).  A ``CONTEXT`` line before it records the machine load and the
per-query figures; the full report is written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The program's reference input tables at sf 0.01 (lineitem 60k rows; every
# input fits in memory), read-only.
DATA = os.path.join(HERE, "data", "sf0.01")
# Pass time keeps falling for many passes after the cold one while the JVM's
# JIT compiles, so every run follows the same schedule whatever the program's
# speed: the cold pass, two untimed warm-up passes, then a fixed number of
# timed passes (a median over a pass count that followed the clock came from
# warmer passes in faster runs and moved between runs by up to 25%).
WARMUP_PASSES = 2
# Nominal pass time per workload on a 4-CPU host: the timed-pass count is
# derived from --seconds and this constant, never from measured speed.
NOMINAL_PASS_S = {"relational": 5.0, "llm_pipeline": 7.0, "etl_write": 5.0}
MIN_PASSES = 2
MIN_TRACED_PASSES = 4  # untraced, traced, traced, untraced
DEADLINE_S = 150.0  # safety stop: start no pass that could end past this age


def timed_passes(workload: str, seconds: float, traced: bool) -> int:
    """How many timed passes a run makes: fixed by the arguments alone."""
    n = math.ceil(seconds / NOMINAL_PASS_S[workload])
    if traced:
        return max(MIN_TRACED_PASSES, 4 * math.ceil(n / 4))
    return max(MIN_PASSES, n)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, state, cpu ticks incl. reaped children)."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(pid)] = (int(f[1]), f[0], sum(int(x) for x in f[11:15]))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants (the JVM and its
    Python workers), counting children they have already reaped."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        if pid in table:
            ticks += table[pid][2]
        todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def load_context() -> dict:
    """Machine load, recorded to explain drifted runs (never used to drop
    or rescale one)."""
    la1, la5, _ = os.getloadavg()
    running = sum(
        1 for pid, (_, st, _) in _proc_table().items()
        if st == "R" and pid != os.getpid()
    )
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {"loadavg_1m": la1, "loadavg_5m": la5, "running_procs": running,
            "cpu_steal_s": steal}


def check_rows(df, rows, con, sql: str) -> list[str]:
    """Compare collected Spark rows with the DuckDB oracle the way
    ``postpy_spark.testing.compare_spark_duckdb`` does, without collecting
    the DataFrame a second time."""
    from postpy_spark import testing

    bad = testing.nonscalar_top_level_columns(df.schema)
    if bad:
        return [f"non-scalar top-level columns {bad}"]
    errs = testing.type_parity_errors(
        df.schema, {r[0]: r[1] for r in con.execute("DESCRIBE " + sql).fetchall()}
    )
    if errs:
        return errs
    s_cols, s_rows = testing.canon_rows(df.columns, rows)
    res = con.execute(sql)
    d_cols, d_rows = testing.canon_rows([d[0] for d in res.description], res.fetchall())
    if s_cols != d_cols:
        return [f"columns: spark={s_cols} duckdb={d_cols}"]
    if len(s_rows) != len(d_rows):
        return [f"rowcount: spark={len(s_rows)} duckdb={len(d_rows)}"]
    if s_rows != d_rows:
        return [f"values differ: {[(a, b) for a, b in zip(s_rows, d_rows) if a != b][:2]}"]
    return []


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args, out: str, data: str):
        self.args = args
        self.out = out
        self.data = data
        self.trace = bool(args.trace)
        self.names = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: dict[str, list[str]] = {}
        self.passes: list[dict] = []
        self.aside_s = 0.0  # oracle checks and Catalyst probes inside passes
        self.spark = None

    def start(self) -> None:
        from postpy_spark import registry
        from postpy_spark.session import get_spark

        t0 = time.perf_counter()
        self.reg = registry.load_all()
        self.load_all_s = time.perf_counter() - t0
        missing = [n for n in self.names if n not in self.reg or not self.reg[n].oracle]
        if missing:
            raise SystemExit(f"perfbench: queries without an oracle: {missing}")

        extra = None
        if self.trace:
            os.makedirs(f"{self.out}/eventlog", exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.out}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=extra)
        self.get_spark_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")

        # Scratch files the ETL queries write go inside this run's directory.
        from postpy_spark.queries import etl_surface

        etl_surface.WORK_ROOT = f"{self.out}/work"

        self.tracer = spans.Tracer(self.sc)
        if self.trace:
            self.n_wrapped = self.tracer.install()

    def run_pass(self, idx: int, kind: str, traced: bool = False, check=None) -> dict:
        """One pass over the workload's queries in a seed-shuffled order.
        ``check`` is a DuckDB connection: collect and compare instead of the
        noop action."""
        order = list(self.names)
        self.rng.shuffle(order)
        tr = self.tracer
        tr.enabled = traced
        if self.trace:
            self.sc.setLocalProperty("perfbench.pass", str(idx))
        lat, build, phases = {}, {}, {}
        aside = 0.0
        cpu0, w0, t0 = tree_cpu_s(), time.time(), time.perf_counter()
        for name in order:
            tr.query_id = f"{idx}:{name}"
            self.attempted += 1
            q0 = time.perf_counter()
            try:
                with tr.span(name, "queries"):
                    df = self.reg[name].fn(self.spark, self.data)
                build[name] = time.perf_counter() - q0
                with tr.span("action", "queries.action"):
                    if check is None:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        rows = df.collect()
                lat[name] = time.perf_counter() - q0
                if check is not None:
                    c0 = time.perf_counter()
                    errs = check_rows(df, rows, check, self.reg[name].oracle)
                    aside += time.perf_counter() - c0
                    if errs:
                        self.failures.setdefault(name, []).append(f"{kind}: {errs[0][:300]}")
                if traced:
                    c0 = time.perf_counter()
                    phases[name] = spans.catalyst_phases(df)
                    aside += time.perf_counter() - c0
            except Exception as e:  # a failing query stays in the timing
                lat[name] = time.perf_counter() - q0
                msg = f"{kind}: {type(e).__name__}: {e}"
                self.failures.setdefault(name, []).append(msg[:300])
        wall = time.perf_counter() - t0 - aside
        self.aside_s += aside
        p = {
            "idx": idx, "kind": kind, "traced": traced, "wall_s": wall,
            "cpu_s": tree_cpu_s() - cpu0, "start": w0, "end": time.time(),
            "latency_s": lat, "build_s": build, "catalyst": phases,
        }
        if self.trace:
            jsc = self.sc._jsc
            p["persisted_rdds"] = jsc.getPersistentRDDs().size()
            p["storage_mb"] = sum(
                i.memSize() for i in jsc.sc().getRDDStorageInfo()
            ) / (1024.0 * 1024.0)
        self.passes.append(p)
        tr.enabled = False
        return p

    def run(self, seconds: float) -> None:
        from postpy_spark import testing

        t0 = time.perf_counter()
        con = testing.duckdb_con(self.data)
        self.aside_s += time.perf_counter() - t0
        try:
            self.run_pass(0, "cold", check=con)
        finally:
            con.close()
        for w in range(1, WARMUP_PASSES + 1):
            self.run_pass(w, "warmup")
        self.setup_s = process_age_s() - self.aside_s
        n = timed_passes(self.args.workload, seconds, self.trace)
        for i in range(n):
            # Traced runs go untraced, traced, traced, untraced, ... so that
            # warming across passes does not bias the tracing overhead.
            traced = self.trace and i % 4 in (1, 2)
            p = self.run_pass(1 + WARMUP_PASSES + i, "timed", traced=traced)
            if i + 1 < n and process_age_s() + 1.5 * p["wall_s"] > DEADLINE_S:
                break
        if self.trace:
            jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
            with open(f"/proc/{jvm_pid}/status") as fh:
                hwm = [ln for ln in fh if ln.startswith("VmHWM")]
            self.jvm_hwm_mb = int(hwm[0].split()[1]) / 1024.0 if hwm else 0.0

    # -- metrics -------------------------------------------------------
    def end_to_end(self) -> dict:
        timed = [p for p in self.passes if p["kind"] == "timed"]
        med = {
            n: statistics.median(p["latency_s"][n] for p in timed) for n in self.names
        }
        return {
            "setup_s": (self.setup_s, "s"),
            "cold_pass_s": (self.passes[0]["wall_s"], "s"),
            "pass_s": (statistics.median(p["wall_s"] for p in timed), "s"),
            "query_geomean_s": (
                math.exp(statistics.fmean(math.log(v) for v in med.values())), "s"
            ),
            "pass_cpu_s": (statistics.median(p["cpu_s"] for p in timed), "CPU-s"),
        }, med

    def per_layer(self) -> dict:
        from spans import EAGER_OPERATOR_MODULES, PY_METRICS, layer_modules, parse_event_log

        timed = [p for p in self.passes if p["kind"] == "timed"]
        traced = [p for p in timed if p["traced"]]
        untraced = [p for p in timed if not p["traced"]]
        first = traced[0]
        logs = [f for f in os.listdir(f"{self.out}/eventlog")]
        ev = parse_event_log(f"{self.out}/eventlog/{logs[0]}")
        sp = self.tracer.spans
        span_layer = {str(s["id"]): s["layer"] for s in sp}
        span_pass = {s["id"]: int(s["query"].split(":")[0]) for s in sp}
        cores = int(os.environ["SPARK_GRAFT_CPUS"])

        def in_load_table(span_id) -> bool:
            sid = None if span_id is None else int(span_id)
            while sid is not None:
                if sp[sid]["name"] == "io.load_table":
                    return True
                sid = sp[sid]["parent"]
            return False

        def pass_figures(p: dict) -> dict:
            idx = str(p["idx"])
            f: dict[str, float] = {}
            ps = [s for s in sp if span_pass[s["id"]] == p["idx"]]
            selft = self.tracer.self_times(ps)
            f["queries.build_s"] = sum(
                s["end"] - s["start"] for s in ps if s["layer"] == "queries")
            f["queries.action_s"] = sum(
                s["end"] - s["start"] for s in ps if s["layer"] == "queries.action")
            for layer in layer_modules():
                f[f"{layer}.self_s"] = selft.get(layer, 0.0)
            # Outermost io calls only: load_table's own scan_parquet is not a call.
            f["io.calls"] = sum(
                1 for s in ps if s["layer"] == "io"
                and (s["parent"] is None or sp[s["parent"]]["layer"] != "io"))
            jobs = [j for j in ev["jobs"].values() if j["pass"] == idx]
            jl = [span_layer.get(j["span"]) for j in jobs]
            f["io.load_jobs"] = sum(1 for j in jobs if in_load_table(j["span"]))
            for m in EAGER_OPERATOR_MODULES:
                f[f"operators.{m}.jobs"] = jl.count(f"operators.{m}")
            # Wall time of the pass with no job running.
            ivs = sorted((j["start"], j["end"] or p["end"]) for j in jobs)
            busy, cur_s, cur_e = 0.0, None, None
            for s, e in ivs:
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        busy += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                busy += cur_e - cur_s
            f["driver.self_s"] = max(p["wall_s"] - busy, 0.0)
            for ph in ("analysis", "optimization", "planning"):
                f[f"catalyst.{ph}_s"] = sum(c[ph] for c in p["catalyst"].values())
            jids = {j["id"] for j in jobs}
            tasks = [t for t in ev["tasks"] if t["job"] in jids]
            f["scheduler.jobs"] = len(jobs)
            f["scheduler.stages"] = sum(1 for j in ev["stages"] if j in jids)
            f["scheduler.tasks"] = len(tasks)
            f["scheduler.failed_tasks"] = sum(1 for t in tasks if t["failed"])
            for k in ("run_s", "cpu_s", "gc_s", "input_mb", "output_mb"):
                f[f"executor.{k}"] = sum(t[k] for t in tasks)
            f["executor.busy_share"] = f["executor.run_s"] / (p["wall_s"] * cores)
            f["shuffle.write_mb"] = sum(t["shuffle_write_mb"] for t in tasks)
            f["shuffle.read_mb"] = sum(t["shuffle_read_mb"] for t in tasks)
            f["shuffle.fetch_wait_s"] = sum(t["fetch_wait_s"] for t in tasks)
            f["spill.disk_mb"] = sum(t["spill_mb"] for t in tasks)
            for key, _ in PY_METRICS.values():
                f[key] = sum(t.get(key, 0.0) for t in tasks)
            return f

        per_pass = [pass_figures(p) for p in traced]
        out: dict[str, float] = {}
        for key in per_pass[0]:
            vals = [pp[key] for pp in per_pass]
            # Counts come from the first traced timed pass (a fixed index, so
            # they repeat across runs of one seed); times are medians.
            out[key] = vals[0] if unit_of(key) == "count" else statistics.median(vals)
        # Python workers start in the cold pass and are reused afterwards.
        cold = {j["id"] for j in ev["jobs"].values() if j["pass"] == "0"}
        out["python.boot_s"] = sum(
            t.get("python.boot_s", 0.0) for t in ev["tasks"] if t["job"] in cold)
        out["session.get_spark_s"] = self.get_spark_s
        out["registry.load_all_s"] = self.load_all_s
        prev = self.passes[first["idx"] - 1]
        out["storage.persisted_rdds"] = first["persisted_rdds"]
        out["storage.persisted_rdds_growth"] = first["persisted_rdds"] - prev["persisted_rdds"]
        out["storage.memory_mb"] = first["storage_mb"]
        out["jvm.peak_rss_mb"] = self.jvm_hwm_mb
        t_pass = statistics.median(p["wall_s"] for p in traced)
        u_pass = statistics.median(p["wall_s"] for p in untraced)
        out["trace.traced_pass_s"] = t_pass
        out["trace.untraced_pass_s"] = u_pass
        out["trace.overhead_s"] = t_pass - u_pass
        return out


def unit_of(key: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_share", "ratio")):
        if key.endswith(suffix):
            return unit
    return "count"


def untraced_pass_s(base: str, workload: str, seed: int) -> float | None:
    """pass_s of the latest finished untraced run of ``workload`` and
    ``seed`` under ``base``, if there is one.  That run has no event log,
    so the difference to it is the full tracing overhead."""
    best = None
    for d in os.listdir(base):
        if not d.startswith(f"{workload}-seed{seed}-trace0-"):
            continue
        path = os.path.join(base, d, "report.json")
        try:
            mtime = os.path.getmtime(path)
            with open(path) as fh:
                value = json.load(fh)["metrics"]["pass_s"]["value"]
        except (OSError, KeyError, ValueError):
            continue
        if best is None or mtime > best[0]:
            best = (mtime, value)
    return None if best is None else best[1]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import postpy_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import postpy_spark from {ROOT}: {e}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_out")
    out = os.path.join(base, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    # Keep every file the run writes (JVM, Spark, Derby, Python temp) inside
    # the working directory; the program's own settings stay at defaults.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.stream.error.file={out}/derby.log "
        "-XX:-UsePerfData"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    ctx = {"load_start": load_context(), "nproc": len(os.sched_getaffinity(0))}
    bench = Bench(args, out, DATA)
    try:
        bench.start()
        bench.run(args.seconds)
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)

    e2e, med = bench.end_to_end()
    failed = sum(len(v) for v in bench.failures.values())
    end = load_context()
    ctx.update({
        "load_end": end,
        "steal_s_during_run": end["cpu_steal_s"] - ctx["load_start"]["cpu_steal_s"],
        "master": bench.sc.master,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "data": os.path.relpath(DATA, ROOT),
        "timed_passes": sum(1 for p in bench.passes if p["kind"] == "timed"),
        "failed_share": failed / bench.attempted,
        "failures": bench.failures,
        "query_median_s": med,
    })
    if bench.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in bench.per_layer().items()}
        ctx["provenance"] = (
            "per-layer figures: traced timed passes of this --trace 1 run "
            "(counts from its first traced pass, times as medians); "
            "trace.overhead_s: median traced minus median untraced timed "
            "pass of this same run, event log on in both; "
            "overhead_vs_untraced_run_s: median traced timed pass minus "
            "pass_s of the latest --trace 0 run of this workload and seed"
        )
        ctx["wrapped_functions"] = bench.n_wrapped
        untraced = untraced_pass_s(base, args.workload, args.seed)
        if untraced is not None:
            ctx["overhead_vs_untraced_run_s"] = (
                metrics["trace.traced_pass_s"]["value"] - untraced
            )
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    report = {"args": vars(args), "context": ctx, "metrics": metrics,
              "passes": bench.passes}
    with open(os.path.join(out, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    for d in ("tmp", "spark-local", "work"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    print("CONTEXT " + json.dumps(ctx, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
