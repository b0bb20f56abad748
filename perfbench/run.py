#!/usr/bin/env python3
"""End-to-end benchmark of the engine, one named workload per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One fresh process, one SparkSession
on ``local[nproc]`` (``SPARK_GRAFT_CPUS`` = nproc) and one closed-loop
client that issues one operation at a time:

1. Set-up, from process start until the session is ready: importing
   pyspark and the engine, ``get_spark`` (which launches the JVM),
   ``tune_for_scale`` on the timed input, and a warm-up operation on a
   tiny input, which pays the first-query JIT.  Generating the inputs
   is not part of it.
2. JIT passes: every operation on a copy of the timed input, uncounted.
3. Timed passes, at least ``MIN_PASSES``, more while they fit in
   ``--seconds``.  Each pass runs every operation of the workload once,
   in an order drawn from ``--seed``, on a fresh directory of the same
   input, so the engine's per-directory session memos start cold in
   every pass.  A per-operation figure is the median over passes; a
   workload figure is the sum over its operations.
4. Checks: every output is compared with an independent reference
   (DuckDB oracle, DuckDB/pandas twin, or the generator's closed form).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer
metrics with ``--trace 1``).  The full record -- per-operation
figures, host record and, when traced, the spans -- goes to
``perfbench/.work/results/``.  Inputs, outputs and scratch files stay
under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

TABLE_SEED = 42  # the catalog tables are fixed; the seed orders the operations
TINY_SF = 0.001
MIN_PASSES = 1
MAX_PASSES = 12
OP_TIMEOUT_S = 45.0

CLI_OPS = ["electricity", "sensors", "weight", "jobsearch", "upsert", "compact"]

# units: operations that share a session memo stay together, in order,
# so the seeded permutation does not decide which of them pays for it.
WORKLOADS = {
    "catalog_sf0.1": {
        "sf": 0.1,
        "units": [["pricing_summary"], ["top_revenue_supplier"], ["salient_terms"],
                  ["streaming_bucket_15min"]],
        "warmup": "pricing_summary",
        # Measured: after one JIT pass the next full-size pass still spent
        # 1.3-1.7x the CPU of the one after it (C2 compiling the scan and
        # aggregation loops), but a second JIT pass did not narrow the
        # run-to-run spread, which the host's speed dominates, and costs
        # ~15 s of the time budget per run on a slow host.
        "jit_passes": 1,
    },
    "cli_pipelines": {
        "units": [["electricity"], ["sensors"], ["weight"], ["jobsearch"], ["upsert", "compact"]],
        "warmup": "electricity",
        # Measured: after one JIT pass the next pass still spent 1.2-1.6x
        # the CPU of the one after it in `sensors`; five seeds' timed
        # passes spread 21% in CPU after one JIT pass, 5% after two.
        "jit_passes": 2,
    },
}

UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "CPU-s", "ok_ratio": "fraction"}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, with its unit, in BENCHMARK.json order."""
    names = [
        ("session.import_s", "s"), ("session.get_spark_s", "s"),
        ("session.tune_for_scale_s", "s"), ("session.warmup_s", "s"), ("session.jit_pass_s", "s"),
        ("session.shuffle_partitions", "count"), ("memory.peak_rss_mb", "MB"),
        ("plans.build_s", "s"), ("plans.build_jobs", "count"), ("plans.build_job_s", "s"),
        ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
        ("catalyst.planning_s", "s"), ("catalyst.plan_s", "s"),
        ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
        ("exec.job_s", "s"), ("exec.gap_s", "s"), ("exec.run_s", "s"), ("exec.cpu_s", "CPU-s"),
        ("exec.gc_s", "s"), ("exec.deserialize_s", "s"),
        ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.records", "count"),
        ("shuffle.write_s", "s"), ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_mb", "MB"),
        ("sources.scan_s", "s"), ("sources.files_mb", "MB"), ("sources.files", "count"),
        ("sources.rows", "count"),
        ("operators.agg_s", "s"), ("operators.agg_peak_mb", "MB"), ("operators.sort_s", "s"),
        ("operators.broadcast_build_s", "s"), ("operators.broadcast_mb", "MB"),
        ("operators.output_rows", "count"),
        ("python.boot_s", "s"), ("python.init_s", "s"), ("python.total_s", "s"),
        ("python.sent_mb", "MB"), ("python.received_mb", "MB"), ("python.rows", "count"),
        ("writers.write_s", "s"), ("writers.files", "count"), ("writers.mb", "MB"),
        ("streaming.batches", "count"), ("streaming.trigger_s", "s"),
        ("streaming.add_batch_s", "s"), ("streaming.query_planning_s", "s"),
        ("streaming.wal_commit_s", "s"),
        ("caching.cached_mb", "MB"),
    ]
    names += [(f"cli.{c}_s", "s") for c in CLI_OPS]
    for w in WORKLOADS.values():
        if "sf" in w:
            names += [(f"op.{op}_s", "s") for unit in w["units"] for op in unit]
    names += [("trace.wall_s", "s")]
    return names


# --------------------------------------------------------------------------
# Process accounting.


def _proc_stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    rest = s[s.rindex(")") + 2:].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid, _ = _proc_stat(int(name))
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant (driver Python,
    driver JVM, Python workers), including reaped children."""
    total = 0
    for pid in tree_pids(os.getpid()):
        try:
            total += _proc_stat(pid)[1]
        except (OSError, ValueError, IndexError):
            pass
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def host_record() -> dict:
    def cmd(args):
        try:
            return subprocess.run(args, capture_output=True, text=True, timeout=20).stderr.strip()
        except (OSError, subprocess.SubprocessError):
            return "unknown"

    import duckdb
    import pyspark

    java = cmd(["java", "-XX:-UsePerfData", "-version"]).splitlines()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def since_process_start() -> float:
    """Seconds since the kernel started this process."""
    with open("/proc/self/stat") as f:
        s = f.read()
    start_ticks = int(s[s.rindex(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def import_engine() -> float:
    """Import pyspark and the engine; returns seconds since process start."""
    import pyspark.sql  # noqa: F401

    import tomasz_weight_tracker_spark.__main__  # noqa: F401
    import tomasz_weight_tracker_spark.plans  # noqa: F401
    import tomasz_weight_tracker_spark.session  # noqa: F401

    return since_process_start()


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, over all CPUs.
    On a shared host this rises in the windows where every phase of a
    run slows down."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


# --------------------------------------------------------------------------
# Inputs.


def fresh_copy(src: str, dst: str) -> str:
    """Same files under a new directory name (hard links when possible)."""
    os.makedirs(dst)
    for name in os.listdir(src):
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            fresh_copy(s, d)
            continue
        try:
            os.link(s, d)
        except OSError:
            shutil.copy2(s, d)
    return dst


def catalog_tables(sf: float) -> str:
    """Generate (once per checkout) the fixed tables for scale ``sf``."""
    import tables

    out = os.path.join(WORK, "data", f"sf{sf}")
    if not os.path.exists(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        tables.write_tables(out, sf, TABLE_SEED)
        open(os.path.join(out, "DONE"), "w").close()
    return out


# Share of the real input sizes (FIXTURES.md: a meter CSV of 1,273 daily
# readings, 10 sensors x 7 daily exports of ~1,440 rows, ~200 weight files)
# that the timed CLI inputs have.  At full size one pass takes ~55 s on a
# 4-core host (sensors ~38 s), which the run's time budget does not allow.
CLI_SCALE = 0.1


class CliInputs:
    """Seeded reference-pipeline inputs plus their expected outputs.

    ``scale`` multiplies the number of meter readings, sensors and weight
    files; each sensor keeps its seven daily exports of ~1,440 rows."""

    def __init__(self, seed: int, root: str, scale: float) -> None:
        import fixtures

        def n(full: int) -> int:
            return max(1, round(full * scale))

        rng = random.Random(seed)
        self.root = root
        os.makedirs(f"{root}/batches")
        fixtures.write_meter_csv(rng, f"{root}/meter.csv", readings=n(1273))
        fixtures.write_sensor_exports(rng, f"{root}/sensors", n_sensors=n(10), n_files=7,
                                      minutes=1380)
        self.weight = fixtures.write_weight_txts(rng, f"{root}/weight", n_files=n(200))
        self.report = fixtures.write_mhtml_snapshots(rng, f"{root}/mhtml", n_files=12,
                                                     blocks_per_file=12)
        self._expected: dict = {}
        self.n_batches = 2
        self.table = fixtures.write_upsert_batches(rng, f"{root}/batches", self.n_batches,
                                                   rows=2000)

    def expected(self, op: str, compute):
        """``compute()``, once per input set."""
        if op not in self._expected:
            self._expected[op] = compute()
        return self._expected[op]


# --------------------------------------------------------------------------
# Operations.


def checksum(df):
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*[df[c] for c in df.columns]))).alias("h"),
    )


def cli_argv(op: str, inp: str, out: str, n_batches: int) -> list[list[str]]:
    if op == "electricity":
        return [["electricity", f"{inp}/meter.csv", f"{out}/usage.csv"]]
    if op == "sensors":
        return [["sensors", f"{inp}/sensors", f"{out}/sensors"]]
    if op == "weight":
        return [["weight", f"{inp}/weight/*.txt", f"{out}/weight.csv"]]
    if op == "jobsearch":
        return [["jobsearch", f"{inp}/mhtml/*.mhtml", f"{out}/report.md"]]
    if op == "upsert":
        return [["upsert", f"{inp}/batches/batch_{b}.parquet", f"{out}/table", "--keys", "id"]
                for b in range(n_batches)]
    if op == "compact":
        return [["compact", f"{out}/table"]]
    raise KeyError(op)


class Runner:
    def __init__(self, args, tracer) -> None:
        self.args = args
        self.tracer = tracer
        self.spark = None

    def span(self, name):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def start_session(self, tune_dir: str) -> dict:
        from tomasz_weight_tracker_spark.session import get_spark, tune_for_scale

        if self.tracer is not None:
            self.tracer.reset_session()
        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
                    "spark.sql.warehouse.dir": os.path.join(self.args.run_dir, "warehouse"),
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with self.span("session.tune_for_scale"):
            parts = tune_for_scale(self.spark, tune_dir)
        t2 = time.perf_counter()
        return {"get_spark_s": t1 - t0, "tune_for_scale_s": t2 - t1, "shuffle_partitions": parts}

    def run_op(self, op: str, where: str, group: str, cli_ctx=None) -> dict:
        """Run one operation; returns timings, CPU and its fingerprint."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [group])
        timer.start()
        rec = {"op": op, "ok": True}
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with self.span(f"op.{op}"):
                if cli_ctx is None:
                    self._catalog_op(op, where, group, rec)
                else:
                    self._cli_op(op, where, cli_ctx, rec)
        except Exception as e:  # noqa: BLE001 -- an op error is a counted failure
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            timer.cancel()
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s() - cpu0
        if rec["wall_s"] >= OP_TIMEOUT_S:
            rec["ok"] = False
            rec.setdefault("error", "timeout")
        build_jobs, a0, a1 = (rec.pop(k, None) for k in ("build_jobs", "action_t0", "action_t1"))
        if self.tracer is not None:
            self.tracer.collect_op(self.spark, group, build_jobs or set(), a0, a1)
            rec["counters"] = self.tracer.take_counters()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return rec

    def _catalog_op(self, op: str, sf_dir: str, group: str, rec: dict) -> None:
        from tomasz_weight_tracker_spark.caching import release_caches
        from tomasz_weight_tracker_spark.plans import REGISTRY

        t0 = time.perf_counter()
        with self.span("plans.build"):
            df = REGISTRY[op].build(self.spark, sf_dir)
        rec["build_s"] = time.perf_counter() - t0
        cdf = checksum(df)
        if self.tracer is not None:
            rec["build_jobs"] = set(self.spark.sparkContext.statusTracker()
                                    .getJobIdsForGroup(group))
            qe = cdf._jdf.queryExecution()
            t1 = time.perf_counter()
            with self.span("catalyst.plan"):
                qe.executedPlan()
            c = self.tracer.counters
            c["catalyst.plan_s"] += time.perf_counter() - t1
            for phase, secs in tracing.catalyst_phases(qe).items():
                c[f"catalyst.{phase}_s"] += secs
        t2 = time.time()
        with self.span("exec.action"):
            row = cdf.collect()[0]
        rec["action_t0"], rec["action_t1"] = t2, time.time()
        rec["fingerprint"] = [int(row["n"]), int(row["h"] or 0)]
        if self.tracer is not None:
            self.tracer.counters["caching.cached_mb"] += tracing.cached_mb(self.spark)
        release_caches()

    def _cli_op(self, op: str, pass_dir: str, ctx, rec: dict) -> None:
        from tomasz_weight_tracker_spark.__main__ import main

        for argv in cli_argv(op, f"{pass_dir}/in", f"{pass_dir}/out", ctx.n_batches):
            with self.span(f"cli.{op}"):
                code = main(argv)
            if code not in (0, None):
                raise RuntimeError(f"exit code {code} from {argv[0]}")


# --------------------------------------------------------------------------
# Output checks.


def source_hash() -> str:
    """Hash of the engine's sources and of the oracle comparison."""
    import hashlib

    h = hashlib.sha256()
    files = glob.glob(os.path.join(ROOT, "tomasz_weight_tracker_spark", "**", "*.py"),
                      recursive=True)
    for path in sorted(files) + [os.path.join(ROOT, "tools", "parity.py")]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def verify_catalog(runner: Runner, ops: list[str], sf_dir: str, corrupt: bool) -> dict:
    """Fingerprints of each op's output on these tables, each verified
    once against the DuckDB oracle (order-insensitive row comparison)
    and kept next to the tables for later runs of the same checkout.
    They are kept per hash of the engine's sources, so that code which
    changes the fingerprint of a correct output (column order or types)
    is verified against the oracle again."""
    from tools.parity import canon, duck_connection

    from tomasz_weight_tracker_spark.caching import release_caches
    from tomasz_weight_tracker_spark.plans import REGISTRY

    path = os.path.join(sf_dir, f"verified-{source_hash()}.json")
    verified = json.load(open(path)) if os.path.exists(path) else {}
    todo = [op for op in ops if op not in verified]
    if todo:
        spark = runner.spark
        check_dir = fresh_copy(sf_dir, os.path.join(runner.args.run_dir, "verify"))
        for op in todo:
            q = REGISTRY[op]
            df = q.build(spark, check_dir)
            rows = [tuple(r) for r in df.collect()]
            row = checksum(df).collect()[0]
            release_caches()
            con = duck_connection(sf_dir)
            cur = con.execute(q.oracle)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            con.close()
            same = sorted(df.columns) == sorted(ocols) and canon(rows, df.columns) == canon(
                orows, ocols)
            if same:
                verified[op] = [int(row["n"]), int(row["h"] or 0)]
            else:
                print(f"oracle mismatch for {op}", file=sys.stderr)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(verified, f)
        os.replace(tmp, path)
    if corrupt:
        verified = {k: [v[0] + 1, v[1]] for k, v in verified.items()}
    return verified


def check_cli(inputs: CliInputs, op: str, out: str, corrupt: bool) -> str | None:
    """None when the op's output in ``out`` matches the expected output,
    else a one-line reason."""
    import duckdb
    import pandas as pd

    import fixtures

    if op == "electricity":
        exp = inputs.expected("electricity", lambda: duckdb.connect().execute(
            fixtures.ELEC_SQL.format(csv=f"{inputs.root}/meter.csv")).fetchall())
        got = pd.read_csv(f"{out}/usage.csv", dtype=str)
        rows = [
            (_ts(r.Bucket), _ts(r.MinDateTime), _ts(r.MaxDateTime), int(r.Minutes),
             _num(r.P_Usage), _num(r.OP_Usage))
            for r in got.itertuples()
        ]
        if corrupt:
            exp = exp[1:]
        return None if sorted(rows) == sorted(exp) else f"{len(rows)} rows vs {len(exp)} expected"
    if op == "sensors":
        from tomasz_weight_tracker_spark.functions import sanitize_filename

        expected = inputs.expected(
            "sensors", lambda: fixtures.expected_sensors(f"{inputs.root}/sensors"))
        files = sorted(glob.glob(f"{out}/sensors/*.csv"))
        if len(files) != len(expected):
            return f"{len(files)} sensor files vs {len(expected)}"
        for sensor, exp in expected.items():
            got = pd.read_csv(f"{out}/sensors/{sanitize_filename(sensor)}.csv")
            got["Timestamp"] = pd.to_datetime(got["Timestamp"].map(_ts))
            if corrupt:
                exp = exp.iloc[1:]
            if list(got.columns) != list(exp.columns) or len(got) != len(exp):
                return f"{sensor}: shape {got.shape} vs {exp.shape}"
            if not got.reset_index(drop=True).equals(exp.reset_index(drop=True)):
                return f"{sensor}: values differ"
        return None
    if op == "weight":
        got = pd.read_csv(f"{out}/weight.csv")
        exp = inputs.weight
        if corrupt:
            exp = exp.assign(average_weight=exp["average_weight"] + 1)
        if len(got) != len(exp) or list(got["period"]) != list(exp["period"]):
            return f"{len(got)} periods vs {len(exp)}"
        for col, tol in (("average_weight", 0.1), ("average_bmi", 0.1), ("weight_change", 0.2)):
            diff = (got[col] - exp[col]).abs().fillna(0)
            if (diff > tol + 1e-9).any() or (got[col].isna() != exp[col].isna()).any():
                return f"{col} differs"
        return None
    if op == "jobsearch":
        lines = open(f"{out}/report.md", encoding="utf-8").read().split("\n")
        exp = inputs.report + [""]
        if corrupt:
            exp = exp[1:]
        return None if lines == exp else f"{len(lines)} report lines vs {len(exp)}"
    if op in ("upsert", "compact"):
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT id, v, amount FROM read_parquet('{out}/table/*.parquet')").fetchall()
        exp = sorted(inputs.table.values())
        if corrupt:
            exp = exp[1:]
        if sorted(rows) != exp:
            return f"{len(rows)} table rows vs {len(exp)}"
        if op == "compact" and len(glob.glob(f"{out}/table/*.parquet")) != 1:
            return "compact left more than one file"
        return None
    raise KeyError(op)


def _num(v) -> float | None:
    return None if isinstance(v, float) or v is None else float(v)


def _ts(s: str) -> str:
    """'2024-03-01T14:15:00.000Z' -> '2024-03-01 14:15:00'."""
    return s.replace("T", " ")[:19]


# --------------------------------------------------------------------------
# The run.


def run_pass(runner: Runner, units, rng: random.Random, where: str, tag: str, cli_inputs):
    """Every operation once, units in a seeded order, on one input directory."""
    order = list(units)
    rng.shuffle(order)
    return [runner.run_op(op, where, f"{tag}.{op}", cli_inputs) for unit in order for op in unit]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args, import_s: float) -> dict:
    cfg = WORKLOADS[args.workload]
    units = cfg["units"]
    ops = [op for unit in units for op in unit]
    tracer = None
    if args.trace:
        tracer = tracing.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    runner = Runner(args, tracer)
    is_cli = "sf" not in cfg
    t_start = time.perf_counter()

    # Inputs (not timed): fixed tables, or the seeded CLI inputs.
    if is_cli:
        cli_inputs = CliInputs(args.seed, os.path.join(args.run_dir, "cli_in"), CLI_SCALE)
        tiny = CliInputs(args.seed + 1, os.path.join(args.run_dir, "cli_tiny"), CLI_SCALE / 10)
        timed_src, tiny_src = cli_inputs.root, tiny.root
    else:
        cli_inputs = tiny = None
        timed_src, tiny_src = catalog_tables(cfg["sf"]), catalog_tables(TINY_SF)
    pass_root = os.path.join(args.run_dir, "passes")
    os.makedirs(pass_root)

    def new_dir(tag: str, src: str) -> str:
        d = os.path.join(pass_root, tag)
        if is_cli:
            fresh_copy(src, f"{d}/in")
            os.makedirs(f"{d}/out")
            return d
        return fresh_copy(src, d)

    # 1. Set-up: the imports (timed in main) plus session start and warm-up.
    with runner.span("setup"):
        t0 = time.perf_counter()
        setup = runner.start_session(timed_src)
        if tracer is not None:
            tracer.patch_writers()
            tracer.add_stream_listener(runner.spark)
        t1 = time.perf_counter()
        with runner.span("session.warmup"):
            w = runner.run_op(cfg["warmup"], new_dir("warmup", tiny_src), "warmup", tiny)
        setup["warmup_s"] = time.perf_counter() - t1
        setup["warmup_ok"] = w["ok"]
        setup["import_s"] = import_s
        setup["setup_s"] = import_s + time.perf_counter() - t0

    # 2. Uncounted passes over the timed input warm the JIT for every
    # operation; then the timed passes.
    rng = random.Random(args.seed)
    records: list[dict] = []
    t_jit = time.perf_counter()
    for j in range(cfg["jit_passes"]):
        with runner.span("session.jit_pass"):
            run_pass(runner, units, rng, new_dir(f"jit{j}", timed_src), f"jit{j}", cli_inputs)
    jit_pass_s = time.perf_counter() - t_jit
    if tracer is not None:
        tracer.take_counters()  # set-up and JIT-pass counters are not per-op figures
    t_timed = time.perf_counter()
    cpu_timed0 = tree_cpu_s()
    passes, last_pass_s = 0, 0.0
    # Another pass only if it is expected to end within --seconds.
    while passes < MIN_PASSES or (
        time.perf_counter() - t_timed + last_pass_s <= args.seconds and passes < MAX_PASSES
    ):
        t_pass = time.perf_counter()
        with runner.span(f"pass.{passes}"):
            for rec in run_pass(runner, units, rng, new_dir(f"pass{passes}", timed_src),
                                f"p{passes}", cli_inputs):
                rec["pass"] = passes
                records.append(rec)
        passes += 1
        last_pass_s = time.perf_counter() - t_pass
    timed_s = time.perf_counter() - t_timed
    timed_cpu = tree_cpu_s() - cpu_timed0

    # 3. Checks (not timed).
    if is_cli:
        for rec in records:
            if rec["ok"]:
                why = check_cli(cli_inputs, rec["op"], f"{pass_root}/pass{rec['pass']}/out",
                                args.corrupt_expected)
                if why is not None:
                    rec["ok"], rec["error"] = False, f"wrong output: {why}"
    else:
        verified = verify_catalog(runner, ops, timed_src, args.corrupt_expected)
        for rec in records:
            if rec["ok"] and rec.get("fingerprint") != verified.get(rec["op"]):
                rec["ok"], rec["error"] = False, "wrong output: fingerprint differs from oracle"

    jvm_pid = int(runner.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    rss = peak_rss_mb([os.getpid(), jvm_pid])

    # Aggregate: per-op medians over passes, summed over ops.
    by_op: dict[str, list[dict]] = {op: [r for r in records if r["op"] == op] for op in ops}
    wall = sum(median([r["wall_s"] for r in rs]) for rs in by_op.values())
    cpu = sum(median([r["cpu_s"] for r in rs]) for rs in by_op.values())
    failed = sum(not r["ok"] for r in records)
    attempted = len(records)
    metrics = {
        "setup_s": setup["setup_s"],
        "wall_s": wall,
        "cpu_s": cpu,
        "ok_ratio": (attempted - failed) / attempted,
    }
    layer = {}
    if tracer is not None:
        layer = layer_metrics(cfg, setup, by_op, wall, jit_pass_s)
        layer["memory.peak_rss_mb"] = rss
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "attempted": attempted,
        "failed": failed,
        "passes": passes,
        "jit_pass_s": jit_pass_s,
        "timed_s": timed_s,
        "timed_cpu_s": timed_cpu,
        "total_s": time.perf_counter() - t_start,
        "metrics": metrics,
        "peak_rss_mb": rss,
        "per_layer": layer,
        "setup": setup,
        "ops": {
            op: {
                "wall_s": median([r["wall_s"] for r in rs]),
                "cpu_s": median([r["cpu_s"] for r in rs]),
                "build_s": median([r.get("build_s", 0.0) for r in rs]),
                "failed": sum(not r["ok"] for r in rs),
                "errors": sorted({r["error"] for r in rs if "error" in r}),
            }
            for op, rs in by_op.items()
        },
        "records": records,
        "spans": tracer.spans if tracer is not None else [],
        "jvm_pid": jvm_pid,
        "_runner": runner,
    }


def layer_metrics(cfg, setup, by_op, wall, jit_pass_s) -> dict:
    keys = {k for rs in by_op.values() for r in rs for k in r.get("counters", {})}
    out = {name: 0.0 for name, _ in per_layer_names()}
    for k in keys:
        out[k] = sum(median([r.get("counters", {}).get(k, 0.0) for r in rs])
                     for rs in by_op.values())
    out["plans.build_s"] = sum(median([r.get("build_s", 0.0) for r in rs])
                               for rs in by_op.values())
    for k in ("import_s", "get_spark_s", "tune_for_scale_s", "warmup_s", "shuffle_partitions"):
        out[f"session.{k}"] = setup[k]
    for op, rs in by_op.items():
        key = f"cli.{op}_s" if "sf" not in cfg else f"op.{op}_s"
        out[key] = median([r["wall_s"] for r in rs])
    out["session.jit_pass_s"] = jit_pass_s
    out["trace.wall_s"] = wall
    return out


def stop_all(runner: Runner | None) -> None:
    """Stop the session and the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    if runner is not None and runner.spark is not None:
        try:
            runner.spark.stop()
        except Exception:  # noqa: BLE001 -- already stopped
            pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.time() < deadline:
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: perturb every expected output so all checks fail")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "tomasz_weight_tracker_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    args.run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(args.run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(args.run_dir, sub))
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["TMPDIR"] = os.path.join(args.run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(args.run_dir, "local")
    # No JVM writes hsperfdata under /tmp: the launcher JVM gets the flag here,
    # the driver JVM through spark.driver.extraJavaOptions.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(args.run_dir)

    import_s = import_engine()
    load0, steal0 = loadavg(), steal_s()
    host = host_record()
    res = None
    try:
        res = run(args, import_s)
    finally:
        stop_all(res.pop("_runner") if res else None)
        os.chdir(ROOT)
        shutil.rmtree(args.run_dir, ignore_errors=True)
    res["host"] = dict(host, loadavg_start=load0, loadavg_end=loadavg(),
                       steal_s=round(steal_s() - steal0, 2))
    names = dict(per_layer_names()) if args.trace else UNITS
    values = res["per_layer"] if args.trace else res["metrics"]
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(WORK, "results", f"{stem}.json"), "w") as f:
        json.dump(dict(res, result=out), f, indent=1, default=str)
    print("host " + json.dumps(res["host"]))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
