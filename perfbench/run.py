"""Closed-loop benchmark of randas_spark: one client, ``local[nproc]``.

Run from the repository root::

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 16 --trace 0

One driver process calls the next operation only after the previous one
returned. A run generates its inputs from the seed, computes the DuckDB
oracle hashes once per input (cached under ``perfbench/_work``), starts the
session and makes ``WARM_PASSES`` passes over the mix (set-up), then makes
``--seconds // NOMINAL_PASS_S`` whole passes over the mix, each in a seeded
order. Every output is checked; a failed check or an exception counts as a
failed invocation with infinite latency.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` the run writes an uncompressed Spark event log, tags every
build, action and reset with a job group, reads the Catalyst phase tracker
after each action, writes the span tree to ``perfbench/_work/traces`` and
prints the per-layer metrics (per pass) instead. The line before the last
holds the environment, the inputs and the detail behind each metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path[:0] = [HERE, ROOT]

# Both workloads derive their inputs from one fixed sf0.1-sized star schema.
BASE_SF, BASE_SEED = 0.1, 42

WORKLOADS = ("llm_pipeline", "frame_io")

# Text and vector operators: Arrow kernels in Python workers, eager
# checkpoints while the plan is built, a persisted IVF index.
LLM = [
    "llm_knn_bruteforce",
    "llm_knn_ivf_persisted",
    "llm_bpe_learn",
    "llm_unigram_lm",
    "llm_text_normalize",
]
LLM_COPIES = 2
# Each mix is sized so one warm pass takes about this long on a 4-core box.
# A run makes seconds // NOMINAL_PASS_S passes (at least 2): a fixed
# amount of work per run, so every commit's samples are alike in number.
NOMINAL_PASS_S = 4.0
# The JIT keeps speeding up passes 2-4 by a quarter or more: set-up makes
# this many passes (the first cold, with the index builds) before timing.
WARM_PASSES = 3
# frame_io row samples: orders go through the Spark sinks and the frame
# operations, the customer slice through the driver-side Excel codec.
FRAME_ROWS = {"orders": 10_000, "customer": 5_000}

END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_s": "s",
              "latency_tail_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.build_self_s": "s", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B", "exec.peak_exec_mem_bytes": "B",
    "exec.core_busy_frac": "1", "exec.unattributed_jobs": "count",
    "operators.python_run_s": "s", "operators.python_boot_s": "s",
    "operators.python_init_s": "s", "operators.python_bytes_sent": "B",
    "operators.python_bytes_received": "B", "io.scan_bytes": "B", "io.scan_records": "count",
    "io.write_bytes": "B", "io.write_records": "count", "io.read_call_s": "s",
    "io.write_call_s": "s", "io.stored_bytes_ratio": "1", "frame.call_s": "s",
    "storage.pinned_rdds": "count", "storage.reset_s": "s", "action.s": "s",
    "action.self_s": "s", "action.result_bytes": "B", "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


# -- environment -------------------------------------------------------------


def pin_environment(run_dir: str, trace: bool) -> dict:
    """Settings every Python worker and the JVM inherit; recorded in the
    result so that runs under different settings are never compared."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    # 1 GB heap: the inputs are tens of MB, and a small heap keeps the
    # JVM's resident size from wandering with G1's heap sizing
    driver_mem = "1g"
    local_dirs, tmp = os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # JVM scratch files stay inside the checkout: the launcher JVM and the driver
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a fixed driver heap (initial = maximum): left to grow, G1 settles on a
    # different heap size in each run, and runs with a smaller heap collect
    # more often and were up to a third slower
    driver_opts = f"{java_opts} -Xms{driver_mem}"
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--conf", shlex.quote(f"spark.driver.extraJavaOptions={driver_opts}")]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", shlex.quote(f"spark.eventLog.dir=file://{log_dir}"),
                   "--conf", "spark.eventLog.compress=false"]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": java_opts,
        # fewer glibc malloc arenas: the JVM's resident size varies less
        "MALLOC_ARENA_MAX": "2",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    return {"nproc": cpus, "mem_total_mb": mem_kb // 1024, **env}


def source_version() -> dict:
    """The commit when the checkout is a git work tree, and always a hash
    of the program's source files."""
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(os.path.join(ROOT, "randas_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(fh.read())
    commit = None
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as fh:
                head = fh.read().strip()
        commit = head
    except OSError:
        pass
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


# -- inputs and oracle -------------------------------------------------------


def _build_once(path: str, make) -> str:
    """Build a generated input directory at ``path`` unless it is complete."""
    if not os.path.exists(os.path.join(path, "_DONE")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


def make_inputs(workload: str, seed: int) -> str:
    import gen

    base = _build_once(os.path.join(WORK, "inputs", f"base_sf{BASE_SF}_s{BASE_SEED}"),
                       lambda d: gen.base_tables(d, BASE_SF, BASE_SEED))
    if workload == "llm_pipeline":
        return _build_once(os.path.join(WORK, "inputs", f"pbllm_k{LLM_COPIES}_s{seed}"),
                           lambda d: gen.scaled_corpus(base, d, LLM_COPIES, seed))
    return _build_once(os.path.join(WORK, "inputs", f"pbframe_s{seed}"),
                       lambda d: gen.frame_samples(base, d, seed, FRAME_ROWS))


def prepare(workload: str, seed: int) -> tuple[str, dict[str, str]]:
    """Inputs and oracle hashes. Run in a child process, so that neither
    the generator's nor DuckDB's memory shows in peak_rss_mb and the
    registry import stays inside set-up."""
    in_dir = make_inputs(workload, seed)
    if workload != "llm_pipeline":
        return in_dir, {}
    from randas_spark import queries as registry

    return in_dir, oracle_hashes(in_dir, LLM, registry.oracle_sql())


def input_stats(sf_dir: str) -> dict:
    import pyarrow.parquet as pq

    tables = {}
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            tables[f[:-8]] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                              "bytes": os.path.getsize(path)}
    return {"dir": os.path.relpath(sf_dir, ROOT), "tables": tables,
            "rows": sum(t["rows"] for t in tables.values()),
            "bytes": sum(t["bytes"] for t in tables.values())}


def oracle_hashes(sf_dir: str, names: list[str], oracles: dict[str, str]) -> dict[str, str]:
    """DuckDB value hash per query, cached by input content and oracle SQL."""
    from tools.selfcheck import table_hash

    h = hashlib.sha256()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            with open(os.path.join(sf_dir, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    for n in names:
        h.update(n.encode() + oracles[n].encode())
    path = os.path.join(WORK, "oracle", f"{h.hexdigest()[:20]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    import duckdb

    from randas_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for n in names:
        rel = con.execute(oracles[n])
        out[n] = table_hash([d[0] for d in rel.description], rel.fetchall())
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out


# -- process-tree RSS --------------------------------------------------------


class PeakRss:
    """Peak, over samples taken every ``period`` seconds, of the summed
    resident size of the driver, the JVM and every process below the JVM
    (the Python workers)."""

    def __init__(self, jvm: int, period: float = 0.2):
        self.root, self.jvm, self.period = os.getpid(), jvm, period
        self.peak_kb, self.peak_by_kind, self.seen = 0, {}, set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        out, todo = [self.root], [self.jvm]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> None:
        by_kind: dict[str, int] = {}
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    kb = next((int(line.split()[1]) for line in fh
                               if line.startswith("VmRSS:")), 0)
            except OSError:
                continue
            self.seen.add(pid)
            kind = "driver" if pid == self.root else "jvm" if pid == self.jvm else "workers"
            by_kind[kind] = by_kind.get(kind, 0) + kb
        total = sum(by_kind.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_by_kind = total, by_kind

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024.0


# -- the closed loop ---------------------------------------------------------


class Op:
    """One call into the program: ``build`` makes the call, ``action``
    materialises its result, ``check`` validates the materialised value.
    ``layer`` names the module it enters (query, read, write, frame)."""

    def __init__(self, name, layer, build, action=None, check=None):
        self.name, self.layer, self.build = name, layer, build
        self.action = action or (lambda obj: obj)
        self.check = check or (lambda value: True)


class Loop:
    def __init__(self, spark, workload: str, trace: bool):
        self.spark, self.workload, self.trace = spark, workload, trace
        self.invocations: list[dict] = []
        self.failures: list[dict] = []
        self.wall0 = time.time() - time.perf_counter()

    def _group(self, inv_id: int, phase: str, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(f"pb|{self.workload}|{inv_id}|{phase}", name)

    def reset(self) -> int:
        """Unpersist every persistent RDD and clear the cache: checkpoints
        left by one invocation must not inflate the next one's sample."""
        self.spark.catalog.clearCache()
        rdds = self.spark.sparkContext._jsc.sc().getPersistentRDDs()
        n = rdds.size()
        it = rdds.iterator()
        while it.hasNext():
            it.next()._2().unpersist(True)
        return n

    def run(self, op: Op, measured: bool, reset: bool = True) -> dict:
        inv_id = len(self.invocations)
        now = time.perf_counter
        t0 = now()
        obj = value = err = t1 = None
        self._group(inv_id, "build", op.name)
        try:
            obj = op.build()
            t1 = now()
            self._group(inv_id, "action", op.name)
            value = op.action(obj)
        except Exception as ex:  # noqa: BLE001 - a failing call is a measured outcome
            err = f"{type(ex).__name__}: {ex}"[:300]
            t1 = t1 or now()
        t2 = now()
        pinned = 0
        if reset:
            self._group(inv_id, "reset", op.name)
            pinned = self.reset()
        t3 = now()
        phases = {}
        if self.trace and hasattr(obj, "_jdf"):
            it = obj._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                phases[kv._1()] = kv._2().durationMs()
        if err is None:
            try:
                if not op.check(value):
                    err = "output does not match the expected value"
            except Exception as ex:  # noqa: BLE001
                err = f"check raised {type(ex).__name__}: {ex}"[:300]
        if err is not None and measured:
            self.failures.append({"name": op.name, "error": err})
        w = self.wall0
        inv = {"id": inv_id, "name": op.name, "layer": op.layer, "measured": measured,
               "ok": err is None, "latency": (t2 - t0) if err is None else math.inf,
               "build_s": t1 - t0, "action_s": t2 - t1, "reset_s": t3 - t2, "span_s": t3 - t0,
               "pinned": pinned, "catalyst": phases, "end": t3 + w,
               "phases": {"build": (t0 + w, t1 + w), "action": (t1 + w, t2 + w),
                          "reset": (t2 + w, t3 + w)}}
        self.invocations.append(inv)
        return inv

    def run_pass(self, groups: list[list[Op]], rng, measured: bool, reset_each: bool) -> float:
        """One pass over the mix in a seeded order; returns its wall time
        (the sum of its invocation spans: build, action and reset)."""
        total = 0.0
        for gi in rng.permutation(len(groups)):
            group = groups[gi]
            for k, op in enumerate(group):
                inv = self.run(op, measured, reset=reset_each or k == len(group) - 1)
                total += inv["span_s"]
        return total


# -- workloads ---------------------------------------------------------------


def registry_groups(spark, sf_dir: str, names: list[str], expected: dict) -> list[list[Op]]:
    import __spark_entry__ as entry
    from tools.selfcheck import table_hash

    qs = entry.queries()

    def op(name):
        return Op(name, "query",
                  build=lambda: qs[name](spark, sf_dir),
                  action=lambda df: (df.columns, df.collect()),
                  check=lambda v: table_hash(v[0], [tuple(r) for r in v[1]]) == expected[name])

    return [[op(n)] for n in names]


def _rows(pdf) -> list[tuple]:
    """pandas rows as plain Python values, nulls as None."""
    import numpy as np
    import pandas as pd

    def norm(v):
        if isinstance(v, np.generic):
            v = v.item()
        if isinstance(v, pd.Timestamp):
            v = v.to_pydatetime()
        if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
            return None
        return v

    return [tuple(norm(v) for v in rec) for rec in pdf.itertuples(index=False, name=None)]


def same_rows(got, want) -> bool:
    """Order-insensitive value equality in the selfcheck canon."""
    from tools.selfcheck import table_hash

    cols = list(want.columns)
    if sorted(got.columns) != sorted(cols) or len(got) != len(want):
        return False
    return table_hash(cols, _rows(got[cols])) == table_hash(cols, _rows(want[cols]))


def same_ordered(got, want) -> bool:
    return list(got.columns) == list(want.columns) and _rows(got) == _rows(want)


def _as_timestamps(pdf, cols):
    import pandas as pd

    pdf = pdf.copy()
    for c in cols:
        pdf[c] = pd.to_datetime(pdf[c], utc=True).dt.tz_localize(None)
    return pdf


def frame_groups(spark, in_dir: str, out_dir: str, written: dict) -> list[list[Op]]:
    """The reference surface, writes alongside reads: a Spark-sink round
    trip and the frame operations on the orders sample, the driver-side
    Excel codec on the customer slice, and a partitioned write read back
    with pruning. Ops inside one group depend on each other and keep their
    order; the groups are permuted per pass. ``written`` collects, per
    writer, (bytes written, bytes of its source parquet)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from randas_spark.io import layout, read, write

    path = {n: os.path.join(in_dir, f"{n}.parquet") for n in FRAME_ROWS}
    orders, customer = (pq.read_table(path[n]).to_pandas() for n in ("orders", "customer"))
    out = {k: os.path.join(out_dir, k) for k in ("csv", "xlsx", "part")}
    os.makedirs(out_dir, exist_ok=True)
    state: dict = {}

    def to_pdf(frame):
        return frame.to_pandas()

    def reader(name, fn, expect):
        return Op(name, "read", build=fn, action=to_pdf, check=expect)

    def writer(name, key, source, fn):
        def build():
            fn()
            written[key] = (_dir_bytes(out[key]), os.path.getsize(path[source]))

        return Op(name, "write", build=build, check=lambda _: _dir_bytes(out[key]) > 0)

    def keep(key, frame):
        state[key] = frame
        return frame

    def frame_op(name, fn, expect):
        return Op(name, "frame", build=lambda: fn(state["orders"]), action=to_pdf, check=expect)

    urgent = orders[orders.o_orderpriority == "1-URGENT"]
    sinks = [
        reader("read_parquet", lambda: keep("orders", read.read_parquet(spark, path["orders"])),
               lambda v: same_ordered(v, orders)),
        writer("to_csv", "csv", "orders", lambda: write.to_csv(state["orders"], out["csv"])),
        reader("read_csv", lambda: read.read_csv(spark, out["csv"]),
               lambda v: same_rows(_as_timestamps(v, ["o_orderdate"]), orders)),
        frame_op("query", lambda f: f.query("o_orderpriority == '1-URGENT'"),
                 lambda v: same_ordered(v, urgent)),
        frame_op("fillna", lambda f: f.fillna("o_totalprice", 0.0),
                 lambda v: same_ordered(v, orders.fillna({"o_totalprice": 0.0}))),
        frame_op("dropna", lambda f: f.dropna(), lambda v: same_ordered(v, orders.dropna())),
        frame_op("head", lambda f: f.head(100), lambda v: same_ordered(v, orders.head(100))),
    ]
    codecs = [
        reader("read_parquet_customer",
               lambda: keep("cu", read.read_parquet(spark, path["customer"])),
               lambda v: same_ordered(v, customer)),
        writer("to_excel", "xlsx", "customer", lambda: write.to_excel(state["cu"], out["xlsx"])),
        reader("read_excel", lambda: read.read_excel(spark, out["xlsx"]),
               lambda v: same_ordered(v, _excel_quirks(customer))),
    ]
    partitioned = [
        writer("write_partitioned", "part", "orders",
               lambda: layout.write_partitioned(layout.read_pruned(spark, path["orders"]),
                                                out["part"], ["o_orderpriority"])),
        Op("read_pruned", "read",
           build=lambda: layout.read_pruned(spark, out["part"]).filter(
               F.col("o_orderpriority") == "1-URGENT"),
           action=lambda d: d.toPandas(), check=lambda v: same_rows(v, urgent)),
    ]
    return [sinks, codecs, partitioned]


def _dir_bytes(path: str) -> int:
    """Bytes of the data files a writer left at ``path`` (a file or a dataset
    directory; Spark's ``_SUCCESS`` and ``.crc`` files excluded)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def _wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until every process the run started has exited."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(pid)
            except OSError:
                pass
        if not alive:
            return
        time.sleep(0.1)


def _excel_quirks(pdf):
    """The reference's documented to_excel cells: bool → "TRUE"/"FALSE",
    datetime → "%Y-%m-%d %H:%M:%S", null → blank (read back as null)."""
    import datetime

    pdf = pdf.astype(object).copy()
    for c in pdf.columns:
        pdf[c] = [None if v is None or v != v else
                  ("TRUE" if v else "FALSE") if isinstance(v, bool) else
                  v.strftime("%Y-%m-%d %H:%M:%S") if isinstance(v, datetime.datetime) else v
                  for v in pdf[c]]
    return pdf


# -- metrics -----------------------------------------------------------------


def _quartiles(xs: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}


def latency_summary(samples: list[float]) -> dict:
    """Median, and the highest percentile that has at least ten samples
    beyond it (the maximum when there are fewer than 11 samples). Failed
    invocations count as infinite latency."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 11 if n >= 11 else n - 1
    return {"n": n, "p50": statistics.median(xs), "tail": xs[k],
            "tail_pct": 100.0 * (k + 1) / n, "tail_beyond": n - k - 1}


def _finite(x: float):
    return x if math.isfinite(x) else None


def cpu_pressure_us() -> float:
    """Total time some runnable task waited for a CPU (Linux PSI): a
    contention witness, so a slow run on a busy box can be told from a
    slow program."""
    try:
        with open("/proc/pressure/cpu") as fh:
            return float(fh.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return math.nan


def cleanup_indexes(tag: str) -> None:
    """Remove the persisted ANN indexes keyed to this input, so every run
    pays their build inside set-up."""
    for kind in ("ivf_index", "pq_index", "ivfpq_index"):
        d = os.path.join(ROOT, "benchdata", kind)
        if os.path.isdir(d):
            for name in os.listdir(d):
                if name.startswith(tag + "_"):
                    shutil.rmtree(os.path.join(d, name), ignore_errors=True)


# -- main --------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "randas_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from a randas_spark checkout (randas_spark/ and "
              "__spark_entry__.py not found next to perfbench/)", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    import numpy as np

    workload, seed, trace = args.workload, args.seed, bool(args.trace)
    env = pin_environment(run_dir, trace)
    code = f"import json, run; print(json.dumps(run.prepare({workload!r}, {seed})))"
    out = subprocess.run([sys.executable, "-c", code], cwd=HERE, check=True,
                         stdout=subprocess.PIPE, text=True).stdout
    in_dir, expected = json.loads(out.splitlines()[-1])
    tag = os.path.basename(in_dir)
    names = LLM if workload == "llm_pipeline" else []
    cleanup_indexes(tag)

    # -- set-up: session, registry import, warm passes (index builds included)
    t_setup = time.perf_counter()
    from randas_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}")
    session_s = time.perf_counter() - t_setup
    sc = spark.sparkContext
    jvm = sc._gateway.proc
    rss = PeakRss(jvm.pid)
    rss.start()
    try:
        loop = Loop(spark, workload, trace)
        written: dict = {}
        if names:
            groups = registry_groups(spark, in_dir, names, expected)
        else:
            groups = frame_groups(spark, in_dir, os.path.join(run_dir, "out"), written)
        # frame_io ops reuse their group's checkpointed frames: reset per group
        reset_each = workload != "frame_io"
        rng = np.random.default_rng(seed)
        for _ in range(WARM_PASSES):
            loop.run_pass(groups, rng, measured=False, reset_each=reset_each)
        setup_s = time.perf_counter() - t_setup

        # -- measurement: whole passes, as many as fill --seconds at the nominal pace
        n_pass = max(2, int(args.seconds // NOMINAL_PASS_S))
        psi0, t_meas = cpu_pressure_us(), time.perf_counter()
        passes = [loop.run_pass(groups, rng, measured=True, reset_each=reset_each)
                  for _ in range(n_pass)]
        psi = (cpu_pressure_us() - psi0) / 1e4 / (time.perf_counter() - t_meas)
        versions = {"spark": spark.version,
                    "java": sc._jvm.System.getProperty("java.version")}
    finally:
        peak_rss_mb = rss.stop()
        gateway = sc._gateway
        spark.stop()
        gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
        _wait_gone(rss.seen - {os.getpid()})

    measured = [inv for inv in loop.invocations if inv["measured"]]
    lat = latency_summary([inv["latency"] for inv in measured])
    failed = sum(not inv["ok"] for inv in measured)
    pass_q = _quartiles(passes)
    log_dir = os.path.join(run_dir, "eventlog")

    last_path = os.path.join(WORK, "last", f"{workload}.json")
    metrics: dict
    span_gap = None
    if trace:
        import spantrace

        jobs, stages = spantrace.read_event_log(log_dir)
        totals, spans = spantrace.rollup(workload, loop.invocations, jobs, stages)
        per = {k: v / n_pass for k, v in totals.items()}
        per["exec.peak_exec_mem_bytes"] = totals["exec.peak_exec_mem_bytes"]
        per["exec.core_busy_frac"] = totals["exec.task_run_s"] / (env["nproc"] * sum(passes))

        def per_pass(f):
            return sum(f(inv) for inv in measured) / n_pass

        cat = lambda ph: per_pass(lambda i: i["catalyst"].get(ph, 0))  # noqa: E731
        per.update({
            "session.start_s": session_s,
            "queries.build_s": per_pass(lambda i: i["build_s"]),
            "catalyst.analysis_ms": cat("analysis"),
            "catalyst.optimization_ms": cat("optimization"),
            "catalyst.planning_ms": cat("planning"),
            "io.read_call_s": per_pass(lambda i: i["span_s"] if i["layer"] == "read" else 0),
            "io.write_call_s": per_pass(lambda i: i["span_s"] if i["layer"] == "write" else 0),
            "io.stored_bytes_ratio": (sum(w for w, _ in written.values())
                                      / sum(s for _, s in written.values())) if written else 0.0,
            "frame.call_s": per_pass(lambda i: i["span_s"] if i["layer"] == "frame" else 0),
            "storage.pinned_rdds": per_pass(lambda i: i["pinned"]),
            "storage.reset_s": per_pass(lambda i: i["reset_s"]),
            "action.s": per_pass(lambda i: i["action_s"]),
            "trace.pass_s": pass_q["median"],
        })
        untraced = None
        if os.path.exists(last_path):
            with open(last_path) as fh:
                untraced = json.load(fh)["pass_s"]
        per["trace.overhead_s"] = pass_q["median"] - untraced if untraced else 0.0
        metrics = {k: {"value": per[k], "unit": u} for k, u in PER_LAYER.items()}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{workload}-seed{seed}.json"), "w") as fh:
            json.dump(spans, fh)
        # build, action and reset are contiguous, so this is 0 up to rounding
        span_gap = max(sp["self_s"] for sp in spans if sp["kind"] == "invocation")
    else:
        values = {"setup_s": setup_s, "pass_s": pass_q["median"], "latency_p50_s": lat["p50"],
                  "latency_tail_s": lat["tail"], "peak_rss_mb": peak_rss_mb}
        metrics = {k: {"value": _finite(values[k]), "unit": u} for k, u in END_TO_END.items()}
        os.makedirs(os.path.dirname(last_path), exist_ok=True)
        with open(last_path, "w") as fh:
            json.dump({"pass_s": pass_q["median"], "seed": seed}, fh)
    cleanup_indexes(tag)

    per_op: dict[str, list[float]] = {}
    for inv in measured:
        per_op.setdefault(inv["name"], []).append(inv["latency"])
    warm: dict[str, list[float]] = {}
    for inv in loop.invocations:
        if not inv["measured"]:
            warm.setdefault(inv["name"], []).append(inv["span_s"])
    import pyspark

    info = {
        "workload": workload, "seed": seed, "seconds": args.seconds, "trace": trace,
        "loop": "closed, one client", "env": {**env, **source_version(),
                                              **versions, "python": sys.version.split()[0],
                                              "pyspark": pyspark.__version__},
        "inputs": {**input_stats(in_dir),
                   "note": "every input fits in memory; no workload is larger than memory"},
        "setup_s": setup_s, "session_start_s": session_s,
        "cpu_pressure_some_pct": _finite(psi),
        "peak_rss_mb_by_process": {k: v / 1024.0 for k, v in rss.peak_by_kind.items()},
        "pass_s": pass_q, "passes_s": passes,
        "latency_s": {k: _finite(v) for k, v in lat.items()},
        "failed_frac": failed / max(len(measured), 1),
        "failures": loop.failures[:20],
        "per_op_median_s": {k: _finite(statistics.median(v)) for k, v in sorted(per_op.items())},
        "per_op_s": {k: [_finite(x) for x in v] for k, v in sorted(per_op.items())},
        "warm_passes_s": warm,
        "invocation_self_s_max": span_gap,
    }
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": len(measured), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
