"""Session benchmark for koalas_spark.

Run from the repository root:

    python3 perfbench/run.py --workload olap_io --seed 1 --seconds 6 --trace 0

One run is one fresh driver process on ``local[nproc]``. It writes the
input tables (the same for every seed) into a per-run scratch directory,
then:

1. set-up: package import, Spark session start, the first parquet scan
   and the Arrow python-worker warm-up (``setup_s``, counted from
   process start, input generation excluded);
2. the expected output of every step, computed with DuckDB (untimed);
3. one cold pass over the workload's steps (``cold_pass_s``), whose
   outputs are then checked (untimed);
4. warm passes until ``--seconds`` have passed, at least two
   (``pass_s`` is their median wall time).

Every pass starts with ``reset_session_artifacts()``, so session memos
are shared only within one pass, and runs the steps in an order drawn
from the seed. The last
stdout line is one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics (spans and Spark
counters at every step boundary; the span file goes to
``.perfbench_out/``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import sys

# the run must leave the checkout as it found it: no __pycache__
sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
from tracing import SparkCounters, Tracer  # noqa: E402

SF = 0.01
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
RUN_LIMIT_S = 170
# Warm passes still get faster as the JIT warms up, so the median moves
# with the number of passes run: --seconds is set below the time of two
# warm passes of either workload, so that every run makes two.
MIN_WARM_PASSES = 2
MAX_WARM_PASSES = 8

# The io chain is one unit of the pass order: each read needs the write
# before it. Steps named here are timed like queries (build, exec).
IO_STEPS = (
    "io.write_csv",
    "io.read_csv",
    "frame.groupby_mean",
    "io.write_parquet",
    "io.read_parquet_pruned",
    "io.write_jsonl",
    "io.read_jsonl",
)

WORKLOADS: dict[str, dict] = {
    "olap_io": {
        "queries": [
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q18_large_orders",
        ],
        "io": True,
    },
    "graph_text": {
        "queries": [
            "kcore_peeling_rounds",
            "dedup_minhash_lsh",
            "ann_ivf_topk",
        ],
        "io": False,
    },
}

LINEITEM_DDL = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT,"
    " l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,"
    " l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
)
DOCUMENTS_DDL = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
MEAN_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
)
# io steps whose output is checked; the others only write
CHECKED_IO = ("io.read_csv", "frame.groupby_mean", "io.read_parquet_pruned", "io.read_jsonl")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run prints, with its unit."""
    names = [
        ("session.start_s", "s"),
        ("session.warm_s", "s"),
        ("queries.build_s", "s"),
        ("queries.exec_s", "s"),
        ("harness.overhead_s", "s"),
        ("traced.pass_s", "s"),
        ("traced.cold_pass_s", "s"),
        ("spark.jobs", "count"),
        ("spark.tasks", "count"),
        ("spark.task_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.shuffle_write_mb", "MB"),
        ("spark.shuffle_read_mb", "MB"),
        ("spark.input_mb", "MB"),
        ("spark.spill_mb", "MB"),
        ("spark.core_busy_ratio", "ratio"),
        ("proc.peak_rss_mb", "MB"),
    ]
    names += [(f"{s}_s", "s") for s in IO_STEPS]
    names += [("io.output_mb", "MB"), ("io.output_files", "count")]
    for w in WORKLOADS.values():
        for q in w["queries"]:
            names += [
                (f"q.{q}.build_s", "s"),
                (f"q.{q}.exec_s", "s"),
                (f"q.{q}.shuffle_write_mb", "MB"),
            ]
    return names


# -- machine sizing and the session's environment ----------------------


def machine() -> dict:
    """Session size from the machine: one core per task slot, a quarter of RAM for heap."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return {"cpus": cpus, "ram_mb": ram_mb, "driver_heap_mb": ram_mb // 4}


def session_env(run_dir: str, size: dict) -> None:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(size["cpus"]),
            "SPARK_GRAFT_DRIVER_MEM": f"{size['driver_heap_mb']}m",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf",
                    shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
                    "--conf",
                    "spark.ui.showConsoleProgress=false",
                    "--driver-java-options",
                    shlex.quote(java_opts),
                    "pyspark-shell",
                ]
            ),
        }
    )
    tempfile.tempdir = tmp


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# -- process tree: peak RSS and clean shutdown --------------------------


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        out.add(p)
        todo.extend(children.get(p, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Samples the summed RSS of the JVM and its python workers."""

    def __init__(self, pid: int, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.period_s = pid, period_s
        self.peak_kb = 0
        self.pids: set[int] = {pid}
        self._halt = threading.Event()

    def sample(self) -> None:
        tree = descendants(self.pid)
        self.pids |= tree
        self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in tree))

    def run(self) -> None:
        while not self._halt.wait(self.period_s):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


def host_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the machine since boot. Steal is time the
    hypervisor gave this guest's cores to other guests; a pass with a high
    steal share ran on a slowed machine."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: set[int], timeout_s: float = 15.0) -> None:
    """Wait for every pid to end; kill what is left after the timeout."""
    deadline = time.monotonic() + timeout_s
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(alive(p) for p in pids):
        time.sleep(0.05)


# -- the checkout must not change ---------------------------------------


def checkout_state() -> dict:
    """Every file under the checkout (outside the benchmark's own dirs),
    plus ``git status`` when the checkout is a git repository."""
    skip = {".git", os.path.basename(TMP_ROOT), os.path.basename(OUT_DIR)}
    files = {}
    for d, dirs, names in os.walk(ROOT):
        if d == ROOT:
            dirs[:] = [x for x in dirs if x not in skip]
        for n in names + dirs:
            p = os.path.join(d, n)
            st = os.lstat(p)
            files[os.path.relpath(p, ROOT)] = None if n in dirs else (st.st_size, st.st_mtime_ns)
    git = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        git = subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=all"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    return {"files": files, "git": git}


def state_diff(a: dict, b: dict) -> list[str]:
    fa, fb = a["files"], b["files"]
    out = [f"changed {p}" for p in sorted(set(fa) | set(fb)) if fa.get(p, 0) != fb.get(p, 0)]
    if a["git"] != b["git"]:
        out.append("git status changed")
    return out


# -- steps -------------------------------------------------------------


class Steps:
    """The callables of one workload's steps: name -> (build, execute)."""

    def __init__(self, spark, sf_dir: str, queries: dict, io: bool, key_range, io_root: str):
        self.spark, self.sf_dir = spark, sf_dir
        self.queries = queries
        self.io = io
        self.lo, self.hi = key_range
        self.io_root = io_root
        self.out = ""

    def units(self) -> list[list[str]]:
        """Orderable units: each query alone, the io chain as one block."""
        return [[n] for n in self.queries] + ([list(IO_STEPS)] if self.io else [])

    def begin_pass(self, k: int) -> None:
        self.out = os.path.join(self.io_root, f"p{k}")

    def path(self, what: str) -> str:
        return os.path.join(self.out, what)

    def lineitem_range(self):
        from pyspark.sql import functions as F

        from koalas_spark import read_parquet

        li = read_parquet(self.spark, f"{self.sf_dir}/lineitem.parquet")
        return li.filter(F.col("l_orderkey").between(self.lo, self.hi))

    def documents_range(self):
        from pyspark.sql import functions as F

        from koalas_spark import read_parquet

        docs = read_parquet(self.spark, f"{self.sf_dir}/documents.parquet")
        return docs.filter(F.col("doc_id") % 2 == self.lo % 2)

    def build(self, name: str):
        from pyspark.sql import functions as F

        from koalas_spark import KFrame, read_parquet
        from koalas_spark.sources import io

        if name in self.queries:
            return self.queries[name](self.spark, self.sf_dir)
        if name == "io.write_csv":
            return KFrame(self.lineitem_range())
        if name == "io.read_csv":
            return KFrame.from_table(self.spark, self.path("csv"), LINEITEM_DDL, sep=",").df
        if name == "frame.groupby_mean":
            kf = KFrame.from_table(self.spark, self.path("csv"), LINEITEM_DDL, sep=",")
            return kf.groupby("l_returnflag", "l_linestatus").mean().df
        if name == "io.write_parquet":
            return self.lineitem_range()
        if name == "io.read_parquet_pruned":
            return read_parquet(self.spark, self.path("parquet")).filter(
                F.col("l_returnflag") == "R"
            )
        if name == "io.write_jsonl":
            return self.documents_range()
        if name == "io.read_jsonl":
            return io.read_jsonl(self.spark, self.path("jsonl"), DOCUMENTS_DDL)
        raise KeyError(name)

    def execute(self, name: str, built) -> None:
        from koalas_spark.sources import io

        if name == "io.write_csv":
            built.to_csv(self.path("csv"))
        elif name == "io.write_parquet":
            io.write_parquet_partitioned(
                built, self.path("parquet"), ("l_returnflag", "l_linestatus")
            )
        elif name == "io.write_jsonl":
            io.write_jsonl(built, self.path("jsonl"))
        else:
            built.write.format("noop").mode("overwrite").save()

    def output_size(self) -> tuple[int, int]:
        """(bytes, data files) the io chain wrote in the current pass."""
        total = files = 0
        for d, _, names in os.walk(self.out):
            for n in names:
                if n.startswith(("part-", "part_")) and not n.endswith(".crc"):
                    total += os.path.getsize(os.path.join(d, n))
                    files += 1
        return total, files


# -- passes --------------------------------------------------------------


def run_pass(k: int, steps: Steps, order: list[str], tracer: Tracer, counters, keep=None) -> dict:
    """One pass over the steps; returns wall, per-step times and counters.

    ``keep``, when given, receives the result DataFrame of each query and
    io read step, so its output can be checked after the pass."""
    from koalas_spark.memo import reset_session_artifacts

    steps.begin_pass(k)
    rec: dict = {"steps": {}, "errors": {}}
    host0 = host_ticks()
    t0 = time.perf_counter()
    with tracer.span(f"pass{k}", "pass"):
        reset_session_artifacts()
        for name in order:
            group = f"p{k}:{name}"
            if counters:
                counters.begin(group)
            b = e = 0.0
            try:
                with tracer.span(name, "io" if name in IO_STEPS else "query"):
                    with tracer.span("build", "build") as sb:
                        built = steps.build(name)
                    b = sb.duration
                    with tracer.span("exec", "exec") as se:
                        steps.execute(name, built)
                    e = se.duration
                if keep is not None and (name in steps.queries or name in CHECKED_IO):
                    keep[name] = built
            except Exception as exc:  # a failing step is counted, the pass goes on
                rec["errors"][name] = f"{type(exc).__name__}: {str(exc)[:300]}"
                traceback.print_exc(file=sys.stderr)
            rec["steps"][name] = {"build_s": b, "exec_s": e}
            if counters:
                rec["steps"][name].update(counters.end(group))
    rec["wall_s"] = time.perf_counter() - t0
    host1 = host_ticks()
    rec["steal_share"] = (host1[0] - host0[0]) / max(1, host1[1] - host0[1])
    if steps.io:
        rec["io_bytes"], rec["io_files"] = steps.output_size()
    return rec


def pass_orders(units: list[list[str]], seed: int, n: int) -> list[list[str]]:
    """A seeded permutation of the units for each of ``n`` passes."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        u = list(units)
        rng.shuffle(u)
        out.append([name for unit in u for name in unit])
    return out


# -- output checks -------------------------------------------------------


def io_oracles(lo: int, hi: int) -> dict[str, str]:
    """DuckDB SQL giving what each io read step must return: the rows its
    round trip started from, read straight from the parquet source."""
    li = f"SELECT * FROM lineitem WHERE l_orderkey BETWEEN {lo} AND {hi}"
    means = ", ".join(f"avg({c}) AS {c}" for c in MEAN_COLS)
    return {
        "io.read_csv": li,
        "frame.groupby_mean": f"SELECT l_returnflag, l_linestatus, {means} FROM ({li}) GROUP BY ALL",
        "io.read_parquet_pruned": f"{li} AND l_returnflag = 'R'",
        "io.read_jsonl": f"SELECT * FROM documents WHERE doc_id % 2 = {lo % 2}",
    }


def check_outputs(results: dict, expected: dict) -> dict[str, str]:
    """Compare the kept results of a pass with their expected output;
    returns step -> problem."""
    bad: dict[str, str] = {}
    for name, df in results.items():
        exp = expected[name]
        if isinstance(exp, str):
            bad[name] = exp
            continue
        try:
            got = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:
            bad[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
            continue
        if name == "frame.groupby_mean":
            if not oracle.means_match(got, exp, keys=2):
                bad[name] = "group means differ from the parquet source"
            continue
        g, w = oracle.fingerprint(*got), oracle.fingerprint(*exp)
        if g != w:
            bad[name] = f"fingerprint {g[1:]} cols {list(g[0])} != expected {w[1:]} cols {list(w[0])}"
    return bad


# -- metrics -------------------------------------------------------------


def med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(res: dict, size: dict) -> dict[str, float]:
    warm = res["passes"][1:]
    mb = 1e6
    m: dict[str, float] = {
        "session.start_s": res["session_start_s"],
        "session.warm_s": res["session_warm_s"],
        "traced.pass_s": med([p["wall_s"] for p in warm]),
        "traced.cold_pass_s": res["passes"][0]["wall_s"],
        "proc.peak_rss_mb": res["peak_rss_mb"],
    }

    def per_pass(key: str, only=None) -> float:
        return med(
            [
                sum(v.get(key, 0) for n, v in p["steps"].items() if only is None or only(n))
                for p in warm
            ]
        )

    is_q = lambda n: n not in IO_STEPS  # noqa: E731
    m["queries.build_s"] = per_pass("build_s", is_q)
    m["queries.exec_s"] = per_pass("exec_s", is_q)
    m["harness.overhead_s"] = med(
        [
            p["wall_s"] - sum(v["build_s"] + v["exec_s"] for v in p["steps"].values())
            for p in warm
        ]
    )
    m["spark.jobs"] = per_pass("jobs")
    m["spark.tasks"] = per_pass("tasks")
    m["spark.task_s"] = per_pass("task_ms") / 1e3
    m["spark.gc_s"] = per_pass("gc_ms") / 1e3
    m["spark.shuffle_write_mb"] = per_pass("shuffle_write_b") / mb
    m["spark.shuffle_read_mb"] = per_pass("shuffle_read_b") / mb
    m["spark.input_mb"] = per_pass("input_b") / mb
    m["spark.spill_mb"] = per_pass("spill_b") / mb
    m["spark.core_busy_ratio"] = med(
        [
            sum(v.get("task_ms", 0) for v in p["steps"].values())
            / 1e3
            / (p["wall_s"] * size["cpus"])
            for p in warm
        ]
    )
    for s in IO_STEPS:
        m[f"{s}_s"] = med([p["steps"][s]["build_s"] + p["steps"][s]["exec_s"] for p in warm if s in p["steps"]])
    m["io.output_mb"] = med([p.get("io_bytes", 0) for p in warm]) / mb
    m["io.output_files"] = med([p.get("io_files", 0) for p in warm])
    for name, _ in per_layer_names():
        if name.startswith("q."):
            q, key = name[2:].rsplit(".", 1)
            vals = [p["steps"][q] for p in warm if q in p["steps"]]
            if key == "shuffle_write_mb":
                m[name] = med([v.get("shuffle_write_b", 0) for v in vals]) / mb
            else:
                m[name] = med([v[key] for v in vals])
    return m


# -- the run -------------------------------------------------------------


def run(args, run_dir: str, age_at_start: float, size: dict, tracer: Tracer, res: dict) -> None:
    """Fill ``res`` as the run goes, so a failed run can still be shut down."""
    spec = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    sf_dir = os.path.join(run_dir, "data")
    with tracer.span("inputs", "harness"):
        gen.write(sf_dir, SF)
    n_orders = int(1_500_000 * SF)
    lo = rng.randrange(0, n_orders * 3 // 4)
    key_range = (lo, lo + n_orders // 4)

    t_setup0 = time.perf_counter()
    with tracer.span("session", "session"):
        with tracer.span("session.start", "session") as s_start:
            from koalas_spark import get_spark
            from koalas_spark.queries import all_oracles, all_queries
            from koalas_spark.sources.io import TPCH_TABLES

            spark = get_spark("perfbench")
            registry = all_queries()
        res["spark"], res["jvm_pid"] = spark, spark.sparkContext._gateway.proc.pid
        if args.trace:
            res["sampler"] = RssSampler(res["jvm_pid"])
            res["sampler"].start()
        with tracer.span("session.warm", "session") as s_warm:
            from pyspark.sql.functions import pandas_udf

            spark.read.parquet(f"{sf_dir}/lineitem.parquet").write.format("noop").mode(
                "overwrite"
            ).save()

            @pandas_udf("long")
            def _identity(s):
                return s

            spark.range(1000, numPartitions=size["cpus"]).select(_identity("id")).write.format(
                "noop"
            ).mode("overwrite").save()
    setup_s = age_at_start + (time.perf_counter() - t_setup0)
    res.update(
        setup_s=setup_s, session_start_s=s_start.duration, session_warm_s=s_warm.duration
    )

    with tracer.span("oracle", "harness"):
        oracles = all_oracles()
        sqls = {q: oracles[q] for q in spec["queries"]}
        if spec["io"]:
            sqls.update(io_oracles(*key_range))
        expected = oracle.duckdb_results(
            sf_dir, TPCH_TABLES, sqls, size["cpus"], os.path.join(run_dir, "tmp")
        )

    queries = {q: registry[q] for q in spec["queries"]}
    steps = Steps(spark, sf_dir, queries, spec["io"], key_range, os.path.join(run_dir, "io"))
    counters = SparkCounters(spark) if args.trace else None
    orders = pass_orders(steps.units(), args.seed, 1 + MAX_WARM_PASSES)
    results: dict = {}
    passes = [run_pass(0, steps, orders[0], tracer, counters, keep=results)]
    with tracer.span("verify", "harness"):
        bad = check_outputs(results, expected)
    results.clear()
    t_warm0 = time.perf_counter()
    for k in range(1, 1 + MAX_WARM_PASSES):
        if k > MIN_WARM_PASSES and time.perf_counter() - t_warm0 >= args.seconds:
            break
        passes.append(run_pass(k, steps, orders[k], tracer, counters))
        shutil.rmtree(os.path.join(run_dir, "io", f"p{k - 1}"), ignore_errors=True)
    res["passes"] = passes
    if args.trace:
        res["sampler"].stop()
        res["peak_rss_mb"] = res["sampler"].peak_kb / 1024
    res["bad"] = bad
    res["order"] = orders[0]
    res["key_range"] = key_range
    if args.trace:
        res["layers"] = layer_metrics(res, size)


def stop_session(res: dict) -> None:
    spark = res.get("spark")
    if spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    pids = descendants(res["jvm_pid"])
    if res.get("sampler"):
        res["sampler"].stop()
        pids |= res["sampler"].pids
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
    except Exception:  # a py4j call cut short by a signal leaves the gateway unusable
        traceback.print_exc(file=sys.stderr)
    if gw is not None:
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap(pids, timeout_s=60)
    if gw is not None:
        gw.proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    age_at_start = process_age_s()
    if not os.path.isfile(os.path.join(ROOT, "koalas_spark", "__init__.py")):
        print(f"perfbench: no koalas_spark package under {ROOT}", file=sys.stderr)
        return 2

    size = machine()
    before = checkout_state()
    os.makedirs(TMP_ROOT, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=TMP_ROOT)
    res: dict = {}

    def abort() -> None:
        print(f"perfbench: run exceeded {RUN_LIMIT_S}s, aborting", file=sys.stderr)
        for p in descendants(res["jvm_pid"]) if "jvm_pid" in res else ():
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(RUN_LIMIT_S, abort)
    watchdog.daemon = True
    watchdog.start()
    tracer = Tracer()
    try:
        session_env(run_dir, size)
        with tracer.span("run", "run"):
            run(args, run_dir, age_at_start, size, tracer, res)
    finally:
        try:
            stop_session(res)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(TMP_ROOT)
            except OSError:
                pass
    watchdog.cancel()
    leaks = state_diff(before, checkout_state())

    n_steps = len(res["passes"][0]["steps"])
    attempted = n_steps * len(res["passes"])
    failed = sum(
        1 for p in res["passes"] for n in p["steps"] if n in p["errors"] or n in res["bad"]
    )
    for n, why in sorted(res["bad"].items()):
        print(f"perfbench: output check failed: {n}: {why}", file=sys.stderr)
    for x in leaks:
        print(f"perfbench: checkout changed: {x}", file=sys.stderr)
    config = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": SF,
        "cpus": size["cpus"],
        "ram_mb": size["ram_mb"],
        "driver_heap_mb": size["driver_heap_mb"],
        "passes": len(res["passes"]),
        "key_range": list(res["key_range"]),
        "first_pass_order": res["order"],
        "pass_wall_s": [round(p["wall_s"], 3) for p in res["passes"]],
        "steal_share": [round(p["steal_share"], 3) for p in res["passes"]],
    }
    print("# config " + json.dumps(config))
    if args.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"trace-{args.workload}-s{args.seed}.json")
        tracer.write(path, config)
        for layer, s in tracer.self_times():
            print(f"# self-time {layer:10s} {s:9.3f} s", file=sys.stderr)
        metrics = {
            n: {"value": res["layers"][n], "unit": u} for n, u in per_layer_names()
        }
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "cold_pass_s": {"value": res["passes"][0]["wall_s"], "unit": "s"},
            "pass_s": {"value": med([p["wall_s"] for p in res["passes"][1:]]), "unit": "s"},
        }
    summary = " | ".join(f"{n} {v['value']:.4g} {v['unit']}" for n, v in metrics.items() if not n.startswith("q."))
    print(f"# {args.workload}: {summary} | failed_ratio {failed}/{attempted} = {failed / attempted:.3f}")
    correct = failed == 0 and not leaks
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
