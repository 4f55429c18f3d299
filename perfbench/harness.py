"""Host facts, session sizing and the per-run context shared by every
workload."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

from tracer import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Scale factor of the measured tables, and of the small tables the served
# model is trained on (fitting is set-up work, not the served path).
SF = 0.01
TRAIN_SF = 0.001
# Each run sets the engine up cold this many times and reports the median
# (of two: their mean): once in its own process and the other times each
# in a fresh one. A cold set-up costs about 10 s on a 4-vCPU host, so more
# would not fit the run.
SETUPS = 2
# get_spark's own sizing advice: shuffle partitions ~2-3x the total cores.
SHUFFLE_PER_CPU = 2


def cpus() -> int:
    """Cores to use: ``$SPARK_GRAFT_CPUS`` if set, else the ones this
    process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()  # aggregate "cpu" line
    return int(fields[8])


def vm_hwm_mb(pid: int) -> float:
    """High-water resident set of ``pid`` (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise KeyError("VmHWM")


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and
    every live descendant: the JVM it launched and that JVM's Python
    workers."""
    root = root or os.getpid()
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = int(fields[11]) + int(fields[12])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    return {
        "nproc": cpus(),
        "mem_available_kb": meminfo_kb("MemAvailable"),
        "loadavg": os.getloadavg(),
        "steal_jiffies": steal_jiffies(),
    }


def spark_conf(work: str) -> dict[str, str]:
    """Session settings sized to the host. The engine's 24g heap default
    is more than a small box has: take a quarter of MemAvailable, within
    [1, 8] GiB. Python workers get the repo root on their path, so the
    pandas-UDF queries import the engine from any working directory."""
    heap_mb = max(1024, min(8192, meminfo_kb("MemAvailable") // 4096))
    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


class Session:
    """Owns the Spark session of one process: starts it, and stops it
    together with the JVM it launched."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self):
        from nyc_traffic_insight_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus()}]",
            shuffle_partitions=SHUFFLE_PER_CPU * cpus(),
            extra_conf=spark_conf(self.work),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - still running: make sure
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


class Context:
    """What a workload gets: its inputs, session, tracer and budget."""

    def __init__(self, args, work: str):
        import datagen

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cpus = cpus()
        self.data_dir = datagen.generate(os.path.join(work, "data"), args.seed, SF)
        self.train_dir = datagen.generate(os.path.join(work, "train"), args.seed, TRAIN_SF)
        self.session = Session(work)
        self.tracer = Tracer(False)
        self.spark = None
        self.cold: list[dict[str, float]] = []

    def _cold_setup(self, i: int) -> dict[str, float]:
        """One cold set-up in a fresh process (``coldstart.py``)."""
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "coldstart.py"), os.path.join(self.work, f"cold-{i}")],
            capture_output=True,
            text=True,
            timeout=150,
        )
        if p.returncode != 0:
            raise RuntimeError(f"cold set-up failed:\n{p.stderr[-2000:]}")
        return json.loads(p.stdout.splitlines()[-1])

    def setup(self, extra=None) -> float:
        """Set the engine up cold ``SETUPS`` times: JVM launch, session
        start and the import and load of the query catalog, each the first
        in its process. The last is this run's own session; no module of
        pyspark or of the engine may be imported before it. Then run
        ``extra()`` (a workload's own set-up steps) once. Returns the
        median cold set-up plus ``extra``'s wall; ``self.cold`` keeps each
        set-up's parts. Traced, ``extra``'s spans are tagged
        ``phase=setup``; tracing is left off afterwards."""
        self.cold = [self._cold_setup(i) for i in range(SETUPS - 1)]
        t0 = time.perf_counter()
        self.spark = self.session.start()
        t1 = time.perf_counter()
        from nyc_traffic_insight_spark.queries import load_all

        self.specs = load_all()
        self.cold.append({"session_start_s": t1 - t0, "load_all_s": time.perf_counter() - t1})
        self.tracer.sc = self.spark.sparkContext
        self.tracer.enabled = self.trace
        self.tracer.tags = {"phase": "setup"}
        t0 = time.perf_counter()
        if extra is not None:
            extra()
        extra_s = time.perf_counter() - t0
        self.tracer.enabled = False
        self.tracer.tags = {}
        return statistics.median(c["session_start_s"] + c["load_all_s"] for c in self.cold) + extra_s

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.session.jvm_pid())


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.check_failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.report: dict[str, object] = {}
        # traced run: traced / untraced wall of the same pass
        self.overhead: float | None = None

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """An output check: a failed one counts as a failed operation."""
        self.op(ok)
        if not ok:
            self.check_failures.append(f"{name}: {detail}"[:300])

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def pct(values: list[float], q: float) -> float:
    """The q-th percentile (0..100) by linear interpolation."""
    vs = sorted(values)
    if not vs:
        raise ValueError("no samples")
    k = (len(vs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] + (vs[hi] - vs[lo]) * (k - lo)
