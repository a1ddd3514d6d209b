"""Process, session and reporting plumbing shared by the workloads.

Everything the benchmark writes (Spark local dirs, temp files, the crawl
store) lives under ``.bench_work/`` in the checkout and is removed when
the run ends. The JVM that PySpark launches is stopped and waited for.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "webscrape_neko_jirushi_spark"
CORES = max(1, min(4, os.cpu_count() or 1))
# small fixed heap: the inputs are small, and the host is shared
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"


def require_program() -> None:
    """Exit non-zero, without a result, when the program is not present."""
    missing = [
        p for p in (ROOT / PACKAGE / "__init__.py", ROOT / "__spark_entry__.py")
        if not p.is_file()
    ]
    if missing:
        sys.stderr.write(
            "perfbench: program sources not found: "
            + ", ".join(str(p.relative_to(ROOT)) for p in missing)
            + "\n"
        )
        raise SystemExit(2)


def loadavg() -> str:
    try:
        return Path("/proc/loadavg").read_text().strip()
    except OSError:
        return "n/a"


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    except (OSError, ValueError):
        return [0] * 8


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of a process and all its descendants
    (the JVM's Python workers included), exited children counted."""
    root = os.getpid() if root is None else root
    stats = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                raw = (d / "stat").read_text()
            except OSError:
                continue
            f = raw[raw.rindex(")") + 2:].split()
            stats[int(d.name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB; 0 if unreadable."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Context:
    """One benchmark run: its work directory, SparkSession and timings."""

    def __init__(self, workload: str, trace: bool):
        self.workload = workload
        self.trace = trace
        self.work = ROOT / ".bench_work" / f"{workload}-{os.getpid()}"
        self.spark = None
        self._jvm_proc = None
        self.session_s = 0.0

    def __enter__(self) -> "Context":
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse"):
            (self.work / sub).mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        if str(ROOT) not in sys.path:
            sys.path.insert(0, str(ROOT))
        return self

    def start_spark(self):
        from webscrape_neko_jirushi_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            cores=CORES,
            extra_conf={
                "spark.local.dir": str(self.work / "local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                # a fixed young generation: G1's adaptive sizing made the
                # peak RSS of identical runs differ by up to 30 %; no
                # hsperfdata file, which the JVM puts outside the checkout
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.work / 'tmp'} -Xmn{YOUNG_GEN} -XX:-UsePerfData"
                ),
                # the tracer reads per-job stage metrics from the status
                # store; keep every job of a run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.session_s = time.perf_counter() - t0
        self._jvm_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return self.spark

    def peak_rss_mb(self) -> float:
        """JVM plus Python driver peak RSS."""
        jvm = vm_hwm_mb(self._jvm_proc.pid) if self._jvm_proc is not None else 0.0
        return jvm + vm_hwm_mb()

    def release(self) -> None:
        """Drop per-step JVM state outside the timed window (cached
        blocks and broadcasts are only reclaimed once their Python
        proxies are collected)."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def __exit__(self, *exc) -> None:
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:  # noqa: BLE001 - the JVM is stopped below either way
                sys.stderr.write(f"perfbench: SparkSession.stop failed: {e!r}\n")
        proc = self._jvm_proc
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            self.work.parent.rmdir()
        except OSError:
            pass


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result line: the last line of standard output."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(value), "unit": unit}
            for name, (value, unit) in metrics.items()
        },
    }
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()


def log(msg: str) -> None:
    sys.stdout.write(f"perfbench: {msg}\n")
    sys.stdout.flush()
