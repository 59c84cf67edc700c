"""Host canary, host fingerprint and run hygiene.

The host's speed drifts by tens of percent within minutes, and CPU time
drifts with wall time, so timed metrics are host-normalized as
``raw * factor``. Two pinned canaries are sampled through every run,
next to the operations they normalize: a small Spark job (scheduling,
execution, collect) and a single-thread Python loop. Each gives
``reference / median(samples)``; the run's factor is the geometric mean
of the two, because every workload spends its time in both the JVM and
Python. ``evidence/canary_choice.json`` has the ten-run spreads under
each canary alone and under the pair.
"""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import time
from pathlib import Path

# Pinned canaries and their reference times on the reference host
# (4 vCPU, see evidence/canary_choice.json). Changing any of these
# breaks comparability of every normalized metric across runs.
JVM_CANARY_ROWS = 50_000  # 4 partitions: scheduling, execution, collect
JVM_CANARY_REF_MS = 110.0
PY_CANARY_ITERS = 20_000
PY_CANARY_REF_MS = 1.8

SHM_DIR = Path("/dev/shm")
SHM_PREFIX = "spark-graft-"


def py_canary_ms() -> float:
    """One sample of the pinned Python loop, in ms."""
    t0 = time.perf_counter()
    acc = 0
    for k in range(PY_CANARY_ITERS):
        acc += k * k
    return (time.perf_counter() - t0) * 1e3


def jvm_canary_ms(spark) -> float:
    """One sample of the pinned Spark job, in ms."""
    t0 = time.perf_counter()
    spark.range(0, JVM_CANARY_ROWS, 1, 4).selectExpr("sum(hash(id))").collect()
    return (time.perf_counter() - t0) * 1e3


def _iqr(xs: list[float]) -> float:
    if len(xs) < 4:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


class Canary:
    """Canary samples of one run; turns raw times into normalized ones."""

    def __init__(self) -> None:
        self.py: list[float] = []
        self.jvm: list[float] = []

    def sample(self, spark=None) -> None:
        self.py.append(py_canary_ms())
        if spark is not None:
            self.jvm.append(jvm_canary_ms(spark))

    def summary(self) -> dict[str, float]:
        return {
            "host.canary_ms": statistics.median(self.jvm),
            "host.canary_iqr_ms": _iqr(self.jvm),
            "host.py_canary_ms": statistics.median(self.py),
        }

    def factors(self) -> dict[str, float]:
        """Multiply a raw time by ``factors()["pair"]`` to express it on
        the reference host; the single-canary factors are kept as
        evidence."""
        jvm = JVM_CANARY_REF_MS / statistics.median(self.jvm)
        py = PY_CANARY_REF_MS / statistics.median(self.py)
        return {"pair": (jvm * py) ** 0.5, "jvm": jvm, "py": py}


def fingerprint(spark=None) -> dict:
    info: dict[str, object] = {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }
    try:
        for line in Path("/proc/cpuinfo").read_text().splitlines():
            if line.lower().startswith("model name"):
                info["cpu_model"] = line.split(":", 1)[1].strip()
                break
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal"):
                info["mem_total_kb"] = int(line.split()[1])
                break
    except OSError:
        pass
    if spark is not None:
        info["spark"] = spark.version
        info["jdk"] = spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"
        )
    return info


def tree_bytes(path: Path) -> int:
    if not path.exists():
        return 0
    if path.is_file() or path.is_symlink():
        return path.lstat().st_size
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


# The engine's streaming checkpoints share one parent directory; its
# children are the per-run artifacts.
SHM_CKPT = SHM_DIR / "spark-graft-ckpt"


def snapshot() -> set[str]:
    """The engine's session artifacts on tmpfs, as paths under /dev/shm."""
    if not SHM_DIR.is_dir():
        return set()
    out = {p.name for p in SHM_DIR.iterdir() if p.name.startswith(SHM_PREFIX)}
    if SHM_CKPT.is_dir():
        out |= {f"{SHM_CKPT.name}/{c.name}" for c in SHM_CKPT.iterdir()}
    return out


def remove_residue(before: set[str]) -> int:
    """Delete what the run added under /dev/shm; return its size in bytes."""
    after = snapshot()
    new = sorted(after - before)
    total = 0
    for rel in new:
        if any(rel.startswith(n + "/") for n in new):
            continue  # counted with its new parent
        p = SHM_DIR / rel
        if not p.exists():
            continue
        total += tree_bytes(p)
        if p.is_dir() and not p.is_symlink():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.unlink(missing_ok=True)
    return total
