"""Pinned run configuration, session lifecycle and process counters.

Both sides of every comparison run with the same configuration: all cores
(``SPARK_GRAFT_CPUS``), a driver heap well below host RAM, Spark's scratch
and warehouse directories inside the run's own work directory, and no
console progress bar. The work directory lives under the checkout, because
a run reads and writes nothing outside it, and is deleted when the run ends.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import subprocess
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

DRIVER_MEM = "4g"
YOUNG_GEN = "512m"


def code_version() -> str:
    """The checkout's git SHA, or a digest of the engine's sources when the
    checkout is not a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    for f in sorted((ROOT / "banking_etl_pipeline_spark").rglob("*.py")):
        h.update(f.relative_to(ROOT).as_posix().encode())
        h.update(f.read_bytes())
    return "src-" + h.hexdigest()[:16]


def pin_environment(work: Path) -> dict[str, str]:
    """Set the engine's environment before pyspark starts a JVM."""
    for sub in ("local", "tmp", "spark-warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "spark-warehouse"),
        "TMPDIR": str(work / "tmp"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(env)
    time.tzset()
    return env


def spark_conf(work: Path, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no -Xms or pre-touch, so the old generation's resident size
        # follows what the engine keeps in memory; a fixed young generation
        # keeps the collector's young-generation sizing out of peak_rss_mb.
        # The serial collector has no parallel workers that spin while a
        # sibling's vCPU is descheduled by the hypervisor, so CPU per
        # operation does not grow with the host's load.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
            f"-XX:+UseSerialGC -Xmn{YOUNG_GEN}",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    return conf


def start_session(work: Path, event_log: bool = False):
    from banking_etl_pipeline_spark.session import get_spark

    return get_spark(app_name="perfbench",
                     extra_conf=spark_conf(work, event_log))


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def remove_tree(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def tree_size(path: Path) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's ``_``/``.`` side files
    count towards bytes but not files."""
    return written_since({}, path)


def file_state(path: Path) -> dict[str, tuple[int, int, int]]:
    """Path → (inode, mtime_ns, size) of every file under ``path``."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            f = os.path.join(dirpath, n)
            st = os.stat(f)
            out[f] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def written_since(before: dict[str, tuple[int, int, int]],
                  path: Path) -> tuple[int, int]:
    """(bytes, data files) of the files under ``path`` that are new or were
    rewritten since the ``file_state`` snapshot ``before``. Spark's
    ``_``/``.`` side files count towards bytes but not files."""
    size = files = 0
    for f, st in file_state(path).items():
        if before.get(f) != st:
            size += st[2]
            if not os.path.basename(f).startswith(("_", ".")):
                files += 1
    return size, files


class Jvm:
    """CPU and peak-memory counters of the driver JVM from /proc."""

    def __init__(self, pid: int):
        self.pid = pid
        self._tick = os.sysconf("SC_CLK_TCK")

    def cpu_s(self) -> float:
        """JVM CPU (own plus reaped children) plus this process's CPU."""
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
        t = os.times()
        return ((utime + stime + cutime + cstime) / self._tick
                + t.user + t.system)

    def reset_peak_rss(self) -> bool:
        try:
            with open(f"/proc/{self.pid}/clear_refs", "w") as f:
                f.write("5")
            return True
        except OSError:
            return False

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in /proc status")


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
