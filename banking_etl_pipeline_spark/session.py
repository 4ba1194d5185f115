"""SparkSession factory.

Reconstructs the reference's session builder (`src/utils/spark_session.py`)
the Spark-first way: AQE and its partition coalescing are left at Spark's
defaults (on), shuffle parallelism follows the core count instead of being
hard-coded to 4, Hive support is dropped (nothing in the reference uses a
metastore), and the session timezone is pinned to UTC so results are
comparable across engines (DuckDB timestamps are UTC-naive).

Every parquet file the session writes (appended batches, warehouse
generations, query results) is zstd-compressed at level 6 (the Hadoop key
`parquet.compression.codec.zstd.level`; parquet-java's default is 3), over
a quarter smaller than Spark's snappy default, and stores timestamps as
INT64 `TIMESTAMP_MICROS` instead of Spark's 12-byte INT96: a 100 k-row
transaction batch's two timestamp columns fall from 1.57 to 1.11 MB of its
5.71 MB, and each of their column chunks carries min/max statistics, which
INT96 chunks lack. Spark reads the same `TimestampType` values back; the
column is marked `isAdjustedToUTC=true`, so pyarrow reads it as
`timestamp[us, tz=UTC]` and DuckDB as `TIMESTAMP WITH TIME ZONE`.
`extra_conf` or a writer option (`compression`,
`parquet.compression.codec.zstd.level`) overrides any of these settings,
and readers follow each file's footer, so a target may mix codecs, levels
and timestamp encodings.

Three environment settings remain: `SPARK_GRAFT_CPUS` (local cores, and the
default shuffle parallelism), `SPARK_GRAFT_DRIVER_MEM` and
`SPARK_GRAFT_WAREHOUSE`.

A batch job starts a new driver JVM per run, so `get_spark` starts it from
a dynamic AppCDS class-data archive: the JVM maps the classes an earlier
run loaded and verified, instead of parsing and verifying them from the
jars again. On 4 vCPU, in 11 interleaved `perfbench` `analytics_mix`
pairs, the first session start fell from 5.8 to 2.7 s and `setup_s` from
7.8 to 5.5 s at the median (ROADMAP item 6).
- Where: `${XDG_CACHE_HOME:-~/.cache}/banking_etl_pipeline_spark/cds/`
  (mode 0700; only files the current uid owns and nobody else can write
  are used). Deleting the directory clears it.
- Key: one `<key>.jsa` per hash of the `java` binary (real path, size,
  mtime), every jar under `$SPARK_HOME/jars` (name, size, mtime) and
  `spark.driver.extraClassPath`. An upgraded JDK or Spark gets a new key,
  and promoting its archive deletes the old one.
- First run of a key: it starts without an archive (about 3 s slower),
  and its JVM dumps one at exit (`-XX:ArchiveClassesAtExit`, 100-170 MB,
  about 8 s). A truncated archive kills the JVM that maps it (SIGBUS),
  even under `-Xshare:auto`. So a throwaway `java -Xshare:on
  -XX:+VerifySharedSpaces ... -version` maps each dump before it is
  renamed to `<key>.jsa`: at exit when the JVM has been waited for, or by
  the next launch. A dump no launch could verify is deleted after an
  hour. A verified dump of a key that already has an archive (its launch
  began before the archive existed) replaces the archive if it is larger,
  since it holds more classes, and is deleted otherwise.
- No archive: JDK 17 will not dump a classpath holding a non-empty
  directory, and Spark's conf directory is on the driver's classpath. One
  holding only `*.template` files, from which Spark reads nothing, is
  swapped for an empty directory during the launch. One holding any other
  file, a `HADOOP_CONF_DIR` or `YARN_CONF_DIR`, a running JVM, an
  `extra_conf` that sets `spark.driver.defaultJavaOptions`, or a cache
  that cannot be written starts the JVM as before.

At cluster scale the same builder is used with `master=` passed explicitly
(the builder always sets a master, and a builder-set master overrides
spark-submit's) and `shuffle_partitions` sized to ~2-3× total executor cores.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import secrets
import shutil
import stat
import subprocess
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext, suppress
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession


# Session-scoped cache, the one cache the operator modules share, keyed by
# (application, kind, tag):
# - `session_persist`: a builder's expensive reused intermediate persists
#   exactly ONCE per (session, tag) instead of once per invocation —
#   repeated invocations in one session (the bench runs each query several
#   times, the driver runs families back-to-back) would otherwise accumulate
#   persisted RDDs that are never unpersisted. At cluster scale this is the
#   write-the-stage-to-a-staging-table-once step of a real pipeline.
# - `session_scalar`: a few builders need one driver-side scalar (a table
#   count, a longest-series gate) to parameterize the plan. Computing it per
#   build() call launches a real Spark job every time bench/plan-dump
#   re-invokes the builder; per (session, tag) the input is immutable, so
#   compute once.
# The kind keeps a DataFrame tag and a scalar tag from colliding. Entries
# from dead sessions are evicted on sight.
_SESSION_CACHE: dict[tuple[str, str, str], object] = {}


def _session_cached(spark: SparkSession, kind: str, tag: str,
                    make: Callable[[], object]) -> object:
    app = spark.sparkContext.applicationId
    for stale in [k for k in _SESSION_CACHE if k[0] != app]:
        del _SESSION_CACHE[stale]
    key = (app, kind, tag)
    if key not in _SESSION_CACHE:
        _SESSION_CACHE[key] = make()
    return _SESSION_CACHE[key]


def session_persist(spark: SparkSession, tag: str,
                    build: Callable[[], DataFrame]) -> DataFrame:
    return _session_cached(spark, "df", tag, lambda: build().persist())


def session_scalar(spark: SparkSession, tag: str,
                   compute: Callable[[], object]) -> object:
    return _session_cached(spark, "scalar", tag, compute)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# A dump older than this that cannot be promoted was left by a JVM that
# died while writing it; a younger one may still be being written.
_STALE_DUMP_S = 3600


def _private(path: str, kind: int) -> bool:
    """`path` is a `kind` (`stat.S_IFREG`, `stat.S_IFDIR`) that the current
    uid owns and nobody else can write; a symlink never is."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return (stat.S_IFMT(st.st_mode) == kind and st.st_uid == os.getuid()
            and not st.st_mode & 0o022)


def _remove(path: str) -> None:
    with suppress(OSError):
        os.remove(path)


def _verified(java: str, dump: str, classpath: str) -> bool:
    """A throwaway JVM maps `dump` with `classpath` and checks the CRC of
    every region. A truncated archive kills that JVM with SIGBUS, even
    under `-Xshare:auto`, so a dump is mapped here before any session maps
    it."""
    err = dump + ".err"  # the crash report of the throwaway JVM
    try:
        return subprocess.run(
            [java, "-Xshare:on", "-XX:+VerifySharedSpaces",
             f"-XX:SharedArchiveFile={dump}", f"-XX:ErrorFile={err}",
             "-XX:-CreateCoredumpOnCrash", "-cp", classpath, "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=120).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False
    finally:
        _remove(err)


@dataclass(frozen=True)
class _ClassArchive:
    """The driver JVM's class-data archive for one (java, classpath) key,
    in a cache directory only the current uid can write:
    `<key>.jsa` is a verified archive, `<key>.<tag>.dump` a dump that has
    not been verified yet, `<key>.cp` the classpath the key's JVMs launch
    with, and `conf/` the empty directory that stands in for Spark's conf
    directory while a JVM launches."""
    dir: str
    key: str
    java: str
    dump: str | None = None  # where this launch dumps, when it has no archive

    @property
    def archive(self) -> str:
        return os.path.join(self.dir, self.key + ".jsa")

    @property
    def conf_dir(self) -> str:
        return os.path.join(self.dir, "conf")

    @property
    def classpath_file(self) -> str:
        return os.path.join(self.dir, self.key + ".cp")

    def classpath(self) -> str | None:
        if not _private(self.classpath_file, stat.S_IFREG):
            return None
        with open(self.classpath_file, encoding="utf-8") as f:
            return f.read()

    def record_classpath(self, classpath: str) -> None:
        # every launch of a key writes the same text; a torn read fails
        # verification, which only delays a promotion
        fd = os.open(self.classpath_file, os.O_WRONLY | os.O_CREAT
                     | os.O_TRUNC | os.O_NOFOLLOW, 0o600)
        with open(fd, "w", encoding="utf-8") as f:
            f.write(classpath)

    def promote(self, dump: str, classpath: str | None) -> None:
        """Verify `dump`. A verified dump larger than the key's archive,
        that is one holding more classes (the first launch of a key may be
        a small one), replaces it and deletes every other key's archive; a
        verified dump no larger is deleted. A dump that fails is left for
        `settle`: its JVM may still be writing it."""
        if (classpath is None or not _private(dump, stat.S_IFREG)
                or not _verified(self.java, dump, classpath)):
            return
        if (_private(self.archive, stat.S_IFREG) and os.lstat(
                self.archive).st_size >= os.lstat(dump).st_size):
            _remove(dump)
            return
        os.replace(dump, self.archive)
        for name in os.listdir(self.dir):
            if (name.endswith((".jsa", ".cp"))
                    and not name.startswith(self.key + ".")):
                _remove(os.path.join(self.dir, name))

    def settle(self) -> bool:
        """Promote this key's dumps and delete every dump more than an
        hour old. True when the key has a verified archive."""
        classpath = self.classpath()
        for name in sorted(os.listdir(self.dir)):
            if not name.endswith(".dump"):
                continue
            path = os.path.join(self.dir, name)
            if name.startswith(self.key + "."):
                with suppress(OSError):  # another launch moved it first
                    self.promote(path, classpath)
            with suppress(OSError):
                if time.time() - os.lstat(path).st_mtime > _STALE_DUMP_S:
                    _remove(path)
        return _private(self.archive, stat.S_IFREG)

    @property
    def java_options(self) -> str:
        if self.dump is None:
            return (f"-XX:SharedArchiveFile={self.archive} -Xshare:auto "
                    "-Xlog:cds*=off")
        return f"-XX:ArchiveClassesAtExit={self.dump} -Xlog:cds*=off"


def _cache_dir() -> str | None:
    root = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(root):
        root = os.path.join(os.path.expanduser("~"), ".cache")
    d = os.path.join(root, "banking_etl_pipeline_spark", "cds")
    try:
        for sub in (d, os.path.join(d, "conf")):
            os.makedirs(sub, mode=0o700, exist_ok=True)
            if not _private(sub, stat.S_IFDIR):
                return None
        usable = os.access(d, os.W_OK | os.X_OK) and not os.listdir(
            os.path.join(d, "conf"))
    except OSError:
        return None
    # Spark splits the JVM option string on whitespace and quotes
    return d if usable and not any(c in d for c in " \t\n\"'\\") else None


def _class_archive(extra_conf: dict[str, str]) -> _ClassArchive | None:
    """The class-data archive for the driver JVM this process is about to
    launch, or None to launch it without one: a JVM is already running,
    the caller sets the driver's default JVM options, the launch classpath
    holds a non-empty directory (JDK 17 will not dump one), or the cache
    cannot be written."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if (SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ
            or "spark.driver.defaultJavaOptions" in extra_conf
            or os.environ.get("HADOOP_CONF_DIR")
            or os.environ.get("YARN_CONF_DIR")):
        return None
    home = _find_spark_home()
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else shutil.which("java"))
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    extra_cp = extra_conf.get("spark.driver.extraClassPath", "")
    try:
        # Spark reads nothing from `*.template` files, so a conf directory
        # of templates is swapped for an empty one; any other file is read
        if (java is None
                or (os.path.isdir(conf) and any(
                    not n.endswith(".template") for n in os.listdir(conf)))
                or any(os.path.isdir(p) for p in extra_cp.split(os.pathsep))):
            return None
        real = os.path.realpath(java)
        st = os.stat(real)
        h = hashlib.sha256(f"{real}:{st.st_size}:{st.st_mtime_ns}".encode())
        jars = os.path.join(home, "jars")
        for name in sorted(os.listdir(jars)):
            st = os.stat(os.path.join(jars, name))
            h.update(f"\0{name}:{st.st_size}:{st.st_mtime_ns}".encode())
        h.update(f"\0{extra_cp}".encode())
        d = _cache_dir()
        if d is None:
            return None
        cds = _ClassArchive(d, h.hexdigest()[:32], java)
        if cds.settle():
            return cds
    except OSError:
        return None
    return replace(cds, dump=os.path.join(
        d, f"{cds.key}.{os.getpid()}-{secrets.token_hex(4)}.dump"))


@contextmanager
def _environ(name: str, value: str) -> Iterator[None]:
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            del os.environ[name]
        else:
            os.environ[name] = old


def _promote_at_exit(cds: _ClassArchive, proc, classpath: str) -> None:
    # Python does not wait for its JVM: if the JVM still runs, its dump is
    # not whole yet, and a later launch promotes it
    if proc is not None and proc.poll() is not None:
        with suppress(OSError):
            cds.promote(cds.dump, classpath)


def get_spark(
    app_name: str = "banking_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Scale notes: every config here is local-mode-safe and cluster-correct.
    AQE (on by Spark's default) handles runtime partition coalescing and
    skew-join splitting, so the static `shuffle_partitions` only needs to be
    an upper bound at scale. The builder sets no AQE key, so a deployment's
    Spark conf (`spark-defaults.conf`, `--conf`, `extra_conf`) decides the
    policy: locally, Spark's parallelism-first coalescing measured 1.20-1.26×
    faster than size-derived partitions on local[32]; on a real cluster, set
    `spark.sql.adaptive.coalescePartitions.parallelismFirst=false` and a
    64-256 MB `spark.sql.adaptive.advisoryPartitionSizeInBytes`.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects outright; read as long and convert in the catalog
        # (catalog.table) — same ns→µs truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # saveAsTable targets (bucketed tables) land outside the repo tree
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # files.maxPartitionBytes default 128m is right for the 100 TB target;
        # local sf0.1 parquet is a single file, AQE re-splits post-shuffle.
        # openCostInBytes default 4m makes split size = max(4m, bytes/cores),
        # which leaves most cores idle scanning mid-size (10-100 MB) tables —
        # measured 10x slower on the text tier at sf3/sf10.
        # 256k restores bytes/cores sizing (full fan-out on splittable files)
        # and at cluster scale only packs small files a little tighter.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        # Spark sizes Tungsten pages as nextPowerOf2(execution pool / cores
        # / 16): 32 MiB on a 4 GiB, 4-core driver. Each sorter and keyed
        # hash aggregate of a task takes a zeroed page before its first row:
        # a transaction batch's task, about 8 MB of rows, runs two window
        # sorts and the write sort, and the gate's partial aggregate takes
        # one more. Pages in use when a young collection runs are tenured,
        # so the old generation fills with dead pages until a full GC.
        # 4 MiB keeps a task's footprint near its data; TaskMemoryManager
        # addresses at most 8192 pages per task, so this still allows 32 GiB
        # per task, and a record larger than a page gets a page of its own.
        .config("spark.buffer.pageSize", "4m")
        # Every parquet file the engine writes (appended batches, warehouse
        # generations, query results) pays for its bytes at the target.
        # zstd at parquet-mr's default level 3 writes about a quarter fewer
        # bytes than Spark's snappy default: on 4 vCPU, a 100 k-row
        # transaction batch's write_amp fell 0.5435 -> 0.4112 and registry
        # query results' 0.0667 -> 0.0520, for about 5% more CPU per batch.
        # lz4_raw saved only 4%; gzip matched zstd's size at more CPU. Each
        # file's footer names its codec, so snappy targets read unchanged.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # parquet-java reads its zstd level from the Hadoop conf, which
        # takes spark.hadoop.* keys when the session starts (a later
        # spark.conf.set of the key does not reach it; a writer option
        # does). Level 6 writes a 100 k-row transaction batch 3.2% smaller
        # than the default 3 (seed 1: 5.243 -> 5.075 MB; 4.860 MB with one
        # file per partition). Level 9 saved only 0.4% more (4.839 MB), and
        # 12 and 15 took 12.0-19.7 s of CPU per batch against 4.1-6.6 s at
        # 3 (one session each, 4 vCPU).
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "6")
        # Spark's default INT96 timestamps take 12 bytes a value and their
        # chunks carry no statistics. INT64 TIMESTAMP_MICROS chunks carry
        # min/max, so a reader can skip row groups on a date filter and a
        # gate can read ranges from footers. On a 100 k-row transaction
        # batch (seed 1, zstd) the two timestamp columns fell from 1.574 to
        # 1.106 MB and the batch from 5.71 to 5.24 MB; on 4 vCPU, txn_batch
        # write_amp fell 0.4112 -> 0.3778 and registry query results'
        # 0.0520 -> 0.0423, with CPU per batch within noise. The column is
        # marked isAdjustedToUTC, so DuckDB reads it as TIMESTAMP WITH TIME
        # ZONE; each file's footer names its encoding, so INT96 files read
        # unchanged.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    cds = _class_archive(extra_conf or {})
    if cds is not None:
        # extraJavaOptions (a deployment's, the benchmark's) come after
        # these on the JVM's command line
        builder = builder.config("spark.driver.defaultJavaOptions",
                                 cds.java_options)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    with (nullcontext() if cds is None
          else _environ("SPARK_CONF_DIR", cds.conf_dir)):
        spark = builder.getOrCreate()
    if cds is not None and cds.dump is not None:
        jvm = spark.sparkContext._jvm
        classpath = jvm.java.lang.System.getProperty("java.class.path")
        with suppress(OSError):
            cds.record_classpath(classpath)
        atexit.register(_promote_at_exit, cds,
                        getattr(spark.sparkContext._gateway, "proc", None),
                        classpath)
    spark.sparkContext.setLogLevel("WARN")
    return spark
