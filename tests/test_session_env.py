"""`get_spark` leaves AQE policy to Spark's own config: a deployment's
`spark-defaults.conf` reaches the session, `extra_conf` still beats it, and
with no conf file the AQE keys read Spark's defaults. The zstd level the
session sets reaches the Hadoop conf parquet-java's writer reads, and
`extra_conf` beats it too. The driver JVM starts from a class-data archive
once an earlier launch has dumped and verified one, and never maps a dump
that fails verification. Each case runs in a fresh interpreter, because
Spark reads its conf dir and its `spark.hadoop.*` keys once, at launch."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

AQE = "spark.sql.adaptive."
FIRST = AQE + "coalescePartitions.parallelismFirst"
ADVISORY = AQE + "advisoryPartitionSizeInBytes"
FACTOR = AQE + "skewJoin.skewedPartitionFactor"
SWITCHES = (AQE + "enabled", AQE + "coalescePartitions.enabled",
            AQE + "skewJoin.enabled")
KEYS = (*SWITCHES, FIRST, ADVISORY, FACTOR)
ZSTD_LEVEL = "parquet.compression.codec.zstd.level"
HADOOP = "hadoop:"  # a key read from the SparkContext's Hadoop conf

_CHILD = """
import json, sys
from banking_etl_pipeline_spark.session import get_spark
spark = get_spark(extra_conf=json.loads(sys.argv[1]))
hadoop = spark.sparkContext._jsc.hadoopConfiguration()
print(json.dumps({k: hadoop.get(k.removeprefix("hadoop:"))
                  if k.startswith("hadoop:") else spark.conf.get(k)
                  for k in sys.argv[2:]}))
spark.stop()
"""


def _session_conf(conf_dir, extra_conf, keys=KEYS):
    env = dict(os.environ, SPARK_CONF_DIR=str(conf_dir),
               SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1",
               PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, json.dumps(extra_conf), *keys],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=300,
        check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _bytes(size):
    unit = {"b": 0, "k": 10, "m": 20, "g": 30}[size[-1].lower()]
    return int(size[:-1]) << unit


def test_spark_conf_sets_aqe_policy(tmp_path):
    tuned = tmp_path / "tuned"
    tuned.mkdir()
    (tuned / "spark-defaults.conf").write_text(
        f"{FIRST} false\n{ADVISORY} 128m\n{FACTOR} 7\n")
    conf = _session_conf(tuned, {FACTOR: "9"})
    assert conf[FIRST] == "false"
    assert _bytes(conf[ADVISORY]) == 128 << 20
    assert conf[FACTOR] == "9"

    empty = tmp_path / "empty"
    empty.mkdir()
    conf = _session_conf(empty, {})
    assert [conf[k] for k in (*SWITCHES, FIRST)] == ["true"] * 4
    assert _bytes(conf[ADVISORY]) == 64 << 20
    assert float(conf[FACTOR]) == 5


def test_zstd_level_reaches_the_parquet_writer(tmp_path):
    level = HADOOP + ZSTD_LEVEL
    assert _session_conf(tmp_path, {}, [level]) == {level: "6"}
    assert _session_conf(tmp_path, {"spark.hadoop." + ZSTD_LEVEL: "3"},
                         [level]) == {level: "3"}


# Launches a session, reports it, then stops the JVM and waits for it, so a
# dump the JVM writes at exit is whole when the interpreter exits.
_LAUNCH = """
import json, os, sys
before = dict(os.environ)
from banking_etl_pipeline_spark.session import get_spark
spark = get_spark(extra_conf=json.loads(sys.argv[1]))
after = dict(os.environ)
bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory
print(json.dumps({
    "args": list(bean.getRuntimeMXBean().getInputArguments()),
    "sum": spark.range(100).selectExpr("sum(id) AS s").collect()[0]["s"],
    "conf": {k: spark.conf.get(k) for k in sys.argv[2:]},
    "env_changed": sorted(k for k in before if after.get(k) != before[k]),
    "env_added": sorted(set(after) - set(before)),
}))
from pyspark import SparkContext
gateway = SparkContext._gateway
proc = gateway.proc
spark.stop()
gateway.shutdown()
proc.stdin.close()
proc.wait(timeout=120)
"""
# pyspark's SparkContext exports these for its Python workers
_PYSPARK_ENV = {"SPARK_BUFFER_SIZE", "SPARK_AUTH_SOCKET_TIMEOUT"}


def _launch(cache, extra_conf=None, conf_dir=None, keys=()):
    env = dict(os.environ, XDG_CACHE_HOME=str(cache),
               SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1",
               PYTHONPATH=REPO)
    for name in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        env.pop(name, None)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    out = subprocess.run(
        [sys.executable, "-c", _LAUNCH, json.dumps(extra_conf or {}), *keys],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=300,
        check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["sum"] == 4950
    assert got["env_changed"] == []
    assert set(got["env_added"]) <= _PYSPARK_ENV
    return got


def _cds(cache):
    return cache / "banking_etl_pipeline_spark" / "cds"


def _archive_flags(args):
    return [a for a in args if a.startswith(
        ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="))]


@pytest.fixture(scope="module")
def archived(tmp_path_factory):
    """A cache holding the archive that one launch dumped and promoted."""
    cache = tmp_path_factory.mktemp("cds_cache")
    first = _launch(cache)
    [flag] = _archive_flags(first["args"])
    assert flag.startswith("-XX:ArchiveClassesAtExit=")
    return cache


def test_second_launch_maps_the_archive(archived):
    cds = _cds(archived)
    assert cds.stat().st_mode & 0o777 == 0o700
    [jsa] = cds.glob("*.jsa")  # promoted at exit
    assert not list(cds.glob("*.dump"))
    # As if the dumping JVM had outlived its interpreter: the next launch
    # verifies and promotes the dump, and deletes a verified copy that is
    # no larger than the archive.
    jsa.rename(cds / f"{jsa.stem}.a.dump")
    shutil.copy(cds / f"{jsa.stem}.a.dump", cds / f"{jsa.stem}.b.dump")
    got = _launch(archived)
    assert _archive_flags(got["args"]) == [f"-XX:SharedArchiveFile={jsa}"]
    assert "-Xshare:auto" in got["args"]
    assert not list(cds.glob("*.dump"))


def test_truncated_dump_is_never_mapped(archived, tmp_path):
    """A dump cut short, as when its JVM dies while writing it, would kill
    the JVM that maps it; verification keeps it from being promoted."""
    [jsa] = _cds(archived).glob("*.jsa")
    key = jsa.stem
    cds = _cds(tmp_path)
    cds.mkdir(parents=True, mode=0o700)
    shutil.copy(_cds(archived) / f"{key}.cp", cds)
    truncated = cds / f"{key}.planted.dump"
    with open(jsa, "rb") as f:
        truncated.write_bytes(f.read(1 << 20))
    stale = cds / f"{key}.stale.dump"
    stale.write_bytes(truncated.read_bytes())
    hours_ago = time.time() - 7200
    os.utime(stale, (hours_ago, hours_ago))

    got = _launch(tmp_path)
    [flag] = _archive_flags(got["args"])
    assert flag.startswith("-XX:ArchiveClassesAtExit=")
    assert truncated.stat().st_size == 1 << 20  # young: it may be in progress
    assert not stale.exists()
    # the launch's own dump, verified at exit
    assert (cds / f"{key}.jsa").stat().st_size > 1 << 20


def test_conf_dir_with_defaults_gets_no_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(f"{FACTOR} 7\n")
    got = _launch(tmp_path / "cache", conf_dir=conf, keys=[FACTOR])
    assert _archive_flags(got["args"]) == []
    assert got["conf"] == {FACTOR: "7"}


def test_extra_conf_default_java_options_win(tmp_path):
    got = _launch(tmp_path, {"spark.driver.defaultJavaOptions":
                             "-Dbanking.probe=1"})
    assert "-Dbanking.probe=1" in got["args"]
    assert _archive_flags(got["args"]) == []


def test_unwritable_cache_starts_without_archive(tmp_path):
    blocked = tmp_path / "cache"
    blocked.write_text("")  # a file where the cache directory would go
    assert _archive_flags(_launch(blocked)["args"]) == []
