"""`get_spark` leaves AQE policy to Spark's own config: a deployment's
`spark-defaults.conf` reaches the session, `extra_conf` still beats it, and
with no conf file the AQE keys read Spark's defaults. The zstd level the
session sets reaches the Hadoop conf parquet-java's writer reads, and
`extra_conf` beats it too. Each case runs in a fresh interpreter, because
Spark reads its conf dir and its `spark.hadoop.*` keys once, at launch."""

from __future__ import annotations

import json
import os
import subprocess
import sys

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
