"""The package reads exactly four deployment settings from the environment;
every other knob is a module constant (tests override those with
``monkeypatch.setattr``). Spark confs the session factory leaves to Spark's
own defaults are pinned here, so a Spark upgrade that moves one of them
fails loudly instead of silently changing plans."""

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "analyst_toolkit_spark"

ENV_SETTINGS = {
    "SPARK_GRAFT_CPUS",  # local[N] parallelism for tests and benchmarks
    "SPARK_GRAFT_DRIVER_MEM",  # driver heap, a per-host deployment choice
    "SPARK_GRAFT_STORAGE_MAX_OBJECTS",  # external-input listing caps
    "SPARK_GRAFT_STORAGE_MAX_BYTES",
}


def test_package_env_names_are_the_deployment_settings():
    names = set()
    for path in PACKAGE.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                names.update(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", node.value))
    assert names == ENV_SETTINGS


def test_session_leaves_spark_defaults(spark):
    """Values get_spark() relies on Spark's defaults for (tested on 4.1.2):
    parallelism-first AQE coalescing, 64 MiB advisory partitions, the lz4
    codec and the HDFS-backed state store."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true"
    assert conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "67108864b"
    assert conf.get("spark.sql.streaming.stateStore.providerClass") == (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    )
    jvm_conf = spark.sparkContext._jsc.sc().conf()
    codec = spark._jvm.org.apache.spark.io.CompressionCodec.createCodec(jvm_conf)
    assert codec.getClass().getName() == "org.apache.spark.io.LZ4CompressionCodec"
