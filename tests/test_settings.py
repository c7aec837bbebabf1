"""What the package lets a run's environment decide, what it defines
and leaves behind, and the narrow error handling around session confs
and catalog registration."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

import pytest
from pyspark.errors import AnalysisException

import aws_kinesis_data_ingestion_restapi_spark as pkg

#: Deployment facts only: where to run, with how many cores and how
#: much heap, where the data and scratch live. A tuning value belongs
#: in a module constant, so every run measures the same engine.
DEPLOYMENT_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_MASTER",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_STREAM_SCRATCH",
    "SPARK_GRAFT_CHECKPOINT_DIR",
}


def _is_os_environ(node) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_keys(tree) -> list[str]:
    """Every key read through ``os.environ[...]``, ``os.environ.get`` /
    ``pop`` / ``setdefault``, ``os.getenv`` or ``... in os.environ``;
    a key that is not a string literal reads as ``<dynamic>``."""

    def key(node) -> str:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return "<dynamic>"

    keys = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_os_environ(node.value):
            keys.append(key(node.slice))
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            env_method = _is_os_environ(f.value) and f.attr in ("get", "pop", "setdefault")
            getenv = f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os"
            if env_method or getenv:
                keys.append(key(node.args[0]) if node.args else "<dynamic>")
        elif isinstance(node, ast.Compare) and any(map(_is_os_environ, node.comparators)):
            keys.append(key(node.left))
    return keys


def test_package_reads_only_deployment_env_vars():
    root = os.path.dirname(pkg.__file__)
    found: dict[str, list[str]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                for k in _env_keys(tree):
                    found.setdefault(k, []).append(os.path.relpath(path, root))
    assert set(found) == DEPLOYMENT_ENV, {
        k: v for k, v in found.items() if k not in DEPLOYMENT_ENV
    }


def test_env_key_scan_sees_every_read_form():
    tree = ast.parse(
        "import os\n"
        "a = os.environ['A']\n"
        "b = os.environ.get('B', '1')\n"
        "c = os.getenv('C')\n"
        "d = 'D' in os.environ\n"
        "e = os.environ.get(name)\n"
    )
    assert _env_keys(tree) == ["A", "B", "C", "D", "<dynamic>"]


#: Top-level package definitions that nothing in the repo names, each
#: with the reason it stays.
UNREFERENCED_OK = {
    "read_kinesis_stream": "the documented production source; the repo "
    "runs the file-source stand-in for Kinesis",
}


def test_every_package_definition_is_referenced():
    """Every top-level function or class of the package is named
    somewhere in the repo (a call, an attribute access or an import):
    a definition nothing names is dead code or a second copy of a
    live one."""
    root = os.path.dirname(pkg.__file__)
    repo = os.path.dirname(root)
    names: set[str] = set()
    defs: list[str] = []
    for dirpath, dirs, files in os.walk(repo):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__")) and d != "spark-warehouse"]
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias):
                    names.add(node.name.rsplit(".", 1)[-1])
            if path.startswith(root + os.sep):
                defs += [
                    f"{os.path.relpath(path, repo)}:{node.name}"
                    for node in tree.body
                    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                ]
    dead = [d for d in defs if d.rsplit(":", 1)[1] not in names | set(UNREFERENCED_OK)]
    assert not dead, dead


def test_session_scratch_is_removed_at_exit(tmp_path):
    """A session's scratch dir (keyed by its applicationId, which no
    later process shares) is gone once the interpreter exits."""
    code = (
        "import types\n"
        "from aws_kinesis_data_ingestion_restapi_spark.registry import _session_scratch\n"
        "sc = types.SimpleNamespace(applicationId='local-0001')\n"
        "d = _session_scratch(types.SimpleNamespace(sparkContext=sc), 'pp_scan')\n"
        "open(d + '/part-0', 'w').close()\n"
        "print(d)\n"
    )
    env = {
        **os.environ,
        "TMPDIR": str(tmp_path),
        "PYTHONPATH": os.path.dirname(os.path.dirname(pkg.__file__)),
    }
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    )
    scratch = out.stdout.split()[-1]
    assert scratch == str(tmp_path / "pp_scan_local-0001")
    assert not os.path.exists(scratch)


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[8,2]"])
def test_local_master_writes_no_checksums(master):
    """On these masters ``get_spark`` turns off ``.crc`` sidecars."""
    from aws_kinesis_data_ingestion_restapi_spark.session import is_local_master

    assert is_local_master(master)


@pytest.mark.parametrize(
    "master", ["yarn", "spark://host:7077", "k8s://https://host:443", "local-cluster[2,1,1024]"]
)
def test_cluster_master_keeps_spark_defaults(master):
    from aws_kinesis_data_ingestion_restapi_spark.session import is_local_master

    assert not is_local_master(master)


def test_local_session_writes_no_checksums(spark, tmp_path):
    """The test session runs on a local master: a multi-task write
    leaves no ``.crc`` file."""
    out = str(tmp_path / "t")
    df = spark.range(0, 100, numPartitions=4).selectExpr("id", "id % 3 AS k")
    df.write.partitionBy("k").parquet(out)
    files = [f for _, _, fs in os.walk(out) for f in fs]
    assert any(f.endswith(".parquet") for f in files)
    assert not [f for f in files if f.endswith(".crc")], files


def test_ensure_runtime_confs_skips_a_conf_spark_refuses(spark, monkeypatch):
    from aws_kinesis_data_ingestion_restapi_spark import session

    static = "spark.sql.warehouse.dir"
    with pytest.raises(AnalysisException, match="CANNOT_MODIFY_STATIC_CONFIG"):
        spark.conf.set(static, "/nowhere")
    monkeypatch.setattr(
        session, "RUNTIME_CONFS", {static: "/nowhere", **session.RUNTIME_CONFS}
    )
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        session.ensure_runtime_confs(spark)
    finally:
        tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the refused conf is skipped, and the confs after it still apply
    assert tz == "UTC"
    assert spark.conf.get(static) != "/nowhere"


def test_external_tables_register_a_flat_layout(spark, events_df, tmp_path):
    """RECOVER PARTITIONS on a table written flat raises
    NOT_A_PARTITIONED_TABLE; registration keeps the table."""
    from aws_kinesis_data_ingestion_restapi_spark.catalog import create_external_tables
    from aws_kinesis_data_ingestion_restapi_spark.operators.transforms import (
        derive_all_tables,
    )
    from aws_kinesis_data_ingestion_restapi_spark.sinks import write_partitioned

    base = str(tmp_path / "wh_flat")
    orders = derive_all_tables(events_df, with_partitions=False)["orders"]
    write_partitioned(orders, f"{base}/orders", partition_cols=[])
    spark.sql("CREATE DATABASE IF NOT EXISTS flat_gate")
    spark.sql("DROP TABLE IF EXISTS flat_gate.orders")
    spark.sql(f"CREATE TABLE flat_gate.orders USING PARQUET LOCATION '{base}/orders'")
    with pytest.raises(AnalysisException, match="NOT_A_PARTITIONED_TABLE"):
        spark.sql("ALTER TABLE flat_gate.orders RECOVER PARTITIONS")

    out = create_external_tables(spark, base, database="flat_gate")
    assert set(out) == {"orders"}
    assert out["orders"].count() == orders.count()
