"""The master-URL parser and the materialization policy built on it."""

import os
import pathlib
import re

import pytest

from uckg_spark.session import _master_cores, _parse_master, reuse

ROOT = pathlib.Path(__file__).resolve().parents[1]


@pytest.mark.parametrize("master,one_jvm,cores", [
    ("local", True, 1),
    ("local[4]", True, 4),
    ("local[*]", True, os.cpu_count()),
    ("local[4,2]", True, 4),
    # separate executor JVMs: N executors × C cores
    ("local-cluster[2,1,1024]", False, 2),
    ("local-cluster[3,2,512]", False, 6),
    ("spark://host:7077", False, None),
    ("yarn", False, None),
])
def test_parse_master(master, one_jvm, cores):
    assert _parse_master(master) == (one_jvm, cores)
    # shuffle sizing falls back to 32 cores only when the URL hides them
    assert _master_cores(master) == (cores or 32)


def test_reuse_in_one_jvm_is_a_local_checkpoint(spark):
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    out = reuse(df)
    # a local checkpoint holds no cache entry: the plan is a stored RDD
    assert not out.is_cached and not out.storageLevel.useMemory
    assert "LogicalRDD" in out._jdf.queryExecution().analyzed().toString()
    assert sorted(out.collect()) == sorted(df.collect())
    out.unpersist()  # a no-op the callers rely on in every mode
    assert reuse(df, eager=True).count() == 10


def test_materialization_policy_has_one_owner():
    """Only session.reuse picks between localCheckpoint and persist; a
    second call site or master test re-forks the policy."""
    pattern = re.compile(r"localCheckpoint\(|startswith\(\s*['\"]local")
    files = [p for p in (ROOT / "uckg_spark").rglob("*.py")
             if p != ROOT / "uckg_spark" / "session.py"]
    files.append(ROOT / "__spark_entry__.py")
    hits = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in files
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, f"materialization decided outside session.py: {hits}"
