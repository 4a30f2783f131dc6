"""Cluster-branch parity: under ``local-cluster[2,1,1024]`` (two executor
JVMs) ``session.reuse`` takes the replicated-persist branch that no
``local[N]`` run reaches. The operators that reuse frames must return
exactly what they return under ``local[2]``.

Each master runs in a subprocess (``cluster_parity_job.py``); the
session fixture's JVM is already bound to ``local[4]``."""

import json
import os
import subprocess
import sys

import pytest

JOB = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "cluster_parity_job.py")
CLUSTER = "local-cluster[2,1,1024]"
WORKLOADS = ["pagerank_fixed", "hits_fixed", "connected_components",
             "pair_audit", "build_triples"]
# StorageLevel (useMemory, useDisk, replication)
REPLICATED = [True, True, 2]


def _run(master: str, work_dir) -> dict:
    work_dir.mkdir()
    out = work_dir / "out.json"
    proc = subprocess.run(
        [sys.executable, JOB, master, str(work_dir), str(out)],
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(out.read_text())


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    root = tmp_path_factory.mktemp("cluster_parity")
    return {m: _run(m, root / name)
            for m, name in [(CLUSTER, "cluster"), ("local[2]", "local")]}


@pytest.mark.parametrize("name", WORKLOADS)
def test_cluster_results_equal_local(runs, name):
    got = runs[CLUSTER]["results"][name]
    assert got, f"{name} returned no rows"
    assert got == runs["local[2]"]["results"][name]


@pytest.mark.parametrize("name", WORKLOADS)
def test_cluster_run_took_the_replicated_persist_branch(runs, name):
    assert runs[CLUSTER]["master"] == CLUSTER
    cluster = runs[CLUSTER]["levels"][name]
    local = runs["local[2]"]["levels"][name]
    assert cluster and all(lvl == REPLICATED for lvl in cluster)
    # same call sites, same count: only the branch differs
    assert len(local) == len(cluster)
    assert all(lvl[:2] == [False, False] for lvl in local)
