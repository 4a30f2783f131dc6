"""Run the reuse-heavy operators under one Spark master and dump their
results as JSON — the worker half of ``test_cluster_parity.py``.

    python tests/cluster_parity_job.py MASTER WORK_DIR OUT_JSON

It runs in its own process because a JVM serves one master: the test
session's ``local[4]`` context cannot host a ``local-cluster`` run.
Every ``session.reuse`` call is recorded with the storage level of the
frame it returned, so the caller can see which branch of the policy ran.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _edges(spark):
    rows = [(f"n{i}", f"n{(i * 7 + i // 50) % 60}") for i in range(200)]
    return spark.createDataFrame(rows, "subj string, obj string")


def _write_documents(work_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    words = [f"w{j}" for j in range(40)]
    texts = []
    for i in range(60):
        base = words[(i // 3) % 20:(i // 3) % 20 + 18]
        # triples of near-duplicates: one word edited per copy
        texts.append(" ".join(base[:i % 3] + [f"x{i}"] + base[i % 3 + 1:]))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(60), pa.int64()),
        "text": texts,
        "lang": ["en"] * 60,
        "source": ["s"] * 60,
        "n_chars": [len(t) for t in texts],
    }), os.path.join(work_dir, "documents.parquet"))


def main(master: str, work_dir: str, out_path: str) -> None:
    sys.path.insert(0, ROOT)
    from uckg_spark import session

    levels: list[list] = []
    real_reuse = session.reuse

    def recording_reuse(df, eager=False):
        out = real_reuse(df, eager)
        lvl = out.storageLevel
        levels.append([lvl.useMemory, lvl.useDisk, lvl.replication])
        return out

    # patched before any operator module binds the name at import
    session.reuse = recording_reuse
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from uckg_spark.fixtures.pages import generate_pages
    from uckg_spark.operators.canonicalize import connected_components
    from uckg_spark.plans.graphalgs import hits_fixed, pagerank_fixed
    from uckg_spark.plans.kg_pipeline import KgDims, build_triples
    from uckg_spark.sources.pages import pages_df

    spark = session.build_session(
        app_name="cluster-parity", master=master, shuffle_partitions=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            # executors are fresh Python processes in their own JVMs
            "spark.executorEnv.PYTHONPATH": ROOT,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    _write_documents(work_dir)
    edges = _edges(spark)
    workloads = {
        "pagerank_fixed": lambda: pagerank_fixed(
            edges, iterations=4, checkpoint_every=2),
        "hits_fixed": lambda: hits_fixed(edges, iterations=2),
        "connected_components": lambda: connected_components(
            edges.select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst"))),
        "pair_audit": lambda: entry_mod.queries()["pair_audit"](
            spark, work_dir),
        "build_triples": lambda: build_triples(
            spark, pages_df(spark, generate_pages(40)), KgDims(spark)),
    }
    out = {"master": spark.sparkContext.master, "results": {},
           "levels": {}}
    for name, run in workloads.items():
        start = len(levels)
        rows = sorted(json.dumps(list(r), default=str)
                      for r in run().collect())
        out["results"][name] = rows
        out["levels"][name] = levels[start:]
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(*sys.argv[1:4])
