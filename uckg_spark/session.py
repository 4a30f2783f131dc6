"""SparkSession factory tuned for the KG-construction workload.

Defaults are written for the sandbox (local[N], single JVM) but every knob is
chosen for how it behaves on a 1000-executor cluster at 10^12-document scale:

- AQE on, including skew-join splitting: hot entities (popular CVEs, major
  vendors — see FIXTURES.md skew spec) concentrate mentions on a few keys;
  AQE splits oversized post-shuffle partitions at runtime.
- ``spark.sql.shuffle.partitions`` defaults to 2× cores locally; on a real
  cluster AQE coalesces from a deliberately high initial number, so we also
  set ``adaptive.coalescePartitions.initialPartitionNum``.
- Arrow enabled and batch-size bounded: the extraction / mention stages are
  ``mapInPandas`` kernels; 10k-row Arrow batches keep per-batch memory flat
  regardless of total scale (the reference's 2000-row REST pages play the
  same role, /root/reference/data_collection/cve_collection.py:342).
- Broadcast threshold raised to 64 MB: the linking dictionaries (~1.3M CPE
  names, ~1k CWEs, ~600 techniques — SURVEY.md §4) are a few hundred MB at
  most in full production form and are explicitly broadcast() anyway; the
  threshold covers the derived alias/posting tables.
"""

from __future__ import annotations

import os
import re

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def build_session(
    app_name: str = "uckg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("UCKG_SPARK_MASTER", "local[*]")
    cores = _master_cores(master)
    shuffle = shuffle_partitions or max(2 * cores, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(shuffle * 4, 64)),
        )
        # parallelismFirst (the Spark default) floors AQE coalescing at the
        # cluster's parallelism rather than the 64 MB advisory size alone.
        # With parallelismFirst=false a ~100 MB mention-scale shuffle
        # coalesces to 1-2 partitions and the co-mention joins run nearly
        # single-threaded — measured +80-110 s on the 720k-page corpus at
        # local[8] (a data-proportional SERIAL term that caps strong
        # scaling at any cluster size). Micro-task dispatch overhead for
        # tiny shuffles stays bounded by minPartitionSize (1 MB default).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("UCKG_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # PySpark 4's DataFrame-debugging origin capture adds 2+ Py4J
        # round-trips to EVERY Column/DataFrame API call (call-site info
        # for error messages). The emission DAG makes ~21k API calls per
        # build_triples; profiling showed 5.7 s of a 7.6 s plan
        # construction in py4j socket reads, halved by this flag. Errors
        # still raise with full JVM context — only the Python call-site
        # annotation is lost, which a production engine trades away.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


_LOCAL = re.compile(r"local(?:\[(\*|\d+)(?:,\d+)?\])?")
_LOCAL_CLUSTER = re.compile(r"local-cluster\[(\d+),(\d+),\d+\]")


def _parse_master(master: str) -> tuple[bool, int | None]:
    """``(one_jvm, cores)`` for a master URL. ``one_jvm``: the driver
    and every executor are one JVM (``local``, ``local[N]``,
    ``local[*]``, ``local[N,F]``), so no executor's blocks can be lost
    while the job lives. ``local-cluster[N,C,M]`` runs N separate
    executor JVMs of C cores each. ``cores`` is None when the URL does
    not state it (a real cluster manager)."""
    m = _LOCAL.fullmatch(master)
    if m:
        n = m.group(1)
        return True, (os.cpu_count() or 8) if n == "*" else int(n or 1)
    m = _LOCAL_CLUSTER.fullmatch(master)
    if m:
        return False, int(m.group(1)) * int(m.group(2))
    return False, None


def _master_cores(master: str) -> int:
    return _parse_master(master)[1] or 32


def reuse(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once for several consumers and cut its lineage
    — the one materialization policy of the package. Callers keep the
    cadence (which frames, which iterations); this decides the how,
    from the one input that matters: can executor blocks be lost?

    - One JVM (``local`` / ``local[...]``): ``localCheckpoint(eager)``.
      Its blocks can only vanish with the driver itself. Non-eager, it
      rides the first consumer's job, where ``persist`` adds an
      InMemoryRelation materialization barrier per frame (A/B at sf0.1:
      pagerank 3 iters persist 3.6-10.0 s, checkpoint 2.9-3.3 s; hits
      and structural_pairs the same shape). The truncated plan also
      stops Catalyst re-optimizing an ever-deeper stack in loops.
    - Any other master, ``local-cluster[...]`` included: executors are
      separate JVMs, a lost one takes its checkpoint blocks with it, and
      truncated lineage cannot recompute them. Persist at
      ``MEMORY_AND_DISK_2`` instead: a replica survives one executor
      loss and the lineage stays replayable. ``eager`` runs a
      ``count()`` to fill it now.

    A caller that owns the frame's lifetime may ``unpersist()`` it in
    either mode; on a local checkpoint that is a no-op."""
    one_jvm, _ = _parse_master(df.sparkSession.sparkContext.master)
    if one_jvm:
        return df.localCheckpoint(eager)
    df = df.persist(StorageLevel.MEMORY_AND_DISK_2)
    if eager:
        df.count()
    return df
