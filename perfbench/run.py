"""KG build-and-sync benchmark.

  python3 perfbench/run.py --workload build_webpages --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is one process on
``local[<cores>]``: it generates seeded inputs (untimed), sets the engine
up once (session start plus ``KgDims``), then repeats the workload's operation until
``--seconds`` of operations have run, checking every operation's output
against the pure-Python oracle. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics (from spans) with ``--trace 1``.
Artifacts (host, every sample, the span JSONL) go to ``perfbench/runs/``;
scratch data goes to ``perfbench/_work/`` and is removed at exit.
See ``perfbench/README.md`` for the workloads, metrics and span trees.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("build_webpages", "sync_drops")
# corpus sizes (pages); see BENCHMARK.json and README.md for why
WEB_PAGES = 1000
SYNC_PAGES = 150

T_PROCESS = time.perf_counter()
_ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- hygiene -------------------------------------------------------------


class Run:
    """Paths, host facts and the captured JVM log of one benchmark run."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.work = os.path.join(HERE, "_work", self.run_id)
        self.out_dir = os.path.join(HERE, "runs")
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)
        self.cores = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cores}]"
        self.jvm_log = os.path.join(self.work, "jvm.log")

    def isolate(self) -> None:
        """Keep every file the run writes inside the checkout, let the
        Python workers import the package (they start from a fresh
        interpreter), and send the JVM's stderr (its log4j console) to a
        file so ERROR lines can be counted. Our own messages keep going to
        the original stderr."""
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # the JVMs would otherwise keep a perf-counter file in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        saved = os.dup(2)
        fd = os.open(self.jvm_log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        sys.stderr = os.fdopen(saved, "w", buffering=1)

    def spark_conf(self) -> dict[str, str]:
        """Deployment settings only. The heap is fixed at 4 GB from the
        start (-Xms equal to the driver memory): a growing heap resized at
        different moments run to run and made build times bimodal."""
        big = "100000"  # keep every job/stage/execution in the status stores
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms4g -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.ui.retainedJobs": big,
            "spark.ui.retainedStages": big,
            "spark.sql.ui.retainedExecutions": big,
        }

    def host(self) -> dict:
        import platform

        import pyarrow
        import pyspark

        mem_kb = 0
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
        return {"nproc": self.cores, "mem_gb": round(mem_kb / 2**20, 1),
                "cpu": platform.processor() or platform.machine(),
                "python": platform.python_version(),
                "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                "master": self.master}

    def error_lines(self) -> int:
        with open(self.jvm_log, errors="replace") as f:
            return sum(1 for line in f if _ERROR_LINE.match(line))


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant: the JVM, the Python worker daemon and its workers. Live
    processes count through their own counters, exited and reaped ones
    through their parent's ``cutime``/``cstime``, so the difference of two
    readings is the CPU the whole tree spent between them."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except OSError:  # exited while we looked
            continue
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


# ---- engine set-up ---------------------------------------------------------


class Engine:
    """The SparkSession and KgDims the operations run against."""

    def __init__(self, run: Run, tracer):
        self.run, self.tracer = run, tracer
        self.spark = self.dims = None
        self.session_s = self.dims_s = 0.0

    def setup(self) -> None:
        """Session start plus KgDims: the fixed cost every job pays."""
        from uckg_spark.plans.kg_pipeline import KgDims
        from uckg_spark.session import build_session

        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            with self.tracer.span("session.build_session"):
                self.spark = build_session(
                    app_name="perfbench", master=self.run.master,
                    extra_conf=self.run.spark_conf())
            self.tracer.sc = self.spark.sparkContext
            t1 = time.perf_counter()
            with self.tracer.span("plans.kg_pipeline.KgDims"):
                self.dims = KgDims(self.spark)
            t2 = time.perf_counter()
        self.session_s, self.dims_s = t1 - t0, t2 - t1

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return _vm_hwm_mb(jvm) + py

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit
        (its Python workers exit with it)."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.tracer.sc = None
        if self.spark is not None:
            self.spark.stop()
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


# ---- output checks ---------------------------------------------------------


def graph_state(spark, cat) -> tuple[set, dict, int]:
    """Committed edges and nodes of a graph catalog, normalised like
    ``gen.expected_graph``; also the edge row count (duplicates show)."""
    rows = cat.read_edges(spark).select("subj", "pred", "obj").collect()
    edges = {tuple(r) for r in rows}
    nodes = {}
    for r in cat.read_nodes(spark).collect():
        props = r["props"] or {}
        nodes[r["uri"]] = (
            tuple(sorted(r["labels"] or ())),
            tuple(sorted((p, tuple(sorted(v))) for p, v in props.items())))
    return edges, nodes, len(rows)


def check_graph(spark, cat, expected) -> str | None:
    """None when the committed graph equals the expected one, else why."""
    want_edges, want_nodes = expected
    edges, nodes, n_rows = graph_state(spark, cat)
    if n_rows != len(edges):
        return f"{n_rows - len(edges)} duplicate edge rows"
    if edges != want_edges:
        return (f"edges differ: {len(edges - want_edges)} extra, "
                f"{len(want_edges - edges)} missing")
    if nodes.keys() != want_nodes.keys():
        return (f"node uris differ: {len(nodes.keys() - want_nodes.keys())} "
                f"extra, {len(want_nodes.keys() - nodes.keys())} missing")
    bad = sum(1 for u, v in want_nodes.items() if nodes[u] != v)
    return f"{bad} nodes differ in labels/props" if bad else None


# ---- workloads -------------------------------------------------------------


class Op:
    """One timed operation's record."""

    def __init__(self, index: int):
        self.index = index
        self.span_id = None
        self.seconds = 0.0
        self.cpu_s = 0.0
        self.window = (0.0, 0.0)  # epoch start and end of the timed part
        self.jobs = self.written_bytes = 0
        self.pages = 0
        self.triples = 0
        self.crawl_commit_s = 0.0
        self.sync_s = 0.0
        self.summary: dict = {}
        self.error: str | None = None


class BuildWorkload:
    """Full builds: pages parquet -> read_pages -> linked_mentions ->
    build_triples -> materialize_graph -> edges/nodes catalog commit, the
    path of ``jobs/build_kg.py`` with the scan and the plan construction
    as separate calls."""

    def __init__(self, run: Run):
        import gen
        from uckg_spark.oracle.kg_oracle import run_oracle

        self.run = run
        rows = gen.webpages(run.seed, WEB_PAGES)
        self.pages_path = os.path.join(run.work, "pages.parquet")
        self.html_bytes = gen.write_pages(rows, self.pages_path)
        _, triples = run_oracle(rows)
        self.n_pages, self.n_triples = len(rows), len(triples)
        self.expected = gen.expected_graph(triples)

    def prepare(self, engine: Engine) -> None:
        pass

    def op(self, engine: Engine, op: Op) -> None:
        from uckg_spark.plans import kg_pipeline as kg
        from uckg_spark.sources import pages as P
        from uckg_spark.sources.catalog import GraphCatalog

        spark, dims = engine.spark, engine.dims
        cat = GraphCatalog(os.path.join(self.run.work, f"graph-{op.index}"))
        c0, e0, t0 = tree_cpu_s(), time.time(), time.perf_counter()
        pages = P.read_pages(spark, self.pages_path)
        m = kg.linked_mentions(spark, pages, dims)
        triples = kg.build_triples(spark, pages, dims, mentions=m)
        nodes, edges = kg.materialize_graph(triples)
        cat.write_edges(edges)
        cat.write_nodes(nodes)
        op.seconds = time.perf_counter() - t0
        op.cpu_s, op.window = tree_cpu_s() - c0, (e0, time.time())
        m["mentions"].unpersist()
        for k in ("cve", "cwe", "capec", "cpe"):
            m[k].unpersist()
        op.pages, op.triples = self.n_pages, self.n_triples
        self.last_cat = cat

    def check(self, engine: Engine, op: Op) -> None:
        op.error = check_graph(engine.spark, self.last_cat, self.expected)

    def heads(self) -> dict:
        snap = self.last_cat.latest_snapshot("edges")
        return {"edges": len(snap["dirs"]) + len(snap["deletes"]),
                "mentions": 0, "pages": 0}


class SyncWorkload:
    """One pages catalog and one graph; set-up commits the corpus and runs
    the initial ``sync_kg``. An operation is one crawl drop (MoR re-crawl
    upserts, equality deletes, appended inserts) committed to the pages
    catalog, then ``sync_kg``."""

    def __init__(self, run: Run):
        import gen
        from uckg_spark.oracle.kg_oracle import OracleDictionaries

        self.run, self.gen = run, gen
        self._dicts = OracleDictionaries()
        rows = gen.dense_pages(run.seed, SYNC_PAGES)
        self.live = {r["url"]: r for r in rows}
        self.n_pages = len(rows)
        self.next_id = SYNC_PAGES
        self.pages_path = os.path.join(run.work, "pages.parquet")
        self.html_bytes = gen.write_pages(rows, self.pages_path)
        self._gold: dict[tuple, set] = {}
        self.expected = self._expected()
        self.n_triples = self._n_triples

    def _expected(self):
        """Oracle graph over the live pages; per-page oracle triples are
        cached by (url, html), and the global dedup is their union."""
        from uckg_spark.oracle.kg_oracle import run_oracle

        triples: set = set()
        for url, row in self.live.items():
            key = (url, row["html"])
            if key not in self._gold:
                self._gold[key] = run_oracle([row], self._dicts)[1]
            triples |= self._gold[key]
        self._n_triples = len(triples)
        return self.gen.expected_graph(triples)

    def prepare(self, engine: Engine) -> None:
        from uckg_spark.plans import incremental as inc
        from uckg_spark.sources import pages as P
        from uckg_spark.sources.catalog import GraphCatalog

        self.pages_cat = GraphCatalog(os.path.join(self.run.work, "pages-cat"))
        self.graph_cat = GraphCatalog(os.path.join(self.run.work, "graph"))
        self.pages_cat.write_table(
            "pages", P.read_pages(engine.spark, self.pages_path))
        inc.sync_kg(engine.spark, self.pages_cat, self.graph_cat, engine.dims)

    def op(self, engine: Engine, op: Op) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from uckg_spark.plans import incremental as inc
        from uckg_spark.sources import pages as P

        spark, gen = engine.spark, self.gen
        tracer = engine.tracer
        with tracer.span("drop_inputs"):
            upserts, deletes, inserts = gen.crawl_drop(
                self.run.seed, op.index, self.live, self.next_id)
            d = os.path.join(self.run.work, f"drop-{op.index}")
            os.makedirs(d)
            gen.write_pages(upserts, os.path.join(d, "upserts.parquet"))
            gen.write_pages(inserts, os.path.join(d, "inserts.parquet"))
            pq.write_table(pa.table({"url": deletes}),
                           os.path.join(d, "deletes.parquet"))
        c0, e0, t0 = tree_cpu_s(), time.time(), time.perf_counter()
        with tracer.span("crawl_commit"):
            self.pages_cat.merge_table(
                spark, "pages",
                P.read_pages(spark, os.path.join(d, "upserts.parquet")),
                ["url"], strategy="mor")
            self.pages_cat.delete_rows(
                "pages", spark.read.parquet(os.path.join(d, "deletes.parquet")),
                ["url"])
            self.pages_cat.write_table(
                "pages",
                P.read_pages(spark, os.path.join(d, "inserts.parquet")),
                mode="append")
        t1 = time.perf_counter()
        op.summary = inc.sync_kg(spark, self.pages_cat, self.graph_cat,
                                 engine.dims)
        t2 = time.perf_counter()
        op.cpu_s, op.window = tree_cpu_s() - c0, (e0, time.time())
        op.crawl_commit_s, op.sync_s, op.seconds = t1 - t0, t2 - t1, t2 - t0
        for r in upserts + inserts:
            self.live[r["url"]] = r
        for url in deletes:
            del self.live[url]
        self.next_id += len(inserts)

    def check(self, engine: Engine, op: Op) -> None:
        self.expected = self._expected()
        op.pages, op.triples = len(self.live), self._n_triples
        if op.summary.get("status") != "synced":
            op.error = f"sync status {op.summary.get('status')!r}"
        else:
            op.error = check_graph(engine.spark, self.graph_cat, self.expected)

    def heads(self) -> dict:
        def files(cat, table):
            snap = cat.latest_snapshot(table)
            return len(snap["dirs"]) + len(snap["deletes"]) if snap else 0

        return {"edges": files(self.graph_cat, "edges"),
                "mentions": files(self.graph_cat, "mentions"),
                "pages": files(self.pages_cat, "pages")}


# ---- metrics ----------------------------------------------------------------


def end_to_end(engine: Engine, ops: list[Op]) -> dict:
    """The gated metrics: set-up time, and what one operation costs in
    Spark jobs and bytes written. These repeat run to run; the
    operation's times do not on a shared host (see ``op_times``)."""
    ok = [o for o in ops if o.error is None]
    return {
        "setup_s": (engine.session_s + engine.dims_s, "s"),
        "spark_jobs": (median([o.jobs for o in ok]), "count"),
        "written_mb": (median([o.written_bytes for o in ok]) / 1e6, "MB"),
    }


def op_times(ops: list[Op], prefix: str = "") -> dict:
    """Wall and CPU time of one operation and the throughput they give.
    Printed by every run but not gated: with one operation a run, steal
    from the host's other guests moves them by a third or more."""
    ok = [o for o in ops if o.error is None]
    return {
        prefix + "op_s": (median([o.seconds for o in ok]), "s"),
        prefix + "cpu_s": (median([o.cpu_s for o in ok]), "s"),
        prefix + "pages_per_s":
            (median([o.pages / o.seconds for o in ok]), "1/s"),
        prefix + "triples_per_s":
            (median([o.triples / o.seconds for o in ok]), "1/s"),
    }


def _subtree(spans: list[dict], root: int) -> list[dict]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["span_id"])
    out, todo = [], [root]
    while todo:
        sid = todo.pop()
        out.append(spans[sid])
        todo.extend(kids.get(sid, []))
    return out


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _outermost(spans: list[dict], sub: list[dict], pred) -> list[dict]:
    """Spans of ``sub`` matching ``pred`` with no matching ancestor."""
    out = []
    for s in sub:
        if not pred(s["name"]):
            continue
        p = s["parent"]
        while p is not None and not pred(spans[p]["name"]):
            p = spans[p]["parent"]
        if p is None:
            out.append(s)
    return out


def self_times(spans: list[dict]) -> None:
    """Add ``self_s`` to every span: its duration minus the part its
    children cover (children of one span never overlap here)."""
    child = {s["span_id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += _dur(s)
    for s in spans:
        s["self_s"] = max(0.0, _dur(s) - child[s["span_id"]])


_COMMITS = ("write_table", "merge_table", "delete_rows", "write_edges",
            "write_nodes")


def per_layer(engine: Engine, ops: list[Op], heads: dict, root: dict) -> dict:
    spans = engine.tracer.spans
    ok = [o for o in ops if o.error is None]
    rows: list[dict] = []
    for o in ok:
        sub = _subtree(spans, o.span_id)
        stages = [st for s in sub for st in s["stages"]]
        sql = [x for s in sub for x in s["sql"]]
        jobs = sum(len(s["jobs"]) for s in sub)

        def total(key, xs=sql):
            return sum(x.get(key, 0.0) for x in xs)

        def durs(name):
            return sum(_dur(s) for s in _outermost(
                spans, sub, lambda n: n == name))

        link = _outermost(spans, sub,
                          lambda n: n == "plans.kg_pipeline.linked_mentions")
        in_link = {x["span_id"] for s in link for x in _subtree(spans, s["span_id"])}
        crawl = [s for s in sub if s["name"] == "crawl_commit"]
        in_crawl = {x["span_id"] for s in crawl
                    for x in _subtree(spans, s["span_id"])}
        commits = [s for s in _outermost(
            spans, sub, lambda n: n.startswith("sources.catalog."))
            if s["name"].split(".")[-1] in _COMMITS
            and s["span_id"] not in in_crawl]
        writes = [st for st in stages if st["output_bytes"] > 0]
        emit = [st for s in sub if s["span_id"] not in in_link
                for st in s["stages"] if st["output_bytes"] == 0]
        mention_rows = total("mention_rows")
        rows.append({
            "sources.pages.scan_s": total("pages_scan_s"),
            "sources.pages.input_mb": total("pages_read_bytes") / 1e6,
            "operators.mentions.py_start_s": total("py_start_s"),
            "operators.mentions.py_init_s": total("py_init_s"),
            "operators.mentions.py_run_s": total("py_run_s"),
            "operators.mentions.arrow_sent_mb": total("py_sent_bytes") / 1e6,
            "operators.mentions.arrow_returned_mb":
                total("py_returned_bytes") / 1e6,
            "operators.mentions.rows_per_page":
                mention_rows / max(1.0, total("pages_rows")),
            "plans.kg_pipeline.link_s": sum(_dur(s) for s in link),
            "plans.kg_pipeline.plan_build_s":
                durs("plans.kg_pipeline.build_triples"),
            "plans.kg_pipeline.jobs_per_op": jobs,
            "plans.kg_pipeline.stages_per_op": len(stages),
            "plans.triples.emit_dedup_task_s": sum(st["run_s"] for st in emit),
            "plans.triples.shuffle_mb":
                sum(st["shuffle_write_bytes"] for st in emit) / 1e6,
            "plans.triples.mention_rows_per_triple":
                mention_rows / max(1, o.triples),
            "sources.catalog.commit_s": sum(_dur(s) for s in commits),
            "sources.catalog.jobs_per_commit":
                sum(len(x["jobs"]) for s in commits
                    for x in _subtree(spans, s["span_id"]))
                / max(1, len(commits)),
            "sources.catalog.bytes_per_row":
                sum(st["output_bytes"] for st in writes)
                / max(1, sum(st["output_records"] for st in writes)),
            "sources.catalog.read_changes_s":
                durs("sources.catalog.read_changes"),
            "sources.catalog.merge_table_s": durs("sources.catalog.merge_table"),
            "sources.catalog.delete_rows_s": durs("sources.catalog.delete_rows"),
            "sources.catalog.crawl_commit_s": o.crawl_commit_s,
            "plans.incremental.sync_s": o.sync_s,
            "plans.incremental.changed_urls": o.summary.get("changed_urls", 0),
            "plans.incremental.edges_added": o.summary.get("edges_added", 0),
            "plans.incremental.edges_retracted":
                o.summary.get("edges_retracted", 0),
            "spark.gc_s": sum(st["gc_s"] for st in stages),
        })
    units = {"_s": "s", "_mb": "MB", "_per_page": "rows/page",
             "_per_triple": "rows/triple", "_per_row": "B/row",
             "_per_op": "count", "_per_commit": "count"}

    def unit(name):
        return next((u for suf, u in units.items() if name.endswith(suf)),
                    "count")

    out = {k: (median([r[k] for r in rows]), unit(k))
           for k in (rows[0] if rows else {})}
    all_stages = [st for s in spans for st in s.get("stages", [])]
    all_jobs = [j for s in spans for j in s.get("jobs", [])]
    out.update({
        "sources.catalog.edges_head_files": (heads["edges"], "count"),
        "sources.catalog.mentions_head_files": (heads["mentions"], "count"),
        "sources.catalog.pages_head_files": (heads["pages"], "count"),
        "plans.kg_pipeline.kgdims_s": (engine.dims_s, "s"),
        "spark.failed_tasks": (sum(j["failed_tasks"] + j["killed_tasks"]
                                   for j in all_jobs)
                               + sum(1 for st in all_stages
                                     if st["status"] == "FAILED"), "count"),
        "spark.error_log_lines": (engine.run.error_lines(), "count"),
        "ops.count": (len(ops), "count"),
        "ops.failed_op_share": (sum(1 for o in ops if o.error) / max(1, len(ops)),
                                "ratio"),
        "ops.last_op_s": (ok[-1].seconds if ok else 0.0, "s"),
        "ops.peak_rss_mb": (engine.peak_rss_mb(), "MB"),
        "trace.unaccounted_share": (root["self_s"] / _dur(root), "ratio"),
    })
    return out


# ---- main ---------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "uckg_spark", "__init__.py")):
        log(f"perfbench: no uckg_spark package under {ROOT}; run from a "
            "checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from spans import Tracer, instrument, job_totals

    run = Run(args.workload, args.seed, bool(args.trace))
    run.isolate()
    tracer = Tracer(run.run_id, run.trace)
    engine = Engine(run, tracer)
    ops: list[Op] = []
    marks: dict[str, float] = {}

    def mark(name: str) -> None:
        marks[name] = time.perf_counter() - T_PROCESS

    try:
        with instrument(tracer), tracer.span("run") as root:
            mark("start")
            with tracer.span("inputs"):
                wl = (SyncWorkload(run) if args.workload == "sync_drops"
                      else BuildWorkload(run))
            mark("inputs")
            engine.setup()
            mark("setup")
            with tracer.span("prepare"):
                wl.prepare(engine)
            mark("prepare")
            t_start = time.perf_counter()
            while True:
                op = Op(len(ops))
                ops.append(op)
                with tracer.span("op", index=op.index) as rec:
                    op.span_id = rec.get("span_id")
                    try:
                        wl.op(engine, op)
                    except Exception as e:  # one failed operation, counted
                        traceback.print_exc()
                        op.error = f"{type(e).__name__}: {e}"
                if op.error is None:
                    with tracer.span("check", index=op.index):
                        wl.check(engine, op)
                if op.error:
                    log(f"op {op.index} failed: {op.error}")
                    break
                if time.perf_counter() - t_start >= args.seconds:
                    break
            heads = wl.heads()
            mark("ops")
            with tracer.span("collect"):
                totals = job_totals(engine.spark.sparkContext,
                                    [o.window for o in ops])
                for o, t in zip(ops, totals):
                    o.jobs, o.written_bytes = t["jobs"], t["written_bytes"]
                tracer.collect(engine.spark)
        if run.trace:
            self_times(tracer.spans)
            metrics = {**per_layer(engine, ops, heads, root),
                       **op_times(ops, "ops.")}
            ungated = {}
        else:
            metrics = end_to_end(engine, ops)
            ungated = op_times(ops)
    finally:
        engine.close()
        mark("close")
        shutil.rmtree(run.work, ignore_errors=True)
    failed = sum(1 for o in ops if o.error)
    artifact = {
        "run_id": run.run_id, "workload": run.workload, "seed": run.seed,
        "seconds": args.seconds, "trace": run.trace, "host": run.host(),
        "input": {"pages": wl.n_pages,
                  "html_bytes": wl.html_bytes,
                  "expected_triples": wl.n_triples},
        "session_s": engine.session_s, "kgdims_s": engine.dims_s,
        "timeline_s": marks,
        "ops": [{"seconds": o.seconds, "cpu_s": o.cpu_s,
                 "crawl_commit_s": o.crawl_commit_s, "sync_s": o.sync_s,
                 "jobs": o.jobs, "written_bytes": o.written_bytes,
                 "pages": o.pages,
                 "triples": o.triples, "summary": o.summary,
                 "error": o.error} for o in ops],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "ungated": {k: {"value": v, "unit": u} for k, (v, u) in ungated.items()},
    }
    base = os.path.join(run.out_dir, run.run_id)
    with open(base + ".json", "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    if run.trace:
        tracer.write_jsonl(base + ".spans.jsonl", run.host())
    n = len([o for o in ops if not o.error])
    print(f"# {run.workload} seed={run.seed} ops={len(ops)} failed={failed} "
          f"(a percentile above the median needs >=10 samples beyond it; "
          f"with {n} samples only the median is reported)")
    for k, (v, u) in metrics.items():
        print(f"# {k} = {v:.6g} {u}")
    for k, (v, u) in ungated.items():
        print(f"# {k} = {v:.6g} {u} (not gated)")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
