"""Spans at the layer boundaries of the KG pipeline, kept in memory.

A span has a name, a start, an end, a parent and the run id. While a span
is open its id is the Spark job group, so the jobs it triggers carry it.
Jobs started from threads the program spawns (``linked_mentions`` counts
its caches from worker threads) carry no group; they go to the innermost
span whose interval holds their submission time, which is exact here
because the benchmark runs one operation at a time.

``instrument`` wraps the program's public functions at the module
boundaries (pages source, mention scan, KG plans, catalog, incremental
sync) so that calls made inside the program, e.g. from ``sync_kg``, get
spans too; nothing in the program changes. ``Tracer.collect`` reads
Spark's status store and SQL status store once, at the end, and attaches
stage metrics and per-node Python-worker / scan metrics to the spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time

# SQL plan-node metrics read per execution (name in the SQL store -> key)
_PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}
_SCAN_METRICS = {
    "scan time": "pages_scan_s",
    "size of files read": "pages_read_bytes",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a SQL-store metric string: ``1,000``, ``3.1 KiB``,
    ``29 ms`` or ``total (min, med, max ...)\\n19.6 s (...)``; sizes in
    bytes, times in seconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _scala_items(m):
    """(key, value) pairs of a scala Map seen through py4j."""
    it = m.iterator()
    while it.hasNext():
        t = it.next()
        yield t._1(), t._2()


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def job_totals(sc, windows: list[tuple[float, float]]) -> list[dict]:
    """Spark jobs and the bytes their tasks wrote to storage, for the
    jobs submitted within each ``(start, end)`` epoch window. Read
    from the status store, which Spark keeps with the UI off and with
    tracing off; call after the last window has closed."""
    try:  # let the listener bus deliver the last jobs' end events
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(1.0)
    store = sc._jsc.sc().statusStore()
    out = [{"jobs": 0, "written_bytes": 0} for _ in windows]
    stage_window: dict[int, int] = {}
    for j in _seq(store.jobsList(None)):
        sub = _opt(j.submissionTime())
        if sub is None:
            continue
        t = sub.getTime() / 1000.0  # whole milliseconds
        i = next((i for i, (a, b) in enumerate(windows)
                  if a - 0.001 <= t <= b), None)
        if i is None:
            continue
        out[i]["jobs"] += 1
        for sid in _seq(j.stageIds()):
            stage_window.setdefault(sid, i)
    jvm, gw = sc._jvm, sc._gateway
    stages = store.stageList(None, False, False, gw.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    for st in _seq(stages):
        i = stage_window.get(st.stageId())
        if i is not None and st.status().toString() == "COMPLETE":
            out[i]["written_bytes"] += st.outputBytes()
    return out


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"run_id": self.run_id, "span_id": sid, "parent": parent,
               "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid):
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}:{sid}",
                                self.spans[sid]["name"])

    # ---- attribution --------------------------------------------------

    def _span_at(self, t: float):
        """Innermost span open at epoch time ``t``."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def collect(self, spark) -> None:
        """Attach stage and SQL-node metrics of the current SparkContext
        to the spans (call once, after the last operation)."""
        if not self.enabled:
            return
        sc = spark.sparkContext
        prefix = self.run_id + ":"
        for s in self.spans:
            s.setdefault("jobs", [])
            s.setdefault("stages", [])
            s.setdefault("sql", [])
        store = sc._jsc.sc().statusStore()
        job_span: dict[int, dict] = {}
        stage_span: dict[int, dict] = {}
        for j in _seq(store.jobsList(None)):
            group = _opt(j.jobGroup())
            sub = _opt(j.submissionTime())
            span = None
            if group and group.startswith(prefix):
                span = self.spans[int(group[len(prefix):])]
            elif sub is not None:
                span = self._span_at(sub.getTime() / 1000.0)
            if span is None:
                continue
            jid = j.jobId()
            job_span[jid] = span
            span["jobs"].append({
                "job_id": jid, "failed_tasks": j.numFailedTasks(),
                "killed_tasks": j.numKilledTasks(),
                "grouped": bool(group and group.startswith(prefix))})
            for sid in _seq(j.stageIds()):
                stage_span.setdefault(sid, span)
        jvm, gw = sc._jvm, sc._gateway
        stages = store.stageList(None, False, False,
                                 gw.new_array(jvm.double, 0),
                                 jvm.java.util.ArrayList())
        for st in _seq(stages):
            status = st.status().toString()
            span = stage_span.get(st.stageId())
            if span is None or status not in ("COMPLETE", "FAILED"):
                continue
            span["stages"].append({
                "stage_id": st.stageId(), "attempt": st.attemptId(),
                "status": status, "tasks": st.numTasks(),
                "failed_tasks": st.numFailedTasks(),
                "killed_tasks": st.numKilledTasks(),
                "run_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "input_bytes": st.inputBytes(),
                "output_bytes": st.outputBytes(),
                "output_records": st.outputRecords(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.diskBytesSpilled(),
            })
        sql = spark._jsparkSession.sharedState().statusStore()
        for ex in _seq(sql.executionsList()):
            jids = [k for k, _v in _scala_items(ex.jobs())]
            span = next((job_span[k] for k in jids if k in job_span), None)
            if span is None:
                span = self._span_at(ex.submissionTime() / 1000.0)
            if span is None:
                continue
            span["sql"].append(self._execution_metrics(sql, ex))

    @staticmethod
    def _execution_metrics(sql, ex) -> dict:
        """Python-worker and pages-scan metrics of one SQL execution.
        A pages scan is a parquet scan node whose schema has ``html``
        (only the pages table has that column)."""
        eid = ex.executionId()
        values = {k: v for k, v in _scala_items(sql.executionMetrics(eid))}
        out = {"execution_id": eid, "mention_rows": 0.0, "pages_rows": 0.0}
        for node in _seq(sql.planGraph(eid).allNodes()):
            metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
            if "time to run Python workers" in metrics:
                names, rows_key = _PY_METRICS, "mention_rows"
            elif node.name().startswith("Scan parquet") and "html" in node.desc():
                names, rows_key = _SCAN_METRICS, "pages_rows"
            else:
                continue
            for name, key in names.items():
                if name in metrics and metrics[name] in values:
                    out[key] = out.get(key, 0.0) + parse_metric(
                        values[metrics[name]])
            acc = metrics.get("number of output rows")
            if acc in values:
                out[rows_key] += parse_metric(values[acc])
        return out

    def write_jsonl(self, path: str, host: dict) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "host": host}) + "\n")


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the program's public functions at the layer boundaries with
    spans for as long as the context is open; a disabled tracer wraps
    nothing."""
    if not tracer.enabled:
        yield
        return
    from uckg_spark.plans import incremental, kg_pipeline, triples
    from uckg_spark.sources import catalog, pages

    targets = [
        (pages, "read_pages", "sources.pages.read_pages"),
        (kg_pipeline, "scan_pages", "operators.mentions.scan_pages"),
        (kg_pipeline, "linked_mentions", "plans.kg_pipeline.linked_mentions"),
        (kg_pipeline, "build_triples", "plans.kg_pipeline.build_triples"),
        (kg_pipeline, "materialize_graph",
         "plans.kg_pipeline.materialize_graph"),
        (triples, "repair_and_dedup", "plans.triples.repair_and_dedup"),
        (incremental, "sync_kg", "plans.incremental.sync_kg"),
        (incremental, "scan_pages", "operators.mentions.scan_pages"),
        (incremental, "linked_mentions", "plans.kg_pipeline.linked_mentions"),
        (incremental, "build_triples", "plans.kg_pipeline.build_triples"),
        (incremental, "materialize_graph",
         "plans.kg_pipeline.materialize_graph"),
    ] + [
        (catalog.GraphCatalog, m, f"sources.catalog.{m}")
        for m in ("write_table", "merge_table", "delete_rows", "read_changes",
                  "read_table", "read_edges", "read_nodes", "write_edges",
                  "write_nodes")
    ]
    saved = []
    for owner, attr, name in targets:
        fn = getattr(owner, attr)
        saved.append((owner, attr, fn))

        def wrapped(*a, _fn=fn, _name=name, **kw):
            with tracer.span(_name):
                return _fn(*a, **kw)

        setattr(owner, attr, functools.wraps(fn)(wrapped))
    try:
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)
