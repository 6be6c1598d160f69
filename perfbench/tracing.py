"""Spans and counters recorded around the engine's public entry points.

Tracing is installed only for a traced run (`--trace 1`). It patches each
entry point at the name its caller looks up (for example
`dataux_spark.engine.execute_dml`, which the engine imported by name, and
`dataux_spark.dialect.rewrite`, which it reaches through the module). Spans
stay in memory; `Tracer.dump` writes them out when the run ends.

A span is (name, start, end, parent index, op index). A layer's self time
is its duration minus the time its direct child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# kinds of source pushdown offer, by Source method name
OFFER_KINDS = {
    "execute_full": "full",
    "execute_topk": "topk",
    "execute_agg": "agg",
    "execute_terms": "terms",
}


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, t0, t1, parent, op, attrs]
        self._stack: list[int] = []
        self.op = -1  # index of the timed op in progress, -1 outside ops
        self.bookkeeping_s = 0.0  # time the wrappers spend on themselves
        self._restore: list[tuple[object, str, object]] = []
        self.streaming_queries: list = []

    # ------------------------------------------------------------ spans
    def call(self, name: str, fn, args, kwargs, on_result=None):
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        rec = [name, 0.0, 0.0, parent, self.op, None]
        self.spans.append(rec)
        self._stack.append(idx)
        t0 = time.perf_counter()
        self.bookkeeping_s += t0 - b0
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            rec[5] = {"error": True}
            raise
        finally:
            t1 = time.perf_counter()
            rec[1], rec[2] = t0, t1
            self._stack.pop()
        if on_result is not None:
            rec[5] = on_result(out)
        self.bookkeeping_s += time.perf_counter() - t1
        return out

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.call(name, orig, args, kwargs, on_result)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def install(self) -> None:
        """Patch every layer boundary the benchmark measures."""
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        import dataux_spark.engine as engine_mod
        import dataux_spark.streaming.ops as streaming_ops
        from dataux_spark import dialect, streaming
        from dataux_spark.dml import TableStore
        from dataux_spark.sources import base as sources_base

        self.wrap(engine_mod.Engine, "sql", "engine.sql")
        self.wrap(dialect, "rewrite", "dialect.rewrite")
        self.wrap(engine_mod, "execute_dml", "dml.stmt")
        self.wrap(engine_mod, "execute_source_dml", "dml.stmt")
        self.wrap(TableStore, "optimize", "dml.stmt")
        self.wrap(TableStore, "vacuum", "dml.stmt")
        self.wrap(SparkSession, "sql", "catalyst.analyze")
        self.wrap(SparkSession, "table", "engine.table_lookup")
        self.wrap(DataFrame, "createOrReplaceTempView", "engine.view_registration")
        self.wrap(streaming_ops, "run_to_memory", "streaming.run")
        self.wrap(streaming, "run_to_memory", "streaming.run")
        self.wrap(DataStreamWriter, "start", "streaming.start",
                  on_result=self._keep_query)
        for cls in _source_classes(sources_base.Source):
            if "load" in vars(cls):
                self.wrap(cls, "load", "sources.load")
            for meth, kind in OFFER_KINDS.items():
                if meth in vars(cls):
                    self.wrap(cls, meth, f"sources.offer.{kind}",
                              on_result=_accepted)

    def _keep_query(self, q):
        self.streaming_queries.append((self.op, q))
        return None

    # ------------------------------------------------------------ output
    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def _accepted(result) -> dict:
    return {"accepted": result is not None}


def _source_classes(base) -> list[type]:
    import dataux_spark.sources.cassandra_style  # noqa: F401
    import dataux_spark.sources.es_style  # noqa: F401
    import dataux_spark.sources.file_source  # noqa: F401
    import dataux_spark.sources.memory  # noqa: F401
    import dataux_spark.sources.mongo_style  # noqa: F401
    import dataux_spark.sources.passthrough  # noqa: F401

    out, todo = [], [base]
    while todo:
        cls = todo.pop()
        out.append(cls)
        todo.extend(cls.__subclasses__())
    return out


def self_times(spans: list[list]) -> dict[int, float]:
    """Span index -> duration minus the time its direct children cover."""
    child = defaultdict(float)
    for name, t0, t1, parent, *_ in spans:
        if parent >= 0:
            child[parent] += t1 - t0
    return {i: (s[2] - s[1]) - child[i] for i, s in enumerate(spans)}


class StageMetrics:
    """Executor metrics of the Spark jobs one op ran, found through its
    job group: setJobGroup -> statusTracker().getJobIdsForGroup ->
    statusStore().lastStageAttempt(stage)."""

    FIELDS = ("jobs", "stages", "tasks", "cpu_s", "run_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb")

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(self.FIELDS, 0.0)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stages = set()
        for jid in self.job_ids(group):
            info = tracker.getJobInfo(jid)
            out["jobs"] += 1
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        mb = 1024.0 * 1024.0
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["run_s"] += st.executorRunTime() / 1e3
            out["shuffle_read_mb"] += (st.shuffleRemoteBytesRead()
                                       + st.shuffleLocalBytesRead()) / mb
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / mb
        return out


def python_udf_ms(df) -> float:
    """Sum of the `pythonTotalTime` SQL metrics in `df`'s executed plan,
    which operators running Python UDFs report, in milliseconds."""
    total, todo = 0.0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":  # leaf nodes wrapping a plan
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("pythonTotalTime"):
            metric = metrics.apply("pythonTotalTime")
            scale = 1e-6 if metric.metricType() == "nsTiming" else 1.0
            total += metric.value() * scale
        kids = node.children()
        for i in range(kids.size()):
            todo.append(kids.apply(i))
    return total


def layer_metrics(tracer, per_op, workload, setup, load_start, load_end,
                  fail_frac, peak_rss) -> dict:
    """Per-layer metrics of the timed ops: `per_op` holds each op's wall,
    stage metrics and harness-measured times; `setup` the set-up phases."""
    spans = tracer.spans
    n_ops = max(len(per_op), 1)
    in_ops = [i for i, s in enumerate(spans) if s[4] >= 0]
    selft = self_times(spans)

    def outermost(name):  # spans of `name` not nested in another `name`
        out = []
        for i in in_ops:
            if spans[i][0] != name:
                continue
            p = spans[i][3]
            while p >= 0 and spans[p][0] != name:
                p = spans[p][3]
            if p < 0:
                out.append(i)
        return out

    def total_ms(name):
        return sum(spans[i][2] - spans[i][1] for i in outermost(name)) * 1e3

    def count(name):
        return sum(1 for i in in_ops if spans[i][0] == name)

    def root_of(i, name):
        while i >= 0 and spans[i][0] != name:
            i = spans[i][3]
        return i

    stmts = outermost("engine.sql")
    n_stmt = max(len(stmts), 1)
    tiers = dict.fromkeys(("full", "topk", "agg", "terms", "polyfill"), 0)
    answered = {}
    for i in in_ops:
        name, attrs = spans[i][0], spans[i][5]
        if name.startswith("sources.offer.") and attrs and attrs.get("accepted"):
            answered.setdefault(root_of(i, "engine.sql"), name.rsplit(".", 1)[1])
    for s in stmts:
        if s in answered:
            tiers[answered[s]] += 1
    has_analyze = {root_of(i, "engine.sql") for i in in_ops if spans[i][0] == "catalyst.analyze"}
    has_dml = {root_of(i, "engine.sql") for i in in_ops if spans[i][0] == "dml.stmt"}
    tiers["polyfill"] = sum(1 for s in stmts
                            if s not in answered and s in has_analyze and s not in has_dml)
    offers = [i for i in in_ops if spans[i][0].startswith("sources.offer.")]
    accepts = sum(1 for i in offers if (spans[i][5] or {}).get("accepted"))
    batches = 0
    for op, q in tracer.streaming_queries:
        if op >= 0:
            batches += len(q.recentProgress)
    ex = {k: sum(p.get(k, 0.0) for p in per_op) for k in
          ("jobs", "stages", "tasks", "cpu_s", "run_s", "shuffle_read_mb",
           "shuffle_write_mb", "spill_mb", "python_udf_ms", "eager_jobs", "plan_s",
           "overhead_s")}
    wall = sum(p["wall_s"] for p in per_op)
    ws = workload.write_stats()
    return {
        "engine.sql_ms": (total_ms("engine.sql") / n_ops, "ms/op"),
        "engine.self_ms": (sum(selft[i] for i in stmts) * 1e3 / n_ops, "ms/op"),
        "engine.table_lookups": (count("engine.table_lookup") / n_stmt, "count/stmt"),
        "engine.view_registrations": (count("engine.view_registration") / n_stmt,
                                      "count/stmt"),
        **{f"engine.tier.{k}": (v / n_ops, "count/op") for k, v in tiers.items()},
        "dialect.rewrite_ms": (total_ms("dialect.rewrite") / n_ops, "ms/op"),
        "dialect.calls": (count("dialect.rewrite") / n_ops, "count/op"),
        "sources.load_ms": (total_ms("sources.load") / n_ops, "ms/op"),
        "sources.pushdown_ms": (sum(spans[i][2] - spans[i][1] for i in offers) * 1e3 / n_ops,
                                "ms/op"),
        "sources.offers": (len(offers) / n_ops, "count/op"),
        "sources.accepts": (accepts / n_ops, "count/op"),
        "sources.accept_ratio": (accepts / len(offers) if offers else 0.0, "ratio"),
        "catalyst.analyze_ms": (total_ms("catalyst.analyze") / n_ops, "ms/op"),
        "catalyst.plan_ms": (ex["plan_s"] * 1e3 / n_ops, "ms/op"),
        "exec.jobs": (ex["jobs"] / n_ops, "count/op"),
        "exec.stages": (ex["stages"] / n_ops, "count/op"),
        "exec.tasks": (ex["tasks"] / n_ops, "count/op"),
        "exec.cpu_s": (ex["cpu_s"] / n_ops, "s/op"),
        "exec.run_s": (ex["run_s"] / n_ops, "s/op"),
        "exec.shuffle_read_mb": (ex["shuffle_read_mb"] / n_ops, "MB/op"),
        "exec.shuffle_write_mb": (ex["shuffle_write_mb"] / n_ops, "MB/op"),
        "exec.spill_mb": (ex["spill_mb"] / n_ops, "MB/op"),
        "exec.python_udf_ms": (ex["python_udf_ms"] / n_ops, "ms/op"),
        "exec.cpu_per_wall": (ex["cpu_s"] / wall if wall else 0.0, "ratio"),
        "operators.construct_ms": (total_ms("operators.construct") / n_ops, "ms/op"),
        "operators.eager_jobs": (ex["eager_jobs"] / n_ops, "count/op"),
        "streaming.run_ms": (total_ms("streaming.run") / n_ops, "ms/op"),
        "streaming.batches": (batches / n_ops, "count/op"),
        "dml.stmt_ms": (total_ms("dml.stmt") / n_ops, "ms/op"),
        "dml.files_written": (ws.get("files_written", 0.0) / n_ops, "count/op"),
        "dml.files_linked": (ws.get("files_linked", 0.0) / n_ops, "count/op"),
        "dml.bytes_written": (ws.get("bytes_written", 0.0) / n_ops, "B/op"),
        "dml.versions_live": (ws.get("versions_live", 0.0), "count"),
        "dml.write_amp": (ws.get("write_amp", 0.0), "ratio"),
        "dml.space_amp": (ws.get("space_amp", 0.0), "ratio"),
        "setup.session_s": (setup["session_s"], "s"),
        "setup.sources_s": (setup.get("sources", 0.0), "s"),
        "setup.fixtures_s": (setup.get("fixtures", 0.0), "s"),
        "host.load1": (load_start, "load"),
        "host.load1_end": (load_end, "load"),
        "trace.overhead_frac": (ex["overhead_s"] / wall if wall else 0.0, "ratio"),
        "run.fail_frac": (fail_frac, "ratio"),
        "run.peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
