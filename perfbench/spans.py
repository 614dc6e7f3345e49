"""Layer spans for the traced run.

A span wraps one call from the benchmark into an engine layer: its name
(the layer), start, end, parent span and the op it belongs to.  While a
span is open its id is the thread's Spark job group, so every job the call
launches is attributed to the innermost open span.  Spans stay in memory;
``harvest`` reads job, stage and SQL-execution data from the JVM status
stores once, after the run, so nothing is read from Spark while an op is
being timed.  With tracing off, ``span`` does nothing at all.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, session, enabled: bool):
        self.session = session      # anything with a ``spark`` attribute
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def op(self, family: str, kind: str):
        """Root span of one operation; ``kind`` is read/write/commit."""
        if not self.enabled:
            yield {}
            return
        self._op = len(self.spans)
        try:
            with self.span("op", family=family, kind=kind) as rec:
                yield rec
        finally:
            self._op = None

    @contextlib.contextmanager
    def span(self, layer: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.session.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", GROUP_PREFIX + str(sid))
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            sc.setLocalProperty(
                "spark.jobGroup.id",
                None if parent is None else GROUP_PREFIX + str(parent))

    # ----------------------------------------------------------- harvest
    def harvest(self) -> None:
        """Attribute jobs, stages, tasks, shuffle bytes, executor time and
        scanned rows to the span whose job group launched them."""
        for s in self.spans:
            s.update(jobs=0, stages=0, tasks=0, shuffle_read_bytes=0,
                     shuffle_write_bytes=0, executor_run_ms=0,
                     scanned_rows=0)
        self.jobs_by_time = 0
        if not self.enabled:
            return
        spark = self.session.spark
        sc = spark.sparkContext
        jvm = sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = sc._jsc.sc().statusStore()
        job_span: dict[int, int] = {}
        stage_span: dict[int, int] = {}
        jobs = sorted(conv.asJava(store.jobsList(None)), key=lambda j: j.jobId())
        for j in jobs:
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            if group is not None and group.startswith(GROUP_PREFIX):
                sid = int(group[len(GROUP_PREFIX):])
            else:
                # jobs from engine-owned threads carry no group: give them
                # to the innermost span open when they were submitted
                sub = j.submissionTime()
                sid = self._span_at(sub.get().getTime() / 1000.0
                                    if sub.isDefined() else None)
                if sid is None:
                    continue
                self.jobs_by_time += 1
            job_span[j.jobId()] = sid
            self.spans[sid]["jobs"] += 1
            for st in conv.asJava(j.stageIds()):
                # a stage that a later job reuses (SKIPPED there) belongs
                # to the first job that lists it
                stage_span.setdefault(int(st), sid)
        quantiles = getattr(store, "stageList$default$4")()
        for st in conv.asJava(store.stageList(None, False, False,
                                              quantiles, None)):
            sid = stage_span.get(st.stageId())
            if sid is None or st.status().toString() != "COMPLETE":
                continue
            s = self.spans[sid]
            s["stages"] += 1
            s["tasks"] += st.numTasks()
            s["shuffle_read_bytes"] += st.shuffleReadBytes()
            s["shuffle_write_bytes"] += st.shuffleWriteBytes()
            s["executor_run_ms"] += st.executorRunTime()
        sql = spark._jsparkSession.sharedState().statusStore()
        for ex in conv.asJava(sql.executionsList()):
            jids = [int(k) for k in conv.asJava(ex.jobs().keySet())]
            sids = {job_span[k] for k in jids if k in job_span}
            if len(sids) != 1:
                continue
            values = sql.executionMetrics(ex.executionId())
            rows = 0
            for node in conv.asJava(sql.planGraph(ex.executionId()).allNodes()):
                name = node.name()
                if not (name.startswith("Scan") or name.endswith("TableScan")):
                    continue
                for m in conv.asJava(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            rows += int(str(v.get()).replace(",", ""))
            self.spans[sids.pop()]["scanned_rows"] += rows

    def _span_at(self, wall: float | None) -> int | None:
        if wall is None:
            return None
        inside = [s for s in self.spans if s["op"] is not None
                  and s["wall_start"] <= wall <= s["wall_end"]]
        return max(inside, key=lambda s: s["wall_start"])["id"] if inside else None

    # ------------------------------------------------------------ tables
    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its (sequential) children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
                for s in self.spans}

    def layer_table(self) -> dict[str, dict[str, dict]]:
        """{op family: {layer: {calls, self_ms, jobs, stages, tasks, ...}}}
        over the spans of every op; self times of one family add up to the
        wall of its ops."""
        selft = self.self_times()
        table: dict[str, dict[str, dict]] = defaultdict(dict)
        for s in self.spans:
            if s["op"] is None:
                continue
            family = self.spans[s["op"]]["family"]
            row = table[family].setdefault(s["layer"], defaultdict(float))
            row["calls"] += 1
            row["self_ms"] += selft[s["id"]] * 1000.0
            for k in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                      "shuffle_write_bytes", "executor_run_ms",
                      "scanned_rows"):
                row[k] += s[k]
        return {f: {layer: dict(r) for layer, r in rows.items()}
                for f, rows in table.items()}
