"""Per-layer tracing by Spark job group.

Each call into a public layer function runs in its own job group, so
Spark's own stage and SQL metrics can be attributed to the layer that
caused them. Attribution is by group, never by stage name: under AQE
stage names read ``$anonfun$withThreadLocalCaptured$2 at
CompletableFuture.java`` whatever the query.

Spans are sequential segments. Entering a layer closes the open
segment, so a layer function that returns a lazy DataFrame is charged
for the action its caller runs on the result, up to the next layer
call. Wall time is this process's clock; every other field comes from
Spark's status store:

- ``cpu_s``: executorCpuTime of the group's completed stages;
- ``jobs``: jobs submitted under the group;
- ``shuffle_bytes``: shuffle bytes written by those stages;
- ``spill_bytes``: memory plus disk bytes spilled by those stages.

Two more come from the SQL status store, over the executions whose jobs
ran under a traced group: the bytes of files each layer's scans read
("size of files read"), and the Python-worker counters (``udf.*``).
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager

FIELDS = ("wall_s", "cpu_s", "jobs", "shuffle_bytes", "spill_bytes")

# Scalar Python-eval plan nodes: they append one result column per input
# row, so their output row count is the number of rows sent to Python.
_SCALAR_PY_NODES = ("ArrowEvalPython", "BatchEvalPython")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_total(text: str) -> float:
    """Numeric total of one formatted SQL metric value, e.g.
    ``"total (min, med, max ...)\n10.6 s (2.6 s, ...)"``, ``"795.2 KiB"``
    or ``"100,000"``. The SQL status store keeps only these strings."""
    for line in text.strip().splitlines():
        m = re.match(r"([0-9][0-9.,]*)\s*([A-Za-z]*)", line.strip())
        if m:
            break
    else:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value


class Tracer:
    """Sequential layer spans over one SparkContext."""

    def __init__(self, spark, tag: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tag = tag
        self._n = 0
        self._open = None        # (layer, group, t0)
        self.segments = []       # (layer, group, wall_s)
        self.stream_runs = {}    # streaming run id -> layer

    def switch(self, layer: str | None) -> None:
        """Close the open segment; open one for ``layer`` (None: stop)."""
        now = time.perf_counter()
        if self._open is not None:
            name, group, t0 = self._open
            self.segments.append((name, group, now - t0))
            self._open = None
        if layer is None:
            self.sc.setJobGroup(f"{self.tag}:idle", "idle")
            return
        self._n += 1
        group = f"{self.tag}:{layer}:{self._n}"
        self.sc.setJobGroup(group, layer)
        self._open = (layer, group, time.perf_counter())

    @contextmanager
    def span(self, layer: str):
        """Run a block as one layer segment, then stop tracing."""
        self.switch(layer)
        try:
            yield
        finally:
            self.switch(None)

    def wrap(self, fn, layer: str):
        """``fn`` with a layer switch on entry; the segment stays open
        after it returns, so lazy results are charged to the layer."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.switch(layer)
            return fn(*args, **kwargs)
        return traced

    def note_stream(self, query, layer: str) -> None:
        """Streaming queries run their micro-batches under their own
        job group (the run id), not the caller's."""
        self.stream_runs[str(query.runId)] = layer

    # -- roll-up ---------------------------------------------------------
    def _groups(self):
        """(layer, group) pairs, including streaming run ids."""
        pairs = [(name, group) for name, group, _ in self.segments]
        pairs += [(layer, run) for run, layer in self.stream_runs.items()]
        return pairs

    def rollup(self) -> dict:
        """Per-layer fields plus the Python-worker counters."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        defaults = [getattr(store, f"stageList$default${i}")()
                    for i in range(2, 6)]
        stages = {}
        it = store.stageList(None, *defaults).iterator()
        while it.hasNext():
            s = it.next()
            if str(s.status()) != "COMPLETE":
                continue
            acc = stages.setdefault(s.stageId(), [0] * 4)
            acc[0] += s.executorCpuTime()
            acc[1] += s.shuffleWriteBytes()
            acc[2] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            acc[3] += s.shuffleWriteRecords()

        layers = {}
        job_layer = {}
        for name, _group, wall in self.segments:
            rec = layers.setdefault(name, _empty())
            rec["wall_s"] += wall
        for name, group in self._groups():
            rec = layers.setdefault(name, _empty())
            ids = list(tracker.getJobIdsForGroup(group))
            job_layer.update(dict.fromkeys(ids, name))
            rec["jobs"] += len(ids)
            seen = set()
            for j in ids:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in seen or sid not in stages:
                        continue
                    seen.add(sid)
                    cpu_ns, shuffle, spill, records = stages[sid]
                    rec["cpu_s"] += cpu_ns / 1e9
                    rec["shuffle_bytes"] += shuffle
                    rec["spill_bytes"] += spill
                    rec["shuffle_records"] += records
        return {"layers": layers, "udf": self._sql_metrics(job_layer,
                                                           layers)}

    def _sql_metrics(self, job_layer: dict, layers: dict) -> dict:
        """Adds each layer's scanned file bytes; returns the Python
        worker counters summed over every traced execution."""
        udf = {"rows_sent": 0, "bytes_sent": 0, "python_s": 0.0,
               "worker_start_s": 0.0}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            owners = {job_layer[int(k)] for k in _scala_keys(ex.jobs())
                      if int(k) in job_layer}
            if not owners:
                continue
            rec = layers[min(owners)]
            eid = ex.executionId()
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    v = values.get(m.accumulatorId())
                    if v.isEmpty():
                        continue
                    total = _metric_total(v.get())
                    name = m.name()
                    if name == "size of files read":
                        rec["files_read_bytes"] += total
                    elif name == "data sent to Python workers":
                        udf["bytes_sent"] += total
                    elif name == "time to run Python workers":
                        udf["python_s"] += total
                    elif name == "time to start Python workers":
                        udf["worker_start_s"] += total
                    elif (name == "number of output rows"
                          and node.name() in _SCALAR_PY_NODES):
                        udf["rows_sent"] += total
        return udf


def _empty() -> dict:
    """Reported fields plus the counts the extras are derived from."""
    return dict.fromkeys(FIELDS + ("files_read_bytes", "shuffle_records"),
                         0)


def _scala_keys(scala_map) -> list:
    keys = []
    it = scala_map.keys().iterator()
    while it.hasNext():
        keys.append(it.next())
    return keys
