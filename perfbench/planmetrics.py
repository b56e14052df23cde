"""Plan metrics read from Spark's own stores, without a profiler.

``PlanWindow`` marks the newest SQL execution and job when it opens; on
``harvest`` it walks every SQL execution started since, through the SQL
status store (``sharedState().statusStore()``, populated with the UI
disabled), and sums named node metrics over the final (AQE) plan graphs.
Jobs are counted from the application status store, which also sees jobs
launched outside any SQL execution, such as a range sampler started by
``df.rdd.getNumPartitions()``.

Row counts are exact.  Byte metrics arrive as Spark's formatted strings
(three significant digits) and are converted to MB.
"""

from __future__ import annotations

_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40}


def _number(text: str) -> float:
    """Value of a metric string: '38,867', '9.8 MiB' or
    'total (min, med, max ...)\\n9.8 MiB (...)'."""
    head = text.split("\n")[-1].split(" (")[0].strip()
    parts = head.split()
    value = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


def _last_job_id(jsc) -> int:
    jobs = jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())),
               default=-1)


class PlanWindow:
    """Collects the plan metrics of everything run between open and harvest."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._exec_mark = self._last_execution_id()
        self._job_mark = _last_job_id(spark.sparkContext._jsc)

    def _last_execution_id(self) -> int:
        execs = self._store.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())),
                   default=-1)

    def jobs(self) -> int:
        """Jobs launched since the window opened."""
        return _last_job_id(self._spark.sparkContext._jsc) - self._job_mark

    def harvest(self, input_marker: str) -> dict:
        """Sums over the window.  ``input_marker`` picks out the scans of
        the workload's input: a scan counts when its plan description
        contains it."""
        sums = {"scan_rows": 0.0, "python_in": 0.0, "python_out": 0.0,
                "shuffle_bytes": 0.0, "kernel_turns": 0.0}
        execs = self._store.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= self._exec_mark:
                continue
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name, desc = node.name(), node.desc()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    key = _classify(name, desc, m.name(), input_marker)
                    if key:
                        sums[key] += _number(v.get())
        sums["jobs"] = self.jobs()
        return sums


def _classify(node: str, desc: str, metric: str, input_marker: str):
    if metric == "number of output rows":
        if node.startswith("Scan") and input_marker in desc:
            return "scan_rows"
        # the extraction kernel is the Arrow map that emits text_md
        if node == "MapInArrow" and "text_md#" in desc:
            return "kernel_turns"
    elif metric == "data sent to Python workers":
        return "python_in"
    elif metric == "data returned from Python workers":
        return "python_out"
    elif metric == "shuffle bytes written":
        return "shuffle_bytes"
    return None
