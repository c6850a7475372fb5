"""SQL-metric ledger: Spark's own operator metrics, read from the
executed (AQE) plan after an action.

Walk: ``queryExecution().executedPlan()`` -> ``AdaptiveSparkPlanExec
.executedPlan()`` (the final plan) -> every ``*QueryStageExec.plan()``
-> children and subqueries. Reused exchanges are skipped, so a shared
stage counts once. Each metric is converted by its declared type:
``size`` to bytes, ``timing`` (ms) and ``nsTiming`` (ns) to seconds.

What the Python metrics cover (Spark 4.1, ``pyspark/worker.py``):
the worker stamps three wall-clock instants per task -- ``boot`` when
its main loop starts, ``init`` after the UDF and its imports are
deserialized, ``finish`` after the last output batch -- and the JVM
reports, summed over tasks:

* ``pythonBootTime``  -- task start to ``boot``;
* ``pythonInitTime``  -- ``boot`` to ``init``;
* ``pythonTotalTime`` -- ``init`` to ``finish``: the whole streaming
  loop, *including* the time the worker is blocked waiting for input
  rows from upstream operators and for the JVM to drain its output.

All three are wall-clock intervals of concurrently running tasks, not
CPU time, and two effects make their sums exceed a stage's
core-seconds:

* A reused worker (``spark.python.worker.reuse``, the default) stamps
  ``boot`` as soon as it finishes a task and then blocks until the
  next task arrives. On reused workers ``pythonBootTime`` reads 0 and
  ``pythonInitTime`` holds the worker's idle time in the pool, even
  across jobs; only a fresh worker's init is a cost.
* When two Python operators are pipelined in one stage (G1's
  ``ArrowEvalPython`` feeding G2's ``MapInPandas``), the downstream
  operator's ``pythonTotalTime`` contains the upstream operator's
  entire run.

Per-operator sums are therefore reported as they are and never added
across the operators of one stage.
"""

from __future__ import annotations

from collections import defaultdict

_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
_PY_OPS = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _metrics(jvm, node) -> dict[str, float]:
    out = {}
    for name, m in jvm.scala.jdk.javaapi.CollectionConverters.asJava(node.metrics()).items():
        v = float(m.value())
        kind = m.metricType()
        out[name] = v * _TIME_SCALE.get(kind, 1.0)
    return out


def plan_nodes(spark, plan) -> list[tuple[str, dict[str, float], object]]:
    """(node name, metrics, node) for every operator of an executed plan."""
    jvm = spark._jvm
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("ReusedExchange") or name.startswith("ReusedSubquery"):
            continue
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            out.append((name, {}, node))
            stack.append(node.plan())
            continue
        out.append((name, _metrics(jvm, node), node))
        stack.extend(_seq(jvm, node.children()))
        stack.extend(_seq(jvm, node.subqueries()))
    return out


def _rows_into(spark, node) -> float:
    """Rows an operator consumed: numOutputRows of the nearest operator
    below it that counts rows."""
    stack = _seq(spark._jvm, node.children())
    while stack:
        child = stack.pop(0)
        if child.nodeName().endswith("QueryStage"):
            stack.insert(0, child.plan())
            continue
        m = _metrics(spark._jvm, child)
        if "numOutputRows" in m:
            return m["numOutputRows"]
        stack[:0] = _seq(spark._jvm, child.children())
    return 0.0


def executed_plan(df):
    return df._jdf.queryExecution().executedPlan()


def summarize(spark, plan) -> dict[str, float]:
    """Fold one executed plan into per-layer-kind counters."""
    s: dict[str, float] = defaultdict(float)
    for name, m, node in plan_nodes(spark, plan):
        if name.startswith("Scan") or name.startswith("FileScan"):
            s["scan_rows"] += m.get("numOutputRows", 0.0)
            s["scans"] += 1
        elif name == "Exchange" or name.startswith("ShuffleExchange"):
            s["exchanges"] += 1
            s["shuffle_bytes"] += m.get("shuffleBytesWritten", 0.0)
        elif name == "ShuffleQueryStage":
            stats = node.mapStats()
            if stats.isDefined():
                sizes = list(stats.get().bytesByPartitionId())
                total = sum(sizes)
                if sizes and total and total > s.get("_skew_base", 0.0):
                    s["_skew_base"] = float(total)
                    s["partition_skew"] = max(sizes) / (total / len(sizes))
        elif name == "Generate":
            s["generate_rows"] += m.get("numOutputRows", 0.0)
        elif name.startswith(_PY_OPS):
            s["python_ops"] += 1
            s["python_rows_in"] += _rows_into(spark, node)
            s["python_rows_out"] += m.get("pythonNumRowsReceived", m.get("numOutputRows", 0.0))
            s["python_boot_s"] += m.get("pythonBootTime", 0.0)
            s["python_init_s"] += m.get("pythonInitTime", 0.0)
            s["python_compute_s"] += m.get("pythonTotalTime", 0.0)
            s["python_bytes_sent"] += m.get("pythonDataSent", 0.0)
            s["python_bytes_received"] += m.get("pythonDataReceived", 0.0)
    s.pop("_skew_base", None)
    return dict(s)


def self_test(spark, root: str) -> bool:
    """On a tiny query over a table of known size, the Scan's
    numOutputRows must equal the table's rows."""
    import os

    path = os.path.join(root, "ledger_selftest")
    n = 1234
    spark.range(n).selectExpr("id", "id % 7 AS k").coalesce(1).write.mode(
        "overwrite").parquet(path)
    df = spark.read.parquet(path).groupBy("k").count()
    df.collect()
    got = summarize(spark, executed_plan(df))
    return got.get("scans") == 1 and got.get("scan_rows") == n
