"""The workloads: inputs, the job, its traced twin, and the correctness
gate.

Each workload object is used the same way by run.py:

    w.generate(root, seed)  seeded inputs (parquet) + their ledger
    w.expect()              the expected result, not computed by Spark
    w.job(spark, i, p)      one closed-loop job; returns its result
    w.check(result)         the correctness gate
    w.cleanup(i)            removes the job's output
    w.layer_metrics(...)    per-layer numbers from a traced job

`p` is a Probe. The plain probe adds nothing to the job. The traced
probe opens a span around each layer call and materializes the layer's
output, so the span covers the layer's execution and Spark's SQL
metrics can be read from the executed plan.
"""

from __future__ import annotations

import importlib
import io
import os
import shutil
from collections import Counter
from contextlib import contextmanager, nullcontext, redirect_stdout

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from perfbench import gen, ledger

PKG = "osm_pt_validator_spark"


# --------------------------------------------------------------------------
# probes
# --------------------------------------------------------------------------


class PlainProbe:
    """No spans, no materialization: the job as a user would run it."""

    tracer = None

    def layer(self, name: str, **attrs):
        return nullcontext()

    def mat(self, df, span=None):
        return df

    @contextmanager
    def patched(self):
        yield


class CountingProbe(PlainProbe):
    """A plain job whose layer calls each own a Spark job group, so the
    actions a layer submits can be counted without tracing it."""

    def __init__(self, sc):
        self.sc = sc
        self.jobs: Counter = Counter()
        self._n = 0

    @contextmanager
    def layer(self, name: str, **attrs):
        self._n += 1
        group = f"count:{self._n}"
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.jobs[name] += len(self.sc.statusTracker().getJobIdsForGroup(group))


class TracedProbe:
    """Spans + materialized boundaries + per-span SQL-metric ledgers."""

    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self._checkpoints = []

    def layer(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def mat(self, df, span=None):
        """Run df's own plan now and hand downstream the result."""
        ck = df.localCheckpoint(eager=True)
        span = span or self.tracer.current
        plan = ledger.executed_plan(df)
        span.attrs.setdefault("ledgers", []).append(ledger.summarize(self.spark, plan))
        self._checkpoints.append((span.span_id, ck))
        return ck

    def outputs(self, spans) -> list:
        ids = {s.span_id for s in spans}
        return [ck for sid, ck in self._checkpoints if sid in ids]

    def rows(self, df) -> int:
        """Row count of a materialized output, outside any span."""
        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench-aux", "row count")
        try:
            return df.count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def release(self) -> None:
        for _, ck in self._checkpoints:
            ck._jdf.queryExecution().analyzed().rdd().unpersist(True)
        self._checkpoints.clear()

    @contextmanager
    def patched(self):
        """Wrap the engine's layer functions, in their modules, with
        spans; restore them on exit."""
        mods = {m: importlib.import_module(f"{PKG}.{m}") for m in
                ("operators.set_stages", "operators.pipeline", "plans.checkpoint")}
        lazy = [
            ("operators.set_stages", "set_based_verdicts", "operators.set_stages"),
            ("operators.pipeline", "missing_node_errors", "operators.node_checks"),
            ("operators.pipeline", "validate_relation_nodes", "operators.node_checks"),
            ("operators.pipeline", "validate_way_and_stop_order", "operators.way_order"),
            ("operators.pipeline", "validate_route_masters", "operators.route_master"),
            ("operators.pipeline", "validate_all", "operators.pipeline"),
        ]
        saved = []

        def wrap_lazy(fn, name):
            def wrapped(*a, **kw):
                with self.layer(name) as s:
                    out = fn(*a, **kw)
                    if isinstance(out, tuple):
                        return (self.mat(out[0], s),) + out[1:]
                    return self.mat(out, s)
            return wrapped

        def wrap_stage(fn):
            def wrapped(spark, root, stage, *a, **kw):
                complete = mods["plans.checkpoint"].stage_complete(root, stage)
                with self.layer("plans.checkpoint", root=root, stage=stage,
                                resume=complete):
                    return fn(spark, root, stage, *a, **kw)
            return wrapped

        for mod, attr, name in lazy:
            saved.append((mods[mod], attr, getattr(mods[mod], attr)))
            setattr(mods[mod], attr, wrap_lazy(getattr(mods[mod], attr), name))
        ck = mods["plans.checkpoint"]
        saved.append((ck, "run_stage", ck.run_stage))
        ck.run_stage = wrap_stage(ck.run_stage)
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)


def _ledger_sum(spans, key: str) -> float:
    return float(sum(lg.get(key, 0.0) for s in spans for lg in s.attrs.get("ledgers", ())))


def _tasks(sc, job_ids) -> int:
    st = sc.statusTracker()
    n = 0
    for j in job_ids:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            n += si.numCompletedTasks if si else 0
    return n


# --------------------------------------------------------------------------
# pages -> extract -> mentions -> cell -> hot keys -> salted join -> heatmap
# --------------------------------------------------------------------------

CELL_RES = 16
HEAT_Z = 15
SALT = 8

_MENTION_RE = r"(STOP|ROUTE):(\d+)(?:@(-?\d+\.\d+),(-?\d+\.\d+))?"


def _sql_cell(lat: str, lon: str, res: int) -> str:
    n = 1 << res
    i = f"GREATEST(0, LEAST({n - 1}, CAST(floor((({lat}) + 90.0) / 180.0 * {n}) AS BIGINT)))"
    j = f"GREATEST(0, LEAST({n - 1}, CAST(floor((({lon}) + 180.0) / 360.0 * {n}) AS BIGINT)))"
    return f"(({i} << 32) | {j})"


def _sql_tile(lat: str, lon: str, z: int) -> tuple[str, str]:
    n = 1 << z
    x = f"GREATEST(0, LEAST({n - 1}, CAST(floor((({lon}) + 180.0) / 360.0 * {n}) AS BIGINT)))"
    y = (f"GREATEST(0, LEAST({n - 1}, CAST(floor((1.0 - ln(tan(radians({lat})) "
         f"+ 1.0/cos(radians({lat})))/pi())/2.0 * {n}) AS BIGINT)))")
    return x, y


class PagesHeatmap:
    name = "pages_heatmap"
    N_PAGES = 120_000
    MIN_JOBS = 8
    cores = 4

    def generate(self, root: str, seed: int) -> dict:
        self.root = root
        self.inputs = gen.make_pages(root, seed, self.N_PAGES)
        self.rows = self.inputs["pages"]
        return self.inputs

    def expect(self):
        """DuckDB replay of the whole chain over the generated parquet."""
        import duckdb

        x, y = _sql_tile("lat", "lon", HEAT_Z)
        sql = f"""
        WITH txt AS (
          SELECT url, array_to_string(
              regexp_extract_all(decode(html), '<p>(.*?)</p>', 1), chr(10)) AS text
          FROM read_parquet('{self.root}/pages/*.parquet')),
        raw AS (
          SELECT regexp_extract_all(text, '{_MENTION_RE}', 1) AS kinds,
                 regexp_extract_all(text, '{_MENTION_RE}', 3) AS lats,
                 regexp_extract_all(text, '{_MENTION_RE}', 4) AS lons
          FROM txt),
        m AS (
          SELECT CAST(lats[i] AS DOUBLE) AS lat, CAST(lons[i] AS DOUBLE) AS lon
          FROM raw, UNNEST(range(1, len(kinds) + 1)) AS t(i)
          WHERE kinds[i] = 'STOP'),
        s AS (SELECT {_sql_cell('s_lat', 's_lon', CELL_RES)} AS cell
              FROM read_parquet('{self.root}/stops/*.parquet'))
        SELECT {HEAT_Z} AS z, {x} AS x, {y} AS y, COUNT(*) AS n
        FROM m JOIN s ON {_sql_cell('m.lat', 'm.lon', CELL_RES)} = s.cell
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
        """
        con = duckdb.connect()
        con.execute(f"SET threads TO {self.cores}")
        try:
            self.expected = [tuple(int(v) for v in r) for r in con.sql(sql).fetchall()]
        finally:
            con.close()
        return self.expected

    def job(self, spark, i: int, p):
        from osm_pt_validator_spark.functions.geo import cell
        from osm_pt_validator_spark.sources.pages import extract_mentions, extract_text_udf
        from osm_pt_validator_spark.spatial.joins import hot_keys, salted_equi_join
        from osm_pt_validator_spark.spatial.tiles import failure_heatmap

        pages = spark.read.parquet(f"{self.root}/pages")
        stops = spark.read.parquet(f"{self.root}/stops")
        with p.layer("sources.extract"):
            text = pages.select("url", extract_text_udf(F.col("html")).alias("text"))
            mentions = p.mat(extract_mentions(text).filter(F.col("kind") == "stop"))
        with p.layer("functions.cell"):
            probe = p.mat(mentions.withColumn("cell", cell(F.col("lat"), F.col("lon"), CELL_RES)))
        if p.tracer is None:
            # hot_keys and the join both read the probe (joins.py docstring)
            probe = probe.persist(StorageLevel.MEMORY_AND_DISK)
        build = stops.withColumn("cell", cell(F.col("s_lat"), F.col("s_lon"), CELL_RES))
        try:
            with p.layer("spatial.hot_keys"):
                hot = p.mat(hot_keys(probe, "cell", self.inputs["hot_threshold"]))
            with p.layer("spatial.salted_join"):
                joined = p.mat(salted_equi_join(probe, build, "cell", salt_factor=SALT,
                                                hot=hot, probe_salt_col="url"))
            with p.layer("spatial.tiles"):
                heat = failure_heatmap(joined, HEAT_Z).collect()
        finally:
            if p.tracer is None:
                probe.unpersist(blocking=True)
        self._last = {"hot": hot, "joined": joined, "probe": probe}
        return sorted((r.tile_z, r.tile_x, r.tile_y, r.n) for r in heat)

    def check(self, result) -> bool:
        return result == self.expected

    def cleanup(self, i: int) -> None:
        pass

    def layer_metrics(self, spark, p, i: int, result) -> dict[str, float]:
        t, sc = p.tracer, spark.sparkContext
        spans = {s.name: s for s in t.spans}
        ex, hk, sj = spans["sources.extract"], spans["spatial.hot_keys"], spans["spatial.salted_join"]
        lg = lambda s, k: _ledger_sum([s], k)  # noqa: E731
        out = {
            "sources.extract.self_s": t.self_s(ex),
            "sources.extract.rows_in": lg(ex, "scan_rows"),
            "sources.extract.rows_out": float(p.rows(self._last["probe"])),
            "sources.extract.tasks": float(_tasks(sc, ex.jobs)),
            "functions.cell.self_s": t.self_s(spans["functions.cell"]),
            "spatial.hot_keys.self_s": t.self_s(hk),
            "spatial.hot_keys.rows_scanned": lg(hk, "scan_rows"),
            "spatial.hot_keys.hot_cells": float(p.rows(self._last["hot"])),
            "spatial.salted_join.self_s": t.self_s(sj),
            "spatial.salted_join.shuffle_bytes": lg(sj, "shuffle_bytes"),
            "spatial.salted_join.build_replication": lg(sj, "generate_rows") / gen.N_STOPS,
            "spatial.salted_join.partition_skew": max(
                (x.get("partition_skew", 0.0) for x in sj.attrs["ledgers"]), default=0.0),
            "spatial.salted_join.rows_out": float(p.rows(self._last["joined"])),
            "spatial.tiles.self_s": t.self_s(spans["spatial.tiles"]),
            "spatial.tiles.tiles_out": float(len(result)),
            "input.hot_share": self.inputs["hot_share"],
        }
        for k in ("python_boot_s", "python_init_s", "python_compute_s",
                  "python_bytes_sent", "python_bytes_received"):
            out[f"sources.extract.{k}"] = lg(ex, k)
        return out


# --------------------------------------------------------------------------
# validation: the batch job (day 1), then delta revalidation (day 2)
# --------------------------------------------------------------------------


def _stage_counts(spark, path: str) -> dict[int, int]:
    rows = spark.read.parquet(path).groupBy("stage_no").count().collect()
    return {int(r.stage_no): int(r["count"]) for r in rows}


def _validation_metrics(spark, p, out_roots: list[str]) -> dict[str, float]:
    """Per-layer numbers of the validation layers in a traced job."""
    t = p.tracer
    sel = lambda name: [s for s in t.spans if s.name == name]  # noqa: E731
    out = {}
    for layer in ("set_stages", "node_checks", "way_order", "route_master"):
        spans = sel(f"operators.{layer}")
        out[f"operators.{layer}.self_s"] = float(sum(t.self_s(s) for s in spans))
        if layer in ("set_stages", "node_checks"):
            out[f"operators.{layer}.rows_out"] = float(sum(p.rows(ck) for ck in p.outputs(spans)))
    wo = sel("operators.way_order")
    out["operators.way_order.rows_in"] = _ledger_sum(wo, "python_rows_in")
    for k in ("python_boot_s", "python_init_s", "python_compute_s", "python_bytes_sent"):
        out[f"operators.way_order.{k}"] = _ledger_sum(wo, k)
    pipe = [x for s in sel("operators.pipeline") for x in t.subtree(s)]
    out["operators.pipeline.shuffle_bytes"] = _ledger_sum(pipe, "shuffle_bytes")
    out["operators.pipeline.exchanges"] = _ledger_sum(pipe, "exchanges")

    ck = sel("plans.checkpoint")
    writes = [s for s in ck if not s.attrs["resume"]]
    execs = _executions(spark, writes)
    write_s = sum(d for _, d, kind in execs if kind == "write")
    out["plans.checkpoint.write_s"] = write_s
    out["plans.checkpoint.lineage_s"] = sum(t.self_s(s) for s in writes) - write_s
    out["plans.checkpoint.resume_s"] = float(sum(s.seconds for s in ck if s.attrs["resume"]))
    out["plans.checkpoint.stage_scans"] = float(sum(1 for _, _, kind in execs if kind == "scan"))
    out["plans.checkpoint.spark_jobs"] = float(sum(len(s.jobs) for s in writes))
    out["plans.checkpoint.bytes_written"] = float(sum(
        os.path.getsize(os.path.join(d, f))
        for r in out_roots for d, _, fs in os.walk(r) for f in fs))
    return out


def _executions(spark, spans):
    """(execution id, seconds, kind) for the SQL executions run inside
    run_stage spans: 'write' writes the stage's data, 'scan' reads the
    written stage back, 'other' is anything else."""
    jvm = spark._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.executionsList()):
        jobs = set(jvm.scala.jdk.javaapi.CollectionConverters.asJava(e.jobs()).keySet())
        for s in spans:
            if not jobs & set(s.jobs):
                continue
            path = "file:" + os.path.abspath(os.path.join(s.attrs["root"], s.attrs["stage"]))
            plan = e.physicalPlanDescription()
            done = e.completionTime()
            secs = (done.get().getTime() - e.submissionTime()) / 1e3 if done.isDefined() else 0.0
            if "InsertIntoHadoopFsRelationCommand" in plan and "__lineage" not in plan:
                out.append((e.executionId(), secs, "write"))
            elif f"[{path}]" in plan:
                out.append((e.executionId(), secs, "scan"))
            else:
                out.append((e.executionId(), secs, "other"))
    return out


def _fail_resume():
    raise RuntimeError("the day-1 verdicts checkpoint is missing")


class Validate:
    name = "validate"
    N_ROUTES = 5_000
    MIN_JOBS = 3
    cores = 4

    def generate(self, root: str, seed: int) -> dict:
        self.root = root
        self.inputs = gen.make_snapshots(f"{root}/osm", seed, self.N_ROUTES)
        self.rows = self.inputs["relations_old"] + self.inputs["relations_new"]
        return self.inputs

    def expect(self):
        self.expected = tuple({int(k): v for k, v in self.inputs[f"expected_{d}"].items()}
                              for d in ("old", "new"))
        return self.expected

    def out(self, i) -> str:
        return f"{self.root}/out-{i}"

    def cleanup(self, i) -> None:
        shutil.rmtree(self.out(i), ignore_errors=True)

    def job(self, spark, i, p):
        from osm_pt_validator_spark import jobs
        from osm_pt_validator_spark.operators.incremental import validate_incremental

        ck = importlib.import_module(f"{PKG}.plans.checkpoint")
        tables, out = f"{self.root}/osm", self.out(i)
        argv = ["--tables", tables, "--out", out, "--cpus", str(self.cores)]
        with p.patched():
            # day 1: the batch job over the old snapshot
            with p.layer("jobs.main"), redirect_stdout(io.StringIO()):
                rc = jobs.main(argv)
            day1 = _stage_counts(spark, f"{out}/verdicts")
            invalid = spark.read.parquet(f"{out}/invalid_relations").count()

            # day 2: revalidate what changed, starting from day 1's checkpoint
            nodes = spark.read.parquet(f"{tables}/nodes.parquet")
            ways = spark.read.parquet(f"{tables}/ways.parquet")
            old = spark.read.parquet(f"{tables}/relations.parquet")
            new = spark.read.parquet(f"{tables}/relations_new.parquet")
            prev = ck.run_stage(spark, out, "verdicts", _fail_resume)
            with p.layer("operators.incremental"):
                delta_v, _errors, ws = validate_incremental(old, new, nodes, ways)
                delta_v, ws = p.mat(delta_v), p.mat(ws)
            delta = ck.run_stage(spark, out, "delta", lambda: delta_v)
            touched = ws.filter(F.col("status") != "unchanged").select("relation_id")
            ck.run_stage(spark, out, "verdicts_next", lambda: prev.join(
                touched, "relation_id", "left_anti").unionByName(delta))
        self._ws = ws
        return rc, day1, invalid, _stage_counts(spark, f"{out}/verdicts_next")

    def check(self, result) -> bool:
        rc, day1, invalid, day2 = result
        old, new = self.expected
        total = sum(old.values())
        return (rc == int(total > 0) and day1 == old and invalid == total
                and day2 == new)

    def layer_metrics(self, spark, p, i, result) -> dict[str, float]:
        out = _validation_metrics(spark, p, [self.out(i)])
        t = p.tracer
        for name in ("jobs.main", "operators.incremental"):
            out[f"{name}.self_s"] = sum(t.self_s(s) for s in t.spans if s.name == name)
        redo = p.rows(self._ws.filter(F.col("status").isin("new", "changed")))
        out["operators.incremental.revalidated_share"] = redo / self.inputs["relations_new"]
        for k in ("changed_share", "new_share", "gone_share"):
            out[f"input.{k}"] = self.inputs[k]
        return out


WORKLOADS = {w.name: w for w in (PagesHeatmap, Validate)}
