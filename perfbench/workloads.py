"""The three benchmark workloads.

Each measures the package from outside, by timing calls into its public
functions; each op's output is checked after its timer stops.

* ``etl_ingest`` -- one op is one ``ETLOrchestrator.run_pipeline()`` over
  the seeded six-source landing set, into a warehouse the benchmark owns.
* ``query_loops`` -- registry queries whose time goes to eager jobs and
  driver-side work before their final action.
* ``query_exec`` -- registry queries whose final action dominates.

A query op is: build (the registry call), force the physical plan, then
execute to the noop sink.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext

import datagen
from pyspark.sql import Observation
from pyspark.sql import functions as F

from etl_pipeline_orchestration_spark import orchestrator
from etl_pipeline_orchestration_spark.loader import WarehouseLoader
from etl_pipeline_orchestration_spark.metrics import PipelineStatus
from etl_pipeline_orchestration_spark.sources import readers
from report import OpResult


class Workload:
    """Shared op timing; spans and JVM gauges only once a tracer is
    installed and enabled."""

    name = ""

    def __init__(self, spark, work: str, seed: int, root: str):
        self.spark, self.work, self.seed, self.root = spark, work, seed, root
        self.tracer = None

    def install(self, tracer) -> None:
        self.tracer = tracer

    def _tracing(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def _span(self, name: str):
        return self.tracer.span(name) if self._tracing() else nullcontext()

    @contextmanager
    def _timed(self, res: OpResult):
        """Time the block as the op; when tracing, wrap it in the op's
        root span and record JVM GC time and persisted RDDs."""
        on = self._tracing()
        gc0 = _jvm_gc_s(self.spark) if on else 0.0
        res.started = time.time()
        t = time.perf_counter()
        try:
            with self.tracer.span("op", root=True) if on else nullcontext():
                yield
        finally:
            res.latency_s = time.perf_counter() - t
            if on:
                jsc = self.spark.sparkContext._jsc
                res.layers["spark.gc_s"] = _jvm_gc_s(self.spark) - gc0
                res.layers["spark.persisted_rdds_after"] = jsc.getPersistentRDDs().size()


def _jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000.0


class EtlIngest(Workload):
    """Write-heavy six-source ingest; never calls the query registry."""

    name = "etl_ingest"
    scale = 100  # x the reference row counts (5,100 rows over six sources)
    dirty_share = 0.01  # of each source's rows: nulled, and again duplicated
    nominal_op_s = 4.0  # sizes the op list from --seconds
    # Measured on 4 cores: op latency falls from ~18 s (cold) through ~7
    # and ~5.5 s to within noise of its steady ~4.2 s by the fifth
    # pipeline run, and stays there.
    warm_ops = 5

    TABLE_OF = {
        "fact_sales": "sales",
        "dim_customers": "customers",
        "fact_finance": "finance",
        "dim_inventory": "inventory",
        "dim_employees": "hr",
        "fact_web_events": "weblogs",
    }

    def __init__(self, spark, work: str, seed: int, root: str):
        super().__init__(spark, work, seed, root)
        self.pipeline_runs = 0

    def config(self) -> dict:
        return {"scale": self.scale, "rows_per_op": self.rows_per_op,
                "dirty_rows": self.dirty_rows}

    def setup(self) -> None:
        paths, expected, self.dirty_rows = datagen.write_landing(
            os.path.join(self.work, "landing"), self.seed, self.scale, self.dirty_share
        )
        self.rows_per_op = sum(n_in for n_in, _ in expected.values())
        self.warehouse = os.path.join(self.work, "warehouse")
        sources = orchestrator.default_sources(paths)
        self.expected = {
            s.display_name: (s.target_table, *expected[self.TABLE_OF[s.target_table]])
            for s in sources
        }
        self.orch = orchestrator.ETLOrchestrator(
            self.spark, sources, self.warehouse, parallel=True, quiet=True
        )
        self.reader = WarehouseLoader(self.spark, self.warehouse)

    def op_list(self, seconds: int) -> list[str]:
        return ["pipeline"] * max(1, round(seconds / self.nominal_op_s))

    def warm_up(self) -> list[OpResult]:
        """Run ``warm_ops`` pipelines, a fixed count so every run and every
        commit warms up the same way."""
        return [self.run_op("pipeline") for _ in range(self.warm_ops)]

    def run_op(self, kind: str) -> OpResult:
        res = OpResult(kind)
        since = time.time()
        with self._timed(res):
            run = self.orch.run_pipeline()
        self.pipeline_runs += 1
        res.error = self.check(run)
        durations = [m.duration_seconds for m in run.metrics]
        res.layers.update({
            "sources.rows_in": sum(m.records_in for m in run.metrics),
            "operators.rows_dropped": sum(m.records_dropped for m in run.metrics),
            "orchestrator.source_s_max": max(durations),
            "orchestrator.overlap": sum(durations) / res.latency_s,
        })
        if self._tracing():
            files, size = self.written(since)
            res.layers.update({"loader.files_written": files, "loader.bytes_written": size})
        return res

    def check(self, run) -> str | None:
        """Every source SUCCESS with the reference rule's in/out counts,
        warehouse read-back equal to records_out, and six new
        pipeline_health rows per pipeline run."""
        problems = []
        for m in run.metrics:
            table, n_in, n_out = self.expected[m.source_name]
            if m.status != PipelineStatus.SUCCESS.value:
                problems.append(f"{m.source_name}: {m.status} {m.error_message}")
            elif (m.records_in, m.records_out) != (n_in, n_out):
                problems.append(
                    f"{m.source_name}: in/out {m.records_in}/{m.records_out} != {n_in}/{n_out}"
                )
        tables = [t for t, _, _ in self.expected.values()] + ["pipeline_health"]
        with ThreadPoolExecutor(len(tables)) as pool:
            counts = dict(zip(tables, pool.map(self.reader.table_count, tables)))
        for m in run.metrics:
            table, _, n_out = self.expected[m.source_name]
            if counts[table] != n_out:
                problems.append(f"{table}: read back {counts[table]} != {n_out}")
        if counts["pipeline_health"] != 6 * self.pipeline_runs:
            problems.append(
                f"pipeline_health has {counts['pipeline_health']} rows after "
                f"{self.pipeline_runs} runs"
            )
        return "; ".join(problems) or None

    def install(self, tracer) -> None:
        super().install(tracer)
        for fn in ("read_sales_csv", "read_customers_json", "read_finance_sqlite",
                   "read_inventory_excel", "read_hr_flat_file", "read_web_logs"):
            tracer.wrap(readers, fn, "sources.read")
        tracer.wrap(orchestrator, "clean_common", "operators.clean")
        tracer.wrap(orchestrator, "apply_transform", "operators.transform")
        tracer.wrap(
            WarehouseLoader, "load", "loader.load",
            label=lambda _self, _df, table, *a, **k: (
                "loader.health_load" if table == "pipeline_health" else "loader.load"
            ),
        )

    def written(self, since: float) -> tuple[int, int]:
        """(data files, bytes) the warehouse gained since ``since``."""
        files = size = 0
        for d, _, names in os.walk(self.warehouse):
            for n in names:
                p = os.path.join(d, n)
                if n.startswith("part-") and os.path.getmtime(p) >= since:
                    files += 1
                    size += os.path.getsize(p)
        return files, size


def _load_check_oracle(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryWorkload(Workload):
    """Registry queries over generated corpus tables; one op runs one
    query."""

    queries: tuple[str, ...] = ()
    sf = 0.0
    nominal_pass_s = 1.0
    # The tables are a fixed corpus, like the project's test corpus: the
    # iterative queries' job counts depend on the data, so a per-seed
    # corpus would add data variance to every run. The seed sets the
    # query order.
    corpus_seed = 42

    def __init__(self, spark, work: str, seed: int, root: str):
        super().__init__(spark, work, seed, root)
        self.reference: dict[str, tuple[int, int]] = {}
        self.wrong: set[str] = set()  # queries that differed from their oracle

    def config(self) -> dict:
        return {"sf": self.sf, "queries": len(self.queries)}

    def setup(self) -> None:
        from etl_pipeline_orchestration_spark.plans import registry

        self.registry = registry
        registry.load_all()
        self.data = os.path.join(self.work, "data")
        datagen.write_tables(self.data, self.corpus_seed, self.sf)
        self.oracle = self._oracle_rows()

    def _oracle_rows(self) -> dict[str, tuple[list[str], list]]:
        import duckdb

        self.check_oracle = _load_check_oracle(self.root)
        con = duckdb.connect()
        for t in self.check_oracle.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        out = {}
        for name in self.queries:
            sql = self.registry.ORACLES.get(name)
            if sql is not None:
                res = con.execute(sql)
                out[name] = ([d[0] for d in res.description], res.fetchall())
        con.close()
        return out

    def op_list(self, seconds: int) -> list[str]:
        passes = max(1, round(seconds / self.nominal_pass_s))
        return [q for p in range(passes) for q in self._pass_order(p + 1)]

    def _pass_order(self, p: int) -> list[str]:
        order = list(self.queries)
        random.Random(self.seed * 1000 + p).shuffle(order)
        return order

    def warm_up(self) -> list[OpResult]:
        """One pass over the queries, each collected and compared with its
        DuckDB oracle; the observed row count and hash of each becomes the
        reference its timed ops must reproduce."""
        return [self.run_op(q, collect=True) for q in self._pass_order(0)]

    def run_op(self, name: str, collect: bool = False) -> OpResult:
        res = OpResult(name)
        obs = Observation()
        rows = None
        try:
            with self._timed(res):
                with self._span("plans.build"):
                    df = self.registry.QUERIES[name](self.spark, self.data)
                cols = df.columns
                # Row count and order-insensitive hash ride the final action.
                df = df.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64(*[F.col(f"`{c}`") for c in cols]).cast("decimal(38,0)"))
                    .alias("h"),
                )
                with self._span("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
                with self._span("operators.exec"):
                    if collect:
                        rows = [tuple(r) for r in df.collect()]
                    else:
                        df.write.format("noop").mode("overwrite").save()
            res.error = self.check(name, obs, cols, rows)
        except Exception as e:  # an op that raises counts as failed
            res.error = f"{name}: {e}"[:500]
        return res

    def check(self, name, obs, cols, rows) -> str | None:
        """In the cold pass, compare with the oracle and keep the row
        count and hash as the query's reference; later ops must repeat
        it. A query that differed from its oracle fails every op."""
        got = (int(obs.get["n"]), int(obs.get["h"] or 0))
        if rows is not None:
            self.reference[name] = got
            if name in self.oracle:
                dcols, drows = self.oracle[name]
                norm = self.check_oracle.norm_rows
                if sorted(cols) != sorted(dcols) or norm(rows, cols) != norm(drows, dcols):
                    self.wrong.add(name)
        if name in self.wrong:
            return f"{name}: differs from its DuckDB oracle"
        if got != self.reference.get(name):
            return f"{name}: row count/hash {got} != {self.reference.get(name)}"
        return None


class QueryLoops(QueryWorkload):
    name = "query_loops"
    queries = (
        "hits_supplier_part",
        "spectral_bipartition_parts",
        "dedup_clusters_connected_components",
        "harmonic_centrality_ksource",
    )
    sf = 0.001
    nominal_pass_s = 12.0


class QueryExec(QueryWorkload):
    name = "query_exec"
    queries = (
        "itemitem_cf_topk",
        "tfidf_top_terms",
        "embedding_near_dup_pairs",
        "multimodal_png_decode",
        "apply_in_pandas_order_zscore",
        "sessionize_events",
    )
    sf = 0.04
    nominal_pass_s = 10.0


WORKLOADS = {w.name: w for w in (EtlIngest, QueryLoops, QueryExec)}
