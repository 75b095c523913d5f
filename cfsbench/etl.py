"""``etl_daily``: the reference daily batch job, repeated.

Each pass runs the whole job. The raw string-typed CFS calls CSV is read
with ``sources.files.read_csv_with_schema`` and run through
``plans.pipeline.cfs_reference_pipeline`` (parse, date parts,
``latest_per_key``, ``group_agg_single_distinct``). The aggregate is
loaded by ``sources.docsink.full_refresh_write`` into a
``JsonLinesClient`` collection (op ``aggregate_sink``), and the
deduplicated detail is written by ``sources.files.write_parquet`` (op
``detail_sink``).

Every job's outputs are checked, outside the timed calls, against a
DuckDB re-computation of the same pipeline over the same CSV.

Traced passes also run the pipeline cut after each of its public calls
into ``noop`` (``stage:read_csv`` → ``parse`` → ``dedup`` →
``aggregate``); the difference between consecutive stages is that
call's extra time. It can come out negative: the aggregate's output is
far smaller than the dedup's, so sinking it can cost less than the
aggregate adds.

The seed changes nothing here: the job is the same every day.
"""

from __future__ import annotations

import functools
import json
import os

import duckdb

from harness import median

COLLECTION = "calls_daily"
KEYS = ["year", "month", "incident_type_id", "priority_color"]
STAGES = ("read_csv", "parse", "dedup", "aggregate")
_TS = "%Y-%m-%dT%H:%M:%S.%f"


def _expected_sql(csv: str) -> str:
    return f"""
    WITH raw AS (
      SELECT * FROM read_csv('{csv}', header = true, all_varchar = true)
    ), p AS (
      SELECT event_number,
             try_strptime(create_time_incident, '{_TS}') AS ct,
             try_strptime(closed_time_incident, '{_TS}') AS cl,
             incident_type_id, priority_color,
             TRY_CAST(priority AS DOUBLE) AS priority_n
      FROM raw WHERE district IS NOT NULL
    ), d AS (
      SELECT * FROM p QUALIFY row_number() OVER (
        PARTITION BY event_number ORDER BY ct DESC NULLS LAST, cl DESC NULLS LAST) = 1
    )
    """


class EtlDaily:

    def __init__(self, run, data_root: str, rng, plant_fault: bool):
        self.run = run
        self.csv = os.path.join(data_root, "cfs_calls.csv")
        self.plant_fault = plant_fault
        self.out = os.path.join(run.dir, "etl")
        self.rows = 0
        self.docs_written: list[int] = []
        self.bytes_written: list[int] = []
        self.expected_path = os.path.join(data_root + ".expected", "etl_daily.json")

    # nominal cold-pass and steady-pass seconds on the reference host
    # (see run.steady_passes); the jobs' generated code keeps speeding up
    # for two to three passes after the cold one
    WARMUP_PASSES = 2
    COLD_S, PASS_S = 12, 2.5

    def input_bytes(self) -> int:
        return os.path.getsize(self.csv)

    def prepare(self) -> None:
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.docsink import (
            JsonLinesClient,
        )

        os.makedirs(self.out, exist_ok=True)
        self.client = JsonLinesClient(os.path.join(self.out, "docstore"))
        # picklable by reference: Python workers import the package
        self.factory = functools.partial(JsonLinesClient, self.client.root)
        self.detail_path = os.path.join(self.out, "detail")
        with open(self.expected_path) as fh:
            self.expected = json.load(fh)
        self.rows = self.expected["rows"]

    # -- the job -------------------------------------------------------------

    def _raw(self):
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.functions.scalar import (
            to_numeric,
        )
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.schemas import (
            CFS_RAW_SCHEMA,
        )
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.files import (
            read_csv_with_schema,
        )

        with self.run.tracer.span("sources.files.read_csv_with_schema"):
            raw = read_csv_with_schema(self.run.spark, self.csv, CFS_RAW_SCHEMA)
            return raw.withColumn("priority_n", to_numeric("priority"))

    def aggregate_job(self):
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.plans.pipeline import (
            cfs_reference_pipeline,
        )
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.docsink import (
            full_refresh_write,
        )

        raw = self._raw()
        with self.run.tracer.span("plans.pipeline.cfs_reference_pipeline"):
            agg = cfs_reference_pipeline(
                raw, entity_key="event_number", order_col="create_time_incident",
                tie_breaker="closed_time_incident", group_keys=KEYS,
                metric_cols=["priority_n"], not_null_col="district",
            )
        with self.run.tracer.span("sources.docsink.full_refresh_write"):
            full_refresh_write(agg, COLLECTION, self.factory, max_retries=1)

    def detail_job(self):
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.files import (
            write_parquet,
        )

        detail = self._cut(2)
        with self.run.tracer.span("sources.files.write_parquet"):
            write_parquet(detail, self.detail_path)

    def _cut(self, k: int):
        """The pipeline cut after its k-th public call: read, parse,
        dedup, aggregate (k = 0..3). k = 2 is the detail the job writes."""
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.functions.temporal import (
            parse_timestamps,
            with_date_parts,
        )
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.aggregates import (
            group_agg_single_distinct,
        )
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.dedup import (
            latest_per_key,
        )

        tracer = self.run.tracer
        df = self._raw()
        if k >= 1:
            with tracer.span("functions.temporal.parse_timestamps"):
                df = with_date_parts(parse_timestamps(df), "create_time_incident")
        if k >= 2:
            with tracer.span("operators.dedup.latest_per_key"):
                df = latest_per_key(df, keys=["event_number"], order_by="create_time_incident",
                                    tie_breakers=["closed_time_incident"], keep_where_not_null="district")
        if k >= 3:
            with tracer.span("operators.aggregates.group_agg_single_distinct"):
                df = group_agg_single_distinct(df, keys=KEYS, distinct_col="event_number",
                                               avg=["priority_n"])
        return df

    def stage(self, k: int):
        df = self._cut(k)
        with self.run.tracer.span("spark.exec.noop"):
            df.write.format("noop").mode("overwrite").save()

    # -- checks --------------------------------------------------------------

    def ensure_expected(self) -> None:
        """DuckDB re-computation of the job's outputs, once per checkout
        (outside setup): the aggregate rows, the detail's row count and
        order-free hash, and the raw row count."""
        if os.path.exists(self.expected_path):
            return
        con = duckdb.connect()
        try:
            base = _expected_sql(self.csv)
            agg = con.execute(base + """
                SELECT year(ct) AS year, month(ct) AS month, incident_type_id,
                       priority_color, count(*) AS nunique_event_number,
                       round(avg(priority_n), 4) AS avg_priority_n
                FROM d GROUP BY ALL""").fetchall()
            detail = con.execute(base + """
                SELECT count(*), sum(hash(event_number, epoch_us(ct), epoch_us(cl)))
                FROM d""").fetchone()
            rows = con.execute(
                f"SELECT count(*) FROM read_csv('{self.csv}', header = true, all_varchar = true)"
            ).fetchone()[0]
        finally:
            con.close()
        out = {"aggregate": sorted(agg, key=repr), "detail": [int(x) for x in detail], "rows": rows}
        os.makedirs(os.path.dirname(self.expected_path), exist_ok=True)
        tmp = self.expected_path + f".tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(out, fh)
        os.replace(tmp, self.expected_path)

    def check_aggregate(self, _result) -> bool:
        want = sorted((tuple(r) for r in self.expected["aggregate"]), key=repr)
        docs = self.client.read_all(COLLECTION)
        self.docs_written.append(len(docs))
        got = [tuple(d[c] for c in (*KEYS, "nunique_event_number", "avg_priority_n")) for d in docs]
        if self.plant_fault:
            got = got[1:]
        return sorted(got, key=repr) == want

    def check_detail(self, _result) -> bool:
        want = self.expected["detail"]
        self.bytes_written.append(sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.detail_path) for f in fs
        ))
        con = duckdb.connect()
        try:
            got = con.execute(f"""
                SELECT count(*), sum(hash(event_number, epoch_us(create_time_incident),
                                          epoch_us(closed_time_incident)))
                FROM read_parquet('{self.detail_path}/*.parquet')""").fetchone()
        finally:
            con.close()
        if self.plant_fault:
            got = (got[0] - 1, got[1])
        return list(got) == want

    # -- the loop ------------------------------------------------------------

    def one_pass(self, loop) -> None:
        # the whole job first, so the cold pass times a cold job
        loop.op("aggregate_sink", self.aggregate_job, self.check_aggregate)
        loop.op("detail_sink", self.detail_job, self.check_detail)
        if self.run.tracer.active:
            for k, name in enumerate(STAGES):
                loop.op(f"stage:{name}", lambda k=k: self.stage(k))

    def cleanup(self) -> None:
        """The run directory, outputs included, is removed by the run."""

    def layer_metrics(self, loop) -> dict[str, tuple[float, str]]:
        agg = median(loop.samples["aggregate_sink"])
        det = median(loop.samples["detail_sink"])
        job = agg + det
        p = [median(loop.samples[f"stage:{name}"]) for name in STAGES]
        return {
            "etl.rows_per_s": (self.rows / job, "rows/s"),
            "etl.first_run_s": (loop.cold["aggregate_sink"] + loop.cold["detail_sink"], "s"),
            "sources.docsink.docs_written": (median(self.docs_written), "count"),
            "sources.files.bytes_written": (median(self.bytes_written), "bytes"),
            # each public call's extra time over the prefix before it
            "sources.files.read_csv_ms": (1000 * p[0], "ms"),
            "functions.temporal.parse_ms": (1000 * (p[1] - p[0]), "ms"),
            "operators.dedup.latest_per_key_ms": (1000 * (p[2] - p[1]), "ms"),
            "operators.aggregates.group_agg_ms": (1000 * (p[3] - p[2]), "ms"),
            "sources.docsink.full_refresh_write_ms": (1000 * (agg - p[3]), "ms"),
            "sources.files.write_parquet_ms": (1000 * (det - p[2]), "ms"),
        }
