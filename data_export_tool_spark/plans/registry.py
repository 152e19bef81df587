"""Parameterized report registry + export runner.

Mirrors the reference's lifecycle (SURVEY.md §3): resolve the report
window from an Ethiopian month/year, run each registered query, append
the facility-identity columns, write one CSV per query, package with a
checksum. The config shape is compatible with the reference's
``export_config.json`` (``queries_path`` name → SQL file; the engine
additionally accepts registered DataFrame builders).

Execution is Catalyst end-to-end: SQL text goes through the dialect
shim into ``spark.sql``; DataFrame-built queries skip the shim.
"""

from __future__ import annotations

import functools
import json
import logging
import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from data_export_tool_spark.plans.dialect import shim_mysql_to_spark
from data_export_tool_spark.plans.report_window import ReportWindow, resolve_report_window
from data_export_tool_spark.sources.csv_sink import with_facility_columns, write_query_csv
from data_export_tool_spark.sources.packaging import zip_files_with_checksum


@dataclass
class FacilityIdentity:
    """S4: the four constants appended to every row
    (/root/reference/export.py:123-141,294-296)."""

    region: str
    woreda: str
    facility: str
    hmis_code: str

    @property
    def facility_sanitized(self) -> str:
        """Filename form: spaces/underscores stripped (export.py:269;
        the appended COLUMN keeps the raw name, export.py:294-296)."""
        return self.facility.replace(" ", "").replace("_", "")

    @property
    def hmis_sanitized(self) -> str:
        """The reference sanitizes the HMIS code once (export.py:279)
        and uses the sanitized value BOTH in filenames (:298) and the
        appended column (:295-296) — unlike the facility name, whose
        raw form goes into the column. Sanitizing here keeps caller-
        constructed identities on the same contract as looked-up ones."""
        return self.hmis_code.replace(" ", "").replace("_", "")


QueryBuilder = Callable[[SparkSession, ReportWindow], DataFrame]


@dataclass
class ReportRegistry:
    """name → SQL text or DataFrame builder, run in insertion order
    (the reference runs queries in dict order of ``queries_path``,
    export.py:96,281)."""

    sql_queries: dict[str, str] = field(default_factory=dict)
    df_queries: dict[str, QueryBuilder] = field(default_factory=dict)
    #: the config's ``db_properties`` block (DB_HOST/DB_USER/DB_PASS/
    #: DB_NAME, export.py:89-93); consumed by ``connect_warehouse``
    db_properties: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_config(cls, config_path: str) -> "ReportRegistry":
        """Load an ``export_config.json``-shaped file: ``queries_path``
        maps names to SQL files relative to the config;
        ``db_properties`` carries the warehouse connection."""
        with open(config_path) as f:
            config = json.load(f)
        base = os.path.dirname(os.path.abspath(config_path))
        reg = cls(db_properties=dict(config.get("db_properties", {})))
        for name, rel in config.get("queries_path", {}).items():
            with open(os.path.join(base, rel)) as qf:
                reg.sql_queries[name] = qf.read()
        return reg

    def register_sql(self, name: str, sql: str) -> None:
        self.sql_queries[name] = sql

    def register_builder(self, name: str, builder: QueryBuilder) -> None:
        self.df_queries[name] = builder

    def names(self) -> list[str]:
        return list(self.sql_queries) + list(self.df_queries)

    def connect_warehouse(
        self,
        spark: SparkSession,
        tables: "Sequence[str] | None" = None,
        partition_columns: dict[str, str] | None = None,
        reader=None,
    ):
        """Register the warehouse tables this registry's reports read
        as temp views over JDBC, using the config's ``db_properties``
        (the reference connects the same block to mysql.connector,
        export.py:232-238). Defaults to every ``mamba_*`` table in the
        reference schema; big fact shards get parallel bounded reads on
        ``client_id``."""
        from data_export_tool_spark.catalog import register_jdbc_views
        from data_export_tool_spark.mamba.schemas import all_table_schemas

        if tables is None:
            tables = sorted(all_table_schemas())
        if partition_columns is None:
            partition_columns = {
                t: "client_id"
                for t in tables
                if t.startswith("mamba_flat_encounter_follow_up")
            }
        return register_jdbc_views(
            spark, self.db_properties, tables, partition_columns, reader
        )


def run_export(
    spark: SparkSession,
    registry: ReportRegistry,
    facility: FacilityIdentity | None = None,
    eth_month: int | str = 1,
    eth_year: int = 2016,
    out_dir: str = "exported_data",
    zip_name: str | None = None,
    month_label: str | None = None,
    cleanup_csvs: bool = True,
) -> dict[str, str | None]:
    """Run every registered report for the Ethiopian month/year window.

    When ``facility`` is None it is looked up from the warehouse's
    location tables, exactly as the reference does before its first
    query (export.py:257-279) — S4's two lookup joins via
    ``mamba.facility.lookup_facility_identity``. The lookup runs before
    any report starts, so a warehouse without a facility aborts the
    export before any CSV is written.

    The reports run concurrently on one driver thread pool sized
    ``min(len(reports), defaultParallelism)``: while one report is
    being planned or written to CSV on the driver, the others' Spark
    jobs keep the executor cores busy. Each report runs under the
    caller's job group and local properties. Builders share the
    session, so they must not change its state (SQL confs, temp views);
    each one only builds and returns its DataFrame.

    SQL-text reports go through the FULL MySQL→Spark shim
    (``shim_mysql_to_spark`` + per-report ``QUERY_PATCHES``: Ethiopian
    calendar inlining, truthiness CASE rewrites, structural patches) —
    the same path the parity suite value-checks — with ANSI mode off
    for MySQL's lenient casts. The prior ANSI setting is restored once
    every report has finished, even when one raised; that's safe here
    because every result is fully materialized to CSV inside this
    function, unlike the lazy ``run_reference_report`` path.

    Returns name → written CSV path (None where the result was empty —
    skipped, matching export.py:307-308 — or where the report raised,
    which is logged), in registry order: SQL-text reports, then
    builders. When ``zip_name`` is given the CSVs are packaged into
    ``{zip_name}_packaged18.zip`` and, per the reference's post-zip
    cleanup (export.py:317-326), the source CSVs are deleted unless
    ``cleanup_csvs=False``.
    """
    from data_export_tool_spark.mamba.reports import (
        QUERY_PATCHES,
        ensure_follow_up_wide,
        rewrite_follow_up_assembly,
    )

    if facility is None:
        from data_export_tool_spark.mamba.facility import lookup_facility_identity

        facility = lookup_facility_identity(spark)

    window = resolve_report_window(eth_month, eth_year)
    label = month_label or str(eth_month)

    def sql_report(name: str, sql: str) -> DataFrame:
        if wide is not None:
            sql = rewrite_follow_up_assembly(sql)
        shimmed = shim_mysql_to_spark(sql, window.as_params(), QUERY_PATCHES.get(name))
        return spark.sql(shimmed)

    def run(name: str, build: Callable[[], DataFrame]) -> str | None:
        # per-query isolation like the reference (export.py:287-293):
        # one broken report logs and is skipped; the other reports
        # still export and the zip is still produced
        try:
            return _sink(build(), out_dir, name, facility, label, eth_year)
        except Exception:
            logging.exception("Error executing query %r — skipping", name)
            return None

    prior_ansi = spark.conf.get("spark.sql.ansi.enabled", None)
    wide = None
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        # one cached FollowUp wide view serves every report's CTE
        # references (J10 — the shard assembly runs once per export, not
        # per CTE alias per report; the 100k-patient e2e run's heap is
        # bounded by ONE InMemoryRelation instead of ~130 broadcast maps)
        wide = ensure_follow_up_wide(spark)
        tasks = [
            (n, functools.partial(sql_report, n, sql))
            for n, sql in registry.sql_queries.items()
        ]
        tasks += [
            (n, functools.partial(builder, spark, window))
            for n, builder in registry.df_queries.items()
        ]
        workers = max(1, min(len(tasks), spark.sparkContext.defaultParallelism))
        # leaving the block waits for every report, so the finally
        # below restores the session only once all of them are done
        with ThreadPoolExecutor(max_workers=workers, thread_name_prefix="report") as pool:
            # each task gets its own copy of the caller's local
            # properties (job group, scheduler pool), taken here
            futures = [
                (name, pool.submit(inheritable_thread_target(spark)(run), name, build))
                for name, build in tasks
            ]
        written = {name: future.result() for name, future in futures}
    finally:
        if wide is not None:
            wide.unpersist()
        if prior_ansi is not None:
            spark.conf.set("spark.sql.ansi.enabled", prior_ansi)
        else:
            spark.conf.unset("spark.sql.ansi.enabled")

    if zip_name:
        zip_files_with_checksum(out_dir, zip_name, cleanup_csvs=cleanup_csvs)
    return written


def _sink(
    df: DataFrame,
    out_dir: str,
    name: str,
    facility: FacilityIdentity,
    month_label: str,
    year: int,
) -> str | None:
    full = with_facility_columns(
        df,
        facility.region,
        facility.woreda,
        facility.facility,
        facility.hmis_sanitized,
    )
    # filename uses the sanitized facility name (export.py:298); the
    # appended column above keeps the raw one (export.py:294-296) —
    # except the HMIS code, which the reference sanitizes everywhere
    return write_query_csv(
        full,
        out_dir,
        name,
        facility.facility_sanitized,
        facility.hmis_sanitized,
        month_label,
        year,
    )
