"""Session factory + QualitySession (reference: data_quality_holder.py:16-85).

The reference's ``DataQualitySession`` owns a list of tables and source adapters
(``data_quality_holder.py:19``), probing warehouse dialects at runtime
(``sources.py:41-88``). Here the single dialect is Spark SQL, so the session
just wraps a ``SparkSession`` tuned for the quality-filter workload.

get_spark sets only the keys below, each with its reason; the rest keep
Spark's defaults (ANSI on, AQE, 10000-row Arrow batches). Invalid casts
yield NULL (reference ``bigquery.py:42-55``, ``impala.py:21-34``) through
``try_*`` functions in the ops, not a session flag.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "data_quality_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession. ``master`` defaults to
    local[$SPARK_GRAFT_CPUS] (sandbox) — on a real cluster leave it None
    and let spark-submit decide."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # timestamps render the same on every machine (oracle parity)
        .config("spark.sql.session.timeZone", "UTC")
        # one reduce wave on the local master instead of the fixed 200
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # toPandas and createDataFrame(pandas) go through Arrow
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pages rows carry multi-KB html blobs: the default 4096-row
        # vectorized-reader batch spikes to ~10+ MB per column per task and
        # OOMs small heaps (observed under spark-submit's 1g default)
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # local mode runs the executors inside this same JVM
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # no HTTP server or port per session; the status store stays on
        .config("spark.ui.enabled", "false")
        # dimension tables / dedup key sets up to 64 MB (not 10) broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class QualitySession:
    """Root holder mirroring the reference's DataQualitySession
    (``data_quality_holder.py:16-85``): owns tables, provides factories.

    Reference methods mapped:
      create_table_from_dataframe (holder:21-40)  -> table_from_df
      create_table_from_db        (holder:42-58)  -> table_from_parquet / table_from_sql
      create_table_apply_filter   (holder:60-69)  -> QualityTable.with_filter (lazy, no deepcopy)
      create_html_output / excel  (holder:72-85)  -> same names, report.py
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self.tables: list = []  # reference: data_quality_holder.py:19

    # -- factories ---------------------------------------------------------
    def table_from_df(self, df: DataFrame, name: str, **meta):
        from data_quality_spark.rules.table import QualityTable

        t = QualityTable(df, name=name, session=self, **meta)
        self.tables.append(t)
        return t

    def table_from_parquet(self, path: str, name: str | None = None, **meta):
        df = self.spark.read.parquet(path)
        return self.table_from_df(df, name or os.path.basename(path), **meta)

    def table_from_sql(self, sql: str, name: str, **meta):
        return self.table_from_df(self.spark.sql(sql), name, **meta)

    def del_table(self, table):
        """Remove a registered table (reference del_table,
        data_quality_holder.py:55-58)."""
        self.tables.remove(table)

    # -- reporting (reference holder:72-85 → report.py) ---------------------
    def create_html_output(self, path: str, **kw) -> str:
        from data_quality_spark.report import create_html_output

        return create_html_output(self, path, **kw)

    def create_export_details_excel(self, path: str, **kw) -> str:
        from data_quality_spark.report import export_details

        return export_details(self, path, **kw)

    # -- session-wide results (replaces HTML/Excel rendering: plot.py) ------
    def results_df(self) -> DataFrame:
        """Union of all tables' per-check metrics (reference rollups:
        table.py:151-165). One row per (table, check)."""
        frames = [t.results_df() for t in self.tables if t.check_list]
        if not frames:
            raise ValueError("no checks have been run")
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out
