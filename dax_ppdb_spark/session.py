"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[N]``; the configs below are the ones
that matter identically on a 1000-executor cluster: AQE on (runtime
re-planning, skew-join handling, partition coalescing), Arrow enabled
for any pandas interchange, and shuffle partitions sized to the
environment rather than Spark's legacy default of 200.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def get_spark(
    app_name: str = "dax_ppdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Long-running driver sessions (bench/replication daemons) run
        # hundreds of jobs; executor-side shuffle files and broadcast
        # blocks are only reclaimed when the DRIVER garbage-collects,
        # and an 8g driver under low allocation pressure can go the
        # default 30min without a full GC — measured as 2-4x tail
        # latency on late queries in a 50-query bench session.  A
        # 1-minute periodic GC bounds that accumulation.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4's DataFrame debugging decorates EVERY classic-mode
        # DataFrame/Column op with a call-site capture: a conf.get
        # roundtrip, a Python stack walk, and a JVM origin set/clear
        # PER OPERATION.  Plan-construction-heavy queries (the audit
        # capstone builds ~3.5k py4j roundtrips) spend multiple
        # seconds in it — measured ~35% of the capstone's driver-side
        # build time.  The payoff (user-code line numbers inside JVM
        # error messages) isn't worth 4x the roundtrips on a
        # production driver; stack traces still point at the failing
        # Python call either way.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # keep catalog artifacts (saveAsTable warehouses) out of the cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "dax_ppdb_warehouse"),
            ),
        )
    )
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def local_df(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """A driver-built relation (``rows``: a list of tuples or ``Row`` s)
    as an Arrow local relation: the rows become a ``pyarrow.Table`` on
    the driver and ``createDataFrame`` plans it as ``LocalTableScan``,
    so reading it starts no Python task.

    A Python list handed to ``createDataFrame`` plans instead as
    ``Scan ExistingRDD`` over a pickled Python RDD, one Python-worker
    task per slice.  Each such task costs about 0.22 s of worker CPU
    before any user code runs, even in a reused worker (4-vCPU host,
    PySpark 4.1, Python 3.11): ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()``, after which zipimport re-reads
    the ``pyspark.zip`` directory 16 times per task.

    Rows and schema are bit-identical to the list-built relation; the
    conversion is PySpark's own ``LocalDataToArrowConversion``, which
    takes only non-empty lists, so empty ``rows`` get the schema's
    empty table.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, use_large_var_types=False)
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)
