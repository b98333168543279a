"""SparkSession factory and table loading.

Scale notes (the whole engine is designed for a ~1000-executor cluster over
~100 TB even though tests run on local[32]):

- AQE is enabled so skewed shuffle partitions get split at runtime and
  sort-merge joins get demoted to broadcast when the build side turns out
  small (`spark.sql.adaptive.*`).
- ``spark.sql.shuffle.partitions`` defaults to a small number suitable for
  the local test harness; on a real cluster this should be ~2-3x total cores
  (or left to AQE coalescing with a high initial value).
- Session timezone is pinned to UTC so timestamp semantics are deterministic
  across engines (the DuckDB correctness oracle reads the same parquet).
- Arrow is enabled for pandas UDF exchange (vectorized model math).
- DataFrame origin capture is off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). When it is
  on, PySpark wraps every Column and DataFrame call in a step that
  looks up the active session, reflects ``PySparkCurrentOrigin``, reads
  a conf, sets and clears the origin and walks the Python stack: about
  8 py4j round trips per call, so the builders and the BQL compiler
  send 2-3x the commands they need, and the stack walk imports IPython
  (when installed) into the driver. The only thing lost is the
  "== DataFrame ==" call-site fragment of an AnalysisException. PySpark
  reads the flag once per process, at the first wrapped call made while
  a session is active, so it has to be in the session conf before any
  Column or DataFrame call; ``get_spark`` is where every session here
  is built.
- The generated-code cache holds 8192 classes
  (``spark.sql.codegen.cache.maxEntries``, default 100). One pass over
  the registered queries compiles about 3,600 distinct classes, so with
  100 entries a warm pass compiled about 5,200 classes again; with 8192
  it compiles 85-159, and a warm pass took 77 s instead of 92 s (sf0.01,
  ``local[32]`` on 4 vCPU, the JVM's peak memory unchanged). The conf is
  static: it takes effect only in the session that starts the
  SparkContext.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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


def get_spark(app_name: str = "bayeslite_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession with scale-appropriate defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS); Spark's timestamp is
        # micros, so read nanos as int64 and convert at load (load_tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # no per-call origin capture (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # keep a whole pass's generated classes (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (bench hygiene); SPARK_GRAFT_UI=1 turns it on
        # for metric-reading tools (scale_smoke's shuffle-bytes REST read)
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") else "false")
    )
    spark = builder.getOrCreate()
    _ship_package(spark.sparkContext)
    return spark


def _ship_package(sc) -> None:
    """Put the package's parent directory first on the executors' Python
    path, so pandas UDFs and ``mapInPandas`` operators import
    ``bayeslite_spark`` whatever the working directory.

    ``sc.environment`` is the worker environment that
    ``spark.executorEnv.*`` fills and that every Python function ships
    with, so this also reaches a session that already exists; any
    configured ``spark.executorEnv.PYTHONPATH`` stays after it.

    The path is the driver's own, so this serves executors that share
    the driver's filesystem (local mode). Executors on other hosts need
    the package shipped to them, e.g. as a zip through ``addPyFile``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # the workers start in the JVM's working directory, which is on
    # their sys.path: from the package's parent they import it already,
    # so leave their environment as it is
    jvm_cwd = sc._jvm.java.lang.System.getProperty("user.dir")
    if os.path.realpath(jvm_cwd) == os.path.realpath(root):
        return
    prior = sc.environment.get("PYTHONPATH", "")
    paths = [p for p in prior.split(os.pathsep) if p]
    if root not in paths:
        sc.environment["PYTHONPATH"] = os.pathsep.join([root, *paths])


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-built ``rows`` (tuples in ``schema`` order;
    ``schema`` a DDL string or StructType), built through Arrow as a local
    relation: collecting it runs no Spark job. ``createDataFrame(list)``
    instead parallelizes the list into an RDD, so every collect of it is a
    job with a Python-worker re-serialization pass."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)


def normalize_events(df: DataFrame) -> DataFrame:
    """Convert the nanosecond int64 ``ts`` (see nanosAsLong config) to a
    proper timestamp, truncating ns -> us exactly like DuckDB's
    ``ts::TIMESTAMP`` cast, so both engines see identical instants."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


_LOAD_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}


def load_tables(spark: SparkSession, sf_dir: str, register_views: bool = True) -> dict[str, DataFrame]:
    """Load every testdata parquet table as a DataFrame.

    Parquet scans keep predicate pushdown and column pruning available to
    Catalyst — callers should select/filter on these DataFrames directly
    rather than collecting. The logical plans are cached per (session, sf):
    re-loading only re-registers the temp views.
    """
    cache_key = (id(spark), sf_dir)
    if cache_key in _LOAD_CACHE:
        cached = _LOAD_CACHE[cache_key]
        if register_views:
            for name, df in cached.items():
                df.createOrReplaceTempView(name)
        return dict(cached)
    out: dict[str, DataFrame] = {}
    # Footer/schema discovery is one blocking JVM round-trip per table;
    # issuing the reads from a thread pool overlaps them (~6x faster for
    # 10 tables). events reads serially after: it needs the nanosAsLong
    # conf set first, and conf mutation shouldn't race the other reads.
    from concurrent.futures import ThreadPoolExecutor

    names = [n for n in TABLES
             if os.path.exists(os.path.join(sf_dir, f"{n}.parquet"))]
    plain = [n for n in names if n != "events"]
    with ThreadPoolExecutor(max_workers=8) as ex:
        dfs = list(ex.map(
            lambda n: spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet")),
            plain))
    loaded = dict(zip(plain, dfs))
    if "events" in names:
        # runtime-settable; needed when the caller's session was built
        # without the legacy conf (e.g. the driver's own session)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        loaded["events"] = normalize_events(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    for name in names:
        df = loaded[name]
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    _LOAD_CACHE[cache_key] = dict(out)
    return out
