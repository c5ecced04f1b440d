"""SparkSession factory tuned for the engine.

The reference runs on a Databricks single-node cluster
(``spark.master local[*, 4]``, see
``/root/reference/config/dev/job_resources/feature-store-bncapers-resource.yml:2-9``)
and delegates all physical planning to Catalyst. We do the same, but set the
knobs that matter at scale explicitly: AQE (runtime re-planning, skew-join
handling, partition coalescing), Arrow for any pandas interchange, UTC
session timezone (so results compare exactly against UTC-naive oracles),
and shuffle partitions sized to the local core count instead of the
200 default.
"""

from __future__ import annotations

import json
import os
import tempfile
import weakref

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Loading each of these classes registers a Hadoop default resource
# (mapred-, yarn-, hdfs-default.xml), and every registration reloads all
# live Configurations from their resources.
_DEFAULT_RESOURCE_CLASSES = (
    "org.apache.hadoop.mapred.JobConf",
    "org.apache.hadoop.yarn.conf.YarnConfiguration",
    "org.apache.hadoop.hdfs.HdfsConfiguration",
)
# contexts whose Hadoop conf no longer carries yarn-default.xml; held
# weakly, so a context started after a stop is slimmed again
_SLIM_CONTEXTS: weakref.WeakSet = weakref.WeakSet()


def _drop_yarn_defaults(sc: SparkContext) -> None:
    """Unset every key of ``sc``'s Hadoop configuration whose source is
    ``yarn-default.xml``: about 520 of its ~1,100 entries, which a local
    session never reads. Every per-query conf
    (``sessionState().newHadoopConf()``) copies this one, so each scan,
    write job and task serializes, ships and deserializes half the
    entries. The default-resource classes load first, so no later
    registration reloads the defaults. One ``dumpConfiguration`` call
    names the keys and their sources; it writes to a file, since its
    130 KB as a Py4J string answer took about 45 ms more."""
    jvm = sc._jvm
    for_name = getattr(jvm, "java.lang.Class").forName
    for name in _DEFAULT_RESOURCE_CLASSES:
        for_name(name)
    conf = sc._jsc.hadoopConfiguration()
    with tempfile.NamedTemporaryFile("r", suffix=".json") as dump:
        out = getattr(jvm, "java.io.FileWriter")(dump.name)
        try:
            getattr(jvm, "org.apache.hadoop.conf.Configuration").dumpConfiguration(conf, out)
        finally:
            out.close()
        props = json.load(dump)["properties"]
    unset = conf.unset
    for prop in props:
        if prop["resource"] == "yarn-default.xml":
            unset(prop["key"])


def get_spark(
    app_name: str = "databricks_demo_feature_store_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster ``master`` comes from the environment; locally we
    default to ``local[N]`` with N = SPARK_GRAFT_CPUS (32 in CI).

    On a ``local…`` master the context's Hadoop configuration drops the
    keys that come only from ``yarn-default.xml``
    (:func:`_drop_yarn_defaults`), once per SparkContext: a later call
    that returns the live session does not redo it. Other masters keep
    the whole configuration.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    # A long single-JVM session compiles thousands of generated query
    # classes; the JVM's default 240 MB code cache fills mid-run, after
    # which compilation is DISABLED and the whole session silently drops
    # to the bytecode interpreter (~10× — this, not plan shape, was a
    # full-suite bench regression). Reserve enough for the whole query
    # catalog and let the sweeper evict cold methods. (Measured: C2 with
    # this cache beats a C1-only cap by ~35% steady-state; C2's
    # background-compile CPU spikes only pollute a query's FIRST run,
    # which min-of-N benching already discards.)
    driver_java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if driver_java_opts is None and master.startswith("local"):
        driver_java_opts = "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): measured in round
        # 14, advisory-size coalescing (false) cost +13% on a mixed
        # 18-query sample (self-join-heavy plans — pair generation,
        # wedge counting — do real compute AFTER their shuffles and lose
        # core-width when a small shuffle collapses to one partition).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # the catalog's CREATE DATABASE directories land in /tmp, not the cwd
        # (its EXTERNAL tables keep their layer paths)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/databricks_demo_fs_warehouse"
            ),
        )
        # the driver testdata's events table carries TIMESTAMP(NANOS) which
        # Spark has no native type for; read as long and convert in load()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4.1's ChecksumCheckpointFileManager writes (and re-reads)
        # a sidecar checksum file for EVERY streaming-checkpoint file —
        # offsets, commits, and one state file per shuffle partition per
        # micro-batch — doubling checkpoint file creates. The checksums
        # only guard against storage bit-rot of checkpoint internals
        # (never query results); on storage with its own integrity
        # guarantees they are pure overhead, so default off; deployments on
        # unreliable stores can set the conf back on at runtime.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # parquet's default INT96 timestamps carry NO footer min/max
        # statistics, which silently disables every timestamp-column
        # data-skipping path (sources/skipping.py) on Spark-written
        # tables — and INT96 is deprecated in the format anyway
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    if driver_java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", driver_java_opts)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    if sc.master.startswith("local") and sc not in _SLIM_CONTEXTS:
        _drop_yarn_defaults(sc)
        _SLIM_CONTEXTS.add(sc)
    return spark
