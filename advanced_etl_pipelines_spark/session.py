"""SparkSession factory.

The reference runs eager single-process pandas with no session concept
(``ETL_Multi_Lvl_API/etl_pipeline.py:108-134`` just calls functions).  Here a
single configured SparkSession supplies the whole query lifecycle.  Config
choices are scale-oriented:

* UTC session timezone — the reference normalizes all air-quality timestamps
  to UTC (``ETL_Multi_Lvl_API/transform.py:123-127,244``); pinning the session
  TZ makes ``hour()``/``to_date()`` deterministic across machines.
* AQE on — runtime coalescing of shuffle partitions and skew-join splitting;
  this is what makes one static ``spark.sql.shuffle.partitions`` setting
  survive a 1000× scale-up.
* Arrow on — any pandas interchange (plots, mapInPandas media decode) is
  batch-columnar, never row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")


def get_spark(
    app_name: str = "advanced-etl-pipelines-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and bench
    share one code path; on a real cluster the caller passes no master and
    spark-submit decides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bigger Arrow batches feed the mapInPandas BLAS seams (ANN,
        # semdedup, PCA/kmeans, multimodal) real matrices instead of
        # 10k-row slivers: measured ~20% faster at sf0.1.  64k rows of a
        # 64-dim double vector is ~32 MB/batch; seams that carry wide
        # text project it away first.  Override per deployment via
        # SPARK_GRAFT_ARROW_BATCH when executor memory is tight.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Iterative operators (pagerank/LPA) chain lazy localCheckpoints
        # whose materialization nests inside BroadcastExchange futures —
        # the outermost future's timeout covers up to _MAT_EVERY rounds
        # of upstream work (operators/graph.py), and at sf1 one LPA
        # round already runs ~100s.  The default 300s is a latency
        # tripwire, not a memory bound; raise it so a loaded box or a
        # 10x corpus cannot kill a correct plan mid-broadcast.
        .config("spark.sql.broadcastTimeout", "1800")
        # Generated-class cache (JVM-wide).  The default 100 entries is
        # split over four Guava segments of 25, and eight short core
        # registry queries already generate 92 classes, so an overfull
        # segment evicts on every pass: 9-35 classes per pass recompiled
        # with Janino and run interpreted again, the count depending on
        # query order and on each JVM's hash layout.  With 1000 entries a
        # repeated query recompiles nothing, and on a 4-core box the
        # run-to-run spread of those queries' latency halved.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our config to a session we did
    not create (the driver hands us one in ``__spark_entry__``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # same rationale as get_spark: nested lazy-checkpoint broadcasts in
    # the iterative operators need headroom beyond the 300s default
    spark.conf.set("spark.sql.broadcastTimeout", "1800")
    return spark
