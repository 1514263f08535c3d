"""SparkSession factory.

Defaults are tuned for the test rig (local[N], single JVM) but every
setting is chosen to also be the right *posture* on a large cluster:
AQE on (runtime re-plan, skew-join splitting, empty-relation pruning),
UTC session timezone (oracle comparability + tz-safe semantics at scale),
Arrow for any pandas exchange, and shuffle partitions sized to the
parallelism actually available rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM, rounded up to whole GB and capped at 48g: in
    local mode the driver JVM is the whole engine, and a heap cap above
    the box's memory lets it grow until the host kills it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, -(-ram // (2 * 1024**3)))}g"


def get_spark(
    app_name: str = "newsmaper_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster ``master``/memory come from spark-submit; everything
    here only sets session-level SQL conf, so the same code path works on
    local[N] and on 1000 executors.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # This rig's /etc/resolv.conf points at a blackholed resolver, so ANY
    # JVM DNS query hangs until timeout — and the JDK re-resolves cached
    # names every ~30s, which showed up as random 10-120s stalls with an
    # idle CPU. Pin every address to loopback before the JVM launches and
    # cache resolutions forever.
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    dns_opts = (
        "-Dsun.net.inetaddr.ttl=-1 -Dsun.net.inetaddr.negative.ttl=-1 "
        "-Djava.net.preferIPv4Stack=true"
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Delay scheduling buys nothing on a single node (every task is
        # process-local) but its wait stalls measurably stack up across
        # many small stages — local masters only; a cluster deployment
        # overrides master via spark-submit and keeps rack locality.
        .config(
            "spark.locality.wait", "0s" if master.startswith("local") else "3s"
        )
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.driver.extraJavaOptions", dns_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata's events.ts is parquet TIMESTAMP(NANOS), which Spark's
        # reader rejects outright; read as long and convert in io.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
