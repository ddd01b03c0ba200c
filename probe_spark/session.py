"""SparkSession factory for probe_spark.

Local-mode defaults tuned for this sandbox (local[N] on one JVM); on a real
cluster every setting here is overridable via spark-submit conf.  AQE stays
on for runtime re-planning (skew joins, coalesced shuffles).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "probe_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = shuffle_partitions or int(
        os.environ.get("PROBE_SPARK_SHUFFLE_PARTITIONS", "32")
    )
    # shuffle spill on tmpfs when available: this sandbox has one slow
    # shared virtio disk whose writeback saturates under parallel shuffle
    # writes (a real cluster has per-executor local disks)
    local_dir = os.environ.get("PROBE_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    # local[N] runs with task retries DISABLED (maxFailures=1): one flaky
    # task kills the whole job.  For multi-hour scale runs set
    # PROBE_SPARK_TASK_MAXFAILURES>1 -- in local mode the retry count can
    # only be set through the master string local[N, F].  On a real
    # cluster this is spark.task.maxFailures (default 4) and needs none
    # of this.
    max_failures = int(os.environ.get("PROBE_SPARK_TASK_MAXFAILURES", "1"))
    master = (
        f"local[{cores}]"
        if max_failures <= 1
        else f"local[{cores}, {max_failures}]"
    )
    builder = SparkSession.builder.master(master)
    # spark.python.worker.reuse=false isolates each task in a fresh
    # Python worker: slower per task (~100 ms spawn) but immune to the
    # reused-daemon protocol desync that can leave a worker blocked on
    # read while the JVM side idles (observed once at 5M-doc scale).
    if os.environ.get("PROBE_SPARK_WORKER_REUSE", "").lower() in (
        "0",
        "false",
    ):
        builder = builder.config("spark.python.worker.reuse", "false")
    # Straggler speculation, ON by default (kill switch
    # PROBE_SPARK_SPECULATION=0).  Motivation: twice at >=5M-doc scale a
    # single task wedged forever in a stuck loopback TCP window (JVM
    # Send-Q full, Python worker blocked in recv with an empty Recv-Q --
    # kernel-level, not application-level), stalling a 32-task stage at
    # 31/32 with the whole box idle.  A speculative second attempt runs
    # the same partition in a fresh worker and wins; Spark then kills the
    # wedged attempt.  Conservative thresholds (only tasks >=4x the
    # median after 90% of the stage finished) keep duplicate work ~zero
    # in healthy runs; every write path goes through a commit protocol
    # (Spark's, or the index writer's: it commits only the attempts its
    # job returned), so a losing attempt's output never lands.
    # On a real cluster this is the standard straggler defense.
    if os.environ.get("PROBE_SPARK_SPECULATION", "1").lower() not in (
        "0",
        "false",
    ):
        builder = (
            builder.config("spark.speculation", "true")
            .config("spark.speculation.multiplier", "4")
            .config("spark.speculation.quantile", "0.9")
        )
    spark = (
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # push term/variant IN-lists to parquet as exact value sets, not
        # the [min,max] range Spark collapses them to above the default
        # threshold of 10: the engine's dictionary and postings files are
        # SORTED on the filtered column, so exact IN pushdown prunes to
        # the row groups containing the probed values (a range spanning
        # 60 scattered suggest variants or 256 query terms covers nearly
        # the whole table and prunes nothing)
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "300")
        .config("spark.driver.memory", os.environ.get("PROBE_SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        # no DataFrame call-site capture: otherwise every DataFrame or
        # Column call runs an inspect-based stack walk plus a conf read
        # and two JVM calls (pyspark.errors.utils._with_origin).  Toggled
        # in-process over 6 alternating reps of 5 warm Spark-path rescue
        # queries on the 1000-doc fixture index, 4 cores: median 2.15 s
        # on, 1.84 s off (ranges 1.98-3.00 s and 1.68-2.08 s overlap).
        # Analysis errors still name the missing column.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", local_dir or "/tmp")
        .getOrCreate()
    )
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make probe_spark importable on executor Python workers regardless of
    the driver's cwd (the spark-submit --py-files mechanism, applied
    automatically): zip the package once and addPyFile it."""
    sc = spark.sparkContext
    if getattr(sc, "_probe_spark_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="probe_spark_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    sc._probe_spark_shipped = True
