"""SparkSession factory tuned for the validation engine.

Defaults follow the scale posture in SURVEY.md §4: AQE on (runtime
re-plan + skew-join splitting), Arrow on (vectorized JVM<->Python
batches for the span-integrity Arrow UDF and the pandas UDFs),
nested-schema pruning on (the row check reads four struct fields of
``spans``), shuffle partitions
sized to cores rather than the 200 default.

``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is on:
AQE coalesces and skew-splits shuffles inside ``persist()``ed plans as
it does elsewhere. Spark's default keeps a cached plan's shuffle
partitioning as planned, so the suite's cached duplicate keys, a few
rows, ran 32 reduce tasks and passed that partition count on to every
stage that read them. ``tests/test_plans.py`` pins the cases this could
get wrong: the cached duplicate keys are coalesced, two cached
``repartition(k)`` frames joined on ``k`` still give the uncached
join's rows (the SPARK-45592 shape), an explicit
``repartition(n, col).persist()`` keeps its ``n`` partitions, and the
violations write has one hash exchange on ``partition_id``.

The ``file:`` FileSystem is ``NioLocalFileSystem`` (``jvm/``): Hadoop's
checksummed ``LocalFileSystem`` over a ``RawLocalFileSystem`` whose
``setPermission`` makes the same permission change with
``Files.setPosixFilePermissions`` for modes within ``0777``. Without
libhadoop, Hadoop's own ``setPermission`` forks a ``chmod`` process on
every file create (data file and ``.crc``) and every ``mkdirs`` with a
mode, which was most of a validation commit's time. Other modes
(sticky bit) and non-POSIX filesystems still go to Hadoop's ``chmod``.
Checksums, file modes and commit semantics are unchanged: the class
keeps the one override of Hive's ``ProxyLocalFileSystem``, which
Spark's bundled hive-exec otherwise makes the ``file:`` FileSystem (a
rename onto an existing file fails). Two paths still spawn processes:
``getPermission`` (one ``ls -ld`` per file status that loads its
permission) and the FileContext API (``fs.AbstractFileSystem.file.impl``,
which streaming checkpoints use), which this class does not reach. The
jar is a build of the source, pinned by ``tests/test_local_fs.py``;
rebuild it from the repository root with::

    javac --release 17 -cp "$(python3 -c 'import pyspark, os; print(os.path.dirname(pyspark.__file__))')"/jars/hadoop-client-api-*.jar -d /tmp/nio-fs biosample_enricher_spark/jvm/NioLocalFileSystem.java && jar --create --no-manifest --file biosample_enricher_spark/jvm/local-fs.jar -C /tmp/nio-fs .

Settings that only take effect when the JVM starts (``master``,
``spark.driver.memory``, the driver class path) are set only when
``get_spark`` launches the JVM itself. Under a launcher such as
``spark-submit`` the launcher's master and memory stay, and the
``file:`` FileSystem is switched only if that JVM can load the class
(``spark-submit --driver-class-path biosample_enricher_spark/jvm/local-fs.jar``);
without it the job runs on the ``file:`` FileSystem Spark loads by
default. The setting reaches executors through ``spark.hadoop.*``, so a
cluster job that writes ``file:`` paths needs the jar on its executors
too.

The ``get_spark`` call that creates the SparkContext also starts the
Python-worker prewarm (``_prewarm_python_workers``) on a daemon
``InheritableThread`` and returns without waiting for it. The prewarm
job then runs while the caller registers its inputs, reads them and
plans its first query, instead of before. It runs once per context:
``get_spark`` on a live session submits no job. Under the default FIFO
scheduler the prewarm's one task per core holds every core until its
first task ends, so a job the caller submits meanwhile (a parquet read's
schema-inference job, the first query) waits for that task. Stopping
the session cancels a running prewarm, silently.
"""

from __future__ import annotations

import os

from pyspark import InheritableThread, SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
LOCAL_FS_CLASS = "biosample_enricher_spark.jvm.NioLocalFileSystem"
LOCAL_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "local-fs.jar")
PREWARM_JOB = "session: python worker prewarm"  # description of its job and name of its thread


def get_spark(
    app_name: str = "biosample_enricher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    When this call launches the JVM, ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]`` and a ``spark.driver.extraClassPath``
    in ``extra_conf`` is extended with the FileSystem jar. When a
    launcher already started the JVM, ``master`` is ignored. The call
    that creates the SparkContext starts the worker prewarm in the
    background.
    """
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    extra_conf = dict(extra_conf or {})

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce shuffles inside persist()ed plans too, so a
        # cache of a few rows (the suite's duplicate keys) is not 32
        # reduce tasks that every stage reading it inherits
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        # Prefer shuffled-hash over sort-merge when the per-partition
        # build side fits (guide §3.1): drops both sort passes from
        # equi-joins like j4. Scale posture: the planner still falls
        # back to sort-merge when its size conditions fail, and the AQE
        # threshold below lets a finished shuffle stage convert at
        # runtime from observed (not estimated) sizes.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # this call launches the JVM
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        class_path = [LOCAL_FS_JAR]
        if "spark.driver.extraClassPath" in extra_conf:
            class_path.append(extra_conf.pop("spark.driver.extraClassPath"))
        builder = (
            builder.master(master or f"local[{cpus}]")
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
            .config("spark.driver.extraClassPath", os.pathsep.join(class_path))
            .config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
        )
    elif _jvm_loads(LOCAL_FS_CLASS):
        builder = builder.config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    creates_context = SparkContext._active_spark_context is None
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if creates_context:
        InheritableThread(
            target=_prewarm_python_workers, args=(spark,), name=PREWARM_JOB, daemon=True
        ).start()
    return spark


def _jvm_loads(class_name: str) -> bool:
    """True iff the already started JVM (connected to here, if a
    launcher started it) can load ``class_name``."""
    SparkContext._ensure_initialized()
    return bool(SparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable(class_name))


def _prewarm_python_workers(spark: SparkSession) -> bool:
    """Initialize the reusable Python worker pool; blocks until its job
    ends.

    The first Arrow/pandas-UDF stage of a fresh session otherwise pays
    one python-daemon fork + ``import pandas``/``pyarrow`` per
    concurrent task (cores × ~0.5-1 s of CPU, all at once) in the
    middle of the first user query — guide §4.5's "heavyweight init
    once" applied to the pool itself, the same reason
    ``spark.python.worker.reuse`` keeps workers alive afterwards. Most
    of the job's time is the fresh JVM's first job and the worker
    start, not the pandas import. ``get_spark`` runs it once per
    SparkContext, on a background thread, so it overlaps the caller's
    first reads and planning; a job submitted meanwhile waits under
    FIFO until one of its tasks frees a core. The warm-up job touches
    no user data (a ``spark.range`` over the core count) and caches
    nothing; disable with ``SPARK_GRAFT_PREWARM=0``. Failures,
    including its cancellation when the session stops, are non-fatal
    and silent — the pool then initializes lazily exactly as before.
    Returns True iff the warm-up job actually ran (pinned by
    tests/test_session_prewarm.py — this job has silently no-op'd
    twice; never trust it unverified)."""
    if os.environ.get("SPARK_GRAFT_PREWARM", "1") == "0":
        return False
    try:
        import pandas as pd
        from pyspark.sql import functions as F

        # Annotations are ASSIGNED as real objects, not written inline:
        # this module has ``from __future__ import annotations``, so an
        # inline ``s: pd.Series`` hint is a STRING that pandas_udf
        # resolves against MODULE globals — where the locally-imported
        # ``pd`` does not exist — raising at decoration (the silent
        # no-op's third disguise; the first was a quoted hint, the
        # second count()'s UDF pruning, see below). The accumulator is
        # the execution proof: True is returned only if the UDF BODY
        # ran on workers — a job that completes without touching
        # Python (the count() failure class) cannot fake it.
        acc = spark.sparkContext.accumulator(0)

        def _identity_fn(s):
            acc.add(len(s))
            return s

        _identity_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
        _identity = F.pandas_udf(_identity_fn, returnType="long")

        n = spark.sparkContext.defaultParallelism
        try:
            spark.sparkContext.setJobDescription(PREWARM_JOB)
            # noop sink, NOT count(): count() lets the optimizer prune
            # the (deterministic) UDF projection entirely — the guide
            # §1.4 trap — so a count()-based prewarm runs a job that
            # never touches Python (verified: zero worker executions
            # under count(), one per task under the noop write)
            (
                spark.range(n, numPartitions=n)
                .select(_identity("id"))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        finally:
            spark.sparkContext.setJobDescription(None)
        return acc.value >= n
    except Exception:
        return False


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
