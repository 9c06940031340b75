"""SparkSession factory tuned for this engine.

Defaults are chosen for the driver's local[*] harness but every knob is
the one you would also set on a real multi-executor cluster at 100 TB:
AQE for runtime coalescing / skew splitting / broadcast conversion,
Arrow for any Python<->JVM batch transfer, and a shuffle-partition count
sized to the input rather than Spark's static 200 default.

The shuffle-partition count is what batch plans over-provision and AQE
coalesces. Streaming plans run without AQE, so every streaming query is
started through ``streaming/jobs.py::_drain``, which caps the count at
the session's task slots for that query's state partitions; the value
set here stays the ceiling.

Python workers. Every Python process and task (a pandas UDF,
``mapInPandas``, a Python data source, a Python streaming source or
sink) pays a fixed cost before its function runs, and on small inputs
that cost is most of the work. Three parts of it are cut here, for
local masters only, since a cluster's executors cannot see the driver's
paths. One directory, ``workerpath/``, goes on the workers' PYTHONPATH,
and the package stays off it, so the functions ``operators/llm.py``
ships by value cannot come to depend on it by accident. Its
``sitecustomize.py`` runs in every worker interpreter: the daemon, and
the Python streaming runners the JVM starts without it (the module
says why and what it measured):

* ``import pyspark`` and ``import py4j`` resolve to the installed,
  bytecode-compiled copies when their ``version.py`` equals the one in
  Spark's source-only ``pyspark.zip`` and ``py4j-*-src.zip``, so no
  process compiles PySpark from the zip; on a mismatch the archives
  stay first on the path, as Spark put them.
* On CPython before 3.13 a task's ``importlib.invalidate_caches()``
  re-reads a zip archive (the Spark jar on the path, or an archive
  kept above) only when the archive changed.
* Worker and driver sockets are Unix domain sockets in the session's
  temp dir, which spares the first batch of each task a ~40 ms TCP
  wait. Spark names a socket ``<dir>/.<uuid4>.sock``, the JVM takes
  that path up to 106 bytes and Spark refuses a dir longer than 61
  chars, so a temp dir too long for either keeps TCP
  (``python_socket_confs``): a long temp path may cost speed, never
  the session. This part is a conf, not the start-up module.

Driver calls. PySpark wraps every Column function in a call-site
capture (``pyspark.errors.utils._with_origin``): it reads a conf and
sets and clears the JVM's ``PySparkCurrentOrigin`` around the call, so
one warm ``F.col("x")`` sends 13 gateway commands instead of 3, each a
round trip to the JVM (~0.3 ms on a 4-core VM; a plan build sends
hundreds, ``scripts/probe_keys.py`` counts them per key).
``spark.python.sql.dataFrameDebugging.enabled=false`` turns it off.
What is lost is the Python caller's file and line in a runtime error's
``== DataFrame ==`` context, which then names the JVM's reflective
entry point; the error class, the message and the JVM stack stay. The
capture runs in the driver's Python whatever the master, so the conf
is set for every master, not only local ones. PySpark reads it once
per process, at the first Column call made under an active session,
and keeps that answer: a process whose first session is not a
``get_spark`` one keeps the capture for its life.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")

WORKER_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workerpath")
# the longest socket path both ends accept, in bytes: AF_UNIX's 108-byte
# sun_path holds 107 and a NUL for Python, and the JVM refuses 107
UNIX_SOCKET_PATH_MAX = 106
# the longest spark.python.unix.domain.socket.dir Spark accepts, in Java
# chars, which equal str chars for any dir that passes the byte limit;
# a longer one fails the session at start
SPARK_SOCKET_DIR_MAX = 61


def python_socket_confs(tmp_dir: str) -> dict[str, str]:
    """Confs that make the Python worker and driver sockets Unix domain
    sockets in ``tmp_dir`` when Spark accepts the dir and every socket
    path it names there is short enough, and keep them on TCP otherwise."""
    sock = os.path.join(tmp_dir, f".{uuid.UUID(int=0)}.sock")
    if len(tmp_dir) > SPARK_SOCKET_DIR_MAX or len(os.fsencode(sock)) > UNIX_SOCKET_PATH_MAX:
        return {"spark.python.unix.domain.socket.enabled": "false"}
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": tmp_dir,
    }


def get_spark(
    app_name: str = "map-reduce-subnet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    At cluster scale the same settings apply unchanged: AQE coalesces the
    statically-over-provisioned shuffle partitions down to what the data
    actually needs, converts sort-merge joins to broadcast when the
    runtime size of a side is below the threshold, and splits skewed
    shuffle partitions (the salting fallback is in operators/joins.py).
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Adaptive execution: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Shuffle sizing ---------------------------------------------
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or 32),
        )
        # --- Arrow for every pandas_udf / applyInPandas boundary --------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet TIMESTAMP(NANOS) columns surface as LongType (epoch
        # nanos); sources/tables.py truncates them to microsecond
        # timestamps, matching DuckDB's ns→us truncation on read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast threshold: dims (region/nation/customer/supplier/part)
        # stay broadcastable well past sf0.1; AQE upgrades at runtime too.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # --- Straggler redundancy (reference README.md:18 "usually with
        # redundancy"): speculative re-execution of slow tasks. On a
        # 1000-executor cluster one slow disk/node no longer gates the
        # stage. NOTE: these knobs are inert under local[*] — Spark's
        # TaskSchedulerImpl starts the speculation thread only on a
        # real cluster manager — so they cost nothing here and engage
        # only on deployment. The 10s minTaskRuntime floor keeps
        # cluster-side speculation away from sub-second tasks, where
        # duplicating work adds variance instead of cutting tail
        # latency; 100 TB cluster tasks run minutes and still
        # speculate.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
        .config("spark.speculation.minTaskRuntime", "10s")
        # --- Priority scheduling analog (reference neurons/miner.py:
        # 127-137 priority_fn): FAIR scheduling lets concurrent jobs on
        # one session share the cluster by pool weight instead of FIFO
        # head-of-line blocking; callers tag work via
        # sc.setLocalProperty("spark.scheduler.pool", <pool>).
        .config("spark.scheduler.mode", "FAIR")
        # --- Heap sizing: in local mode driver + all 32 executor
        # threads share ONE JVM, and Spark's 1g default puts a long
        # bench run (every query, streaming state stores, memory
        # sinks) one unlucky GC away from an OutOfMemoryError, which
        # kills the SparkContext and fails every later query. 16g
        # is still tiny against the 128 GiB harness box. Only takes
        # effect at JVM launch (getOrCreate on a live session ignores
        # it — e.g. under the driver's own pre-built session, which
        # sizes its own JVM).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Quieter Ivy/UI in the harness. The console progress bar ends
        # its line in a carriage return, so whatever is printed next
        # (bench.py's JSON lines) would share its line.
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # --- Driver calls: see the module docstring ----------------------
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master.startswith("local"):
        # --- Python workers: see the module docstring ------------------
        builder = builder.config(map={
            "spark.executorEnv.PYTHONPATH": WORKER_PATH,
            **python_socket_confs(tempfile.gettempdir()),
        })
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
