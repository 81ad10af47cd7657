"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point, applied identically in
local-mode tests:

* AQE on (runtime partition coalescing + skew-join splitting) — replaces the
  reference's hand-built dict indexes and memory tricks
  (reference libs/graph/knowledge_graph.py:17,29-30).
* Arrow execution on — every Python kernel is an Arrow-batched pandas UDF,
  never per-row Python (input contract).
* Explicit shuffle partitioning — sized to cores locally; on a real cluster
  AQE coalesces from a deliberately-high initial number.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Local-mode heap: in ``local[n]`` the driver JVM hosts every executor
    thread, so the default sizes to HALF the machine's RAM (capped 8–64 g).
    The old fixed 8 g OOMed a 32-thread 100M-triple run in the round-3 e2e
    probe. Override with ``SPARKTAX_DRIVER_MEM``; on a real cluster
    spark-submit's ``--driver-memory``/``--executor-memory`` govern instead."""
    env = os.environ.get("SPARKTAX_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
        return f"{max(8, min(64, kb // (1024 * 1024) // 2))}g"
    except (OSError, StopIteration, ValueError):
        return "8g"


def _default_local_dir() -> str | None:
    """Shuffle/spill scratch dir. This sandbox's virtual disk write path
    throttles to ~20 MB/s under sustained load while /dev/shm sustains
    ~900 MB/s, so local runs prefer RAM-backed scratch when the tmpfs has
    ≥32 GiB headroom. Override with ``SPARKTAX_LOCAL_DIR``; real clusters
    set ``SPARK_LOCAL_DIRS`` (NVMe) at the platform level instead."""
    env = os.environ.get("SPARKTAX_LOCAL_DIR")
    if env:
        return env
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 32 * 2**30:
            base = "/dev/shm/sparktax-scratch"
            _sweep_dead_scratch(base)
            # per-process subdir: hard-killed sessions leave shuffle files
            # that would otherwise hold tmpfs RAM until reboot; tagging by
            # pid lets the next session's sweep reclaim them safely
            d = os.path.join(base, f"pid-{os.getpid()}")
            os.makedirs(d, exist_ok=True)
            import atexit
            import shutil

            atexit.register(shutil.rmtree, d, True)
            return d
    except OSError:
        pass
    return None


def _sweep_dead_scratch(base: str) -> None:
    """Reclaim scratch left by dead sessions: ``pid-N`` dirs whose process
    is gone, and legacy un-tagged ``spark-*``/``blockmgr-*`` dirs (written
    by pre-round-4 sessions directly under ``base``)."""
    import shutil

    try:
        entries = os.listdir(base)
    except OSError:
        return
    now = time.time()
    for name in entries:
        path = os.path.join(base, name)
        dead = False
        if name.startswith(("spark-", "blockmgr-")):
            # legacy un-tagged dirs carry no owner pid: a pre-round-4
            # session could still be using them, so only reclaim after
            # an hour of no modification (live shuffle dirs churn)
            try:
                dead = now - os.path.getmtime(path) > 3600
            except OSError:
                continue
        if name.startswith("pid-"):
            try:
                os.kill(int(name[4:]), 0)
            except (ValueError, ProcessLookupError):
                dead = True
            except PermissionError:
                pass  # alive, owned elsewhere
        if dead:
            shutil.rmtree(path, ignore_errors=True)


def get_spark(
    app: str = "sparktax",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores``: int n → ``local[n]``; "*" → all; None → env
    ``SPARK_GRAFT_CPUS`` or all cores.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    n_cores = os.cpu_count() or 8 if cores in ("*",) else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n_cores, 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app)
        # --- adaptive execution: runtime coalesce + skew-join splitting ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Arrow lane for every pandas UDF / applyInPandas kernel ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # generous broadcast threshold: dims (entities/relations/candidate
        # dictionaries) are small relative to triples at any scale
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", _default_driver_mem())
        # FAIR: concurrent driver-thread jobs (the expressive wave
        # sampler's per-axiom scans, DSIR's overlapped count jobs) share
        # slots instead of FIFO head-of-line blocking. Single-job
        # workloads (the bench, the gate) are unaffected: one job.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # a crashed Python worker otherwise surfaces as an opaque
        # "exited unexpectedly" (or a silent hang while the JVM waits on
        # the Arrow stream — observed once on a long session); the
        # faulthandler dump costs nothing and names the faulting frame
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
    )
    local_dir = _default_local_dir()
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def stop_spark() -> None:
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()

