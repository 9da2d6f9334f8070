"""SparkSession factory tuned for the engine.

Defaults mirror what we would submit to a real cluster via
``spark-submit --py-files`` (AQE on, Arrow on, sane shuffle partitioning);
local[] master + small shuffle partition counts are test-only conveniences.
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import SparkSession


def install_zip_stamp() -> None:
    """Make a zip importer re-read its archive's directory only when the
    archive changed. Idempotent; the package ``__init__`` calls it, so every
    Python worker installs it when it unpickles its first engine kernel.

    pyspark calls ``importlib.invalidate_caches()`` at the start of EVERY
    task (worker_util.setup_spark_files), and CPython 3.11's
    ``zipimporter.invalidate_caches`` eagerly re-reads the whole central
    directory of every cached zip importer. A worker holds 16 of them: two
    on the spark-core jar (5359 entries, ~46 ms per re-read), most of the
    rest on pyspark.zip (1328 entries, ~11 ms) and one on py4j's zip, which
    added up to 194-239 ms per task on a reused worker (4-core host). A
    one-task mapInPandas job took 0.32 s against 0.08-0.09 s for a JVM-only
    job, and 0.15 s with the stamp. With it each importer re-reads at most
    once per process while its archive is unchanged.

    The stamp is the archive's (st_mtime_ns, st_size), taken BEFORE the
    re-read it records: a rewrite that lands during or after the read
    changes the stamp, so the next call re-reads (a re-shipped --py-files
    zip still imports its new modules). A failed stat leaves no stamp and
    always re-reads, as before.
    """
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stamped", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    invalidate_caches._stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def get_spark(
    app_name: str = "search-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster, ``master`` is supplied by spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # driver heap scales with local[] parallelism (2g/core like per-executor
    # memory on a real cluster) but is capped by the machine's physical RAM:
    # -Xms==-Xmx on a host with < 2GB/hardware-thread would fail to start
    # or invite the OOM killer
    try:
        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
        mem_cap_gb = max(1, int(mem_kb / 1024 / 1024 * 0.7))
    except OSError:
        mem_cap_gb = 64
    heap = os.environ.get(
        "SPARK_DRIVER_MEMORY", f"{min(2 * int(cpus), mem_cap_gb, 64)}g"
    )
    # pin the initial heap: growing a multi-GB heap mid-build costs a burst
    # of full GCs exactly while 32 tasks are allocating. The young gen is
    # capped at 10% of the heap (default: up to 60%): with a multi-10GB
    # heap G1 otherwise rotates young allocation through fresh never-
    # touched regions, and on a host with slow page zeroing (~1.5GB/s
    # first-touch here) that shows up as erratic multi-second stalls in
    # SMALL jobs (measured on a 5k-doc projection: 0.5..22s bimodal
    # uncapped vs 0.7-1.0s steady capped, interleaved A/B, all GC pauses
    # < 5ms — page faults, not GC). A bounded young gen reuses already-
    # faulted pages; the big allocations of the build path are humongous
    # objects that bypass the young gen, so build throughput is unaffected
    # (interleaved 400k-doc builds: capped 22.8/33.8/33.8s vs uncapped
    # 21.9/41.0/78.7s). User-supplied driver Java options (extra_conf) are
    # appended, not clobbered.
    java_opts = (
        f"-Xms{heap} -XX:+UnlockExperimentalVMOptions -XX:G1MaxNewSizePercent=10"
    )
    extra_conf = dict(extra_conf or {})
    if "spark.driver.extraJavaOptions" in extra_conf:
        java_opts = java_opts + " " + extra_conf.pop("spark.driver.extraJavaOptions")
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime coalescing + skew-join splitting on top of our explicit salting
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas UDF exchange (vectorized, no per-row Python)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep broadcast threshold default; the query-term frame is tiny and
        # explicitly broadcast()ed where it matters
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        # target ~128MB input splits at scale
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local mode runs every "executor" thread inside the one driver JVM,
        # so heap must scale with parallelism like per-executor memory does
        # on a real cluster: a fixed small heap makes local[32] slower than
        # local[8] at big inputs from eviction/GC
        .config("spark.driver.memory", heap)
        .config("spark.driver.extraJavaOptions", java_opts)
    )
    # numpy madvise(MADV_HUGEPAGE)s every allocation >= 4MB; under THP
    # defrag=madvise (this kernel's setting) each first touch of such a
    # region runs SYNCHRONOUS hugepage compaction, which on a fragmented
    # host stalls 10-20x (measured here: first vb_encode over a 5M-value
    # array 8.3s vs 0.4s with the madvise off — and every fresh Python
    # worker re-pays it on its first task's large temporaries). Large-page
    # TLB wins are irrelevant next to that; default it off for all Python
    # workers and the driver. NUMPY_MADVISE_HUGEPAGE in the caller's env
    # wins over the default.
    np_hp = os.environ.get("NUMPY_MADVISE_HUGEPAGE", "0")
    os.environ["NUMPY_MADVISE_HUGEPAGE"] = np_hp
    builder = builder.config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE", np_hp)
    # glibc munmaps every allocation above the (dynamic) mmap threshold on
    # free, so each large numpy temporary in a hot kernel re-pays kernel
    # page zeroing on first touch — and this host zeroes at only ~1.5GB/s
    # single-threaded, which 32 concurrent workers contend for. Raising the
    # mmap threshold keeps big buffers on the reusable sbrk heap (faulted
    # once per worker, then recycled): measured 1.7x on a repeated 256MB
    # alloc+touch cycle single-threaded, more under contention. Trim
    # threshold stops the heap from being returned to the kernel between
    # tasks. Caller's env wins.
    for var, dflt in (
        ("MALLOC_MMAP_THRESHOLD_", str(1 << 30)),
        ("MALLOC_TRIM_THRESHOLD_", str(256 << 20)),
    ):
        val = os.environ.get(var, dflt)
        os.environ[var] = val
        builder = builder.config(f"spark.executorEnv.{var}", val)
    # Shuffle/spill files must land on storage that scales with concurrent
    # writers. On a real cluster SPARK_LOCAL_DIRS points at executor-local
    # NVMe; this sandbox's single virtio disk anti-scales with writer count
    # (identical 261MB write: 23.5s tmpfs vs 52.7s /tmp at 32 threads), so
    # default to tmpfs — but ONLY when /dev/shm has real headroom beyond the
    # pinned JVM heap: shuffle spill competing with the heap for RAM hits
    # tmpfs ENOSPC on hosts where /dev/shm (default 50% RAM) is tight, and
    # those builds would have succeeded on disk. SPARK_LOCAL_DIRS /
    # extra_conf / SPARK_GRAFT_TMPFS=0 all win over the heuristic.
    if (
        not os.environ.get("SPARK_LOCAL_DIRS")
        and os.environ.get("SPARK_GRAFT_TMPFS", "1") != "0"
        and "spark.local.dir" not in (extra_conf or {})
    ):
        shm = "/dev/shm/spark-local"
        try:
            st = os.statvfs("/dev/shm")
            free_gb = st.f_bavail * st.f_frsize / (1 << 30)
        except OSError:
            free_gb = 0.0
        # require a real absolute headroom floor (not heap-relative: the
        # pinned heap is ALLOCATED RAM, tmpfs free space is a separate
        # budget — demanding heap+spill of tmpfs would wrongly reject
        # boxes like this one where /dev/shm = 50% RAM ~= the heap)
        if free_gb >= 16:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
