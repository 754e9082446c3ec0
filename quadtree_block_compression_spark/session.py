"""SparkSession construction with engine defaults.

Replaces the reference's parallelism booleans (``pkg/config/config.go:33-41``)
with real Spark knobs. Defaults are tuned for the scale story:

* AQE on (runtime coalescing + skew-join splitting),
* Arrow on, with a small ``maxRecordsPerBatch`` — rows carry multi-KB binary
  image payloads, so the default 10k-row batches would balloon executor
  memory at 100 TB,
* shuffle partitions sized to cores locally; on a real cluster this is
  overridden by ``spark.sql.adaptive.coalescePartitions`` + a larger initial
  count.
* Python workers talk to the JVM over Unix domain sockets, not loopback TCP:
  the TCP socket carries no ``TCP_NODELAY``, so Linux's delayed ACK stalls
  each task ~40 ms while the worker waits for its Arrow stream. Spark names
  each socket file ``.<uuid4>.sock`` and AF_UNIX paths end at 108 bytes, so
  the session puts them in the temp directory, or ``/tmp`` when that is too
  deep (Spark's own default, ``java.io.tmpdir``, may be any length), and
  stays on TCP if neither fits.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# "/.<uuid4>.sock" is 43 bytes; sun_path holds 108 with the closing NUL
_SOCKET_NAME_LEN, _SUN_PATH_LEN = 43, 108


def _socket_dir() -> str | None:
    """A writable directory short enough for Spark's socket files, or None."""
    for d in (tempfile.gettempdir(), "/tmp"):
        if len(os.fsencode(d)) + _SOCKET_NAME_LEN < _SUN_PATH_LEN and os.access(d, os.W_OK):
            return d
    return None


def build_session(app: str = "quadtree-engine", cores: int | None = None,
                  shuffle_partitions: int | None = None, extra: dict | None = None) -> SparkSession:
    # One math thread per python worker: Spark parallelizes across workers
    # (one per core), so intra-op BLAS/OpenMP threading would oversubscribe
    # the box and falsify core-count scaling (on a real cluster, executor
    # cores are the unit of parallelism). Must be set before the JVM forks
    # the python worker daemon.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (SparkSession.builder.appName(app)
         .master(f"local[{cores}]")
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.default.parallelism", str(cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         # r6: the engine's post-shuffle stages are CPU-dense per byte
         # (md5/regexp/HOF projections over skinny long/string rows), so
         # AQE's default 1 MB coalescing floor folded 32-partition
         # exchanges of a few MB down to ~10 tasks and idled 2/3 of the
         # cores exactly in the hottest stages. A 256 KB floor keeps such
         # stages wide; at cluster scale post-shuffle partitions are far
         # above either floor, so this only moves byte-small CPU-heavy
         # stages (and remains a plain conf for deployments to override).
         .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
         .config("spark.sql.parquet.compression.codec", "zstd")
         .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
         .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
         # r6 (guide §3.1): let the planner pick shuffled-hash joins when
         # its size conditions hold, and let AQE rewrite SMJ→SHJ when every
         # post-shuffle partition is under 64 MB — skips the per-side sort.
         # Measured at sf1: ngram_jaccard 16.2→11.8s, q3 5.5→3.8s,
         # simhash_pairs 4.5→2.9s; full 80-query oracle sweep green under
         # the SHJ plan space. Scale posture: the 64 MB local-map bound
         # keeps any single build partition executor-memory-safe on a
         # cluster, and AQE skew-join still splits oversized partitions.
         .config("spark.sql.join.preferSortMergeJoin", "false")
         .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                 str(64 * 1024 * 1024))
         .config("spark.ui.enabled", "false")
         # Python workers import pyspark from its installed directory, not
         # Spark's zip and jar archives: each task's invalidate_caches()
         # re-reads every cached zip importer (~215 ms CPU per task; see
         # _pydaemon). The package root on the workers' path lets the daemon
         # module import from any working directory.
         .config("spark.python.daemon.module", "quadtree_block_compression_spark._pydaemon")
         .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT))
    socket_dir = _socket_dir()
    if socket_dir:  # worker transport: see the module docstring
        b = (b.config("spark.python.unix.domain.socket.enabled", "true")
             .config("spark.python.unix.domain.socket.dir", socket_dir))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
