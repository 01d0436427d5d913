"""SparkSession factory with the engine's scale-oriented defaults.

The same conf is used for local testing (local[N]) and would apply
unchanged on a multi-executor cluster: AQE handles runtime re-planning
(partition coalescing, skew-join splitting), shuffle partitions are
sized for the local core count but overridable via env, and the session
timezone is pinned to UTC to mirror the reference storage schema
(DateTime64(3,'UTC') — db/clickhouse/init.sql:12).

Cold start.  A fresh driver JVM spends seconds loading and verifying
the same Spark classes, so ``get_spark`` launches it with a JDK 17
dynamic class-data-sharing (AppCDS) archive of them, passed through
``spark.driver.defaultJavaOptions`` (Spark prepends that conf to the
caller's ``--driver-java-options``, so it replaces nothing).  The
archive fills itself:

- It lives in ``$XDG_CACHE_HOME/currency_market_pulse_spark/cds/``
  (default ``~/.cache``): one ``<key>.jsa`` per key and a
  ``<key>.json`` sidecar holding its size and key.  The key covers
  only what decides whether the JVM can map the archive: the JDK
  build, the launch classpath (conf dir, the ``$SPARK_HOME/jars``
  listing with sizes and mtimes, extra class-path entries, jars and
  packages), the heap's side of the 32 GB compressed-oops line and
  the caller's ``-XX:`` driver options.  Per-run options such as
  ``-Djava.io.tmpdir``, the warehouse dir or event logging leave it
  unchanged.  At most ``_KEEP`` keys stay on disk; the least recently
  used goes first.
- The first process that finds no archive for its key launches with
  ``-XX:+RecordDynamicDumpInfo``.  At interpreter exit it dumps the
  loaded classes with ``jcmd <pid> VM.cds dynamic_dump`` to a
  temporary name and publishes archive, then sidecar, by
  ``os.replace``.
- JDK 17 neither dumps nor maps an archive while a non-empty
  directory is on the classpath, and Spark puts its conf dir first on
  it.  A conf dir that holds only ``*.template`` files (Spark reads
  none of them; a stock ``$SPARK_HOME/conf`` is one) is swapped
  for an empty one from the cache, for the launch only.  A conf dir
  with real files, or a set ``HADOOP_CONF_DIR`` / ``YARN_CONF_DIR``,
  skips the archive.
- A bad archive never breaks a session.  One whose size or key
  disagrees with its sidecar is deleted and the JVM launches as it
  would without the archive; the next process records a new one.  An
  archive the JVM does not map (read from its ``-Xlog:cds`` output,
  which goes to a file in the cache, not to the console) is deleted
  after the launch, and a launch that dies with one deletes it and
  launches once without it.

Each JVM launch logs one line on this module's logger:
``used``, ``recording``, ``skipped: <reason>`` or ``rejected: <reason>``.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import logging
import os
import re
import shlex
import shutil
import subprocess
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: keys kept on disk, each archive ~100-130 MB
_KEEP = 3

#: temporary and log files older than this belong to dead processes
_STALE_S = 3600

_DEFAULT_JAVA_OPTS = "spark.driver.defaultJavaOptions"

#: spark-submit flags that set a launch-time conf; a flag beats the
#: same key given by ``--conf`` (SparkSubmitArguments)
_SUBMIT_FLAGS = {"--driver-memory": "spark.driver.memory",
                 "--driver-java-options": "spark.driver.extraJavaOptions",
                 "--driver-class-path": "spark.driver.extraClassPath",
                 "--jars": "spark.jars",
                 "--packages": "spark.jars.packages"}

#: options by which a caller already manages class data sharing
_CDS_OPTS = re.compile(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit"
                       r"|RecordDynamicDumpInfo")

#: a path the JVM option string and ``-Xlog:...:file=`` carry unquoted
_PLAIN_PATH = re.compile(r"[\w./+-]+")



def get_spark(app_name: str = "currency-market-pulse-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Env overrides: SPARK_GRAFT_CPUS (local parallelism),
    SPARK_GRAFT_SHUFFLE_PARTITIONS.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    # local mode runs all "executors" inside the driver JVM, whose Spark
    # default heap is 1g — 32 concurrent tasks' aggregation state OOMs
    # there long before the machine (measured: lineitem_profile's exact
    # NDV sets at sf1).  Only effective at JVM launch; a pre-existing
    # session keeps its heap.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    conf = {
        "spark.app.name": app_name,
        "spark.master": master,
        "spark.driver.memory": driver_mem,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # FAIR job scheduling: the composed pipeline runs up to six
        # concurrent streaming queries on one scheduler — under the
        # default FIFO a 32-task micro-batch job head-of-line-blocks
        # every other query's trigger (measured in STREAM_BENCH as
        # multi-second p50 walls for sub-second jobs).  Each streaming
        # query is assigned its own pool at start
        # (streaming/pipeline.py); pools share task slots fairly.
        # Batch/bench runs are single-threaded (one pool) and keep
        # exact FIFO behavior.  SPARK_GRAFT_SCHEDULER=FIFO overrides
        # (context-level conf: only effective at JVM launch).
        "spark.scheduler.mode":
            os.environ.get("SPARK_GRAFT_SCHEDULER", "FAIR"),
        # AQE: runtime partition coalescing + skew-join mitigation — the
        # 100 TB posture depends on it (skewed currency pairs / user ids).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Dimension tables (region/nation/currency) are tiny; broadcast
        # them rather than shuffling the fact side.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Some fixture rounds store events.ts as TIMESTAMP(NANOS);
        # Spark has no ns timestamp — read as long and convert in the
        # catalog layer (sources/catalog.py, which also handles the
        # us-precision encodings later rounds generate).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Arrow for every pandas_udf / applyInPandas exchange.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
    }
    # Pools are EQUAL-weight (no allocation file).  The r12 weighted
    # pools (import 4 / trends 2 / probes 1 + minShares) were retired
    # on two null measurements: steady-state A/B within noise
    # (STREAM_BENCH_flatpools.json, r12 — FAIR assigns free slots but
    # never preempts, so weights cannot rescue latency under long doc
    # tasks) and a 5x doc-burst A/B ALSO within noise
    # (STREAM_BENCH_burst_{weighted,flat}.json, r13 — import p50/p95
    # during the burst identical both ways).  Per-query pools + FAIR
    # mode carry all of the measured benefit.
    spark = _launch(conf)
    _silence_windowexec_warning(spark)
    return spark


def _launch(conf: dict[str, str]) -> SparkSession:
    """``getOrCreate``; a new driver JVM is launched with the class
    archive wherever its preconditions hold (module docstring)."""
    plain = SparkSession.builder.config(map=conf)
    if SparkContext._gateway is not None or \
            "PYSPARK_GATEWAY_PORT" in os.environ:
        return plain.getOrCreate()  # the JVM is up already
    plan = _plan(conf)
    if isinstance(plan, str):
        log.info("JVM class archive skipped: %s", plan)
        return plain.getOrCreate()
    key, fields, conf_dir, cache = plan
    jsa, sidecar = _paths(cache, key)
    bad = _check(jsa, sidecar, key)
    if bad:
        _drop(cache, key)
        log.warning("JVM class archive rejected: %s", bad)
        return plain.getOrCreate()
    use = os.path.exists(jsa)
    jcmd = _jdk_tool("jcmd")
    if not use and jcmd is None:
        log.info("JVM class archive skipped: no jcmd to record one with")
        return plain.getOrCreate()
    xlog = os.path.join(cache, f"{key}.{os.getpid()}.log")
    opts = (f"-XX:SharedArchiveFile={jsa}" if use
            else "-XX:+RecordDynamicDumpInfo")
    opts += f" -Xlog:cds*=off -Xlog:cds,cds+dynamic=info:file={xlog}"
    try:
        with _env("SPARK_CONF_DIR", conf_dir):
            spark = SparkSession.builder.config(
                map={**conf, _DEFAULT_JAVA_OPTS: opts}).getOrCreate()
    except PySparkRuntimeError:
        _remove(xlog)
        if not use:
            raise
        _drop(cache, key)
        log.warning("JVM class archive rejected: the JVM did not start "
                    "with %s; launched without it", jsa)
        return plain.getOrCreate()
    try:
        with open(xlog, errors="replace") as f:
            jvm_log = f.read()
    except OSError:
        jvm_log = ""  # no word from the JVM: count the archive unmapped
    _remove(xlog)
    if not use:
        atexit.register(_record, SparkContext._gateway, jcmd, cache, key,
                        fields)
        log.info("JVM class archive recording: %s at exit", jsa)
    elif "Mapped dynamic region" in jvm_log and \
            "Unable to use shared archive" not in jvm_log:
        try:
            os.utime(sidecar)  # least recently used goes first
        except OSError:
            pass
        log.info("JVM class archive used: %s", jsa)
    else:
        _drop(cache, key)
        log.warning("JVM class archive rejected: the JVM did not map %s",
                    jsa)
    return spark


def _plan(conf: dict[str, str]) -> str | tuple[str, dict, str | None, str]:
    """The archive key of a launch with builder ``conf``, as
    ``(key, fields, conf dir to launch with, cache dir)``, or the
    reason to launch without an archive."""
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        if os.environ.get(var):
            return f"{var} is set"
    launch = _launch_conf(conf)
    if _DEFAULT_JAVA_OPTS in launch:
        return f"the caller sets {_DEFAULT_JAVA_OPTS}"
    java_opts = " ".join((launch.get("spark.driver.extraJavaOptions", ""),
                          os.environ.get("SPARK_SUBMIT_OPTS", "")))
    if _CDS_OPTS.search(java_opts):
        return "the caller sets class-sharing options"
    java = _jdk_tool("java")
    if java is None:
        return "no java found"
    cache = _cache_dir()
    if not _PLAIN_PATH.fullmatch(cache):
        return f"cache dir {cache!r} needs quoting in JVM options"
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or \
        os.path.join(spark_home, "conf")
    try:
        names = sorted(os.listdir(conf_dir))
    except OSError:
        names = []
    real = [n for n in names if not n.endswith(".template")]
    if real:
        return f"conf dir {conf_dir} holds {real[0]}"
    launch_dir = None
    if names:  # templates only: launch with an empty conf dir instead
        launch_dir = conf_dir = os.path.join(cache, "conf")
    try:
        os.makedirs(conf_dir if launch_dir else cache, exist_ok=True)
        jars = [(e.name, e.stat().st_size, e.stat().st_mtime_ns)
                for e in os.scandir(os.path.join(spark_home, "jars"))]
    except OSError as e:
        return str(e)
    fields = {
        "jdk": _jdk_build(java),
        "conf_dir": conf_dir,
        "jars": sorted(jars),
        "class_path": [os.environ.get("SPARK_DIST_CLASSPATH", "")] + [
            launch.get(k, "") for k in ("spark.driver.extraClassPath",
                                        "spark.jars", "spark.jars.packages")],
        "heap_over_32g": _over_32g(launch.get("spark.driver.memory", "1g")),
        "xx": sorted(o for o in java_opts.split() if o.startswith("-XX:")),
    }
    key = hashlib.sha256(json.dumps(fields, sort_keys=True).encode()) \
        .hexdigest()[:24]
    return key, fields, launch_dir, cache


def _launch_conf(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` as spark-submit will see it after ``PYSPARK_SUBMIT_ARGS``.
    A key this misses (say, a class path set in a properties file) is
    caught by the JVM, which refuses the archive; it is then recorded
    again."""
    out, flags = dict(conf), {}
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    for i, a in enumerate(args[:-1]):
        if a in ("--conf", "-c") and "=" in args[i + 1]:
            k, v = args[i + 1].split("=", 1)
            out[k] = v
        elif a in _SUBMIT_FLAGS:
            flags[_SUBMIT_FLAGS[a]] = args[i + 1]
    out.update(flags)
    return out


def _over_32g(mem: str) -> bool | str:
    """Whether a heap of ``mem`` (spark.driver.memory syntax) is past
    the 32 GB line above which the JVM drops compressed oops."""
    m = re.fullmatch(r"(\d+)([bkmgt]?)b?", mem.strip().lower())
    if m is None:
        return mem
    unit = "bkmgt".index(m.group(2) or "m")  # a bare number is MiB
    return int(m.group(1)) * 1024 ** unit >= 32 << 30


def _jdk_tool(name: str) -> str | None:
    """The JDK binary spark-class launches with (``$JAVA_HOME/bin``,
    else ``PATH``)."""
    home = os.environ.get("JAVA_HOME")
    path = os.path.join(home, "bin", name) if home else shutil.which(name)
    return path if path and os.access(path, os.X_OK) else None


def _jdk_build(java: str) -> list:
    """What identifies the JDK build behind ``java``."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    out: list = [root]
    for rel in ("release", "lib/modules", "lib/server/libjvm.so"):
        try:
            st = os.stat(os.path.join(root, rel))
            out.append([rel, st.st_size, st.st_mtime_ns])
        except OSError:
            out.append([rel, None])
    return out


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or \
        os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(os.path.abspath(base), "currency_market_pulse_spark",
                        "cds")


def _paths(cache: str, key: str) -> tuple[str, str]:
    return (os.path.join(cache, key + ".jsa"),
            os.path.join(cache, key + ".json"))


def _check(jsa: str, sidecar: str, key: str) -> str | None:
    """Why the archive of ``key`` may not be handed to the JVM, or
    None (no archive is fine)."""
    try:
        size = os.path.getsize(jsa)
    except OSError:
        return None
    try:
        with open(sidecar) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return f"{jsa} has no readable sidecar"
    if meta.get("key") != key:
        return f"{sidecar} records key {meta.get('key')!r}"
    if meta.get("size") != size:
        return f"{jsa} is {size} bytes, its sidecar says {meta.get('size')}"
    return None


def _remove(*paths: str) -> None:
    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass


def _drop(cache: str, key: str) -> None:
    _remove(*_paths(cache, key))


@contextmanager
def _env(var: str, value: str | None):
    """``os.environ[var] = value`` inside the block (None: untouched)."""
    old = os.environ.get(var)
    if value is not None:
        os.environ[var] = value
    try:
        yield
    finally:
        if value is not None:
            if old is None:
                del os.environ[var]
            else:
                os.environ[var] = old


def _record(gateway, jcmd: str, cache: str, key: str, fields: dict) -> None:
    """At exit: dump the classes the driver JVM loaded and publish them
    whole, archive first, then the sidecar that vouches for it."""
    proc = gateway.proc
    if proc.poll() is not None:
        return  # the JVM is gone: nothing to dump
    try:  # the dump reports itself on the JVM's System.out, our stdout
        jvm = gateway.jvm
        jvm.System.setOut(jvm.java.io.PrintStream(
            jvm.java.io.OutputStream.nullOutputStream()))
    except Py4JError:
        pass  # a closed gateway: the report is cosmetic
    jsa, sidecar = _paths(cache, key)
    tmp = f"{jsa}.{os.getpid()}.tmp"
    try:
        subprocess.run([jcmd, str(proc.pid), "VM.cds", "dynamic_dump", tmp],
                       capture_output=True, check=True, timeout=300)
        meta = {"key": key, "size": os.path.getsize(tmp), "fields": fields}
        os.replace(tmp, jsa)
        with open(f"{sidecar}.{os.getpid()}.tmp", "w") as f:
            json.dump(meta, f)
        os.replace(f.name, sidecar)
        _evict(cache)
    except (OSError, subprocess.SubprocessError) as e:
        _remove(tmp)
        log.warning("JVM class archive not recorded: %s", e)


def _evict(cache: str) -> None:
    """Keep the ``_KEEP`` most recently used keys; drop files that dead
    processes left behind."""
    now, used = time.time(), {}
    for e in os.scandir(cache):
        stem, ext = os.path.splitext(e.name)
        if ext in (".tmp", ".log"):
            if now - e.stat().st_mtime > _STALE_S:
                _remove(e.path)
        elif ext in (".jsa", ".json"):
            used[stem] = max(used.get(stem, 0.0), e.stat().st_mtime)
    for key in sorted(used, key=used.get, reverse=True)[_KEEP:]:
        _drop(cache, key)


def _silence_windowexec_warning(spark: SparkSession) -> None:
    """Set the WindowExec logger to ERROR.

    Every unpartitioned window in this repo runs over a provably
    post-limit / metadata-scale relation — k seed centroids
    (kmeans.py), the top-R vocabulary head (textops.py Zipf), the
    ~num_partitions prefix-offset relation (sampling.py), k sampled
    rows (sampling.py weighted_sample), 20 PageRank rows
    (queries/similarity.py) — each site carries a comment saying so.
    The warning itself cannot be avoided at the plan level: Spark 4's
    EliminateWindowPartitions optimizer rule removes ANY foldable
    partition key (verified: Window.partitionBy(lit(0)) and even
    col*0 both fold to an empty partition spec), so a "constant
    partition key" workaround is dead code.  Left on, the warning
    fired 100+ times per bench/gate run and buried real signals in
    the BENCH tail (VERDICT r7 "what's wrong" #3).  Scope is ONE
    logger (WindowExec's single warning message); genuinely
    data-sized unpartitioned windows are guarded by tools/
    plan_audit.py's shuffle-count and plan-shape assertions instead.
    """
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:
        # non-log4j2 deployments: the warning is cosmetic; never let
        # logging setup break session construction
        pass
