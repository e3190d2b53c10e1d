"""SparkSession factory — one place for every scale-relevant knob.

Defaults target one host (``local[<CPUs this process may use>]``, single
JVM); on a real cluster the same settings hold except master/memory come
from spark-submit.  AQE is on so the linking join gets runtime skew
splitting on top of our explicit salting (SURVEY.md §4 skew row).

**The driver JVM starts from a class-data-sharing archive.**  A launch
spends ~20 CPU-s loading, verifying and warming up Spark's classes, and
every session paid it again.  ``get_spark`` keeps one JDK dynamic CDS
archive (JEP 350) per host under ``$XDG_CACHE_HOME`` (or ``~/.cache``)
``/kgraphmemory_spark/cds/``, keyed by the JDK and the Spark jars
(``cds_key``).  A launch that finds no archive for its key records what
a dump needs (``-XX:+RecordDynamicDumpInfo``), and the session writes the
archive from that JVM when it is stopped, or at process exit if it never
is (the ``VM.cds dynamic_dump`` diagnostic command, ``_dynamic_dump``): no
launch and no build pays for it.  Every later launch maps it
(``-XX:SharedArchiveFile``), which cut perfbench's ``setup_s`` by 20-30 %
and the first build's class loading with it.  The dump is not left to
the JVM's exit (``-XX:ArchiveClassesAtExit``): a 178 MB archive took
17-25 s to write, and perfbench's ``Session.shutdown`` kills a JVM that
has not exited 20 s after its stdin closed.  The flags go in
``spark.driver.defaultJavaOptions``, which the launcher puts before any
caller's ``spark.driver.extraJavaOptions``.

The archive only ever helps:

- a process dumps into its own ``<key>.<pid>.part``, published with
  ``os.replace`` only once the dump command has returned (``publish``):
  a truncated archive at the published path would crash every later
  launch (SIGBUS while mapping), where a missing, stale or garbage one
  falls back to a normal launch under ``-Xshare:auto``;
- the JDK refuses to dump while the classpath holds a non-empty
  directory, and Spark's launcher puts ``$SPARK_CONF_DIR`` first on it.
  When that directory holds no active file (only ``*.template``), both
  the dump and every use run with ``SPARK_CONF_DIR`` set to one empty
  directory beside the archives, so the classpaths match; with an active
  conf dir, an unwritable cache, a caller's own
  ``spark.driver.defaultJavaOptions`` or an already running JVM, the
  launch is exactly what it was without CDS (``cds_launch``);
- CDS log lines are off and the dump's own message goes to stderr, so
  nothing lands on the caller's stdout.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
                   or len(os.sched_getaffinity(0)))
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"


def _default_driver_memory() -> str:
    """48g, or half of physical memory on a smaller host: a local-mode
    heap larger than the host never comes under GC pressure, so it grows
    until the kernel's OOM killer takes the JVM."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "48g"
    return f"{min(48 << 10, kb // 2048)}m"


@dataclass(frozen=True)
class CdsLaunch:
    """How one driver JVM launch uses the archive: its extra java options,
    the ``SPARK_CONF_DIR`` it runs with, the published archive, and the
    file the session dumps into (None when it maps ``archive``)."""
    java_options: str
    conf_dir: str
    archive: str
    part: str | None


def cds_launch(cache: str | None, key: str, conf_entries: list[str],
               published: bool, pid: int) -> CdsLaunch | None:
    """The CDS side of a launch by process ``pid``: map the archive at
    ``<cache>/<key>.jsa`` when it is ``published``, else record for a dump;
    None (launch without CDS) when there is no usable ``cache`` or the
    real conf dir holds an active file (``conf_entries`` is its listing)."""
    if cache is None or any(not e.endswith(".template")
                            for e in conf_entries):
        return None
    conf_dir = os.path.join(cache, "conf")
    archive = os.path.join(cache, f"{key}.jsa")
    if published:
        return CdsLaunch(f"-XX:SharedArchiveFile={archive} -Xshare:auto "
                         f"{_CDS_QUIET}", conf_dir, archive, None)
    part = os.path.join(cache, f"{key}.{pid}.part")
    return CdsLaunch(f"-XX:+RecordDynamicDumpInfo {_CDS_QUIET}",
                     conf_dir, archive, part)


def publish(launch: CdsLaunch, dumped: bool) -> None:
    """After a dump: its file becomes the published archive if the dump
    command returned, and is deleted if it failed (the file may be
    partial)."""
    try:
        if dumped:
            os.replace(launch.part, launch.archive)
        else:
            os.remove(launch.part)
    except OSError:
        pass


def _heap_mb(memory: str) -> int | None:
    """MB of a JVM size string (``4096m``, ``48g``; MB without a unit)."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", memory.strip().lower())
    if m is None:
        return None
    n = int(m[1])
    return {"k": n >> 10, "": n, "m": n, "g": n << 10, "t": n << 20}[m[2]]


def cds_key(java_home: str, jars_dir: str, heap_mb: int) -> str:
    """What the JVM checks before it maps an archive: the JDK build, the
    expanded ``jars/*`` classpath (listing order, sizes, mtimes) and
    compressed oops, which a heap of 32 GB or more turns off."""
    h = hashlib.sha256(os.path.realpath(java_home).encode())
    for rel in ("release", "lib/modules", "lib/server/libjvm.so"):
        st = os.stat(os.path.join(java_home, rel))
        h.update(f"{rel} {st.st_size} {st.st_mtime_ns}\n".encode())
    for name in os.listdir(jars_dir):
        st = os.stat(os.path.join(jars_dir, name))
        h.update(f"{name} {st.st_size} {st.st_mtime_ns}\n".encode())
    h.update(f"coops={heap_mb < 32 << 10}".encode())
    return h.hexdigest()[:20]


def _cds_cache() -> str | None:
    """The archive directory with its empty conf dir, created; None when it
    cannot be written or its path would need quoting in java options.
    Sweeps the ``.part`` files of processes that died before publishing."""
    base = (os.environ.get("XDG_CACHE_HOME")
            or os.path.join(os.path.expanduser("~"), ".cache"))
    cache = os.path.join(base, "kgraphmemory_spark", "cds")
    if re.search(r"[\s\"'\\]", cache):
        return None
    try:
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        if os.listdir(os.path.join(cache, "conf")) or not os.access(
                cache, os.W_OK | os.X_OK):
            return None
        for name in os.listdir(cache):
            part = re.fullmatch(r"\w+\.(\d+)\.part", name)
            if part is not None and not _alive(int(part[1])):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(cache, name))
    except OSError:
        return None
    return cache


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _plan_cds(memory: str) -> CdsLaunch | None:
    """``cds_launch`` for a driver JVM about to start on this host."""
    from pyspark.find_spark_home import _find_spark_home
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else shutil.which("java"))
    heap_mb = _heap_mb(memory)
    # the key covers a classpath of the conf dir and jars/* only
    if java is None or heap_mb is None or any(
            os.environ.get(v) for v in ("SPARK_CLASSPATH",
                                        "SPARK_DIST_CLASSPATH",
                                        "HADOOP_CONF_DIR", "YARN_CONF_DIR")):
        return None
    spark_home = _find_spark_home()
    real_conf = (os.environ.get("SPARK_CONF_DIR")
                 or os.path.join(spark_home, "conf"))
    try:
        key = cds_key(os.path.dirname(os.path.dirname(
            os.path.realpath(java))), os.path.join(spark_home, "jars"),
            heap_mb)
        conf_entries = (os.listdir(real_conf) if os.path.isdir(real_conf)
                        else [])
    except OSError:
        return None
    cache = _cds_cache()
    return cds_launch(cache, key, conf_entries, cache is not None
                      and os.path.isfile(os.path.join(cache, f"{key}.jsa")),
                      os.getpid())


def _dynamic_dump(gateway, path: str) -> None:
    """``jcmd <driver> VM.cds dynamic_dump <path>``, run in the driver JVM
    through its DiagnosticCommand MBean; returns once the file is written.
    The command prints the file name on ``System.out``, which is the
    caller's stdout, so that goes to ``System.err`` meanwhile."""
    jvm = gateway.jvm
    lang = jvm.java.lang

    def array(cls, items):
        a = gateway.new_array(cls, len(items))
        for i, x in enumerate(items):
            a[i] = x
        return a

    # reflection through the public interface: the platform MBean server's
    # class is not exported to py4j
    invoke = lang.Class.forName("javax.management.MBeanServerConnection")\
        .getMethod("invoke", array(lang.Class, [lang.Class.forName(c) for c in (
            "javax.management.ObjectName", "java.lang.String",
            "[Ljava.lang.Object;", "[Ljava.lang.String;")]))
    args = array(lang.Object, [
        jvm.javax.management.ObjectName(
            "com.sun.management:type=DiagnosticCommand"),
        "vmCds",
        array(lang.Object, [array(lang.String, ["dynamic_dump", path])]),
        array(lang.String, ["[Ljava.lang.String;"])])
    out = lang.System.out
    lang.System.setOut(lang.System.err)
    try:
        invoke.invoke(
            jvm.java.lang.management.ManagementFactory
            .getPlatformMBeanServer(), args)
    finally:
        lang.System.setOut(out)


def _dump_once(launch: CdsLaunch, gateway):
    """A callable that dumps and publishes the archive from ``gateway``'s
    JVM the first time it is called while that JVM still serves it."""
    pending = [launch]

    def dump() -> None:
        if (not pending or SparkContext._gateway is not gateway
                or gateway.proc.poll() is not None):
            return
        pending.clear()
        try:
            _dynamic_dump(gateway, launch.part)
        except Py4JError:
            publish(launch, False)
        else:
            publish(launch, True)
    return dump


def get_spark(
    app: str = "kgraphmemory_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    extra = extra or {}
    memory = extra.get("spark.driver.memory") or os.environ.get(
        "SPARK_DRIVER_MEMORY", _default_driver_memory())
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in extra.items():
        b = b.config(k, v)
    # only a launch of a new driver JVM reads java options
    cds = (_plan_cds(memory) if SparkContext._gateway is None
           and "PYSPARK_GATEWAY_PORT" not in os.environ
           and "spark.driver.defaultJavaOptions" not in extra else None)
    if cds is None:
        spark = b.getOrCreate()
    else:
        b = b.config("spark.driver.defaultJavaOptions", cds.java_options)
        conf_dir = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
        try:
            spark = b.getOrCreate()
        finally:
            if conf_dir is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = conf_dir
        if cds.part is not None:
            dump, session_stop = _dump_once(cds, SparkContext._gateway), \
                spark.stop

            def stop() -> None:
                dump()
                session_stop()
            spark.stop = stop
            atexit.register(dump)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_frame(spark: SparkSession, rows: list[tuple],
                 schema: str) -> DataFrame:
    """Rows held on the driver (tuples in ``schema`` order, DDL string) as
    a DataFrame built in the JVM: they cross as one Arrow table, where a
    Python list would go through ``parallelize`` and the Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema)
    table = pa.table({f.name: [r[i] for r in rows]
                      for i, f in enumerate(struct.fields)},
                     schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, struct)
