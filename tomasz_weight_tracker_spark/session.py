"""SparkSession factory.

Defaults follow the engine posture from SURVEY.md §4.4: AQE on,
Arrow on, UTC session timezone (DuckDB-oracle comparable), shuffle
partitions sized to the local core count rather than the 200 default.
On a real cluster the same factory is used with a different master and
a shuffle-partition count sized to the input (see ``tune_for_scale``).

Also the one place that knows how the driver JVM starts (its
class-data-sharing archive, :func:`launch_plan`), session lifetime
(:class:`SessionState`) and input size (:func:`parquet_file_sizes`).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import subprocess
import threading
from collections.abc import Callable, Iterator, Mapping
from dataclasses import dataclass, field

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession

_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Spark's cache of compiled generated classes (static; Spark's default is
# 100 entries, which Guava splits into four LRU segments of 25 that evict
# on their own).  An evicted class is compiled again by Janino and starts
# again in the interpreter, so HotSpot's C1/C2 threads compile it again
# too.  Measured working sets of one session (warm-up plus the first
# pass): the benchmark's cli_pipelines about 130 distinct classes and
# catalog_sf0.1 about 94, which at 100 entries still evicted (the
# segments fill unevenly).  The bound holds both several times over.  A
# whole-catalog pass (tools/plan_audit.py at sf0.001: 234 queries, each
# run once) compiles 4,308 classes; it runs no plan twice, so holding all
# of them would only pin their class loaders and JIT-compiled code.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "tomasz_weight_tracker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create the engine's SparkSession, or return the active one
    untouched (its caller's settings and log level stay as they are).

    Local mode is a single JVM; ``spark.driver.memory`` must be set
    before the JVM starts, so callers that need it should set
    ``SPARK_DRIVER_MEMORY`` in the environment.  A new driver JVM
    starts from a class-data-sharing archive when one is cached (see
    :func:`launch_plan`).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    conf = {
        "spark.master": master or f"local[{_DEFAULT_CPUS}]",
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions or _DEFAULT_CPUS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        **(extra_conf or {}),
    }
    spark_home = _find_spark_home()
    cache_dir = cds_cache_dir()
    with contextlib.suppress(OSError):
        os.makedirs(os.path.join(cache_dir, "conf"), exist_ok=True)
    java_opts, conf_dir = launch_plan(
        os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf"),
        conf, cache_dir, lambda: _cds_key_promoted(cache_dir, spark_home),
    )
    conf[_DEFAULT_JAVA_OPTS] = java_opts
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _env_var("SPARK_CONF_DIR", conf_dir):
        spark = builder.getOrCreate()
    if java_opts.startswith(f'"{_TRAIN_FLAG}'):
        note_training_jvm(java_opts[len(_TRAIN_FLAG) + 1:].split('"', 1)[0],
                          spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    spark.sparkContext.setLogLevel("WARN")
    return spark


def janino_compiles(spark: SparkSession) -> int:
    """How many generated classes this JVM has compiled with Janino
    (Spark's ``CodegenMetrics``; a local session's executors share the
    driver's JVM and its codegen cache)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


# -- Driver JVM start-up: a dynamic class-data-sharing (AppCDS) archive ------
#
# A cold driver JVM spends most of its start-up and first query loading
# classes.  JDK 17 can dump the classes a JVM loaded into an archive when
# it exits (-XX:ArchiveClassesAtExit) and map that archive at the next
# launch (-XX:SharedArchiveFile).  The archive lives in the user cache,
# keyed by the Java build and the Spark jar list:
#   - no archive for the key: the session trains <key>.<pid>.part, written
#     by its JVM at exit, so no query waits for the dump.  The JVM outlives
#     the Python process <pid> by several seconds and creates the part only
#     then, so the session also writes <key>.<pid>.jvm holding the JVM's
#     pid: while that JVM lives, no other launch trains;
#   - a later launch promotes a part whose writer is gone and whose probe
#     passes to <key>.jsa, and deletes every other part and archive, each
#     with its note;
#   - archive present: the session maps it.

_DEFAULT_JAVA_OPTS = "spark.driver.defaultJavaOptions"
_EXTRA_JAVA_OPTS = "spark.driver.extraJavaOptions"
# JVM warnings (a CDS "Unable to use shared archive" among them) print on
# stdout by default, where CLI and benchmark callers read their result.
# The [cds] tag alone logs one line per class the dump skips (~600).
_JVM_LOG_OPTS = "-Xlog:disable -Xlog:all=warning:stderr -Xlog:cds=error:stderr"
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClasses")
# JDK 13+ dynamic archive magic.  The JVM writes the header last, so a
# part whose writer died mid-dump starts with zeros: -Xshare:auto then
# ignores the file and the probe would still exit 0.
_CDS_MAGIC = (0xF00BABA8).to_bytes(4, "little")
_TRAIN_FLAG = "-XX:ArchiveClassesAtExit="


def cds_cache_dir() -> str:
    """Where the driver's class-data-sharing archive is kept."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "tomasz_weight_tracker_spark", "cds")


def launch_plan(
    conf_dir: str,
    caller_conf: Mapping[str, str],
    cache_dir: str,
    cds_key: Callable[[], str | None],
) -> tuple[str, str | None]:
    """The driver JVM's ``spark.driver.defaultJavaOptions`` and the
    ``SPARK_CONF_DIR`` to launch it with (``None``: leave it as it is).

    The options send JVM warnings to stderr and keep the caller's own
    default options after them.  Class-data sharing is added, and
    ``cds_key()`` (which names the archive) is called, only when all of
    these hold:

    - ``conf_dir`` holds nothing but ``*.template`` files.  CDS refuses
      a non-empty directory on the classpath, so the launch uses an
      empty conf directory instead, which loses nothing only then;
    - the caller's Java options do not already choose a CDS mode;
    - ``cache_dir`` is a writable directory.

    Without an archive the launch trains one, unless another driver JVM
    is still training it (:func:`note_training_jvm`).
    """
    caller_default = caller_conf.get(_DEFAULT_JAVA_OPTS, "")
    opts = f"{_JVM_LOG_OPTS} {caller_default}".strip()
    caller_opts = f"{caller_default} {caller_conf.get(_EXTRA_JAVA_OPTS, '')}"
    try:
        templates_only = all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        templates_only = True
    except OSError:
        templates_only = False
    if (not templates_only or any(f in caller_opts for f in _CDS_FLAGS)
            or not (os.path.isdir(cache_dir) and os.access(cache_dir, os.W_OK | os.X_OK))):
        return opts, None
    key = cds_key()
    if key is None:
        return opts, None
    jsa = os.path.join(cache_dir, f"{key}.jsa")
    if os.path.isfile(jsa):
        flag = f"-XX:SharedArchiveFile={jsa}"
    elif any(_training_jvm_alive(os.path.join(cache_dir, n)) for n in os.listdir(cache_dir)
             if n.startswith(f"{key}.") and n.endswith(".jvm")):
        return opts, None
    else:
        flag = f"{_TRAIN_FLAG}{os.path.join(cache_dir, f'{key}.{os.getpid()}.part')}"
    # Spark splits the option string like a shell; the cache path may hold spaces.
    return f'"{flag}" {opts}', os.path.join(cache_dir, "conf")


def note_training_jvm(part: str, jvm_pid: int) -> None:
    """Record that the JVM ``jvm_pid`` writes ``part`` when it exits, in
    the note ``<part stem>.jvm``.  Without a cache directory to write
    in, the launch only loses the note."""
    note = f"{part[:-len('.part')]}.jvm"
    with contextlib.suppress(OSError):
        with open(f"{note}.tmp", "w") as f:
            f.write(str(jvm_pid))
        os.replace(f"{note}.tmp", note)


def _training_jvm_alive(note: str) -> bool:
    """Whether the JVM a training note names still runs."""
    try:
        with open(note) as f:
            return _alive(int(f.read()))
    except (OSError, ValueError):
        return False


def _java() -> str | None:
    """The java binary Spark's launcher runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def cds_key(java: str, spark_home: str) -> str:
    """Archive key: the ``java -version`` text and the Spark jar list
    (names and sizes); an archive serves only the classes it was
    dumped from."""
    version = subprocess.run(
        [java, "-version"], capture_output=True, text=True, check=True, timeout=60,
    ).stderr
    jars = sorted((e.name, e.stat().st_size) for e in os.scandir(os.path.join(spark_home, "jars")))
    return hashlib.sha256(repr((version, jars)).encode()).hexdigest()[:16]


def _cds_key_promoted(cache_dir: str, spark_home: str) -> str | None:
    """The archive key, after promoting a finished part; ``None`` (no
    CDS) when Java or the Spark jars cannot be read."""
    java = _java()
    if java is None:
        return None
    try:
        key = cds_key(java, spark_home)
        promote_archive(cache_dir, key, java, spark_home)
    except (OSError, subprocess.SubprocessError):
        return None
    return key


def promote_archive(cache_dir: str, key: str, java: str, spark_home: str) -> None:
    """Promote one finished ``<key>.<pid>.part`` to ``<key>.jsa`` and
    delete every other archive and part whose writer is gone, and every
    training note whose JVM is gone, with its part.

    A part qualifies only when the process that launched its writer and
    the JVM its note names have exited and :func:`probe_archive` passes.
    So the cache holds at most one archive, and no session maps an
    unprobed file.
    """
    jsa = os.path.join(cache_dir, f"{key}.jsa")
    have = os.path.isfile(jsa)
    for name in sorted(os.listdir(cache_dir)):
        path = os.path.join(cache_dir, name)
        if path == jsa or not name.endswith((".jsa", ".part", ".jvm")):
            continue
        stem, ext = os.path.splitext(path)
        # A concurrent launch may promote or delete the same file first.
        with contextlib.suppress(FileNotFoundError):
            if ext != ".jsa":
                pid = stem.rsplit(".", 1)[-1]
                if (pid.isdigit() and _alive(int(pid))) or _training_jvm_alive(f"{stem}.jvm"):
                    continue
            if ext == ".jvm" and os.path.exists(f"{stem}.part"):
                continue  # goes with its part
            if ext == ".part":
                if not have and name.startswith(f"{key}.") and probe_archive(java, spark_home, path, cache_dir):
                    os.replace(path, jsa)
                    have = True
                else:
                    os.remove(path)
                path = f"{stem}.jvm"  # its note, if there is one
            os.remove(path)


def probe_archive(java: str, spark_home: str, path: str, cache_dir: str) -> bool:
    """Whether a JVM maps the archive at ``path`` and exits 0.

    On JDK 17 a truncated archive does not fall back under
    ``-Xshare:auto``: the JVM dies with SIGBUS while relocating it.  So
    the probe runs in its own JVM, with its crash log in the cache
    directory rather than the caller's working directory.
    """
    with open(path, "rb") as f:
        if f.read(4) != _CDS_MAGIC:
            return False
    err = os.path.join(cache_dir, "probe_hs_err.log")
    try:
        return subprocess.run(
            [java, f"-XX:SharedArchiveFile={path}", "-Xshare:auto", f"-XX:ErrorFile={err}",
             "-XX:-CreateCoredumpOnCrash", "-cp", os.path.join(spark_home, "jars", "*"), "-version"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=60,
        ).returncode == 0
    except subprocess.TimeoutExpired:
        return False
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(err)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process
        pass
    # An exited JVM whose Python parent is gone stays a zombie until the
    # init process reaps it, a second or two later.
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[-1].split()[0] != "Z"
    except (OSError, IndexError):
        return True


@contextlib.contextmanager
def _env_var(name: str, value: str | None) -> Iterator[None]:
    """Set ``name`` for the block (``None``: leave it), then restore it."""
    if value is None:
        yield
        return
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = old


_SCRATCH_ROOT: str | None = None


def scratch_dir(tag: str = "q") -> str:
    """Process-lifetime scratch directory for query-scoped state tables.

    Gate queries that maintain on-disk state (incremental agg/top-k
    replay, the streaming MERGE sink) must return a DataFrame that
    stays readable after the query function exits — a
    ``TemporaryDirectory`` context forced a driver-side ``collect()``
    to outlive it (round-5 verdict item 4: O(|keys|) driver memory in a
    gate path).  Instead the state lives under one per-process root,
    removed at interpreter exit; each call gets a fresh subdirectory,
    so repeated builds of the same query never collide.  On a real
    cluster this would be a path on shared storage, not local disk.
    """
    global _SCRATCH_ROOT
    import atexit
    import tempfile

    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{tag}_", dir=_SCRATCH_ROOT)


_FIXED_SCRATCH: dict[str, str] = {}


def fixed_scratch_dir(tag: str) -> str:
    """Like :func:`scratch_dir` but memoized per tag: every call with
    the same tag returns the SAME directory for the process lifetime.
    For queries that rewrite a layout on every build (bucketed tables,
    partitioned rewrites): repeated builds overwrite one location
    instead of accumulating a fresh scratch tree per build (round-6
    advice — bench's warm+timed double-build and the soak's repeated
    builds otherwise leak disk for the whole process)."""
    if tag not in _FIXED_SCRATCH:
        _FIXED_SCRATCH[tag] = scratch_dir(tag)
    return _FIXED_SCRATCH[tag]


def parquet_file_sizes(path: str | os.PathLike) -> list[int] | None:
    """Byte sizes of a parquet path's data files: the file itself, or
    every ``*.parquet`` file under a directory (recursively), skipping
    what Spark's file listing skips: ``_``/``.``-prefixed files
    (metadata, checksums) and the subdirectories under them, ``.``-
    prefixed ones (a rewrite's hidden siblings) and ``_``-prefixed ones
    that are not ``name=value`` partitions (``_temporary``).

    ``None`` when the path cannot be listed.  Every size gate reads
    that as production scale: no widen, pre-aggregate, keyed join.
    """
    def _raise(err: OSError) -> None:
        raise err

    try:
        if os.path.isfile(path):
            return [os.path.getsize(path)]
        sizes = []
        for root, dirs, files in os.walk(path, onerror=_raise):
            dirs[:] = [
                d for d in dirs
                if not d.startswith(".") and not (d.startswith("_") and "=" not in d)
            ]
            sizes += [
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
        return sizes
    except OSError:
        return None


def tune_for_scale(spark: SparkSession, sf_dir: str) -> int:
    """Size shuffle parallelism to a LOCAL test corpus: one shuffle
    partition per ~512 KiB of source parquet, floored at 8 and capped
    at 4x the local cores (the cap too when ``sf_dir`` cannot be
    listed).

    Partitions follow the data because a fixed count is wrong in both
    directions.  Measured on the
    sf0.01 catalog sidecar: 32 fixed partitions over a 1.8 MB corpus
    schedule ~30 empty reduce tasks per exchange, and that scheduler
    floor (not compute) was 2-3x the wall of every small query; at
    sf1+ the cap keeps exchanges wide enough to use the machine and
    AQE coalesces any over-split.  ``spark.sql.shuffle.partitions``
    is runtime-settable, so catalog runners call this per scale
    factor on a shared session.
    """
    sizes = parquet_file_sizes(sf_dir)
    cap = 4 * _DEFAULT_CPUS
    n = cap if sizes is None else max(8, min(cap, (sum(sizes) >> 19) + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n


@dataclass(eq=False)
class SessionState:
    """Everything the engine memoizes for one Spark application.

    - ``loads``: ``plans.catalog.load``'s DataFrames, so file listing,
      footer reads and the widen decision happen once per table;
    - ``ivf_centroids``: ``plans.catalog.trained_ivf_centroids``;
    - ``lsh_audit``: the LSH audit sample and its exact ground truth.

    The memos are pure functions of the input files, so every query of
    the application shares them.  The memoized DataFrames hold their
    session, so a memo keyed weakly by session would never let it go;
    instead one instance lives at a time, tagged with the application
    id, and :func:`session_state` replaces it when the id changes
    (PySpark runs one SparkContext per process).
    """

    app_id: str
    loads: dict[tuple, DataFrame] = field(default_factory=dict)
    ivf_centroids: dict[tuple, DataFrame] = field(default_factory=dict)
    lsh_audit: dict[str, tuple[DataFrame, DataFrame]] = field(default_factory=dict)


_STATE: SessionState | None = None
_STATE_LOCK = threading.Lock()


def session_state(spark: SparkSession) -> SessionState:
    """The live application's :class:`SessionState`, replacing (and so
    releasing) a stopped application's."""
    global _STATE
    app_id = spark.sparkContext.applicationId
    with _STATE_LOCK:
        if _STATE is None or _STATE.app_id != app_id:
            _STATE = SessionState(app_id)
        return _STATE
