"""Table loading / temp-view registration for the driver test corpus.

Reads are plain ``spark.read.parquet`` with the explicit schemas from
:mod:`.schemas` — Catalyst then gets predicate pushdown, column pruning, and
partition pruning for free on every downstream query. At cluster scale the
same code path works against a 100 TB directory tree; nothing here
materializes data on the driver.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import EVENTS, EVENTS_RAW, TESTDATA_SCHEMAS, TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Sniff results per source identity: the remote-FS fallback probes Spark's
# schema resolution, which must run WITHOUT the legacy nanosAsLong conf (a
# prior events load sets it); caching makes the sniff one-shot per source so
# the probe never races the conf state of an already-warmed session. The key
# includes (mtime, size) when the path is driver-statable, so a fixture
# REWRITTEN at the same path with a different ts unit re-sniffs instead of
# silently reusing the stale answer; remote paths fall back to path-only
# keys (their fixtures don't churn under a live session).
_TS_UNIT_CACHE: dict[tuple, bool] = {}


def _ts_cache_key(events_path: str) -> tuple:
    try:
        st = os.stat(events_path)
        return (events_path, st.st_mtime_ns, st.st_size)
    except OSError:
        return (events_path,)


def clear_ts_unit_cache() -> None:
    """Drop all cached sniff results (test harnesses that rewrite fixtures
    in-place within one process)."""
    _TS_UNIT_CACHE.clear()


def events_ts_is_nanos(events_path: str, spark: SparkSession | None = None) -> bool:
    """Sniff the parquet footer: does ``ts`` need the legacy nanos read path?

    Returns True when the column is TIMESTAMP(NANOS) (which Spark's reader
    rejects as a timestamp). For the standard units (us/ms/s) Spark reads
    TimestampType natively and no conversion is needed. One footer read on
    the driver — O(KB) regardless of data scale.

    A raw int64 ``ts`` has NO unit metadata; guessing recreates the r4
    unit-corruption bug, so the footer's column statistics decide: an
    epoch-nanos value for any plausible date is ~1e18 while micros is
    ~1e15 — three orders of magnitude apart. Ambiguous or missing stats
    fail LOUD instead of silently collapsing every timestamp.

    The pyarrow footer read only works on driver-visible filesystems; on
    a remote path (hdfs://, s3a://) it falls back to probing Spark's own
    schema resolution, which raises a legacy-conf error iff the column is
    TIMESTAMP(NANOS) — filesystem-agnostic, same answer.
    """
    key = _ts_cache_key(events_path)
    cached = _TS_UNIT_CACHE.get(key)
    if cached is not None:
        return cached
    result = _sniff_events_ts(events_path, spark)
    _TS_UNIT_CACHE[key] = result
    return result


def _sniff_events_ts(events_path: str, spark: SparkSession | None) -> bool:
    try:
        import pyarrow.parquet as pq

        f = pq.ParquetFile(events_path)
        t = f.schema_arrow.field("ts").type
        unit = getattr(t, "unit", None)
        if unit is not None:
            return unit == "ns"
        # raw int64: decide by magnitude from footer stats (no data scan)
        idx = f.schema_arrow.get_field_index("ts")
        stats = f.metadata.row_group(0).column(idx).statistics
        if stats is None or stats.min is None:
            raise ValueError(
                f"events ts at {events_path} is raw int64 with no column "
                "statistics — cannot infer the epoch unit; fix the fixture "
                "or declare the unit explicitly"
            )
        if stats.min > 10**17:  # epoch nanos: ~1e18 for any modern date
            return True
        raise ValueError(
            f"events ts at {events_path} is raw int64 with min={stats.min}"
            " — not epoch nanos; add a conversion for this unit instead of"
            " guessing"
        )
    except (OSError, ImportError):
        # non-local filesystem (or no pyarrow): let Spark resolve the
        # footer. A NANOS column makes schema resolution raise the
        # nanosAsLong guidance error; a schema whose ts resolves to a
        # native TimestampType means a standard unit. A ts that resolves
        # to LongType is a RAW int64 with no unit metadata — the pyarrow
        # path decides that case from footer stats, which this probe
        # cannot see, so it must fail loud here rather than let a later
        # int64-to-timestamp read error mask the real problem. The probe
        # is only meaningful with the legacy conf OFF — a prior events
        # load may have set it, so unset for the probe and restore after
        # (the sniff is cached, but restore anyway so the session conf is
        # never left mutated by a probe). NOT thread-safe: the unset/
        # probe/restore window assumes the single-threaded driver usage
        # this repo has throughout — a concurrent thread planning a nanos
        # events read during the window would fail; guard with a shared
        # lock before adding driver-side threading.
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prior = spark.conf.get(conf_key, None)
        spark.conf.unset(conf_key)
        try:
            resolved = spark.read.parquet(events_path).schema
            from pyspark.sql import types as T

            ts_type = resolved["ts"].dataType
            if isinstance(ts_type, T.LongType):
                raise ValueError(
                    f"events ts at {events_path} is raw int64 and the "
                    "parquet footer is not driver-readable — cannot infer "
                    "the epoch unit; install pyarrow, make the path "
                    "driver-visible, or declare the unit explicitly"
                )
            return False
        except ValueError:
            raise
        except Exception as e:
            # Spark <4 raises the nanosAsLong guidance; Spark 4 raises
            # [PARQUET_TYPE_ILLEGAL] Illegal Parquet type: INT64
            # (TIMESTAMP(NANOS,false)) — both mean the same thing. (The
            # r6 matcher only knew the former; this branch was first
            # exercised by tests/test_fixture_contract.py this round.)
            msg = str(e)
            if "nanosAsLong" in msg or "TIMESTAMP(NANOS" in msg:
                return True
            raise
        finally:
            if prior is not None:
                spark.conf.set(conf_key, prior)


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` under any scheme. Local paths
    and hdfs/s3a paths resolve through the same Hadoop API, so existence
    checks and marker writes behave the same on a laptop and a cluster.
    The durable-artifact stores check and write their ready markers with it."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def artifact_ready(spark: SparkSession, marker_path: str) -> bool:
    """Existence check for a durable-artifact ready marker that works on
    remote filesystems too — a driver-local ``os.path.exists`` would
    never see an hdfs/s3a marker, silently demoting 'build once per
    source identity' to 'rebuild every call'."""
    fs, marker = hadoop_fs(spark, marker_path)
    return fs.exists(marker)


def store_intact(spark: SparkSession, marker_path: str, *data_paths: str) -> bool:
    """Marker-AND-data existence check for a rewrite-then-swap store: a
    crash inside a purge swap can leave the ready marker present while a
    data directory is mid-rename, and a marker-only check then skips the
    rebuild and wedges every later read on the missing path. Validating
    the data directories alongside the marker makes an interrupted swap
    re-heal (the caller rebuilds) instead of wedging."""
    fs, marker = hadoop_fs(spark, marker_path)
    if not fs.exists(marker):
        return False
    return all(fs.exists(hadoop_fs(spark, p)[1]) for p in data_paths)


def swap_subtrees(spark: SparkSession, base: str, names, marker: str) -> None:
    """Replace live trees with rewritten ones, then create ``<base>/<marker>``.

    For each ``name``, ``<name>_next`` replaces ``<name>``: the live tree
    is renamed aside to ``<name>_trash``, the rewrite is renamed in, and
    the trash is deleted. No crash point loses both copies, and the live
    path is absent only between the two renames; a caller that checks
    its data directories with :func:`store_intact` rebuilds in that
    case. Debris from an earlier interrupted swap is cleared first. The
    marker is created after every swap, so a present marker means every
    tree is the rewritten one."""
    for name in names:
        fs, old = hadoop_fs(spark, f"{base}/{name}")
        _, nxt = hadoop_fs(spark, f"{base}/{name}_next")
        _, trash = hadoop_fs(spark, f"{base}/{name}_trash")
        if fs.exists(trash):
            fs.delete(trash, True)
        if fs.exists(old):
            if not fs.rename(old, trash):
                raise RuntimeError(f"swap_subtrees: rename-aside failed for {name}")
        if not fs.rename(nxt, old):
            raise RuntimeError(f"swap_subtrees: rename-in failed for {name}")
        fs.delete(trash, True)
    fs, done = hadoop_fs(spark, f"{base}/{marker}")
    fs.create(done, True).close()


def build_once(spark: SparkSession, base: str, marker: str, build) -> None:
    """Publish a store's child tables once, guarded by ``<base>/<marker>``.

    If the marker exists this is one ``exists`` call. Otherwise
    ``build(stage)`` writes each child table under a fresh
    ``<base>/_staging-<uuid>`` directory (a build that reads back an
    earlier child reads it from ``stage``). Each staged child directory
    is then published as ``<base>/<child>`` by rename, the marker is
    created last, and the staging directory is deleted. A build that
    raises leaves no marker and no new live child.

    A live child is never overwritten. One that holds its committer
    ``_SUCCESS`` file is complete, so it is kept and the staged copy is
    dropped: that is the state a crash between publish and marker
    leaves, and the state a writer that lost a race sees. One without
    ``_SUCCESS`` is partial (a non-atomic object-store rename), so it is
    deleted and replaced. The rename refuses an existing destination, so
    two racing writers never nest one copy inside the other. The
    completeness test is proof-grade where rename is atomic (local FS,
    HDFS); on a copy-and-delete object store (S3A) a crash mid-rename
    can leave a partial copy that already holds ``_SUCCESS``, so point
    the artifact roots at an HDFS-compatible path there.
    """
    fs, done = hadoop_fs(spark, f"{base}/{marker}")
    if fs.exists(done):
        return
    # _SUCCESS is the completeness witness for a live child
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    if str(hconf.get(key, "true")).lower() != "true":
        raise RuntimeError(f"build_once requires {key}=true")
    stage = f"{base}/_staging-{uuid.uuid4().hex}"
    _, staged = hadoop_fs(spark, stage)
    try:
        build(stage)
        for st in fs.listStatus(staged):
            if st.isDirectory():
                _publish(spark, fs, st.getPath(), f"{base}/{st.getPath().getName()}")
        fs.create(done, True).close()
    finally:
        fs.delete(staged, True)


def _publish(spark: SparkSession, fs, src, dst: str) -> None:
    """Rename the staged child ``src`` to ``dst`` unless a complete
    child already lives there (see :func:`build_once`)."""
    _, live = hadoop_fs(spark, dst)
    _, success = hadoop_fs(spark, f"{dst}/_SUCCESS")
    # live before _SUCCESS: a racer's atomic rename lands a live child
    # that already holds _SUCCESS, so it is never taken for partial
    if fs.exists(live):
        if fs.exists(success):
            return
        fs.delete(live, True)
    jvm = spark._jvm
    # FileSystem.rename onto an existing directory moves src INSIDE it;
    # FileContext.rename with Rename.NONE raises instead
    rename = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
    opts = spark.sparkContext._gateway.new_array(rename, 1)
    opts[0] = rename.NONE
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri(), spark._jsc.hadoopConfiguration()
    )
    try:
        fc.rename(src, live, opts)
    except Py4JJavaError as e:
        # a racer published first: keep its child if it is complete
        lost_race = e.java_exception.getClass().getSimpleName() == (
            "FileAlreadyExistsException"
        )
        if not (lost_race and fs.exists(success)):
            raise


def build_then_purge(spark: SparkSession, base: str, names, build, purge) -> None:
    """A store built once under ``_BASE_READY`` and purged once under
    ``_FORGET_READY``. ``build(stage)`` writes the child tables
    ``names`` (see :func:`build_once`); ``purge()`` writes the rewrite
    ``<base>/<name>_next`` of each, which :func:`swap_subtrees` swaps in
    before it marks. If a data tree is missing (a swap interrupted
    between its renames), both markers are dropped, so the base is
    rebuilt and the purge re-runs."""
    if not store_intact(spark, f"{base}/_BASE_READY", *(f"{base}/{n}" for n in names)):
        for m in ("_BASE_READY", "_FORGET_READY"):
            fs, path = hadoop_fs(spark, f"{base}/{m}")
            fs.delete(path, True)
        build_once(spark, base, "_BASE_READY", build)
    if not artifact_ready(spark, f"{base}/_FORGET_READY"):
        purge()
        swap_subtrees(spark, base, names, "_FORGET_READY")


def source_identity(spark: SparkSession, src: str) -> str:
    """Content identity of a source path.

    A local file is ``path:mtime_ns:size``. A local directory is
    ``path:mtime_ns:size:nfiles`` over its whole tree: the newest mtime of
    the directory and of every file below it, the total file size and the
    file count, so a file rewritten inside a nested partition changes it.
    A path the local OS cannot stat (hdfs://, s3a://, any other remote
    scheme) resolves through the Hadoop FileSystem API by the same
    rule, with mtimes in milliseconds. :func:`artifact_dir` keys every
    durable artifact by it, so a regenerated source gets a fresh artifact
    and an unchanged source reuses the one already built.
    """
    if os.path.isfile(src):
        st = os.stat(src)
        return f"{src}:{st.st_mtime_ns}:{st.st_size}"
    if os.path.isdir(src):
        mtime, size, nfiles = os.stat(src).st_mtime_ns, 0, 0
        for dirpath, _, files in os.walk(src):
            for name in files:
                fst = os.stat(os.path.join(dirpath, name))
                mtime = max(mtime, fst.st_mtime_ns)
                size += fst.st_size
                nfiles += 1
        return f"{src}:{mtime}:{size}:{nfiles}"
    # remote path: ask the filesystem that will actually serve the reads
    fs, hpath = hadoop_fs(spark, src)
    status = fs.getFileStatus(hpath)
    if status.isDirectory():
        summary = fs.getContentSummary(hpath)
        size = summary.getLength()
        nfiles = summary.getFileCount()
        mtime = status.getModificationTime()
        it = fs.listFiles(hpath, True)  # recursive: nested churn counts
        while it.hasNext():
            mtime = max(mtime, it.next().getModificationTime())
        return f"{src}:{mtime}:{size}:{nfiles}"
    size = status.getLen()
    mtime = status.getModificationTime()
    return f"{src}:{mtime}:{size}"


# The durable-artifact roots: conf ``spark.zylyty.<name>``, else the env
# var, else ``<tempdir>/<default>``. streamLateDir shares the sink's env var.
ARTIFACT_ROOTS = {
    "pairCacheDir": ("SPARK_GRAFT_PAIR_CACHE_DIR", "zylyty_pair_cache"),
    "streamSinkDir": ("SPARK_GRAFT_STREAM_SINK_DIR", "zylyty_stream_sink"),
    "streamLateDir": ("SPARK_GRAFT_STREAM_SINK_DIR", "zylyty_stream_late"),
    "annIndexDir": ("SPARK_GRAFT_ANN_INDEX_DIR", "zylyty_ann_index"),
    "formatDir": ("SPARK_GRAFT_FORMAT_DIR", "zylyty_formats"),
}


def artifact_dir(
    spark: SparkSession, root: str, sources: list[str], tag: str = ""
) -> str:
    """Directory of one durable artifact: ``<root location>/<key>``.

    ``root`` names an :data:`ARTIFACT_ROOTS` entry. Its location is the
    session conf ``spark.zylyty.<root>``, else the entry's env var, else
    the entry's default under the system tempdir; on a cluster it is a
    shared filesystem every executor can write. The key is the first 16
    hex digits of the sha1 of ``tag`` and the :func:`source_identity` of
    each source path, joined by ``:`` (an empty tag is left out). A
    regenerated source or a new version tag gets a fresh directory.
    Callers add their own sub-path.
    """
    env, default = ARTIFACT_ROOTS[root]
    base = (
        spark.conf.get(f"spark.zylyty.{root}", None)
        or os.environ.get(env)
        or os.path.join(tempfile.gettempdir(), default)
    )
    parts = ([tag] if tag else []) + [source_identity(spark, s) for s in sources]
    return f"{base}/{hashlib.sha1(':'.join(parts).encode()).hexdigest()[:16]}"


def point_artifact_roots(spark: SparkSession, base: str | None) -> None:
    """Set every artifact root's conf to ``<base>/<name>``, so a run owns
    fresh state; ``base=None`` unsets them, back to env var or default."""
    for name in ARTIFACT_ROOTS:
        if base is None:
            spark.conf.unset(f"spark.zylyty.{name}")
        else:
            spark.conf.set(f"spark.zylyty.{name}", f"{base}/{name}")


def convert_event_ts(df: DataFrame) -> DataFrame:
    """Raw epoch-nanos ``ts`` (see schemas.EVENTS_RAW) -> TimestampType,
    truncating to micros (integer div, matching DuckDB's nanos handling)."""
    return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table with its explicit schema (no inference)."""
    if name == "events":
        path = f"{sf_dir}/events.parquet"
        if events_ts_is_nanos(path, spark):
            # TIMESTAMP(NANOS): read the raw int64 under the legacy conf
            # (runtime-settable, so this works on ANY session) and convert.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return convert_event_ts(spark.read.schema(EVENTS_RAW).parquet(path))
        # TIMESTAMP(MICROS/MILLIS/SECONDS): native TimestampType read.
        return spark.read.schema(EVENTS).parquet(path)
    schema = TESTDATA_SCHEMAS[name]
    return spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Register every corpus table as a temp view (for the SQL API path)."""
    tables = load_tables(spark, sf_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
