"""Partitioned sink layout — how channel_data is laid out at 100 TB.

The reference appends every sample to one unpartitioned MySQL table
(/root/reference/db_model.py:49-54).  At 100 TB the sink must be a
date-partitioned parquet table so that

* time-range scans prune partitions at file-listing time (no data touched
  outside the range),
* retention (drop old days) is a metadata operation, never a table scan,
* the per-channel access path stays narrow via row-group sorting on
  channel_id within each date partition (min/max stats prune row groups).

``p_date`` is a derived partition column; the natural key columns stay in the
data so readers are unaffected.  Writing sorted-within-partitions puts each
channel's rows in contiguous row groups.

Every commit to a table — the pipeline's per-batch appends and status
merges, and the table services (retention, compaction, MERGE) — is one pass
of a **versioned-manifest commit protocol** (the Delta/Iceberg snapshot
idea, reduced to its core; :func:`commit_pass`):

* ``<root>/_manifests/vNNNNN.json`` lists the relative data-file paths of
  that version of the table and the last streaming batch id committed into
  it.  The leading underscore hides the directory from Spark's file index.
* A pass rewrites whole **units**, the table's top-level directories
  (``p_date=…``, a status hash bucket ``__b=…``, an append's
  ``batch_<id>``): it stages their new files OUTSIDE the table root,
  renames them into the live unit directories under unique names, and only
  then publishes the new version with one atomic manifest rename.  What the
  new version no longer references, superseded manifests included, is
  deleted AFTER the commit.
* A crash at ANY point leaves the previous manifest's files intact —
  manifest-pinned readers see the old version or the new one, never a mix.
  The next pass's recovery step (:func:`gc_unreferenced`) sweeps a crashed
  pass's orphans, so every pass is re-runnable; a replayed streaming batch
  finds its id recorded and does nothing (exactly-once).

All file-system access goes through the Hadoop FileSystem API (py4j), not
``os``: the same code paths work against ``file://``, HDFS, and S3A.  On
HDFS the two renames (file publish, manifest commit) are atomic; on S3A the
manifest rename is the only non-atomic step and would swap for a
conditional PUT in production.

Concurrency: manifests serialize writers OPTIMISTICALLY — every pass reads
version N and commits N+1; the commit is a compare-and-swap (no-overwrite
rename on HDFS, rename + writer-token read-back on local fs, conditional
PUT on S3A) and the loser of a race raises :class:`ManifestConflictError`
instead of silently dropping the winner's version.  The loser's published
files are unreferenced orphans the next pass's recovery GC sweeps, so the
losing service is safely re-runnable on top of the winner's version.
"""

from __future__ import annotations

import json
import posixpath
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: compaction rewrite target: partitions are rewritten into
#: ceil(partition_bytes / TARGET_FILE_BYTES) range-sorted files, so a hot
#: multi-TB day becomes many parallel-scannable files instead of the single
#: giant file a coalesce(1) would produce.
TARGET_FILE_BYTES = 128 * 1024 * 1024

_MANIFEST_DIR = "_manifests"

#: test-only failpoint hook: called with a stage name between protocol
#: stages ("recovered", "staged", "published", "committed") so crash-safety
#: tests can kill a service pass at an exact point.  Production callers
#: leave it as the no-op default.
Failpoint = Callable[[str], None]
_NOOP: Failpoint = lambda stage: None  # noqa: E731


def write_channel_data_partitioned(df: DataFrame, path: str) -> None:
    """(id, channel_id, ts, value) -> parquet partitioned by p_date, sorted by
    channel_id within each partition."""
    (
        df.withColumn("p_date", F.to_date("ts"))
        .repartition(F.col("p_date"))
        .sortWithinPartitions("channel_id", "id")
        .write.mode("overwrite")
        .partitionBy("p_date")
        .parquet(path)
    )


def read_channel_data_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# --- Hadoop FileSystem plumbing (works on file://, HDFS, S3A) ---------------


def _fs(spark: SparkSession, path: str):
    """(FileSystem, JVM classes) for ``path`` — the scheme's filesystem,
    from the session's Hadoop configuration (credentials, endpoints) rather
    than the local OS, so listings and renames behave on object stores too.
    The classes are memoized per session: each package hop of
    ``jvm.org.apache…`` is a py4j round trip."""
    from types import SimpleNamespace

    jc = getattr(spark, "_daq_fs_classes", None)
    if jc is None:
        jvm = spark._jvm
        jc = spark._daq_fs_classes = SimpleNamespace(
            Path=jvm.org.apache.hadoop.fs.Path,
            IOUtils=jvm.org.apache.commons.io.IOUtils,
            conf=spark._jsc.hadoopConfiguration(),
        )
    return jc.Path(path).getFileSystem(jc.conf), jc


def _jpath(jc, *parts: str):
    return jc.Path(posixpath.join(*parts))


def _ls(fs, jc, *parts: str) -> list:
    jp = _jpath(jc, *parts)
    if not fs.exists(jp):
        return []
    return list(fs.listStatus(jp))


def _hidden(name: str) -> bool:
    """Spark's file-index rule: ``.x`` and ``_x`` are hidden, ``_k=v`` is not."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _unit(f: str) -> str:
    return f.split("/", 1)[0]


def _list_units(spark: SparkSession, path: str) -> dict[str, dict[str, int]]:
    """{unit -> {parquet file name -> bytes}} for a table root.  A unit is a
    top-level directory (``p_date=…``, ``__b=…``, an append's
    ``batch_<id>``): what one commit replaces or drops whole."""
    fs, jc = _fs(spark, path)
    return {
        st.getPath().getName(): {
            f.getPath().getName(): f.getLen()
            for f in fs.listStatus(st.getPath())
            if f.getPath().getName().endswith(".parquet")
        }
        for st in _ls(fs, jc, path)
        if st.isDirectory() and not _hidden(st.getPath().getName())
    }


def list_partitions(spark: SparkSession, path: str) -> dict[str, dict[str, int]]:
    """{partition value -> {parquet file name -> bytes}} for a
    ``p_date``-partitioned table root, via the Hadoop FS API."""
    return {
        u.split("=", 1)[1]: fl
        for u, fl in _list_units(spark, path).items()
        if u.startswith("p_date=")
    }


def unit_files(path: str, files: list[str], unit: str) -> list[str]:
    """Absolute paths of the committed ``files`` in ``unit`` — passes read
    exactly the committed file set, so orphans left by a crashed pass can
    never double-count into a rewrite."""
    return [posixpath.join(path, f) for f in files if _unit(f) == unit]


# --- versioned manifests -----------------------------------------------------


def _manifest_name(version: int) -> str:
    return f"v{version:05d}.json"


def _versions(fs, jc, path: str) -> list[int]:
    names = (st.getPath().getName() for st in _ls(fs, jc, path, _MANIFEST_DIR))
    return sorted(int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json"))


def _read_json(fs, jc, jp) -> dict:
    stream = fs.open(jp)
    try:
        return json.loads(jc.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def manifest_versions(spark: SparkSession, path: str) -> list[int]:
    """The committed manifest versions still retained under ``path``."""
    return _versions(*_fs(spark, path), path)


def read_manifest(
    spark: SparkSession, path: str, version: int | None = None
) -> dict | None:
    """``{"version", "files", "batch_id"}`` of the newest committed manifest
    — or of exactly ``version`` (time travel; raises if it is not retained)
    — with ``batch_id`` -1 when no streaming batch was committed.  None for
    a table with no manifest yet."""
    from py4j.protocol import Py4JJavaError

    fs, jc = _fs(spark, path)
    while True:
        versions = _versions(fs, jc, path)
        want = versions[-1] if version is None and versions else version
        if want is None:
            return None
        if want not in versions:
            raise ValueError(f"no committed manifest v{want} under {path}")
        jp = _jpath(jc, path, _MANIFEST_DIR, _manifest_name(want))
        try:
            doc = _read_json(fs, jc, jp)
        except Py4JJavaError:
            if version is None and not fs.exists(jp):
                continue  # a concurrent commit pruned it: a newer one exists
            raise
        return {"version": want, "files": doc["files"], "batch_id": doc.get("batch_id", -1)}


def latest_manifest(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[int, list[str]] | None:
    """(version, files) of :func:`read_manifest`."""
    m = read_manifest(spark, path, version)
    return None if m is None else (m["version"], m["files"])


class ManifestConflictError(RuntimeError):
    """Another writer committed this manifest version first.

    The optimistic-concurrency contract (one table, many uncoordinated
    service jobs): every pass reads version N, stages its rewrite, and
    tries to commit N+1.  The LOSER of a race must fail LOUDLY — its
    survivors list is derived from N and would resurrect files the winner
    dropped — and its published-but-uncommitted files become orphans the
    next pass's recovery GC sweeps (services stay idempotent; re-run the
    losing service to apply it on top of the winner's version).
    """


def commit_manifest(
    spark: SparkSession, path: str, version: int, files: list[str], batch_id: int = -1
) -> None:
    """Atomically publish manifest ``version``: write the JSON to a hidden
    unique temp name, then one rename — readers either see the complete new
    manifest or keep resolving the previous one.

    The rename doubles as the compare-and-swap against concurrent writers:
    on HDFS a rename onto an existing file is an atomic no-op returning
    false (the loser raises :class:`ManifestConflictError`); local
    ``file://`` rename(2) silently OVERWRITES, so after the rename the
    manifest is read back and a per-commit writer token verified — a loser
    whose content was replaced (or who replaced the winner's) detects it
    and raises instead of silently losing a version.  A writer whose base
    is so stale that the winner's later commits already pruned the slot it
    renames into finds a newer version listed and raises too.  On S3A the
    rename would swap for a conditional PUT (If-None-Match).
    """
    fs, jc = _fs(spark, path)
    fname = _manifest_name(version)
    token = uuid.uuid4().hex
    tmp = _jpath(jc, path, _MANIFEST_DIR, f".tmp-{token}-{fname}")
    out = fs.create(tmp, True)
    try:
        doc = {"version": version, "files": sorted(files), "batch_id": batch_id, "writer": token}
        out.write(bytearray(json.dumps(doc).encode()))
    finally:
        out.close()
    final = _jpath(jc, path, _MANIFEST_DIR, fname)
    if fs.exists(final) or not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise ManifestConflictError(
            f"manifest {fname} already committed under {path} by a concurrent "
            "writer — this pass read a stale base version; re-run it"
        )
    if _read_json(fs, jc, final).get("writer") != token:
        raise ManifestConflictError(
            f"manifest {fname} under {path} was replaced by a concurrent "
            "writer during commit — this pass lost the race; re-run it"
        )
    if _versions(fs, jc, path)[-1] > version:
        fs.delete(final, False)
        raise ManifestConflictError(
            f"manifest {fname} under {path} is older than the table's newest "
            "version — this pass read a stale base version; re-run it"
        )


def snapshot_manifest(spark: SparkSession, path: str) -> tuple[int, list[str]]:
    """Latest manifest, bootstrapping v1 from the current directory layout
    for tables written before any service pass (write_channel_data_partitioned
    leaves a clean overwrite, so the snapshot is authoritative)."""
    m = latest_manifest(spark, path)
    if m is not None:
        return m
    files = sorted(f"{u}/{f}" for u, fl in _list_units(spark, path).items() for f in fl)
    commit_manifest(spark, path, 1, files)
    return 1, files


def read_channel_data_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Manifest-pinned read: loads EXACTLY the requested committed version's
    files — latest by default, any still-retained older version for time
    travel (service passes only GC files the NEWEST manifest dropped, so
    the previous version stays readable until the next pass).  basePath
    keeps the p_date partition column.  This is the reader that never
    observes a half-applied service pass."""
    m = latest_manifest(spark, path, version)
    if m is None:
        return read_channel_data_partitioned(spark, path)
    _, files = m
    if not files:
        raise ValueError(f"manifest for {path} references no files")
    return (
        spark.read.option("basePath", path)
        .parquet(*[posixpath.join(path, f) for f in files])
    )


def gc_unreferenced(
    spark: SparkSession,
    path: str,
    keep_versions: int = 1,
    min_age_sec: float = 0.0,
) -> list[str]:
    """Delete data files not referenced by any of the newest
    ``keep_versions`` manifests (plus any unit directory left with no data
    files) and the older manifests.  Run at the START of a service pass
    (recovering a crashed predecessor's orphans) and at the END of one
    that retains several versions.  With keep_versions > 1
    the previous versions stay fully readable through
    read_channel_data_versioned(version=...) — time travel at the cost of
    retained storage; note plain directory reads then see multiple
    versions' files and must go through the manifest reader.  No manifest
    -> no-op.  Returns removed paths.

    ``min_age_sec`` is the concurrent-writer guard (Delta's VACUUM
    retention idea): an unreferenced file younger than it is SKIPPED,
    because "orphan" is indistinguishable from "published by a concurrent
    pass that has not committed yet" — recovery GC with age 0 could delete
    a racing writer's fresh files in the window between its publish and
    its manifest commit.  Single-writer recovery (the crash tests, the
    post-commit drop of replaced files) keeps the immediate default;
    uncoordinated concurrent services must pass an age exceeding their
    longest pass duration (see the service entry points' orphan_age_sec)."""
    import time

    fs, jc = _fs(spark, path)
    versions = _versions(fs, jc, path)[::-1]
    if not versions:
        return []
    kept, stale = versions[: max(1, keep_versions)], versions[max(1, keep_versions):]
    keep: set[str] = set()
    try:
        for v in kept:
            keep.update(read_manifest(spark, path, v)["files"])
    except ValueError:
        return []  # a concurrent commit pruned a kept version: this view is stale
    now_ms = time.time() * 1000.0
    removed: list[str] = []
    for unit, fl in _list_units(spark, path).items():
        touched = False
        for fname in fl:
            rel = f"{unit}/{fname}"
            if rel not in keep:
                jp = _jpath(jc, path, rel)
                if min_age_sec > 0:
                    try:
                        mtime = fs.getFileStatus(jp).getModificationTime()
                    except Exception:
                        continue  # already gone — a racing GC swept it
                    if now_ms - mtime < min_age_sec * 1000.0:
                        continue  # possibly a concurrent writer's fresh publish
                fs.delete(jp, False)
                removed.append(rel)
                touched = True
        if not touched:
            continue
        # drop the directory once no visible data files remain (checksum
        # droppings and other hidden files don't keep a unit alive)
        left = [
            s.getPath().getName()
            for s in _ls(fs, jc, path, unit)
            if not s.getPath().getName().startswith((".", "_"))
        ]
        if not left:
            fs.delete(_jpath(jc, path, unit), True)
    # latest_manifest lists _manifests/ on every read: keep it bounded
    for v in stale:
        fs.delete(_jpath(jc, path, _MANIFEST_DIR, _manifest_name(v)), False)
        removed.append(f"{_MANIFEST_DIR}/{_manifest_name(v)}")
    # stale manifest temps: a crash between commit_manifest's create and
    # rename strands `.tmp-<token>-vNNNNN.json` in _manifests forever (the
    # rename is the only consumer).  Age-gated like data files — a YOUNG
    # temp may be a concurrent writer mid-commit; a dead predecessor's is
    # garbage (its content is re-derived by the re-run pass).
    for st in _ls(fs, jc, path, _MANIFEST_DIR):
        name = st.getPath().getName()
        if not name.startswith(".tmp-"):
            continue
        if min_age_sec > 0 and now_ms - st.getModificationTime() < min_age_sec * 1000.0:
            continue
        fs.delete(st.getPath(), False)
        removed.append(f"{_MANIFEST_DIR}/{name}")
    return removed


# --- the shared commit protocol ----------------------------------------------

#: Rewrite callback of :func:`commit_pass`: (committed files, staging dir) ->
#: ({unit: staged directory holding its new files}, {units to drop}).
Rewrite = Callable[[list[str], str], tuple[dict[str, str], set[str]]]


def _sweep_staging(spark: SparkSession, path: str, min_age_sec: float = 0.0) -> bool:
    """Delete stale staging dirs of the table; True if there were any.  A
    pass stages its unit rewrites OUTSIDE the table root, in a directory
    unique per pass (``<table>.staging-<token>``), so a crash mid-rewrite
    never leaves a half-written directory where partition discovery can see
    it and concurrent passes cannot clobber each other's staging.  Sweeping
    is age-gated by ``min_age_sec`` with the same reasoning as
    gc_unreferenced (a YOUNG sibling may belong to a pass still running).
    A pass removes its staging as its last step, so a stale one marks a
    pass that died part-way."""
    import time

    fs, jc = _fs(spark, path)
    now_ms = time.time() * 1000.0
    swept = False
    for st in fs.globStatus(_jpath(jc, path.rstrip("/") + ".staging-*")) or []:
        if min_age_sec <= 0 or now_ms - st.getModificationTime() >= min_age_sec * 1000.0:
            fs.delete(st.getPath(), True)
            swept = True
    return swept


def commit_pass(
    spark: SparkSession,
    path: str,
    rewrite: Rewrite,
    batch_id: int | None = None,
    keep_versions: int = 1,
    orphan_age_sec: float = 0.0,
    _failpoint: Failpoint = _NOOP,
) -> dict[str, str] | None:
    """One pass of the module protocol over the table at ``path``:
    ``rewrite`` gets the committed files and a fresh staging dir and stages
    the units it replaces; the pass publishes them, commits manifest N+1
    (version N's files minus replaced and dropped units, plus the new
    files), then deletes what N+1 no longer needs.  Returns the staged units.

    Without ``batch_id`` this is a service pass: it bootstraps a manifest
    for a table written without one, first sweeps a crashed predecessor's
    orphans (a listing of the whole table), and carries the batch id
    forward.  With ``batch_id`` it is a streaming batch's commit (Delta's
    SetTransaction): if the table already recorded this id or a later one,
    the batch is a replay and the pass returns None untouched; otherwise
    N+1 records the id.  A batch commit sweeps orphans only behind a
    predecessor's leftover staging, so its cost follows the units it
    touches, not the table's size."""
    base = read_manifest(spark, path)
    if batch_id is None:
        if base is None:
            # bootstrapped from the directory layout: nothing to recover
            version, files = snapshot_manifest(spark, path)
            base = {"version": version, "files": files, "batch_id": -1}
        else:
            gc_unreferenced(spark, path, keep_versions, min_age_sec=orphan_age_sec)
    swept = _sweep_staging(spark, path, min_age_sec=orphan_age_sec)
    if batch_id is not None:
        if swept:
            gc_unreferenced(spark, path, keep_versions)
        base = base or {"version": 0, "files": [], "batch_id": -1}
        if batch_id <= base["batch_id"]:
            return None
    fs, jc = _fs(spark, path)
    staging = path.rstrip("/") + f".staging-{uuid.uuid4().hex}"
    fs.mkdirs(_jpath(jc, staging))
    _failpoint("recovered")
    staged, drop = rewrite(base["files"], staging)
    _failpoint("staged")

    fs.mkdirs(_jpath(jc, path))
    live = {_unit(f) for f in base["files"]}
    new_files: list[str] = []
    for unit, sdir in staged.items():
        if unit not in live and not fs.exists(dest := _jpath(jc, path, unit)):
            # a new unit moves in whole: one rename, not one per file
            if not fs.rename(_jpath(jc, sdir), dest):
                raise IOError(f"publish rename failed: {unit}")
            moved = [st.getPath().getName() for st in fs.listStatus(dest)]
        else:
            # staged names are unique per write job, so they never collide
            # with the unit's live files
            moved = []
            for st in fs.listStatus(_jpath(jc, sdir)):
                src = st.getPath()
                moved.append(fname := src.getName())
                if fname.endswith(".parquet") and not fs.rename(
                    src, _jpath(jc, path, unit, fname)
                ):
                    raise IOError(f"publish rename failed: {unit}/{fname}")
        new_files += [f"{unit}/{f}" for f in moved if f.endswith(".parquet")]
    _failpoint("published")

    replaced = set(staged) | drop
    commit_manifest(
        spark, path, base["version"] + 1,
        [f for f in base["files"] if _unit(f) not in replaced] + new_files,
        base["batch_id"] if batch_id is None else batch_id,
    )
    _failpoint("committed")

    # with orphan_age_sec > 0 passes may race, and one still reading version
    # N's files must find them: they wait for a later pass's recovery sweep
    if orphan_age_sec <= 0 and keep_versions == 1:
        # exactly what version N held in the replaced units, and its
        # manifest: no listing
        for f in base["files"]:
            if _unit(f) in staged:
                fs.delete(_jpath(jc, path, f), False)
        for unit in drop:
            fs.delete(_jpath(jc, path, unit), True)
        fs.delete(_jpath(jc, path, _MANIFEST_DIR, _manifest_name(base["version"])), False)
    elif orphan_age_sec <= 0:
        gc_unreferenced(spark, path, keep_versions)
    fs.delete(_jpath(jc, staging), True)
    return staged


# --- the services ------------------------------------------------------------


def apply_time_retention(
    spark: SparkSession,
    path: str,
    cutoff: str,
    keep_versions: int = 1,
    orphan_age_sec: float = 0.0,
    _failpoint: Failpoint = _NOOP,
) -> None:
    """DELETE WHERE ts < cutoff over the date-partitioned sink, with
    partition-drop semantics: partitions wholly before the cutoff's DATE
    leave the manifest without a single row being read (their directories go
    at GC time), the one partition a mid-day cutoff straddles is rewritten
    with a row filter, and every later partition's files are byte-for-byte
    untouched.  At 100 TB the drop is one manifest line per expired day;
    only ~one day of data is ever rewritten regardless of table size.
    Crash-safe per the module protocol: sources outlive their replacements
    until the manifest commit.  ``orphan_age_sec``: see gc_unreferenced —
    set it above the longest pass duration when passes may race; the loser
    of a racing commit raises ManifestConflictError (re-run to apply)."""
    cutoff_unit = "p_date=" + cutoff.split(" ")[0]

    def rewrite(files: list[str], staging: str) -> tuple[dict[str, str], set[str]]:
        units = {_unit(f) for f in files if f.startswith("p_date=")}
        staged: dict[str, str] = {}
        if cutoff_unit in units:
            # rewrite ONLY the straddled partition: filter into staging —
            # later partitions are never opened
            sdir = posixpath.join(staging, cutoff_unit)
            (
                spark.read.parquet(*unit_files(path, files, cutoff_unit))
                .filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
                .write.parquet(sdir)
            )
            staged[cutoff_unit] = sdir
        return staged, {u for u in units if u < cutoff_unit}

    commit_pass(
        spark, path, rewrite, keep_versions=keep_versions,
        orphan_age_sec=orphan_age_sec, _failpoint=_failpoint,
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    max_files: int = 4,
    target_file_bytes: int = TARGET_FILE_BYTES,
    keep_versions: int = 1,
    orphan_age_sec: float = 0.0,
    _failpoint: Failpoint = _NOOP,
) -> list[str]:
    """Small-file compaction over the date-partitioned sink (the OPTIMIZE
    analog): every partition holding more than ``max_files`` parquet files
    is rewritten as ceil(partition_bytes / target_file_bytes) files
    range-partitioned and sorted on (channel_id, id); partitions at or under
    the threshold are left byte-for-byte untouched.  Returns the compacted
    partition values.

    Streaming appends fragment the sink (one file per micro-batch per
    partition); scan cost then pays per-file open/footer overhead and loses
    row-group channel locality.  The size target matters at 100 TB: a hot
    day-partition is multi-TB, and a coalesce(1) rewrite would serialize it
    into one writer task and one unsplittable-in-practice giant file —
    range-splitting by (channel_id, id) keeps rewrite parallelism AND gives
    each output file a disjoint channel range (file-level min/max stats
    prune whole files for per-channel reads).  Partition discovery and the
    swap go through the Hadoop FS API, so the service runs unchanged against
    HDFS/S3A.  Idempotent and crash-safe per the module protocol;
    ``orphan_age_sec``: see apply_time_retention."""
    from concurrent.futures import ThreadPoolExecutor

    def rewrite(files: list[str], staging: str) -> tuple[dict[str, str], set[str]]:
        # Size from the COMMITTED manifest, not a directory listing: with
        # keep_versions > 1 the directory also holds retained older-version
        # files, which would inflate per-partition file counts (spurious
        # rewrites of already-compact partitions) and byte totals (oversized
        # nfiles targets).  The manifest is the live file set by definition;
        # only partitions actually over threshold get their files statted.
        units: dict[str, list[str]] = {}
        for f in files:
            if f.startswith("p_date=") and f.endswith(".parquet"):
                units.setdefault(_unit(f), []).append(f)
        todo = sorted(u for u, fl in units.items() if len(fl) > max_files)
        fs, jc = _fs(spark, path)

        # each rewrite stages into its own directory, so the per-partition
        # jobs are independent — run them as concurrent Spark jobs (a
        # sequential loop pays one job-submission latency per partition)
        def one(u: str) -> tuple[str, str]:
            sdir = posixpath.join(staging, u)
            nbytes = sum(fs.getFileStatus(_jpath(jc, path, f)).getLen() for f in units[u])
            nfiles = max(1, -(-nbytes // target_file_bytes))
            src = spark.read.parquet(*unit_files(path, files, u))
            if nfiles == 1:
                # shuffle-free path for the common case: range-partitioning
                # into one file would still pay the RangePartitioner
                # sampling job
                out = src.coalesce(1)
            else:
                out = src.repartitionByRange(nfiles, "channel_id", "id")
            out.sortWithinPartitions("channel_id", "id").write.parquet(sdir)
            return u, sdir

        with ThreadPoolExecutor(max_workers=8) as pool:
            return dict(pool.map(one, todo)), set()

    staged = commit_pass(
        spark, path, rewrite, keep_versions=keep_versions,
        orphan_age_sec=orphan_age_sec, _failpoint=_failpoint,
    )
    return sorted(u.split("=", 1)[1] for u in staged)


def decimal_cast_projection(df: DataFrame) -> DataFrame:
    """The JDBC-boundary projection: ``value`` double -> decimal(25,6), the
    reference's column type (/root/reference/db_model.py:54).  Factored out
    of write_channel_data_jdbc so the cast semantics (round-half-even at 6
    fractional digits, 19 integer digits of headroom) are testable without a
    database — inside the engine values stay double (see DIVERGENCES.md);
    this cast happens only at the external-sink boundary."""
    return df.withColumn("value", F.col("value").cast("decimal(25,6)"))


def write_channel_data_jdbc(
    df: DataFrame,
    url: str,
    table: str = "channel_data",
    mode: str = "append",
    batchsize: int = 10_000,
) -> None:
    """The reference's actual sink: a SQL database over JDBC
    (/root/reference/db_model.py:65-67 builds a MySQL URL; one INSERT+COMMIT
    per row, daq-3i.py:274-281).  Here: executor-parallel batched writes,
    with the decimal(25,6) cast applied at this boundary via
    :func:`decimal_cast_projection`.

    Exercised end-to-end against a REAL embedded JDBC database (Derby, the
    jar Spark bundles for its Hive metastore) in
    tests/test_sink_services.py::test_jdbc_sink_roundtrip_derby — table
    auto-creation, batched append, and the decimal cast all run through the
    actual Spark JDBC writer.  A server-backed deployment only swaps the URL
    (e.g. ``jdbc:mysql://host/db``) and ships that server's driver jar; the
    cast projection is additionally oracled standalone
    (tests/test_sink_services.py::test_decimal_cast_projection_boundary).
    """
    (
        decimal_cast_projection(df)
        .write.mode(mode)
        .option("batchsize", str(batchsize))
        .jdbc(url, table)
    )


def upsert_status_jdbc(
    updates: DataFrame, url: str, table: str = "daq_status"
) -> int:
    """Live JDBC twin of the daq_status upsert: latest update per
    ``parameter`` wins, MERGEd into the status table as batched
    UPDATE-then-INSERT (the reference's SELECT -> INSERT-or-UPDATE loop,
    daq_status.py:36-68, minus its one-transaction-per-parameter shape).

    The distributed part is the snapshot reduction (one shuffle on the key,
    operators/core.py:status_snapshot); the collected snapshot is
    PARAMETER-sized — one row per status key (heartbeat + per-channel
    flags), bounded by config cardinality, never by data volume — the same
    class as the module's day-list collects.  The merge itself runs on one
    JDBC connection as two executeBatch round trips (UPDATE all keys, INSERT
    the misses), which is dialect-neutral: Derby (exercised in
    tests/test_sink_services.py::test_status_upsert_roundtrip_derby), MySQL
    (the reference's production dialect — no server in the sandbox), and
    Postgres all take this shape.  Every statement is rendered by
    sources/dialect.py from the URL's dialect, so the EXACT strings a MySQL
    deployment would execute are golden-pinned in tests even though only
    the ANSI renderings run live here (see DIVERGENCES.md for the residue).
    Returns the number of keys merged.
    """
    from daq_3i_spark.operators.core import status_snapshot
    from daq_3i_spark.sources.dialect import (
        dialect_of_url,
        status_create_table_sql,
        status_insert_sql,
        status_select_keys_sql,
        status_update_sql,
    )

    dialect = dialect_of_url(url)

    snap = status_snapshot(updates).select("parameter", "status", "ts").collect()
    if not snap:
        return 0
    spark = updates.sparkSession
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        meta = conn.getMetaData()
        # table probe via DatabaseMetaData (dialect-neutral; Derby folds
        # unquoted identifiers to upper case, MySQL keeps case)
        rs = meta.getTables(None, None, table.upper(), None)
        exists = rs.next()
        rs.close()
        if not exists:
            rs = meta.getTables(None, None, table, None)
            exists = rs.next()
            rs.close()
        if not exists:
            # quoted column identifiers so the engine keeps the exact
            # lower-case names the Spark JDBC reader expects (Derby folds
            # unquoted identifiers to UPPER); quoting style comes from the
            # dialect renderer — ANSI double quotes vs MySQL backticks
            st = conn.createStatement()
            st.executeUpdate(status_create_table_sql(dialect, table))
            st.close()

        def _bind(ps, row, order):
            for i, fld in enumerate(order, start=1):
                if fld == "parameter":
                    ps.setString(i, row["parameter"])
                elif fld == "status":
                    ps.setInt(i, int(row["status"]))
                else:
                    # wall-clock binding (Timestamp.valueOf), NOT epoch math:
                    # collect() returns naive session-tz datetimes and
                    # datetime.timestamp() would reinterpret them in the
                    # HOST timezone — valueOf round-trips the wall clock
                    # through JDBC with no tz conversion on either side
                    ps.setTimestamp(
                        i,
                        jvm.java.sql.Timestamp.valueOf(
                            row["ts"].strftime("%Y-%m-%d %H:%M:%S.%f")
                        ),
                    )

        # split updates/inserts from an existing-keys probe, NOT from
        # executeBatch update counts: the JDBC spec lets drivers return
        # SUCCESS_NO_INFO (-2) per statement (MySQL does under
        # rewriteBatchedStatements), which would silently drop the INSERT
        # half.  The key probe is one metadata-sized SELECT — the status
        # table holds one row per parameter by design.
        existing = set()
        st = conn.createStatement()
        rs = st.executeQuery(status_select_keys_sql(dialect, table))
        while rs.next():
            existing.add(rs.getString(1))
        rs.close()
        st.close()
        updates_b = [row for row in snap if row["parameter"] in existing]
        missing = [row for row in snap if row["parameter"] not in existing]
        if updates_b:
            upd = conn.prepareStatement(status_update_sql(dialect, table))
            for row in updates_b:
                _bind(upd, row, ("status", "ts", "parameter"))
                upd.addBatch()
            upd.executeBatch()
            upd.close()
        if missing:
            ins = conn.prepareStatement(status_insert_sql(dialect, table))
            for row in missing:
                _bind(ins, row, ("parameter", "status", "ts"))
                ins.addBatch()
            ins.executeBatch()
            ins.close()
        conn.commit()
        return len(snap)
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


# --- Z-order (Morton) clustering — multi-dimensional pruning layout ----------


def morton_code(a, b, bits: int = 10):
    """Morton (Z-order) interleave of two non-negative integer columns into
    one sort key: bit i of ``a`` lands at position 2i+1, bit i of ``b`` at
    2i.  Sorting by the interleaved code clusters rows so that EVERY file's
    (min, max) box is tight in BOTH dimensions — a single-column sort gives
    perfect pruning on that column and none on the other; Z-order gives
    useful pruning on both (the OPTIMIZE ZORDER BY idea).  Pure Catalyst
    bit arithmetic (2*bits shift/and/or terms), whole-stage codegen, no
    UDF."""
    code = None
    for i in range(bits):
        abit = F.shiftleft(
            F.shiftrightunsigned(a.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        bbit = F.shiftleft(
            F.shiftrightunsigned(b.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i
        )
        term = abit.bitwiseOR(bbit)
        code = term if code is None else code.bitwiseOR(term)
    return code


#: bit width of the hour-of-month dimension (0..743 = 31 days x 24 hours)
_HOUR_BITS = 10


def write_channel_data_zordered(
    df: DataFrame, path: str, nfiles: int = 8, ch_bits: int | None = None
) -> None:
    """channel_data laid out for BOTH per-channel and per-time-range reads:
    rows range-partitioned and sorted by the Morton interleave of
    (channel_id, hour-of-month), so each of the ``nfiles`` output files owns
    a compact box in (channel, time) space and parquet min/max stats prune
    files for either predicate.  A channel-only sort would leave every file
    spanning the full time range (time scans read everything); a time-only
    sort the reverse.  At 100 TB this runs per date partition as the
    clustering step of the compaction service."""
    hour = (F.dayofmonth("ts") - 1) * 24 + F.hour("ts")
    # LEFT-ALIGN the narrower dimension to the shared interleave width:
    # interleaving unaligned values puts the wider dimension's high bits
    # above every bit of the narrower one — degenerating into a
    # single-dimension sort with zero pruning on the other (measured before
    # alignment: a channel predicate admitted all 8 files).  The channel
    # width must match the DATA rather than a hard-coded constant: a fixed
    # shift of 4 silently aliased distinct channels into the same z-range
    # for any deployment with >= 64 channels, turning the layout into a
    # time-only sort exactly where two-dimensional pruning matters most.
    # Steady-state writers pass ``ch_bits`` (the channel dimension is config
    # metadata — its id width is known without touching the fact table, and
    # a too-wide value only pads the interleave, never aliases); with None
    # the width is derived by one max aggregate over the input (the r9
    # fallback, one extra job per write — BENCH_NOTES r10 adjudication).
    if ch_bits is None:
        max_ch = df.agg(F.max("channel_id")).first()[0] or 0
        ch_bits = int(max_ch).bit_length()
    ch_bits = max(1, ch_bits)
    bits = min(31, max(ch_bits, _HOUR_BITS))  # 2*31 interleaved bits < 63
    z = morton_code(
        F.shiftleft(F.col("channel_id").cast("long"), max(0, bits - ch_bits)),
        F.shiftleft(hour.cast("long"), bits - _HOUR_BITS),
        bits=bits,
    )
    (
        df.withColumn("__z", z)
        .repartitionByRange(nfiles, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def merge_upsert(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str = "id",
    keep_versions: int = 1,
    orphan_age_sec: float = 0.0,
    _failpoint: Failpoint = _NOOP,
) -> list[str]:
    """MERGE INTO the date-partitioned sink ON ``key``: matched target rows
    are replaced by the source row (update), unmatched source rows are
    inserted — the Delta ``MERGE`` primitive, run as a manifest service
    pass.  Only partitions named by the source's ``to_date(ts)`` are
    rewritten; every other partition's files stay byte-for-byte (the CDC
    upsert shape: the touched-day set is the batch's days, not the
    table's).  Assumes key->partition stability — the source carries the
    target row's day, as CDC feeds do; a cross-partition key move is a
    delete+insert, not a merge.  Crash-safe per the module protocol.
    Returns the rewritten partition values.  ``orphan_age_sec``: see
    apply_time_retention."""
    src = source.withColumn("p_date", F.to_date("ts")).persist()

    def rewrite(files: list[str], staging: str) -> tuple[dict[str, str], set[str]]:
        from concurrent.futures import ThreadPoolExecutor

        # the day list is batch-sized metadata (one row per touched day), the
        # standard parameter-sized collect
        days = sorted(str(r["p_date"]) for r in src.select("p_date").distinct().collect())

        # per-day rewrites are independent — run them as concurrent Spark
        # jobs (a sequential loop pays one job-submission latency per day)
        def one(pstr: str) -> tuple[str, str]:
            unit = f"p_date={pstr}"
            sdir = posixpath.join(staging, unit)
            s_d = src.filter(F.col("p_date") == F.lit(pstr).cast("date")).drop("p_date")
            pfiles = unit_files(path, files, unit)
            if pfiles:
                tgt = spark.read.parquet(*pfiles)
                out = tgt.join(s_d.select(key), key, "left_anti").unionByName(s_d)
            else:
                out = s_d
            out.coalesce(1).sortWithinPartitions("channel_id", "id").write.parquet(sdir)
            return unit, sdir

        with ThreadPoolExecutor(max_workers=8) as pool:
            return dict(pool.map(one, days)), set()

    try:
        staged = commit_pass(
            spark, path, rewrite, keep_versions=keep_versions,
            orphan_age_sec=orphan_age_sec, _failpoint=_failpoint,
        )
    finally:
        src.unpersist()
    return sorted(u.split("=", 1)[1] for u in staged)
