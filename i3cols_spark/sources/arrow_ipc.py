"""Arrow IPC (Feather v2) file source/sink as a Spark 4 Python
DataSource — the engine's fourth non-parquet format, and the one that
exercises the NEW custom-source surface (pyspark.sql.datasource)
rather than a built-in reader.

Why this shape (SURVEY §2.1-S1 source axis; public API:
https://spark.apache.org/docs/latest/api/python/user_guide/sql/python_data_source.html):

- READ: one ``InputPartition`` per committed file, each task memory-
  maps its file and yields ``pyarrow.RecordBatch`` objects directly —
  Spark 4's arrow-batch read path, so rows never materialize in
  Python object form (the row-yield fallback is 10-100× slower).
- WRITE: the sinks are Arrow writers (``DataSourceArrowWriter`` /
  ``DataSourceStreamArrowWriter``): each task writes the record
  batches Spark hands it straight into one uniquely-named
  ``part-*.arrow`` file and returns the name as its commit message;
  ``commit()`` atomically replaces ``_ARROW_MANIFEST.json`` with the
  list of files from SUCCESSFUL tasks only.  The reader trusts the
  manifest, never the directory listing — so files orphaned by failed
  or speculative task attempts are invisible, which is the same
  staging-manifest idea as Spark's own file commit protocol reduced
  to its distributed-correctness core.
- Supported Arrow↔Spark types are the explicit subset the engine's
  mirrors need (int64/float64/string/bool/int32); anything else
  raises NotImplementedError loudly rather than silently coercing —
  the repo's codec-gating convention.  The sinks check it once on
  the driver, before any task writes a file.

- STREAM: the same directory doubles as a streaming source
  (``spark.readStream.format("arrowipc")``): append commits extend
  the manifest in arrival order, and ArrowIPCStreamReader treats the
  manifest position as its offset axis — exactly-once per file across
  checkpointed restarts.
- TIME TRAVEL: every commit (append or overwrite) also writes an
  immutable snapshot manifest ``_ARROW_MANIFEST.v{n}.json`` before
  atomically flipping HEAD; ``option("versionAsOf", n)`` reads any
  retained snapshot.  Overwrite never deletes superseded parts —
  storage is reclaimed by the explicit ``vacuum(root, retain_last)``
  (keep newest k snapshots, drop manifests first, then unreferenced
  parts), the Delta-style division of labor.

At 100 TB: files are the parallelism unit exactly as with parquet;
the manifest is one small JSON read on the driver; per-task memory is
one record batch, reader and writer alike.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from i3cols_spark.session import register_data_source

MANIFEST = "_ARROW_MANIFEST.json"
_SNAPSHOT_FMT = "_ARROW_MANIFEST.v{n}.json"
_SNAPSHOT_RE = re.compile(r"^_ARROW_MANIFEST\.v(\d+)\.json$")

_SPARK_TO_ARROW = {
    "bigint": "int64",
    "double": "float64",
    "string": "string",
    "boolean": "bool_",
    "int": "int32",
}


def _arrow_type(spark_type: str):
    import pyarrow as pa

    name = _SPARK_TO_ARROW.get(spark_type)
    if name is None:
        raise NotImplementedError(
            f"arrowipc: unsupported Spark type {spark_type!r} "
            f"(supported: {sorted(_SPARK_TO_ARROW)})"
        )
    return getattr(pa, name)()


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


def _manifest_files(root: str, version: int | None = None) -> list:
    """File list of the HEAD manifest, or of the immutable snapshot
    ``_ARROW_MANIFEST.v{version}.json`` when ``version`` is given
    (time travel).  A vacuumed/never-written snapshot fails loudly."""
    if version is None:
        with open(os.path.join(root, MANIFEST)) as fh:
            return json.load(fh)["files"]
    snap = os.path.join(root, _SNAPSHOT_FMT.format(n=version))
    if not os.path.exists(snap):
        raise ValueError(
            f"arrowipc: no snapshot v{version} under {root} — it was "
            f"never committed or has been vacuumed (available: "
            f"{sorted(_snapshot_versions(root)) or 'none'})"
        )
    with open(snap) as fh:
        return json.load(fh)["files"]


def _snapshot_versions(root: str) -> list:
    out = []
    for f in os.listdir(root):
        m = _SNAPSHOT_RE.match(f)
        if m:
            out.append(int(m.group(1)))
    return out


def _version_of(options: dict) -> int | None:
    v = options.get("versionasof") or options.get("versionAsOf")
    return int(v) if v is not None else None


class SnapshotConflictError(RuntimeError):
    """Optimistic-concurrency conflict: a LIVE concurrent committer
    already published this snapshot version with DIFFERENT contents.
    Retryable — re-read HEAD, recompute the commit against the new
    version, and try again.

    Orphans from a CRASHED commit (snapshot published, HEAD never
    flipped) do not raise this: ``_commit`` rolls HEAD forward onto
    any orphan snapshot before computing its own version
    (``_roll_forward``), so by the time a version collision is seen
    the only possible owner of the existing file is a live racer
    (the old behavior wedged the table — every retry
    recomputed the same version from the unmoved HEAD and failed
    forever because part names are fresh uuids)."""


def _head_state(root: str) -> dict | None:
    """The HEAD manifest payload, or None before the first commit."""
    manifest = os.path.join(root, MANIFEST)
    if not os.path.exists(manifest):
        return None
    with open(manifest) as fh:
        return json.load(fh)


def _flip_head(root: str, payload: dict) -> bool:
    """Atomically point HEAD at ``payload`` — the single place
    ``_commit`` (and roll-forward) go through:

    * UNIQUE tmp name (pid+uuid, as ``_publish_snapshot``): the old
      shared ``manifest + ".tmp"`` let two processes in the flip
      window interleave writes into one file before ``os.replace``,
      publishing corrupted JSON.
    * MONOTONIC versions: refuse to replace HEAD with a payload whose
      version is <= the current HEAD version — a stale duplicate
      retry racing a newer committer can no longer regress HEAD.
      (Best-effort check-then-replace; the snapshot-level ``os.link``
      exclusivity already guarantees each version has exactly one
      owner, so the payload for any version is unique and the worst
      surviving race is a transient old-version republish inside this
      window, not divergent content.)

    Returns True if HEAD was flipped, False if it was already at or
    past this version."""
    manifest = os.path.join(root, MANIFEST)
    head = _head_state(root)
    if head is not None and head.get("version", 1) >= payload["version"]:
        return False
    tmp = f"{manifest}.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, manifest)  # atomic: readers see old or new set
    return True


def _roll_forward(root: str, head: dict | None) -> dict | None:
    """Complete any CRASHED commit before starting a new one: a crash
    between ``_publish_snapshot`` and the HEAD flip leaves an orphan
    ``v{head+1}`` snapshot that HEAD never adopted.  Because version
    assignment is serialized by the snapshot hard-link, that orphan is
    the unique legitimate content of its version — so recovery is to
    flip HEAD onto it (roll forward), exactly what the crashed
    committer would have done next.  Returns the (possibly advanced)
    head state.  Idempotent and safe under a live racer: if the racer
    flips first, ``_flip_head`` skips (version no longer newer)."""
    while True:
        prev = 0 if head is None else head.get("version", 1)
        newer = [v for v in _snapshot_versions(root) if v > prev]
        if not newer:
            return head
        snap = os.path.join(root, _SNAPSHOT_FMT.format(n=min(newer)))
        try:
            with open(snap) as fh:
                orphan = json.load(fh)
        except (OSError, ValueError):
            return head  # torn/vanished (vacuum race) — nothing to adopt
        _flip_head(root, orphan)
        head = _head_state(root)


def _publish_snapshot(root: str, version: int, payload: dict) -> None:
    """Atomically publish the immutable ``v{n}`` snapshot:

    * TORN WRITES: the payload is fully written + fsynced to a tmp
      file first, then hard-linked into its final name — a crash can
      never leave a half-written ``_ARROW_MANIFEST.v{n}.json`` that
      versionAsOf readers or vacuum() would fail to parse, restoring
      the documented "sees either nothing or the complete immutable
      file list" guarantee.
    * LOST UPDATES: ``os.link`` fails with EEXIST when ``v{n}``
      already exists, so two committers that both computed version
      n+1 from the same HEAD cannot both win — the loser gets a
      retryable :class:`SnapshotConflictError` instead of silently
      vanishing from HEAD, and the shared snapshot file is never
      overwritten (the "snapshot is never replaced" invariant).  The
      one benign collision — a retry AFTER a crash that landed the
      snapshot but not the HEAD flip — is recognized by identical
      payload and treated as success (idempotent re-commit).
    """
    snap = os.path.join(root, _SNAPSHOT_FMT.format(n=version))
    tmp = f"{snap}.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, snap)
    except FileExistsError:
        try:
            with open(snap) as fh:
                existing = json.load(fh)
        except (OSError, ValueError):
            existing = None
        if existing != payload:
            raise SnapshotConflictError(
                f"arrowipc: snapshot v{version} under {root} was already "
                f"published by a LIVE concurrent committer (crashed-commit "
                f"orphans are adopted by roll-forward before versions are "
                f"assigned, so this collision is a real race) — re-read "
                f"the HEAD manifest and retry the commit"
            ) from None
        # identical payload: crashed/duplicate attempt of THIS commit;
        # fall through so the caller can flip HEAD idempotently.
    finally:
        os.unlink(tmp)


def vacuum(root: str, retain_last: int = 1) -> dict:
    """Reclaim storage from superseded snapshots: keep the newest
    ``retain_last`` snapshot manifests (the HEAD manifest and its
    files are always kept), delete older snapshot manifests and any
    part file no retained manifest references.

    This is the Delta-style division of labor: ``mode("overwrite")``
    / append only ever ADD a snapshot (time travel keeps working),
    and storage is reclaimed by an explicit, audited vacuum.  Returns
    ``{"removed_manifests": n, "removed_parts": m, "retained_versions":
    [...]}``.  Correctness never depends on vacuum: readers trust
    manifests, so a crashed vacuum leaves either reachable files or
    already-unreachable ones."""
    if retain_last < 1:
        raise ValueError("arrowipc vacuum: retain_last must be >= 1")
    versions = sorted(_snapshot_versions(root))
    retained = versions[-retain_last:]
    keep_files = set(_manifest_files(root)) | {MANIFEST}
    for v in retained:
        keep_files.update(_manifest_files(root, v))
        keep_files.add(_SNAPSHOT_FMT.format(n=v))
    removed_manifests = removed_parts = 0
    # Drop stale snapshot manifests FIRST: once a snapshot is gone it
    # can no longer be read half-vacuumed (its parts may outlive it
    # harmlessly; the reverse order could leave a readable manifest
    # pointing at deleted parts).
    for v in versions[:-retain_last] if retain_last <= len(versions) else []:
        os.remove(os.path.join(root, _SNAPSHOT_FMT.format(n=v)))
        removed_manifests += 1
    for f in os.listdir(root):
        if f not in keep_files and not f.endswith(".tmp"):
            os.remove(os.path.join(root, f))
            removed_parts += 1
    return {
        "removed_manifests": removed_manifests,
        "removed_parts": removed_parts,
        "retained_versions": retained,
    }


def _read_file(path: str):
    import pyarrow as pa

    with pa.memory_map(path) as src:
        table = pa.ipc.open_file(src).read_all()
    # Yield arrow batches directly (Spark 4 arrow read path); the
    # memory map is closed after read_all copies out the buffers.
    yield from table.to_batches()


class ArrowIPCReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.root = options["path"]
        self.version = _version_of(options)

    def partitions(self):
        files = _manifest_files(self.root, self.version)
        return [_FilePartition(os.path.join(self.root, f)) for f in files]

    def read(self, partition: _FilePartition):
        yield from _read_file(partition.path)


class ArrowIPCStreamReader(DataSourceStreamReader):
    """Streaming tail of an arrowipc directory: the offset axis is the
    POSITION in the manifest's file list (append commits extend it in
    arrival order, see ``_commit``), so an offset is the one-int dict
    ``{"n": files_consumed}``.

    Distributed-correctness properties this encodes:

    - ``latestOffset`` is one driver-side manifest read; a micro-batch
      (start, end] maps to manifest slice [start.n:end.n] with one
      InputPartition per file — task parallelism identical to the
      batch reader.
    - The manifest is replaced atomically (os.replace), so a batch
      planned against offset n can never see a torn file list, and
      files orphaned by failed writer attempts are never offsets.
    - Offsets are stored in Spark's checkpoint; after a restart the
      engine replays from the committed ``{"n": k}``, so every
      manifest entry is processed exactly once (test pins this with a
      stop → append → restart cycle).
    - ``commit(end)`` is a no-op: the source is a log, retention is
      the writer's concern — same division of labor as Kafka.
    """

    def __init__(self, options: dict) -> None:
        self.root = options["path"]

    def initialOffset(self) -> dict:
        return {"n": 0}

    def latestOffset(self) -> dict:
        try:
            return {"n": len(_manifest_files(self.root))}
        except FileNotFoundError:
            return {"n": 0}

    def partitions(self, start: dict, end: dict):
        files = _manifest_files(self.root)
        if len(files) < end["n"]:
            # An overwrite shrank the manifest under a live checkpoint.
            # A silent empty slice would report progress while losing
            # data — fail loudly instead (the offset axis only exists
            # for append-mode logs).
            raise ValueError(
                f"arrowipc stream: manifest under {self.root} has "
                f"{len(files)} files but the checkpoint expects ≥ {end['n']} "
                "— the directory was overwritten; restart the stream with a "
                "fresh checkpoint"
            )
        batch = files[start["n"]:end["n"]]
        return [_FilePartition(os.path.join(self.root, f)) for f in batch]

    def read(self, partition: _FilePartition):
        yield from _read_file(partition.path)

    def commit(self, end: dict) -> None:
        pass


class _Committed(WriterCommitMessage):
    def __init__(self, filename: str) -> None:
        self.filename = filename


def _commit(
    root: str, messages, overwrite: bool = False, batch_id: int | None = None
) -> None:
    """Publish one commit of the tasks' ``messages``: roll forward,
    build the payload, publish the ``v{n}`` snapshot, flip HEAD — the
    one commit path of the batch writer and the stream sink.

    * Any crashed commit's orphan snapshot is adopted FIRST, so this
      commit's version is computed against the true latest state
      (recomputing the orphan's version from the unmoved
      HEAD wedged on SnapshotConflictError).  If the orphan IS this
      stream epoch (crash after snapshot, before flip), its adopted
      batches record makes the replay a no-op.
    * Append keeps prior entries IN ORDER and adds this commit's files
      after them — arrival order is the streaming-tail offset axis
      (ArrowIPCStreamReader), so it must be stable.  Overwrite starts
      a new table state from ``new`` alone.
    * The stream sink's committed-batch record (``batches``: batch id
      → its files) survives appends, so a replayed ``batch_id`` is a
      no-op (losing it would let a replayed epoch duplicate), and
      resets on overwrite.
    * The snapshot is published FIRST and never replaced: a time-
      travel reader of v{n} sees either nothing (commit not yet
      durable) or the complete immutable file list — torn-write and
      concurrent-committer races are handled in _publish_snapshot.
      Only then does the HEAD manifest flip atomically.  Old parts are
      NOT deleted here — superseded snapshots stay readable via
      versionAsOf until an explicit vacuum() reclaims them (the
      Delta-style contract)."""
    new = sorted(m.filename for m in messages if m is not None)
    head = _roll_forward(root, _head_state(root))
    prev_version = 0
    files: list = []
    batches: dict = {}
    if head is not None:
        if batch_id is not None and str(batch_id) in head.get("batches", {}):
            return  # epoch already durable — replay is a no-op
        # pre-versioning manifests carry no "version" — treat the
        # existing state as v1 so its history starts counting.
        prev_version = head.get("version", 1)
        if not overwrite:
            files = head["files"]
            batches = head.get("batches", {})
    if batch_id is not None:
        batches[str(batch_id)] = new
    payload = {"version": prev_version + 1, "files": files + new}
    if batches:
        payload["batches"] = batches
    _publish_snapshot(root, payload["version"], payload)
    _flip_head(root, payload)


def _arrow_schema(schema):
    """The Arrow schema the sinks write for Spark ``schema`` — the
    supported-type gate, run once on the driver (``writer()`` /
    ``streamWriter()``) so an unsupported column fails before any
    task writes a file."""
    import pyarrow as pa

    return pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType.simpleString())) for f in schema.fields]
    )


def _write_part(root: str, arrow_schema, batches: Iterator) -> _Committed:
    """One task's part file: every record batch Spark hands the task,
    cast to ``arrow_schema`` and written straight into one uniquely
    named IPC file; its name is the commit message."""
    import pyarrow as pa

    os.makedirs(root, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.arrow"
    with pa.OSFile(os.path.join(root, name), "wb") as sink:
        with pa.ipc.new_file(sink, arrow_schema) as writer:
            for batch in batches:
                writer.write_batch(batch.cast(arrow_schema))
    return _Committed(name)


class ArrowIPCWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, arrow_schema, overwrite: bool) -> None:
        self.root = options["path"]
        self.arrow_schema = arrow_schema
        self.overwrite = overwrite

    def write(self, batches: Iterator) -> _Committed:
        return _write_part(self.root, self.arrow_schema, batches)

    def commit(self, messages) -> None:
        _commit(self.root, messages, overwrite=self.overwrite)

    def abort(self, messages) -> None:
        # Files from completed tasks of the aborted job stay on disk
        # but are unreachable: the manifest was never replaced.
        pass


class ArrowIPCStreamWriter(DataSourceStreamArrowWriter):
    """Streaming SINK with exactly-once semantics by IDEMPOTENT batch
    commits: the engine passes ``batchId`` (its checkpointed epoch) to
    ``commit``, and the manifest records which batch ids are already
    durable — a replayed epoch (restart after the sink committed but
    before the checkpoint advanced, the classic at-least-once gap) is
    recognized and skipped, so each micro-batch's rows land exactly
    once.  This is the same contract Spark's own file sink implements
    with _spark_metadata batch files, reduced to its core: idempotence
    keyed on (sink, batchId), not deduplication of data.

    Task files from the replayed attempt stay on disk unreachable
    (manifest is the source of truth) until vacuum — identical to the
    failed-task orphan story."""

    def __init__(self, options: dict, arrow_schema) -> None:
        self.root = options["path"]
        self.arrow_schema = arrow_schema

    def write(self, batches: Iterator) -> _Committed:
        return _write_part(self.root, self.arrow_schema, batches)

    def commit(self, messages, batchId: int) -> None:
        _commit(self.root, messages, batch_id=batchId)

    def abort(self, messages, batchId: int) -> None:
        pass  # task files stay unreachable; the manifest never moved


class ArrowIPCDataSource(DataSource):
    """``spark.read.format("arrowipc").option("path", p)`` /
    ``df.write.format("arrowipc")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "arrowipc"

    def schema(self):
        ddl = self.options.get("schema")
        if ddl:
            return ddl
        # Derive from the first manifested file's arrow schema.
        import pyarrow as pa

        root = self.options["path"]
        files = _manifest_files(root, _version_of(self.options))
        if not files:
            raise ValueError(f"arrowipc: empty manifest under {root}")
        with pa.memory_map(os.path.join(root, files[0])) as src:
            arrow_schema = pa.ipc.open_file(src).schema
        # keyed by str(arrow_type) — e.g. str(pa.float64()) == "double",
        # NOT the pa constructor name
        inverse = {str(_arrow_type(k)): k for k in _SPARK_TO_ARROW}
        parts = []
        for f in arrow_schema:
            name = inverse.get(str(f.type))
            if name is None:
                raise NotImplementedError(
                    f"arrowipc: unsupported arrow type {f.type} for column {f.name}"
                )
            parts.append(f"{f.name} {name}")
        return ", ".join(parts)

    def reader(self, schema) -> ArrowIPCReader:
        return ArrowIPCReader(self.options)

    def streamReader(self, schema) -> ArrowIPCStreamReader:
        return ArrowIPCStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> ArrowIPCWriter:
        return ArrowIPCWriter(self.options, _arrow_schema(schema), overwrite)

    def streamWriter(self, schema, overwrite: bool) -> ArrowIPCStreamWriter:
        if overwrite:
            raise NotImplementedError(
                "arrowipc streaming sink supports append mode only — "
                "complete/update would rewrite history that snapshot "
                "readers may hold"
            )
        return ArrowIPCStreamWriter(self.options, _arrow_schema(schema))


def register_arrow_ipc(spark) -> None:
    """Register the ``arrowipc`` format, once per session."""
    register_data_source(spark, ArrowIPCDataSource)
