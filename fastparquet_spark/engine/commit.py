"""The task-commit protocol shared by every writer in the package.

A task's output belongs to an OWNER name (``part-00007`` for partition
or split 7, ``part-<job>-00007`` for a DataSource write task); every
data file it writes is ``<owner>.<ext>`` or ``<owner>-<suffix>.<ext>``.
A task commits in four steps, in this order:

1. **stage** — each data file is written under the dot-hidden,
   attempt-suffixed name ``.<final>.stage-<attempt>`` beside its final
   name.  A failed or speculative attempt never writes under a final
   name, twin attempts cannot collide on a stage file, and directory
   listing readers (Spark, Hive, DuckDB, pyarrow skip ``.``/``_``
   basenames) never see in-flight data.
2. **publish** — all staged files are renamed to their final names,
   each rename atomic.  A rename that fails because a twin attempt has
   already published the same final counts as success: either our
   stage was swept by that twin (sweeps run only after a complete
   publish), or it is intact and the same size as the final (the
   writers are deterministic; a stale file from an earlier run is
   never blessed).
3. **sweep** — in every directory the task wrote to, the owner's files
   outside the set just published are removed: dead attempts' stages
   and stale finals a dead attempt published but this one did not
   reproduce (batch boundaries after a shuffle are not deterministic,
   so a hive ``-rN`` split or an extra container index may not recur).
   The sweep runs strictly after the publish: sweeping first let two
   simultaneous twins delete each other's stages and leave no final,
   and let a zombie remove a committed file its manifest still claimed.
4. **manifest** — the lineage manifest ``_manifests/<owner>.json`` is
   written to an attempt-suffixed temp file and renamed into place.
   Its existence is the commit: a resumed job skips every owner whose
   manifest exists and replays the rows recorded in it.

A task that raises removes its own stages (``abort``); one that dies
before step 4 leaves stages or finals that the next attempt's sweep
removes or overwrites.

Resume keys on partition or split ids, which name the same rows only
under the same plan, so the driver (``prepare_output``) records the
plan's identity in ``_manifests/_plan_<name>.json`` and refuses a
resume against a different one.

The Spark DataSource writers have no manifests and no resume: their
tasks stage and report (stage, final) pairs, and the driver's
``commit_job`` publishes them all and then sweeps, scoped to the job
token in the owner name so a concurrent job's stages survive.  In
overwrite mode the old data files are removed only after the new ones
are published, so a failed commit keeps the old data, and the
``_metadata``/``_common_metadata`` sidecars, which list the old files,
are dropped between the two, so no sidecar outlives the files it names.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql.datasource import WriterCommitMessage

MANIFEST_DIR = "_manifests"
SIDECARS = ("_metadata", "_common_metadata")
MAX_BUFFER_BYTES = 512 << 20  # byte cap on rows buffered for one chunk

# one row per written file; ``columns`` is json {column: encoding}
MANIFEST_SCHEMA = pa.schema([
    ("partition", pa.int32()), ("file", pa.string()), ("rows", pa.int64()),
    ("input_bytes", pa.int64()), ("output_bytes", pa.int64()),
    ("encode_secs", pa.float64()), ("kernel_secs", pa.float64()),
    ("skipped", pa.bool_()), ("columns", pa.string()),
])


def manifest_struct():
    """The manifest schema as the Spark struct ``mapInArrow`` returns."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(MANIFEST_SCHEMA)


def manifest_batch(row: dict) -> pa.RecordBatch:
    return pa.record_batch([pa.array([row[f.name]], f.type)
                            for f in MANIFEST_SCHEMA], schema=MANIFEST_SCHEMA)


def u_join(base: str, rel: str) -> str:
    """Path join that preserves URI schemes (s3://... stays s3://...)."""
    return base.rstrip("/") + "/" + rel


def stage_path(final: str, attempt) -> str:
    d, b = final.rsplit("/", 1)
    return f"{d}/.{b}.stage-{attempt}"


def prepare_output(out_dir: str, plan_name: str, plan: dict | None,
                   resume: bool, what: str) -> None:
    """Driver scaffold of the engine jobs: create the output and
    manifest dirs, drop a ``_metadata``/``_common_metadata`` sidecar
    (it cannot see the files this job adds, and sidecar-preferring
    readers would silently miss them), and guard the plan identity
    ``plan`` (None: nothing planned, no guard) — ``what`` names it in
    the error."""
    from fastparquet_spark.io import get_fs

    fs = get_fs(out_dir)
    fs.makedirs(u_join(out_dir, MANIFEST_DIR))
    _drop_sidecars(fs, out_dir)
    if plan is None:
        return
    marker = u_join(out_dir, f"{MANIFEST_DIR}/_plan_{plan_name}.json")
    if resume and fs.exists(marker):
        with fs.open_read(marker) as fh:
            prev = json.loads(fh.read())
        if prev != plan:
            raise ValueError(
                f"resume against a different {what} than the interrupted "
                f"run ({prev} then, {plan} now): ids no longer name the "
                f"same rows — rerun with the interrupted run's settings, "
                f"or resume=False to start over")
    else:
        with fs.open_write(f"{marker}.tmp") as fh:
            fh.write(json.dumps(plan).encode())
        fs.replace(f"{marker}.tmp", marker)


def _drop_sidecars(fs, out_dir: str) -> None:
    for name in SIDECARS:
        sidecar = u_join(out_dir, name)
        if fs.exists(sidecar):
            fs.remove(sidecar)


class TaskAttempt:
    """One attempt at committing one owner's output under ``out_dir``
    (``attempt`` is Spark's task attempt id; None on the driver)."""

    def __init__(self, fs, out_dir: str, owner: str, attempt=None):
        self.fs = fs
        self.out_dir = out_dir.rstrip("/")
        self.owner = owner
        self.attempt = attempt
        self.pending: list[tuple[str, str]] = []  # (stage, final)
        self._sinks: list = []
        self.manifest = u_join(out_dir, f"{MANIFEST_DIR}/{owner}.json")

    def committed(self) -> list[dict] | None:
        """The committed manifest rows, marked skipped; None if the
        owner has no manifest yet."""
        if not self.fs.exists(self.manifest):
            return None
        with self.fs.open_read(self.manifest) as fh:
            prev = json.loads(fh.read())
        rows = prev if isinstance(prev, list) else [prev]
        for row in rows:
            row["skipped"] = True
            row.setdefault("kernel_secs", 0.0)  # older manifests lack it
        return rows

    def stage(self, final: str):
        """Open the stage sink for data file ``final`` (a full path)."""
        d = final.rsplit("/", 1)[0]
        if d != self.out_dir:
            self.fs.makedirs(d)
        path = stage_path(final, self.attempt)
        sink = self.fs.open_write(path)
        self._sinks.append(sink)
        self.pending.append((path, final))
        return sink

    def publish_all(self) -> None:
        for stage, final in self.pending:
            try:
                self.fs.replace(stage, final)
            except OSError:
                if not self._twin_published(stage, final):
                    raise

    def _twin_published(self, stage: str, final: str) -> bool:
        try:
            if not self.fs.exists(final):
                return False
            if not self.fs.exists(stage):
                return True  # swept by a twin that published first
            if self.fs.size(final) != self.fs.size(stage):
                return False
        except OSError:
            return False
        self._remove(stage)  # not consumed: the twin's final stands
        return True

    def sweep(self) -> None:
        """Remove the owner's files, finals and stages, that are not
        this attempt's, in the directories it wrote to (the output root
        when it wrote nothing)."""
        finals = {f for _s, f in self.pending}
        keep = finals | {s for s, _f in self.pending}
        prefixes = (self.owner + ".", self.owner + "-")
        for d in sorted({f.rsplit("/", 1)[0] for f in finals}
                        or {self.out_dir}):
            try:
                entries = self.fs.listdir(d)
            except OSError:
                continue
            for p in entries:
                if p not in keep and \
                        p.rsplit("/", 1)[1].lstrip(".").startswith(prefixes):
                    self._remove(p)

    def commit_manifest(self, rows: list[dict]) -> None:
        tmp = f"{self.manifest}.tmp-{self.attempt}"
        with self.fs.open_write(tmp) as fh:
            fh.write(json.dumps(rows[0] if len(rows) == 1 else rows).encode())
        self.fs.replace(tmp, self.manifest)

    def abort(self) -> None:
        for sink in self._sinks:
            try:
                sink.close()
            except OSError:
                pass
        for stage, _final in self.pending:
            self._remove(stage)

    def _remove(self, path: str) -> None:
        try:
            if self.fs.exists(path):
                self.fs.remove(path)
        except OSError:
            pass


def run_task(att: TaskAttempt, resume: bool,
             encode: Callable[[TaskAttempt], list[dict]],
             ) -> Iterator[pa.RecordBatch]:
    """One engine task as manifest batches: the recorded rows on a
    resume hit, else ``encode(att)`` — which stages the owner's files
    and returns their manifest rows — then publish, sweep, manifest."""
    rows = att.committed() if resume else None
    if rows is None:
        try:
            rows = encode(att)
            if rows:
                att.publish_all()
                att.sweep()
                att.commit_manifest(rows)
        except BaseException:
            att.abort()
            raise
    for row in rows:
        yield manifest_batch(row)


@dataclass
class Staged(WriterCommitMessage):
    """A DataSource write task's commit message."""
    files: tuple = ()  # (stage, final) path pairs


def _job_attempt(out_dir: str, owner: str, messages) -> TaskAttempt:
    from fastparquet_spark.io import get_fs

    att = TaskAttempt(get_fs(out_dir), out_dir, owner)
    att.pending = [p for m in messages if m is not None for p in m.files]
    return att


def commit_job(out_dir: str, owner: str, messages,
               replace_ext: str | None = None) -> None:
    """Driver commit of a DataSource write job: publish every task's
    staged files, then (overwrite mode) drop the sidecars and remove the
    ``replace_ext`` data files that were there before, then sweep the
    job's leftovers."""
    att = _job_attempt(out_dir, owner, messages)
    old = [p for p in att.fs.walk_files(out_dir) if p.endswith(replace_ext)
           and not p.rsplit("/", 1)[1].startswith((".", "_"))] \
        if replace_ext else []
    att.publish_all()
    if replace_ext:
        _drop_sidecars(att.fs, out_dir)
    for p in old:
        att.fs.remove(p)
    att.sweep()


def abort_job(out_dir: str, owner: str, messages) -> None:
    att = _job_attempt(out_dir, owner, messages)
    att.abort()
    att.sweep()


class Chunker:
    """Re-slices a stream of Arrow data into ``rows``-row tables and
    keeps the remainder buffered, so every chunk but the last is
    exactly ``rows`` wide.  A buffer that reaches ``MAX_BUFFER_BYTES``
    first (fat rows) is emitted early as one short chunk: task memory
    is bounded by bytes as well as rows."""

    def __init__(self, rows: int):
        self.rows = rows
        self.buf: list[pa.Table] = []
        self.n = 0
        self.nbytes = 0

    def push(self, data) -> list[pa.Table]:
        if isinstance(data, pa.RecordBatch):
            data = pa.Table.from_batches([data])
        self.buf.append(data)
        self.n += data.num_rows
        self.nbytes += data.nbytes
        if self.n >= self.rows:
            return self._take(self.n // self.rows * self.rows)
        if self.nbytes >= MAX_BUFFER_BYTES:
            return self._take(self.n)
        return []

    def flush(self) -> list[pa.Table]:
        return self._take(self.n)

    def _take(self, end: int) -> list[pa.Table]:
        if not self.n:
            return []
        tbl = pa.concat_tables(self.buf)
        out = [tbl.slice(s, self.rows) for s in range(0, end, self.rows)]
        rest = tbl.slice(end)
        self.buf = [rest] if rest.num_rows else []
        self.n, self.nbytes = rest.num_rows, rest.nbytes
        return out


def rechunk(batches: Iterable, rows: int) -> Iterator[pa.Table]:
    chunker = Chunker(rows)
    for b in batches:
        yield from chunker.push(b)
    yield from chunker.flush()
