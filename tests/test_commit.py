"""The task-commit protocol (engine/commit.py) under the on-disk states
a killed task leaves behind, for all six writers.

Each case takes a complete output, plants the state one kill point
leaves for one task owner (its manifest gone), re-runs the real
writer, and asserts exact row count, exact distinct keys and no stage
file of the job left.  The states:

- ``dead_stage``: killed after staging — a dead attempt's stage file;
- ``partial_publish``: killed mid-publish — some finals, no manifest;
- ``orphan_manifest_tmp``: killed while writing the manifest.

The DataSource writers have no manifests or resume: a dead job there
leaves a stage (``foreign_stage``, which a later job must leave alone
and readers must not see) or, killed mid-commit, published files that
an overwrite heals; a dead attempt of the job itself is swept at the
job's commit.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

N = 4000


def _df(spark, lo=0, hi=N):
    return spark.range(lo, hi).selectExpr(
        "id", "concat('doc-', id) AS content",
        "cast(id % 3 AS string) AS lang")


def _visible(out: str, ext: str) -> list[str]:
    return sorted(
        p for p in glob.glob(f"{out}/**/*{ext}", recursive=True)
        if not any(seg.startswith((".", "_"))
                   for seg in os.path.relpath(p, out).split(os.sep)))


def _ids(out: str, ext: str) -> list[int]:
    from fastparquet_spark.format.container import read_container

    ids: list[int] = []
    for f in _visible(out, ext):
        t = pq.read_table(f, columns=["id"]) if ext == ".parquet" \
            else read_container(f, columns=["id"])
        ids += t.column("id").to_pylist()
    return ids


def _stages(out: str) -> list[str]:
    return [os.path.join(r, f) for r, _d, fs in os.walk(out) for f in fs
            if ".stage-" in f and "deadbeef" not in f]


def _owners(out: str) -> list[str]:
    """Owners with a committed manifest (the shuffle writers may leave a
    partition empty)."""
    return sorted(f[:-len(".json")] for f in os.listdir(f"{out}/_manifests")
                  if f.endswith(".json") and not f.startswith("_"))


def _assert_exact(out: str, ext: str, n: int = N):
    ids = _ids(out, ext)
    assert len(ids) == n
    assert set(ids) == set(range(n))
    assert _stages(out) == []


def _run_encode_dataset(spark, src, out, resume):
    from fastparquet_spark.engine import encode_dataset

    return encode_dataset(spark, _df(spark), out, partition_cols=("lang",),
                          num_partitions=2, resume=resume).collect()


def _run_encode_dataset_fpsc(spark, src, out, resume):
    from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc

    return encode_dataset_fpsc(spark, _df(spark), out,
                               partition_cols=("lang",), num_partitions=2,
                               rows_per_container=700,
                               resume=resume).collect()


def _run_encode_files(spark, src, out, resume):
    from fastparquet_spark.engine import encode_files

    return encode_files(spark, src, out, rows_per_task=1000,
                        resume=resume).collect()


def _run_encode_files_fpsc(spark, src, out, resume):
    from fastparquet_spark.engine.file_job import encode_files_fpsc

    return encode_files_fpsc(spark, src, out, rows_per_task=1000,
                             resume=resume).collect()


# name -> (run, data-file extension, several files per owner)
ENGINE = {
    "encode_dataset": (_run_encode_dataset, ".parquet", False),
    "encode_dataset_fpsc": (_run_encode_dataset_fpsc, ".fpsc", True),
    "encode_files": (_run_encode_files, ".parquet", False),
    "encode_files_fpsc": (_run_encode_files_fpsc, ".fpsc", False),
}


@pytest.fixture(scope="module")
def complete(spark, tmp_path_factory):
    """One finished output per engine writer (copied by each case)."""
    root = tmp_path_factory.mktemp("commit")
    src = root / "src"
    src.mkdir()
    for i in range(2):
        ids = pa.array(range(i * N // 2, (i + 1) * N // 2), pa.int64())
        pq.write_table(pa.table({
            "id": ids,
            "content": pa.array([f"doc-{v}" for v in ids.to_pylist()]),
        }), str(src / f"in-{i}.parquet"), row_group_size=1000)
    outs = {}
    for name, (run, ext, _multi) in ENGINE.items():
        out = str(root / name)
        run(spark, str(src), out, resume=False)
        _assert_exact(out, ext)
        outs[name] = out
    return str(src), outs


@pytest.mark.parametrize("state", ["dead_stage", "partial_publish",
                                   "orphan_manifest_tmp"])
@pytest.mark.parametrize("writer", sorted(ENGINE))
def test_engine_writer_resumes_from_kill_state(spark, complete, tmp_path,
                                               writer, state):
    run, ext, multi = ENGINE[writer]
    src, outs = complete
    out = str(tmp_path / "out")
    shutil.copytree(outs[writer], out)
    owner = _owners(out)[0]
    os.remove(os.path.join(out, "_manifests", f"{owner}.json"))
    finals = [f for f in _visible(out, ext)
              if os.path.basename(f).startswith(owner)]
    assert finals
    if state == "dead_stage":
        for f in finals:
            os.remove(f)
        stage = os.path.join(out, f".{os.path.basename(finals[0])}.stage-999")
        with open(stage, "wb") as fh:
            fh.write(b"partial bytes of a dead attempt")
    elif state == "partial_publish":
        for f in finals[1:]:
            os.remove(f)
        if multi:  # a dead attempt's container index this one won't reach
            shutil.copyfile(finals[0], os.path.join(out, f"{owner}-009{ext}"))
    else:
        with open(os.path.join(out, "_manifests", f"{owner}.json.tmp-77"),
                  "wb") as fh:
            fh.write(b'{"partition": 0, "fi')

    rows = run(spark, src, out, resume=True)
    assert sum(r["rows"] for r in rows) == N
    assert [r["skipped"] for r in rows].count(False) >= 1
    _assert_exact(out, ext)


def test_fpsc_resume_rejects_changed_num_partitions(spark, tmp_path):
    """Resume keys on partition ids: a different num_partitions maps
    other rows to the committed ids, so the resume must refuse."""
    from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc

    out = str(tmp_path / "fpsc")
    encode_dataset_fpsc(spark, _df(spark), out, partition_cols=("lang",),
                        num_partitions=2).collect()
    owner = _owners(out)[-1]
    os.remove(os.path.join(out, "_manifests", f"{owner}.json"))
    for f in glob.glob(f"{out}/{owner}-*.fpsc"):
        os.remove(f)
    with pytest.raises(ValueError, match="num_partitions"):
        encode_dataset_fpsc(spark, _df(spark), out, partition_cols=("lang",),
                            num_partitions=3).collect()


def test_speculative_twins_commit_one_task(tmp_path):
    """Simultaneous attempts of one two-file task all succeed and leave
    exactly the task's finals and one manifest."""
    from fastparquet_spark.engine.commit import TaskAttempt, run_task
    from fastparquet_spark.format.writer import write_file
    from fastparquet_spark.io import LocalFS

    fs = LocalFS()
    t = pa.table({"id": pa.array(range(200), pa.int64())})
    for trial in range(10):
        out = str(tmp_path / f"t{trial}")
        os.makedirs(os.path.join(out, "_manifests"))
        errs = []

        def encode(att):
            rows = []
            for k in range(2):
                fname = f"part-00000-{k:03d}.parquet"
                with att.stage(f"{out}/{fname}") as sink:
                    write_file(sink, t.slice(k * 100, 100),
                               compression="SNAPPY")
                rows.append({"partition": 0, "file": fname, "rows": 100,
                             "input_bytes": 0, "output_bytes": 0,
                             "encode_secs": 0.0, "kernel_secs": 0.0,
                             "skipped": False, "columns": "{}"})
            return rows

        def attempt(aid):
            try:
                list(run_task(TaskAttempt(fs, out, "part-00000", aid),
                              False, encode))
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        th = [threading.Thread(target=attempt, args=(a,)) for a in range(4)]
        for x in th:
            x.start()
        for x in th:
            x.join(timeout=60)
            assert not x.is_alive()
        assert not errs, (trial, errs)
        assert sorted(os.listdir(out)) == [
            "_manifests", "part-00000-000.parquet", "part-00000-001.parquet"]
        assert os.listdir(os.path.join(out, "_manifests")) == \
            ["part-00000.json"]
        assert sorted(_ids(out, ".parquet")) == list(range(200))


# ---- the DataSource writers ----------------------------------------------

DS = {"fps": ".parquet", "fpsc": ".fpsc"}


@pytest.fixture()
def registered(spark):
    from fastparquet_spark.sources import FpscDataSource, FpsDataSource

    for src in (FpsDataSource, FpscDataSource):
        try:
            spark.dataSource.register(src)
        except Exception as e:  # already registered in this session
            if "already" not in str(e).lower():
                raise
    return spark


def _ds_writer(fmt, path, overwrite=False):
    from fastparquet_spark.sources.fps_source import FpsWriter
    from fastparquet_spark.sources.fpsc_source import FpscWriter

    return (FpsWriter if fmt == "fps" else FpscWriter)(
        path, "ZSTD", 1000, overwrite)


@pytest.mark.parametrize("fmt", sorted(DS))
def test_datasource_commit_sweeps_dead_attempt(tmp_path, monkeypatch, fmt):
    """Driver commit of a job whose task 0 had a dead attempt: the dead
    attempt's stage is swept, the winning attempts' files published."""
    from pyspark import TaskContext

    from fastparquet_spark.engine.commit import stage_path

    ext = DS[fmt]
    out = str(tmp_path / "ds")
    w = _ds_writer(fmt, out)
    t = pa.table({"id": pa.array(range(N), pa.int64())})
    msgs = []
    cpus = pa.cpu_count()
    try:
        for pid in range(2):
            ctx = types.SimpleNamespace(partitionId=lambda pid=pid: pid,
                                        taskAttemptId=lambda pid=pid: 10 + pid)
            monkeypatch.setattr(TaskContext, "get", lambda ctx=ctx: ctx)
            msgs.append(w.write(iter(
                t.slice(pid * N // 2, N // 2).to_batches(max_chunksize=300))))
    finally:
        pa.set_cpu_count(cpus)
    dead = stage_path(msgs[0].files[0][1], 4)
    with open(dead, "wb") as fh:
        fh.write(b"partial bytes of a dead attempt")
    w.commit(msgs)
    assert not os.path.exists(dead)
    _assert_exact(out, ext)


@pytest.mark.parametrize("fmt", sorted(DS))
def test_datasource_foreign_stage_survives_and_stays_invisible(
        registered, tmp_path, fmt):
    spark, ext = registered, DS[fmt]
    out = str(tmp_path / "ds")
    _df(spark, 0, N // 2).write.format(fmt).mode("append").save(out)
    foreign = os.path.join(out, f".part-deadbeef-00000{ext}.stage-99")
    with open(foreign, "wb") as fh:
        fh.write(b"in flight in another job")
    _df(spark, N // 2, N).write.format(fmt).mode("append").save(out)
    assert os.path.exists(foreign)
    _assert_exact(out, ext)
    assert spark.read.format(fmt).load(out).count() == N


@pytest.mark.parametrize("fmt", sorted(DS))
def test_datasource_overwrite_heals_partial_publish(registered, tmp_path, fmt):
    spark, ext = registered, DS[fmt]
    out = str(tmp_path / "ds")
    _df(spark).write.format(fmt).mode("append").save(out)
    # a job killed mid-commit published one file and nothing else
    shutil.copyfile(_visible(out, ext)[0],
                    os.path.join(out, f"part-deadbeef-00000{ext}"))
    assert len(_ids(out, ext)) > N
    _df(spark).write.format(fmt).mode("overwrite").save(out)
    _assert_exact(out, ext)


@pytest.mark.parametrize("fmt", sorted(DS))
def test_datasource_failed_overwrite_keeps_old_data(tmp_path, monkeypatch,
                                                    fmt):
    """Overwrite removes the old files only after the new ones are
    published: a commit whose rename fails leaves the old file."""
    from fastparquet_spark.engine.commit import stage_path
    from fastparquet_spark.format.container import write_container
    from fastparquet_spark.format.writer import write_file
    from fastparquet_spark.io import LocalFS
    from fastparquet_spark.engine.commit import Staged

    ext = DS[fmt]
    out = tmp_path / "ds"
    out.mkdir()
    w = _ds_writer(fmt, str(out), overwrite=True)
    write = write_file if fmt == "fps" else write_container
    t = pa.table({"id": pa.array(range(10), pa.int64())})
    old = out / f"part-old-00000{ext}"
    write(str(old), t)
    final = f"{out}/part-{w.job}-00000{ext}"
    staged = stage_path(final, 1)
    write(staged, t)

    def refuse(self, src, dst):
        raise OSError("injected rename failure")

    monkeypatch.setattr(LocalFS, "replace", refuse)
    with pytest.raises(OSError):
        w.commit([Staged(((staged, final),))])
    assert old.exists()


@pytest.mark.parametrize("case", ["empty_overwrite", "sidecar_merge_fails"])
def test_overwrite_leaves_no_sidecar_naming_removed_files(tmp_path,
                                                           monkeypatch, case):
    """An overwrite drops the old ``_metadata`` sidecar before it
    removes the files the sidecar lists: when the re-merge does not
    happen (nothing published, or the driver fails before it), readers
    see the files on disk, not a sidecar naming deleted ones."""
    from fastparquet_spark.engine.commit import Staged, stage_path
    from fastparquet_spark.format import dataset
    from fastparquet_spark.format.writer import write_file

    out = tmp_path / "ds"
    out.mkdir()
    t = pa.table({"id": pa.array(range(10), pa.int64())})
    write_file(str(out / "part-old-00000.parquet"), t)
    dataset.write_metadata_sidecar(str(out))
    w = _ds_writer("fps", str(out), overwrite=True)
    msgs = [Staged()]
    if case == "sidecar_merge_fails":
        final = f"{out}/part-{w.job}-00000.parquet"
        write_file(stage_path(final, 1), t)
        msgs = [Staged(((stage_path(final, 1), final),))]

        def fail(*a, **k):
            raise OSError("injected failure before the sidecar merge")

        monkeypatch.setattr(dataset, "write_metadata_sidecar", fail)
    with pytest.raises((OSError, ValueError)):
        w.commit(msgs)
    assert not (out / "part-old-00000.parquet").exists()
    metas = dataset.dataset_metadata(str(out))
    assert all((out / m["file"]).exists() for m in metas)
    assert sum(m["fmd"]["num_rows"] for m in metas) == \
        (10 if case == "sidecar_merge_fails" else 0)
