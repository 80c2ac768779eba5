"""The batch-commit primitive (``sources.commit``) and the replay
outcome of every writer built on it: a crash between a writer's data
commit and its mark, then a rerun, must end in the outcome the
``sources.commit`` module docstring documents for that writer.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import random
import re
from pathlib import Path

import pytest

from sales_data_warehouse_spark.sources import commit
from sales_data_warehouse_spark.sources.commit import (
    batch_done,
    read_mark,
    write_mark,
)

PKG = Path(__file__).resolve().parents[1] / "sales_data_warehouse_spark"


def _boom(spark, src, dst):
    raise IOError(f"injected crash before renaming {src}")


@contextlib.contextmanager
def crash_at_mark():
    """Every mark rename inside the block fails after its temp file is
    written; the block must raise that failure."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(commit, "_rename_over", _boom)
        with pytest.raises(IOError, match="injected"):
            yield


def test_read_mark_missing_garbage_and_partition_fallback(spark, tmp_path):
    from sales_data_warehouse_spark.sources.compaction import fs_write_text

    d = str(tmp_path / "state")
    assert read_mark(spark, d) is None
    fs_write_text(spark, f"{d}/_last_batch", "garbage")
    assert read_mark(spark, d) is None
    # partitions 0 and 2 committed; 5 crashed mid-write (no _SUCCESS)
    for b in (0, 2, 5):
        spark.range(1).write.parquet(f"{d}/parts/batch_id={b}")
    os.remove(f"{d}/parts/batch_id=5/_SUCCESS")
    assert read_mark(spark, d, parts=f"{d}/parts") == 2
    write_mark(spark, d, 7)
    assert read_mark(spark, d, parts=f"{d}/parts") == 7


def test_write_mark_crash_keeps_old_mark(spark, tmp_path):
    """A crash after the temp mark is written but before the rename:
    the old mark reads back intact, the stray temp file is invisible to
    a scan of the table it sits in, and the next write succeeds."""
    table = str(tmp_path / "t")
    spark.range(3).write.parquet(table)
    write_mark(spark, table, 0)
    with crash_at_mark():
        write_mark(spark, table, 1)
    assert read_mark(spark, table) == 0
    assert os.path.exists(f"{table}/_last_batch.tmp")
    assert spark.read.parquet(table).count() == 3
    write_mark(spark, table, 1)
    assert read_mark(spark, table) == 1
    assert not os.path.exists(f"{table}/_last_batch.tmp")


def test_batch_done_logs_skips_as_json(spark, tmp_path, caplog):
    d = str(tmp_path / "marks")
    write_mark(spark, d, 3)
    caplog.set_level(logging.INFO, logger=commit.__name__)
    assert not batch_done(spark, d, 4)
    assert caplog.records == []
    assert batch_done(spark, d, 2)
    (rec,) = caplog.records
    assert rec.name == commit.__name__
    assert json.loads(rec.getMessage()) == {
        "event": "batch_skipped",
        "mark": f"{d}/_last_batch",
        "batch_id": 2,
        "mark_value": 3,
        "legacy_marker": None,
    }


def test_batch_done_honours_and_retires_legacy_markers(
    spark, tmp_path, caplog
):
    d = str(tmp_path / "_ingest_batches")
    for b in (0, 1, 5):
        spark.range(1).write.parquet(f"{d}/batch_id={b}")
    write_mark(spark, d, 1)
    caplog.set_level(logging.INFO, logger=commit.__name__)
    # without legacy the marker dirs are not consulted
    assert not batch_done(spark, d, 5)
    assert batch_done(spark, d, 5, legacy=True)
    assert json.loads(caplog.records[-1].getMessage())["legacy_marker"] \
        == f"{d}/batch_id=5"
    # markers the mark covers are retired, the one above it stays
    assert sorted(
        n for n in os.listdir(d) if not n.startswith(".")
    ) == ["_last_batch", "batch_id=5"]
    assert not batch_done(spark, d, 3, legacy=True)


def test_merge_recovery_discards_unfinished_staging(spark, tmp_path):
    """A compaction that crashed while still writing its staged table
    (no ``_SUCCESS``) never touched a source partition: recovery must
    delete the partial staging, not rename it over the sources."""
    from sales_data_warehouse_spark.streaming.documents import (
        dedup_documents_batch,
        read_dedup_state,
    )

    out = str(tmp_path / "dedup")
    dedup_documents_batch(spark, _docs(spark, [(1, "a"), (2, "b")]), 0, out)
    dedup_documents_batch(spark, _docs(spark, [(3, "c")]), 1, out)
    before = sorted(map(tuple, read_dedup_state(spark, out).collect()))
    tmp = f"{out}/fingerprints/fp_compact_tmp_1"
    spark.read.parquet(f"{out}/fingerprints/fp").filter(
        "batch_id = 0"
    ).drop("batch_id").write.parquet(tmp)
    os.remove(f"{tmp}/_SUCCESS")
    assert sorted(map(tuple, read_dedup_state(spark, out).collect())) \
        == before
    assert not os.path.exists(tmp)


def test_no_mark_code_outside_commit_module():
    """Stands in for a CI check: the mark file name and the raw
    text-file reads/writes a mark needs live in ``sources/commit.py``
    only, so a fifth hand-rolled mark cannot creep back in."""
    # modules allowed to read/write small text files, and what for
    text_files = {
        "sources/compaction.py": "defines the helpers; the _lineage stamp",
        "operators/similarity.py": "the index _generation stamps",
    }
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "sources/commit.py":
            continue
        src = path.read_text()
        if "_last_batch" in src:
            offenders.append(f"{rel}: names the mark file")
        if rel not in text_files and re.search(
            r"\bfs_(read|write)_text\b", src
        ):
            offenders.append(f"{rel}: reads or writes a text marker")
        if rel.startswith("streaming/") and re.search(
            r"\bfs_rename\b|/_SUCCESS[\"']", src
        ):
            offenders.append(f"{rel}: private rename or _SUCCESS scan")
    assert offenders == []


# --- crash between data commit and mark, then rerun, per writer --------


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "unit", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_ingest_sink_crash_before_mark_reappends(spark, tmp_path):
    """Append sink: both tables committed batch 1 but neither mark
    moved, so the rerun appends batch 1 to both a second time
    (at-least-once for that one batch); a further replay is skipped."""
    from sales_data_warehouse_spark.sources.csv_ingest import (
        landing_from_rows,
    )
    from sales_data_warehouse_spark.streaming.ingest import etl_batch_sink

    out = str(tmp_path / "w")

    def batch(i):
        return landing_from_rows(spark, [
            (str(i), "Widget", "2", "9.99", "01/22/19 21:25",
             "1 Main St, Boston, MA 02215"),
            (str(i), "Widget", "oops", "9.99", "01/22/19 21:25",
             "1 Main St, Boston, MA 02215"),
        ])

    def counts():
        return (spark.read.parquet(f"{out}/cleansed").count(),
                spark.read.parquet(f"{out}/invalid").count())

    etl_batch_sink(spark, batch(0), 0, out)
    with crash_at_mark():
        etl_batch_sink(spark, batch(1), 1, out)
    assert counts() == (2, 2)
    etl_batch_sink(spark, batch(1), 1, out)
    assert counts() == (3, 3)
    assert read_mark(spark, f"{out}/cleansed") == 1
    assert read_mark(spark, f"{out}/invalid") == 1
    etl_batch_sink(spark, batch(1), 1, out)
    assert counts() == (3, 3)


def test_ivf_append_crash_before_mark_reappends(spark, tmp_path):
    """Append sink: the rerun appends the batch's vectors a second
    time (duplicates IVF search tolerates); a further replay is
    skipped."""
    from sales_data_warehouse_spark.operators import similarity
    from sales_data_warehouse_spark.streaming import ivf_append_batch

    rng = random.Random(7)

    def vectors(ids):
        return spark.createDataFrame(
            [(i, [rng.random() for _ in range(8)], 0) for i in ids],
            "vec_id long, embedding array<float>, label int",
        )

    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(
        similarity.build_ivf_index(
            vectors(range(32)), num_centroids=4, cache=False
        ),
        path,
    )
    batch = vectors(range(700_000, 700_004))
    with crash_at_mark():
        ivf_append_batch(spark, path, batch, 0, compute_stats=False)
    assert similarity.ivf_cell_stats(spark, path).total_rows == 36
    assert ivf_append_batch(spark, path, batch, 0).total_rows == 40
    assert ivf_append_batch(spark, path, batch, 0).total_rows == 40
    assert read_mark(spark, f"{path}/_ingest_batches") == 0


def test_reservoir_crash_before_mark_refolds_as_noop(spark, tmp_path):
    """Id-idempotent fold: the rerun re-folds the batch and the
    reservoir comes out unchanged."""
    from sales_data_warehouse_spark.streaming import reservoir_fold_batch

    res = str(tmp_path / "res")
    docs = spark.createDataFrame(
        [(i, "en", 10 + (i * 37) % 500) for i in range(200)],
        "doc_id long, lang string, n_chars long",
    )
    b0 = docs.filter("doc_id % 2 = 0")
    b1 = docs.filter("doc_id % 2 = 1")
    reservoir_fold_batch(spark, res, b0, 0, "n_chars", 25)
    with crash_at_mark():
        reservoir_fold_batch(spark, res, b1, 1, "n_chars", 25)

    def rows():
        return {r.doc_id for r in spark.read.parquet(f"{res}/rows")
                .collect()}

    crashed = rows()
    assert reservoir_fold_batch(spark, res, b1, 1, "n_chars", 25) == 25
    assert rows() == crashed
    assert read_mark(spark, f"{res}/_ingest_batches") == 1


def test_doc_dedup_crash_before_mark_recomputes_identically(spark, tmp_path):
    """Partitioned state read pruned to ``<= mark``: the rerun
    recomputes the batch against the state without its own partition
    and overwrites both outputs with the same rows."""
    from sales_data_warehouse_spark.streaming.documents import (
        dedup_documents_batch,
        read_dedup_state,
    )

    out = str(tmp_path / "dedup")
    b1 = _docs(spark, [(1, "alpha"), (2, "beta"), (3, "alpha")])
    b2 = _docs(spark, [(4, "beta"), (5, "gamma")])
    dedup_documents_batch(spark, b1, 0, out)
    with crash_at_mark():
        dedup_documents_batch(spark, b2, 1, out)
    assert read_mark(spark, f"{out}/fingerprints") == 0
    dedup_documents_batch(spark, b2, 1, out)
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{out}/admitted").collect()
    ) == [1, 2, 5]
    assert sorted(
        r.canonical_id for r in read_dedup_state(spark, out).collect()
    ) == [1, 2, 5]
    assert read_mark(spark, f"{out}/fingerprints") == 1
