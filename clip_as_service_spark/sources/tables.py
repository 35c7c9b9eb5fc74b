"""Table I/O behind one interface: parquet layout now, Iceberg drop-in later
(SURVEY.md §7 hard part 5).

The index is a set of tables under one root:
  <root>/_meta.json   — build config (n_shards, block_size, k1/b, salt policy)
  <root>/postings/    — (term, doc_id, tf, dl) checkpoint  [stage 1]
  <root>/stats/       — single row (n_docs, total_dl, avgdl) [stage 2]
  <root>/termdf/      — (term, df, idf)                      [stage 3]
  <root>/blocks/      — block rows, partitioned by shard     [stage 4]
  <root>/build_log/   — per-stage, per-shard lineage + metrics (append-only)

Stage completion is the parquet `_SUCCESS` marker — writes are idempotent
(overwrite per stage dir), which is exactly what makes the build resumable:
a restart consults completed markers and skips those stages (north rule).
On Iceberg, each stage dir becomes a table and `_SUCCESS` becomes a snapshot
tag; the interface below is the only place that changes.
"""

from __future__ import annotations

import contextlib
import json
import os
import pathlib
import uuid

from pyspark.sql import DataFrame, SparkSession


def _publish(final: str, write) -> None:
    """Crash-safe file write: ``write(tmp)`` fills a hidden ``.tmp-*`` file
    beside ``final``, then os.replace moves it into place in one step, so a
    reader sees the old file or the new one, never a torn one. Spark and
    pyarrow listings skip dot-prefixed names, so a tmp left by a crash is
    never read as data."""
    tmp = os.path.join(os.path.dirname(final), f".tmp-{uuid.uuid4().hex}")
    try:
        write(tmp)
        os.replace(tmp, final)
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        raise


class IndexStorage:
    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def path(self, table: str) -> str:
        self._heal_swap(table)
        return f"{self.root}/{table}"

    def exists(self, table: str) -> bool:
        return os.path.exists(os.path.join(self.path(table), "_SUCCESS"))

    def _heal_swap(self, table: str) -> None:
        """Converge a swap() interrupted between its two renames. swap()
        moves the live dir aside to <table>__old before renaming the tmp
        into place; a crash in that gap leaves the final path ABSENT (reads
        would raise) while both the old data (__old) and the new data
        (__compact_tmp) survive. Recovery = ROLL BACK to __old: it is
        always a complete, self-consistent table, whereas adopting the tmp
        could pair one swapped table of a multi-table retrain with the old
        version of another (the hazard the _compact_pending marker fences).
        A leftover __old beside an intact final dir (crash after the second
        rename, before cleanup) is simply deleted. Idempotent, called from
        path() so every access route heals first.

        Concurrency: healing runs from READERS too, so it may race an
        in-flight swap() or another reader's heal. Every action here is
        guarded — a failed rename means the other party already moved the
        directory (re-check and proceed), and swap() itself retries its
        second rename if a reader rolled the old dir back into place in
        the gap (the writer always wins eventually)."""
        import contextlib
        import shutil

        final = f"{self.root}/{table}"
        old = final + "__old"
        if os.path.exists(old):
            if os.path.exists(final):
                shutil.rmtree(old, ignore_errors=True)
            else:
                with contextlib.suppress(OSError):
                    os.rename(old, final)

    def write(self, df: DataFrame, table: str, partition_by: list[str] | None = None):
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None):
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def append_local(self, tbl, table: str) -> None:
        """Append a driver-side ``pyarrow.Table`` to ``table`` as ONE
        parquet file, written without a Spark job (tombstone batches are a
        few ids; a job costs ~0.5 s). The file is published whole via
        _publish, and ``_SUCCESS`` is added if missing so exists() holds."""
        import pyarrow.parquet as pq

        d = self.path(table)
        os.makedirs(d, exist_ok=True)
        final = os.path.join(d, f"part-{uuid.uuid4().hex}.parquet")
        _publish(final, lambda tmp: pq.write_table(tbl, tmp))
        open(os.path.join(d, "_SUCCESS"), "a").close()

    def read(
        self, spark: SparkSession, table: str, schema: str | None = None
    ) -> DataFrame:
        """``table`` as a DataFrame. Given the ``schema`` it was written
        with, the read starts no schema-inference job."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.path(table))

    def dataset(self, table: str):
        """``table`` as a pyarrow dataset, for driver-side reads that start
        no Spark job. Hive partitioning exposes partition columns (shard);
        files named ``_*`` or ``.*`` (markers, crash-left tmps) are skipped,
        as in Spark's listing."""
        import pyarrow.dataset as pads

        return pads.dataset(self.path(table), format="parquet", partitioning="hive")

    def deleted_doc_ids(self, known: tuple | None = None) -> tuple:
        """Tombstoned doc ids (``deleted_docs``, written by delete_docs) →
        ``(files, ids)``: the tombstone file names and their ids, sorted and
        unique (int64). Given ``known``, an earlier result, only the files it
        lacks are read — delete_docs never rewrites a file — or all of them
        if one of its files is gone. Read on the driver with pyarrow, so no
        Spark job; ``_*``/``.*`` names (the marker, crash-left ``.tmp-*``
        files) are skipped like every other listing here."""
        import numpy as np
        import pyarrow.parquet as pq

        d = self.path("deleted_docs")
        listed = frozenset(
            f for f in (os.listdir(d) if self.exists("deleted_docs") else ())
            if not f.startswith(("_", "."))
        )
        if known is None or not known[0] <= listed:
            known = frozenset(), np.empty(0, dtype=np.int64)
        new = [
            pq.ParquetFile(os.path.join(d, f)).read(columns=["doc_id"])
            .column("doc_id").to_numpy()
            for f in listed - known[0]
        ]
        ids = np.union1d(known[1], np.concatenate(new)) if new else known[1]
        return listed, ids

    def write_tmp(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> str:
        """Execute a rewrite of ``table`` into a sibling tmp dir (returns
        its name for swap()) — the write phase of replace(). Needed because
        Spark cannot overwrite a path that is an input of the writing plan,
        and because a multi-table rewrite (e.g. quantizer + cells) must run
        ALL its jobs before any directory is swapped."""
        import shutil

        tmp_table = f"{table}__compact_tmp"
        shutil.rmtree(self.path(tmp_table), ignore_errors=True)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(tmp_table))
        return tmp_table

    def swap(self, table: str, tmp_table: str):
        """Move a write_tmp() result into place (two renames — a
        filesystem-level instant, vs the minutes of the write jobs). The
        live dir is renamed ASIDE to <table>__old first, not rmtree'd, so
        no crash point loses data: a crash between the renames leaves the
        final path absent but __old intact, and _heal_swap (run by every
        path() call) rolls back to it; a crash after the second rename
        just leaves an __old dir that _heal_swap deletes. The old data is
        only destroyed at the very end, after the new table is fully in
        place."""
        import shutil

        final = self.path(table)
        old = final + "__old"
        shutil.rmtree(old, ignore_errors=True)
        tmp = f"{self.root}/{tmp_table}"
        # retry loop: a concurrent READER's _heal_swap may roll __old back
        # into the final path in the gap between our two renames (its view
        # at that instant is exactly a crashed swap). Re-moving it aside
        # and retrying converges — the writer always wins, the reader only
        # ever re-exposed the pre-swap table.
        for attempt in range(5):
            if os.path.exists(final):
                os.rename(final, old)
            try:
                os.rename(tmp, final)
                break
            except OSError:
                if attempt == 4:
                    raise
        shutil.rmtree(old, ignore_errors=True)

    def replace(self, df: DataFrame, table: str, partition_by: list[str] | None = None):
        """Rewrite a table whose plan READS the same table (compaction):
        write_tmp + swap in one step."""
        self.swap(table, self.write_tmp(df, table, partition_by))

    def table_bytes(self, table: str) -> int:
        """Parquet payload bytes under a table dir (bench/ops evidence —
        one definition so layout changes can't desync the benches)."""
        total = 0
        for dp, _, fns in os.walk(self.path(table)):
            total += sum(
                os.path.getsize(os.path.join(dp, f))
                for f in fns
                if f.endswith(".parquet")
            )
        return total

    def write_meta(self, meta: dict):
        os.makedirs(self.root, exist_ok=True)
        text = json.dumps(meta, indent=2, sort_keys=True)
        _publish(
            os.path.join(self.root, "_meta.json"),
            lambda tmp: pathlib.Path(tmp).write_text(text),
        )

    def read_meta(self) -> dict:
        with open(os.path.join(self.root, "_meta.json")) as fh:
            return json.load(fh)

    def has_meta(self) -> bool:
        return os.path.exists(os.path.join(self.root, "_meta.json"))
