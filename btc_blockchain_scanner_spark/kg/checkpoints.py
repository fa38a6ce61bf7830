"""Per-partition checkpoint manifest: lineage + counters + resume +
tail validation.

Reference analog (SURVEY.md §2.8): the NumberFile checkpoint —  a file
rewritten every batch with the last processed id (util/Utils.java:287-329,
used by RunUpdateSpent.java:98,130 etc.) — plus DbUpdate's run counters
(DbUpdate.java:196-214). Here the manifest is itself a hive-partitioned
parquet table: one row per conv_id-hash partition with the counters that
FIXTURES.md §2 specifies (turns_scanned, mentions_found, triples_emitted).
The rows are a handful of driver-side counters, so :meth:`Manifest.record`
writes them from the driver through pyarrow (no Spark job) and replaces
exactly the partitions it is given (single-writer-per-partition,
idempotent); Spark still reads the directory as a table.

Tail validation (M5, DbValidationUtils.java:77-165): the reference walks
the table tail after a crash, compares stored counts against actual rows,
and deletes/reloads from the first inconsistent block. ``validated_done``
is the Spark-side analog: a manifest row only counts as *done* if the
partition's parquet FOOTER row counts (metadata-only, no data scan) match
the recorded counters; a truncated/corrupt/missing partition fails the
check and is re-extracted by the caller — dynamic partition overwrite is
the "delete from the first bad block" repair.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyarrow import fs as pafs

COUNTERS = ("turns_scanned", "mentions_found", "triples_emitted")
# the data file of one manifest partition (partition_key is the directory)
ROW_SCHEMA = pa.schema(
    [("last_done", pa.string())]
    + [(c, pa.int64()) for c in COUNTERS]
    # UTC-adjusted, so Spark reads it as TIMESTAMP (not TIMESTAMP_NTZ)
    + [("updated_at", pa.timestamp("us", tz="UTC"))]
)
# what :meth:`Manifest.rows` reads: the counters plus the partition key
KEY = pa.field("partition_key", pa.string())
READ_SCHEMA = pa.schema([KEY] + [(c, pa.int64()) for c in COUNTERS])


def _resolve(path: str) -> tuple[pafs.FileSystem, str]:
    """(filesystem, path) for a plain local path or a URI.

    URI-style paths (``file:``, ``hdfs://``, ``s3://``, ...) resolve through
    ``pyarrow.fs.FileSystem.from_uri`` — the Arrow-native twin of the
    Hadoop FileSystem API, so the manifest and the M5 check are
    cluster-real without JVM round-trips. A scheme the local Arrow build
    lacks (e.g. hdfs without libhdfs) raises loudly instead of silently
    reading every partition as "absent" and quietly disabling incremental
    resume."""
    if "://" in path or path.startswith("file:"):
        try:
            return pafs.FileSystem.from_uri(path)
        except Exception as e:  # unsupported scheme must stay LOUD
            raise NotImplementedError(
                f"cannot resolve {path!r} via pyarrow.fs ({e}) — unsupported "
                "scheme in this Arrow build; use Iceberg snapshot metadata "
                "for such deployments"
            ) from e
    return pafs.LocalFileSystem(), path


def rowcount(path: str) -> int | None:
    """Row count of one parquet directory from its footers, or None if the
    directory is absent or any footer is unreadable (= corrupt tail).
    Hidden ``.``/``_`` files are skipped, as Spark's reader skips them."""
    filesystem, d = _resolve(path)
    if filesystem.get_file_info(d).type != pafs.FileType.Directory:
        return None
    total = 0
    for fi in filesystem.get_file_info(pafs.FileSelector(d)):
        if fi.type != pafs.FileType.File or not fi.base_name.endswith(".parquet"):
            continue
        if fi.base_name.startswith((".", "_")):
            continue
        try:
            total += pq.read_metadata(fi.path, filesystem=filesystem).num_rows
        except Exception:  # noqa: BLE001 — any unreadable footer = corrupt
            return None
    return total


class Manifest:
    def __init__(self, path: str):
        self.path = path

    def rows(self) -> list[dict]:
        """Every manifest row as ``{partition_key, *COUNTERS}`` (keys as
        strings), read from the driver through pyarrow — the manifest's one
        reader. Reads only those columns, so files an older Spark writer
        produced (INT96 ``updated_at``) read too."""
        filesystem, root = _resolve(self.path)
        if filesystem.get_file_info(root).type != pafs.FileType.Directory:
            return []
        dataset = ds.dataset(
            root,
            schema=READ_SCHEMA,
            filesystem=filesystem,
            format="parquet",
            partitioning=ds.partitioning(pa.schema([KEY]), flavor="hive"),
        )
        return dataset.to_table().to_pylist()

    def validated_done(self, expected: dict[str, str]) -> set[str]:
        """Done partitions whose on-disk data matches the manifest counters.

        ``expected`` maps a partitioned table's base path to the manifest
        counter column holding its expected row count, e.g.
        ``{mentions_path: "mentions_found", triples_path: "triples_emitted"}``.

        Row counts come from parquet footers only (pyarrow metadata — no
        data scan; on a cluster this is the same O(#files) listing a
        commit-protocol check performs). A partition whose footers are
        unreadable (truncated mid-write), whose directory is missing while
        the manifest expects rows, or whose count disagrees with the
        manifest is EXCLUDED — the caller re-extracts it, and the dynamic
        partition overwrite replaces the bad tail byte-identically.
        """
        ok: set[str] = set()
        for r in self.rows():
            key = r["partition_key"]
            good = True
            for path, col in expected.items():
                want = r[col] or 0
                have = rowcount(f"{path.rstrip('/')}/partition_key={key}")
                # empty partitions legitimately write no directory
                good = want == 0 if have is None else have == want
                if not good:
                    break
            if good:
                ok.add(key)
        return ok

    def record(self, rows: list[dict]) -> None:
        """Upsert counter rows (``{partition_key, last_done, *COUNTERS}``,
        one per partition_key) — replaces only the partitions given.

        Each row is written to a hidden temporary file in its partition
        directory, the partition's other files are deleted, then the
        temporary file is renamed into place. An interrupted record leaves
        the old row, the new row, or no row (the partition is merely
        re-extracted on resume) — never an unreadable file, and readers skip
        a leftover hidden temporary."""
        filesystem, root = _resolve(self.path)
        now = dt.datetime.now(dt.timezone.utc)
        for r in rows:
            pdir = f"{root.rstrip('/')}/partition_key={r['partition_key']}"
            filesystem.create_dir(pdir, recursive=True)
            table = pa.Table.from_pylist(
                [{**{c: r[c] for c in ("last_done", *COUNTERS)}, "updated_at": now}],
                schema=ROW_SCHEMA,
            )
            tmp = f"{pdir}/.{uuid.uuid4().hex}.tmp"
            pq.write_table(table, tmp, filesystem=filesystem)
            final = f"{pdir}/part-00000.parquet"
            for fi in filesystem.get_file_info(pafs.FileSelector(pdir)):
                if fi.type == pafs.FileType.File and fi.path not in (tmp, final):
                    filesystem.delete_file(fi.path)
            filesystem.move(tmp, final)
