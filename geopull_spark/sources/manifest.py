"""Iceberg-style snapshot manifest layer (emulated).

No Iceberg runtime ships in this sandbox, so table semantics are emulated
with parquet data dirs + JSON snapshot manifests and an atomic current-pointer
swap. The interface is kept Iceberg-shaped (snapshot id, parent id, schema,
per-partition row counts, lineage of input fingerprints) so a real catalog
can be swapped in.

This is also the engine's resume mechanism — the distributed analog of the
reference's skip-if-exists caching (``/root/reference/src/geopull/geofile.py:
106-110``, ``:404-406``): a stage whose output snapshot carries the same
input fingerprint is skipped on rerun (north_rule: "resumable from checkpoint
with per-partition lineage + metrics").
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.manifest_dir = os.path.join(root, "_manifest")

    # -- manifest bookkeeping -------------------------------------------------
    def _current_path(self) -> str:
        return os.path.join(self.manifest_dir, "current")

    def current_snapshot(self) -> dict | None:
        try:
            with open(self._current_path()) as f:
                sid = f.read().strip()
            with open(os.path.join(self.manifest_dir, f"v{sid}.json")) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def is_current(self, fingerprint: str) -> bool:
        snap = self.current_snapshot()
        return snap is not None and snap.get("fingerprint") == fingerprint

    # -- commit / read ---------------------------------------------------------
    def commit(
        self,
        df: DataFrame,
        fingerprint: str,
        partition_count_col: str | None = None,
        lineage: list[str] | None = None,
        cluster_by: str | None = None,
        bloom_cols: list[str] | None = None,
    ) -> dict:
        """Write df as a new snapshot unless the current one already carries
        ``fingerprint`` (idempotent resume). Returns the snapshot manifest.

        ``cluster_by``: range-partition + sort on that column before the
        write, so per-file min/max ranges are disjoint — ``read_range``
        then prunes to O(1) files for a needle query, and parquet row-group
        stats inside each file are tight too.

        ``bloom_cols``: write NATIVE parquet bloom filters for these columns
        (writer options; built during the write, no extra pass). Any
        engine's scan — Spark included — then skips row groups on equality
        predicates over high-cardinality keys that min/max can't prune."""
        if self.is_current(fingerprint):
            return self.current_snapshot()
        prev = self.current_snapshot()
        sid = uuid.uuid4().hex[:12]
        data_dir = os.path.join(self.root, f"snap-{sid}")
        if cluster_by is not None:
            n = df.sparkSession.sparkContext.defaultParallelism
            df = df.repartitionByRange(n, cluster_by).sortWithinPartitions(cluster_by)
        writer = df.write.mode("overwrite")
        for c in bloom_cols or []:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.parquet(data_dir)
        spark = df.sparkSession
        written = spark.read.parquet(data_dir)
        if partition_count_col and partition_count_col in written.columns:
            counts = {
                str(r[0]): r[1]
                for r in written.groupBy(partition_count_col).agg(F.count("*")).collect()
            }
            row_count = sum(counts.values())
        else:
            counts = {}
            row_count = written.count()
        manifest = {
            "snapshot_id": sid,
            "parent_id": prev["snapshot_id"] if prev else None,
            "fingerprint": fingerprint,
            "created_unix": int(time.time()),
            "data_dir": data_dir,
            "files": _list_parquet(data_dir),
            "row_count": row_count,
            "partition_counts": counts,
            "schema": written.schema.jsonValue(),
            "lineage": lineage or [],
            "operation": "overwrite",
            "file_stats": _harvest_footers(data_dir)[0],
        }
        self._write_manifest(manifest)
        return manifest

    def append(
        self,
        df: DataFrame,
        fingerprint: str,
        lineage: list[str] | None = None,
        cluster_by: str | None = None,
        bloom_cols: list[str] | None = None,
    ) -> dict:
        """Iceberg append semantics: the new snapshot = the parent's data
        files PLUS the batch's new files — nothing already on disk is
        rewritten, so appending a daily batch to a 100 TB table costs only
        the batch's own write. Per-file stats of the old files are carried
        over verbatim (they're immutable), the new files are footer-
        harvested, and ``read_range`` prunes across both. Idempotent on
        ``fingerprint`` like commit().

        Known metric gap (documented per ADVICE r5): appends record
        ``partition_counts`` as {} — the per-partition row-count metric is
        maintained by commit(partition_count_col=...) only; a table that
        goes through append keeps row_count/lineage but loses that
        per-partition breakdown until its next full commit."""
        if self.is_current(fingerprint):
            return self.current_snapshot()
        prev = self.current_snapshot()
        if prev is None:
            return self.commit(df, fingerprint, lineage=lineage,
                               cluster_by=cluster_by, bloom_cols=bloom_cols)
        # Iceberg rejects schema-mismatched appends at commit time; silently
        # unioning mismatched files would drop the new columns at read()
        # (no mergeSchema) or fail confusingly later (ADVICE r5)
        from pyspark.sql import types as T

        prev_schema = T.StructType.fromJson(prev["schema"])
        # compare names+types only: nullability (nested too — array elements,
        # map values, struct fields) legitimately drifts across parquet
        # round-trips and does not affect union-read correctness
        if _all_nullable(df.schema) != _all_nullable(prev_schema):
            raise ValueError(
                "append: batch schema does not match the table schema — "
                f"table {prev_schema.simpleString()} vs batch "
                f"{df.schema.simpleString()}; migrate via commit() with an "
                "explicit new fingerprint (schema evolution) instead"
            )
        sid = uuid.uuid4().hex[:12]
        delta_dir = os.path.join(self.root, f"snap-{sid}")
        if cluster_by is not None:
            n = df.sparkSession.sparkContext.defaultParallelism
            df = df.repartitionByRange(n, cluster_by).sortWithinPartitions(cluster_by)
        writer = df.write.mode("overwrite")
        for c in bloom_cols or []:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.parquet(delta_dir)
        # the footers give the batch's row count: no read-back of the batch
        delta_stats, delta_rows = _harvest_footers(delta_dir)
        prev_files = prev.get("files") or _list_parquet(prev["data_dir"])
        stats = dict(prev.get("file_stats") or {})
        stats.update(delta_stats)
        manifest = {
            "snapshot_id": sid,
            "parent_id": prev["snapshot_id"],
            "fingerprint": fingerprint,
            "created_unix": int(time.time()),
            "data_dir": delta_dir,
            "files": prev_files + _list_parquet(delta_dir),
            "row_count": prev["row_count"] + delta_rows,
            "partition_counts": {},
            "schema": prev["schema"],
            "lineage": (prev.get("lineage") or []) + (lineage or []),
            "operation": "append",
            "file_stats": stats,
        }
        self._write_manifest(manifest)
        return manifest

    def _write_manifest(self, manifest: dict) -> None:
        sid = manifest["snapshot_id"]
        os.makedirs(self.manifest_dir, exist_ok=True)
        with open(os.path.join(self.manifest_dir, f"v{sid}.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        tmp = self._current_path() + f".tmp-{sid}"
        with open(tmp, "w") as f:
            f.write(sid)
        os.replace(tmp, self._current_path())  # atomic pointer swap

    def read(self, spark: SparkSession) -> DataFrame:
        snap = self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        files = snap.get("files")
        return spark.read.parquet(*(files or [snap["data_dir"]]))

    def read_range(self, spark: SparkSession, col: str,
                   lo=None, hi=None, snapshot_id: str | None = None) -> DataFrame:
        """Range scan with Iceberg-style FILE pruning: per-file column
        min/max harvested from the parquet footers at commit time live in
        the manifest, so files whose range cannot intersect [lo, hi] are
        dropped driver-side before Spark ever lists them. On a range- or
        hash-clustered table this turns a needle query from a full table
        scan into a handful of files — at 100 TB the difference between
        seconds and hours. Row-group/page skipping inside the surviving
        files still happens in the scan (the predicate is re-applied, so
        semantics are exact regardless of stats). ``last_scan`` records
        files_total/files_read for observability."""
        snap = self.snapshot(snapshot_id) if snapshot_id else self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        stats = snap.get("file_stats") or {}
        files = self.data_files(snap["snapshot_id"])
        kept = []
        for p in files:
            s = stats.get(p, {}).get(col)
            if s is None:  # no stats for this file/column → must read it
                kept.append(p)
                continue
            mn, mx = s
            try:
                if (lo is not None and mx < lo) or (hi is not None and mn > hi):
                    continue
            except TypeError:
                # mismatched bound type vs JSON-round-tripped stats (e.g.
                # numeric bound on a string column): stats unusable for
                # this file — keep it; the re-applied predicate preserves
                # exact semantics (ADVICE r5)
                pass
            kept.append(p)
        self.last_scan = {"files_total": len(files), "files_read": len(kept)}
        if not kept:
            from pyspark.sql import types as T

            df = spark.createDataFrame([], T.StructType.fromJson(snap["schema"]))
        else:
            df = spark.read.parquet(*kept)
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
        return df

    # -- time travel / history (Iceberg-shaped) --------------------------------
    def snapshot(self, snapshot_id: str) -> dict:
        with open(os.path.join(self.manifest_dir, f"v{snapshot_id}.json")) as f:
            return json.load(f)

    def read_at(
        self, spark: SparkSession, snapshot_id: str, with_current_schema: bool = False
    ) -> DataFrame:
        """Time travel: read a historical snapshot by id (data dirs are
        immutable — commits never rewrite prior snapshots).

        ``with_current_schema=True`` is add-column schema evolution (Iceberg
        semantics): the historical data is projected onto the CURRENT table
        schema — columns added by later commits come back as typed nulls, and
        column order follows the current schema — so old and new snapshots
        union cleanly."""
        snap = self.snapshot(snapshot_id)
        df = spark.read.parquet(*(snap.get("files") or [snap["data_dir"]]))
        if with_current_schema:
            cur = self.current_snapshot()
            if cur is not None:
                df = _conform_to_schema(df, cur["schema"])
        return df

    def history(self) -> list[dict]:
        """Snapshot lineage chain, newest first."""
        out = []
        snap = self.current_snapshot()
        while snap is not None:
            out.append(snap)
            pid = snap.get("parent_id")
            snap = self.snapshot(pid) if pid else None
        return out

    # -- maintenance ------------------------------------------------------------
    def data_files(self, snapshot_id: str | None = None) -> list[str]:
        snap = self.snapshot(snapshot_id) if snapshot_id else self.current_snapshot()
        return list(snap.get("files") or _list_parquet(snap["data_dir"]))

    def compact(self, spark: SparkSession, target_files: int = 1) -> dict:
        """Small-file compaction: rewrite the current snapshot's data into
        ``target_files`` files as a NEW snapshot (Iceberg ``rewrite_data_files``
        shape). The fingerprint is preserved — compaction changes layout, not
        content — so stage resume still skips; prior snapshots stay readable
        (time travel over immutable dirs); row counts are carried over and
        re-verified from the rewritten files."""
        snap = self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        sid = uuid.uuid4().hex[:12]
        data_dir = os.path.join(self.root, f"snap-{sid}")
        src = snap.get("files") or [snap["data_dir"]]
        spark.read.parquet(*src).coalesce(target_files).write.mode(
            "overwrite"
        ).parquet(data_dir)
        rewritten = spark.read.parquet(data_dir)
        n = rewritten.count()
        if n != snap["row_count"]:  # conservation gate before the pointer swap
            raise RuntimeError(
                f"compaction row-count mismatch: {n} != {snap['row_count']}"
            )
        manifest = {
            **snap,
            "snapshot_id": sid,
            "parent_id": snap["snapshot_id"],
            "created_unix": int(time.time()),
            "data_dir": data_dir,
            "files": _list_parquet(data_dir),
            "schema": rewritten.schema.jsonValue(),
            "operation": "compact",
            "file_stats": _harvest_footers(data_dir)[0],  # not the old files'
        }
        self._write_manifest(manifest)
        return manifest


def _list_parquet(data_dir: str) -> list[str]:
    return sorted(
        os.path.join(data_dir, f) for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )


def _harvest_footers(data_dir: str) -> tuple[dict, int]:
    """Per-file column min/max from parquet footers (metadata-only I/O —
    a few KB per file regardless of data size), keyed by FULL path so
    appended snapshots can union stats across data dirs, plus the total row
    count of the files. Top-level primitive int/float/string columns only;
    others are simply absent from the stats map, which read_range treats as
    'must read'."""
    import pyarrow.parquet as pq

    stats: dict[str, dict] = {}
    rows = 0
    for fpath in _list_parquet(data_dir):
        # an unreadable footer raises: the row count must cover every file
        md = pq.ParquetFile(fpath).metadata
        rows += md.num_rows
        per_col: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                colmd = row.column(ci)
                st = colmd.statistics
                if st is None or not st.has_min_max:
                    continue
                name = colmd.path_in_schema
                if "." in name:
                    continue  # nested leaves: skip
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                    except UnicodeDecodeError:
                        continue
                if not isinstance(mn, (int, float, str)) or isinstance(mn, bool):
                    continue  # non-JSON-orderable (timestamps etc.)
                if name in per_col:
                    per_col[name] = [min(per_col[name][0], mn),
                                     max(per_col[name][1], mx)]
                else:
                    per_col[name] = [mn, mx]
        stats[fpath] = per_col
    return stats, rows


def _all_nullable(dt):
    """``dt`` with every nullability flag set, at every nesting depth."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _all_nullable(f.dataType)) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_all_nullable(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_all_nullable(dt.keyType), _all_nullable(dt.valueType))
    return dt


def _conform_to_schema(df: DataFrame, schema_json: dict) -> DataFrame:
    """Project df onto a target schema: shared columns cast to the target
    type, missing columns filled with typed nulls, target column order."""
    from pyspark.sql import types as T

    target = T.StructType.fromJson(schema_json)
    cols = []
    for f in target.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
