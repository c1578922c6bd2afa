"""Iceberg-semantics lake table over Parquet + JSON snapshot log.

No Iceberg runtime jar is reachable in this sandbox (no network), so this is a
thin, format-faithful re-implementation of the Iceberg *semantics* the engine
needs (SURVEY.md §7 Phase 2); the class is the seam where a real Iceberg
catalog plugs in unchanged:

- **snapshot log** — ``metadata/v{n}.json`` holds schemas (with field IDs),
  the partition spec, and the snapshot list; ``metadata/version-hint.text``
  is the current-version pointer, committed by atomic ``os.replace`` (the
  single-writer commit protocol; documented assumption, like Iceberg's
  HadoopCatalog).
- **schema evolution by field ID** — renames keep the field ID; adds mint a
  new one.  Old data files are never rewritten: the read path maps each file
  group's columns to the current schema by field ID and fills missing fields
  with typed nulls.
- **partition spec** — ``keyhash(key, N)`` via ``pmod(hash(*key), N)``.
  MERGE prunes to the buckets the batch touches and rewrites only those
  (bucket-pruned copy-on-write emulating merge-on-read equality-delete
  visibility: a key matched by the batch is invisible in the old file because
  the rewritten bucket replaces it atomically at commit).
- **snapshot summary** — free-form string map, used by the CDC engine to stamp
  consumed offset ranges + per-partition lineage (exactly-once, SURVEY §2.13).
- **time travel** — ``read(snapshot_id=...)`` reads any historical snapshot's
  manifest under its own schema mapping.
- **maintenance** — ``compact()`` folds MoR deltas (tombstone-retaining);
  ``expire_snapshots(keep_last=N)`` bounds the snapshot log and deletes
  orphaned data files/manifest segments (Iceberg ``expire_snapshots``
  analog), preserving the exactly-once watermark via
  ``expired_offset_end``.

Scale notes (100 TB): the manifest is a per-snapshot file *list* grouped by
bucket, so MERGE planning is O(files) metadata work on the driver with zero
data read for untouched buckets; data movement is bounded by the touched
buckets, which for a key-bucketed table is the theoretical minimum for
copy-on-write.  Untouched-file reuse means snapshots share files (no
duplication), like Iceberg manifests.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- type (de)serialization -------------------------------------------------

_SIMPLE_TYPES = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
}


#: Iceberg-safe type promotions (Iceberg spec "Schema Evolution"): widening
#: only, field ID preserved, metadata-only — no data rewrite.  Old files keep
#: their narrow physical type; the read path casts them up per field ID
#: (``_read_manifest``).  Keys are Spark ``simpleString`` names (long is
#: "bigint").
SAFE_PROMOTIONS = {("int", "bigint"), ("float", "double")}


def _type_to_str(dt: T.DataType) -> str:
    return dt.simpleString()


def _str_to_type(s: str) -> T.DataType:
    if s in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[s]
    # array<...>, map<...>, decimal(...) etc. — Spark parses its own simpleString
    return T._parse_datatype_string(s)  # noqa: SLF001


def bucket_expr_keyhash(cols: list[str], n_buckets: int) -> F.Column:
    """Shuffle-ALIGNED bucket transform: ``pmod(hash(*key), n)``.

    ``F.hash`` is the same murmur3(seed 42) Spark's ``HashPartitioning``
    uses, and partition index = pmod(hash, numPartitions) — so for a frame
    whose last exchange is ``repartition(n_buckets, *key)`` (or any multiple
    of n_buckets), every task already holds exactly the rows of one bucket
    (partition p ≡ bucket p mod n_buckets).  That lets the delta/merge
    writes reuse the dedup shuffle as the bucket layout and skip their own
    repartition — ONE exchange per micro-batch instead of two (measured
    8→32-core scaling 0.44 → 0.67 and ~1.6x absolute at 32 cores)."""
    return F.pmod(
        F.hash(*[F.col(c) for c in cols]), F.lit(n_buckets)
    ).cast("int")


class LakeTable:
    """A key-bucketed, snapshot-versioned table (single writer)."""

    def __init__(self, spark: SparkSession, root: str, meta: dict):
        self.spark = spark
        self.root = root
        self.meta = meta
        # manifest segments are immutable once written — cache by relpath
        self._seg_cache: dict[str, list[dict]] = {}

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key: list[str],
        n_buckets: int = 16,
        lsn_col: str = "lsn",
        write_mode: str = "cow",
    ) -> "LakeTable":
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        fields = [
            {"id": i + 1, "name": f.name, "type": _type_to_str(f.dataType)}
            for i, f in enumerate(schema.fields)
        ]
        meta = {
            "format_version": 1,
            "table_uuid": str(uuid.uuid4()),
            "version": 0,
            "last_field_id": len(fields),
            "schemas": [{"schema_id": 0, "fields": fields}],
            "current_schema_id": 0,
            # bucket = pmod(murmur3(*key), n): the shuffle-aligned transform
            # (see bucket_expr_keyhash) enabling one-exchange merges
            "partition_spec": {"transform": "keyhash", "n_buckets": n_buckets},
            "key": key,
            "lsn_column": lsn_col,
            "write_mode": write_mode,
            "snapshots": [],
            "current_snapshot_id": None,
        }
        table = cls(spark, root, meta)
        table._write_metadata()
        return table

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        hint = os.path.join(root, "metadata", "version-hint.text")
        with open(hint) as fh:
            version = int(fh.read().strip())
        with open(os.path.join(root, "metadata", f"v{version}.json")) as fh:
            meta = json.load(fh)
        transform = meta["partition_spec"]["transform"]
        if transform != "keyhash":
            raise ValueError(
                f"unsupported partition transform {transform!r} in {root!r}: "
                f"only 'keyhash' tables can be read"
            )
        return cls(spark, root, meta)

    def _write_metadata(self) -> None:
        version = self.meta["version"]
        meta_dir = os.path.join(self.root, "metadata")
        path = os.path.join(meta_dir, f"v{version}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.meta, fh, indent=1)
        os.replace(tmp, path)
        hint_tmp = os.path.join(meta_dir, "version-hint.text.tmp")
        with open(hint_tmp, "w") as fh:
            fh.write(str(version))
        os.replace(hint_tmp, os.path.join(meta_dir, "version-hint.text"))

    # ---------------- schema accessors ----------------

    def _schema_by_id(self, schema_id: int) -> dict:
        for s in self.meta["schemas"]:
            if s["schema_id"] == schema_id:
                return s
        raise KeyError(f"schema {schema_id} not found")

    @property
    def current_schema_meta(self) -> dict:
        return self._schema_by_id(self.meta["current_schema_id"])

    @property
    def schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f["name"], _str_to_type(f["type"]), True)
                for f in self.current_schema_meta["fields"]
            ]
        )

    @property
    def column_names(self) -> list[str]:
        return [f["name"] for f in self.current_schema_meta["fields"]]

    @property
    def key(self) -> list[str]:
        return list(self.meta["key"])

    @property
    def lsn_col(self) -> str:
        return self.meta["lsn_column"]

    @property
    def n_buckets(self) -> int:
        return self.meta["partition_spec"]["n_buckets"]

    # ---------------- snapshots ----------------

    def snapshots(self) -> list[dict]:
        return self.meta["snapshots"]

    def manifest(self, snap: dict | None) -> list[dict]:
        """Materialize a snapshot's file list from its manifest segments.

        Iceberg-style indirection: each commit writes only its NEW entries as
        an immutable ``metadata/seg-*.json`` and references the parent's
        segments, so the serial per-commit metadata work is O(new files) —
        not O(total files × snapshots) as with inline manifests.  Segments
        are cached (immutable) so repeated reads cost one load each."""
        if not snap:
            return []
        out: list[dict] = []
        for seg in snap["manifest_segs"]:
            if seg not in self._seg_cache:
                with open(os.path.join(self.root, seg)) as fh:
                    self._seg_cache[seg] = json.load(fh)
            out.extend(self._seg_cache[seg])
        return out

    def _segs_of(self, snap: dict | None) -> list[str]:
        """Parent segments for a segment-reusing commit."""
        return list(snap["manifest_segs"]) if snap else []

    def current_snapshot(self) -> dict | None:
        sid = self.meta["current_snapshot_id"]
        if sid is None:
            return None
        for s in self.meta["snapshots"]:
            if s["snapshot_id"] == sid:
                return s
        raise KeyError(f"snapshot {sid} missing")

    def summary(self, snapshot_id: int | None = None) -> dict:
        snap = (
            self.current_snapshot()
            if snapshot_id is None
            else self._snapshot_by_id(snapshot_id)
        )
        return dict(snap["summary"]) if snap else {}

    def _snapshot_by_id(self, snapshot_id: int) -> dict:
        for s in self.meta["snapshots"]:
            if s["snapshot_id"] == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not found")

    def committed_offset_end(self) -> int:
        """Max committed 'offsets.end' across the snapshot chain — the
        exactly-once watermark the CDC engine consults on restart.
        ``expired_offset_end`` preserves the watermark across
        :meth:`expire_snapshots` (an expired merge snapshot may carry the
        max; losing it would let a redelivered old batch re-apply)."""
        best = int(self.meta.get("expired_offset_end", -1))
        for s in self.meta["snapshots"]:
            end = s["summary"].get("offsets.end")
            if end is not None:
                best = max(best, int(end))
        return best

    # ---------------- read path ----------------

    def _snapshot_view(self, snapshot_id: int | None) -> tuple[dict | None, int]:
        """(snapshot, schema id to read it under): the current snapshot under
        the current schema, or a historical one under its own."""
        if snapshot_id is None:
            return self.current_snapshot(), self.meta["current_schema_id"]
        snap = self._snapshot_by_id(snapshot_id)
        return snap, snap["schema_id"]

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        snap, read_schema_id = self._snapshot_view(snapshot_id)
        return self._resolve(self.manifest(snap), read_schema_id)

    def _resolve(
        self,
        manifest: list[dict],
        read_schema_id: int,
        keep_tombstones: bool = False,
        n_partitions: int | None = None,
    ) -> DataFrame:
        """Merge-on-read resolution: base data files ∪ delta files → max-LSN
        winner per key, delete winners invisible (Iceberg v2 equality-delete
        semantics; deltas are whole-row upsert/delete records keyed by the
        table key + LSN).

        Bucket-pruned: only buckets holding delta files are deduplicated;
        every other bucket is scanned raw (data files as ``op='U'``) and
        unioned with the resolved ones.  At 100 TB this makes a read
        O(touched buckets), not O(table).  The raw scan is exact because
        every rewrite (CoW merge, compaction) writes a bucket's data and
        tombstone files from one set of winners, so their keys are disjoint.

        ``kind='tombstone'`` entries are retained delete winners (see
        :meth:`compact`): they only matter against OTHER rows of their key (a
        stale pre-watermark 'U' redelivered later must lose the LSN
        comparison instead of resurrecting the key), so plain reads of
        delta-free buckets skip them.

        ``keep_tombstones=True`` returns every winner including deletes, with
        the ``op`` column (the CoW merge target and compaction's input).
        ``n_partitions`` pins both the dedup and the raw part to
        ``repartition(n_partitions, *key)`` — compaction's aligned rewrite;
        plain reads leave it None (dedup parallelism should track
        shuffle.partitions, not bucket count)."""
        dirty = {e["bucket"] for e in manifest if e["kind"] == "delta"}
        clean = [e for e in manifest if e["bucket"] not in dirty]
        empty = self.spark.createDataFrame([], self._schema_for(read_schema_id))
        parts: list[DataFrame] = []
        data = [e for e in clean if e["kind"] == "data"]
        if data:
            base = self._read_manifest(data, read_schema_id)
            parts.append(base.withColumn("op", F.lit("U")) if keep_tombstones else base)
        tombs = [e for e in clean if e["kind"] == "tombstone"]
        if keep_tombstones and tombs:
            parts.append(self._read_manifest(tombs, read_schema_id, extra_cols=("op",)))
        if parts and n_partitions is not None:
            raw = reduce(DataFrame.unionByName, parts)
            parts = [raw.repartition(n_partitions, *self.key)]

        if dirty:
            from magneto_matcher_spark.plans.apply import dedup_max_lsn

            sub = [e for e in manifest if e["bucket"] in dirty]
            data = [e for e in sub if e["kind"] == "data"]
            overlay = [e for e in sub if e["kind"] == "delta"] + [
                e for e in sub if e["kind"] == "tombstone"
            ]
            base = self._read_manifest(data, read_schema_id) if data else empty
            winners = dedup_max_lsn(
                base.withColumn("op", F.lit("U")).unionByName(
                    self._read_manifest(overlay, read_schema_id, extra_cols=("op",))
                ),
                key=self.key, lsn_col=self.lsn_col, n_partitions=n_partitions,
            )
            if not keep_tombstones:
                winners = winners.filter(F.col("op") != F.lit("D")).drop("op")
            parts.append(winners)

        if not parts:
            return empty.withColumn("op", F.lit("U")) if keep_tombstones else empty
        return reduce(DataFrame.unionByName, parts)

    def _schema_for(self, schema_id: int) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f["name"], _str_to_type(f["type"]), True)
                for f in self._schema_by_id(schema_id)["fields"]
            ]
        )

    def _read_manifest(
        self,
        manifest: list[dict],
        read_schema_id: int,
        extra_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """``extra_cols``: system columns present in the files verbatim
        (outside the field-ID schema), e.g. delta files' ``op``."""
        target_fields = self._schema_by_id(read_schema_id)["fields"]
        by_schema: dict[int, list[str]] = {}
        for entry in manifest:
            by_schema.setdefault(entry["schema_id"], []).append(
                os.path.join(self.root, entry["path"])
            )
        parts: list[DataFrame] = []
        for schema_id, paths in by_schema.items():
            file_fields = self._schema_by_id(schema_id)["fields"]
            by_field_id = {f["id"]: f["name"] for f in file_fields}
            df = self.spark.read.parquet(*paths)
            cols = []
            for tf in target_fields:
                src_name = by_field_id.get(tf["id"])
                if src_name is not None:
                    cols.append(
                        F.col(src_name).cast(_str_to_type(tf["type"])).alias(tf["name"])
                    )
                else:
                    cols.append(
                        F.lit(None).cast(_str_to_type(tf["type"])).alias(tf["name"])
                    )
            cols += [F.col(c) for c in extra_cols]
            parts.append(df.select(*cols))
        return reduce(DataFrame.unionByName, parts)

    def read_buckets(
        self,
        buckets: list[int],
        snapshot_id: int | None = None,
        keep_tombstones: bool = False,
    ) -> DataFrame:
        """Bucket-pruned scan: only files whose partition bucket ∈ ``buckets``.
        ``keep_tombstones=True`` keeps delete winners as rows with ``op`` (the
        MERGE target view — tombstones must out-LSN stale redeliveries)."""
        snap, read_schema_id = self._snapshot_view(snapshot_id)
        wanted = set(buckets)
        manifest = [e for e in self.manifest(snap) if e["bucket"] in wanted]
        return self._resolve(manifest, read_schema_id, keep_tombstones=keep_tombstones)

    # ---------------- write path ----------------

    def _write_data_files(
        self,
        df: DataFrame,
        dirname: str,
        kind: str = "data",
        split_tombstones_on: str | None = None,
    ) -> list[dict]:
        """Write ``df`` (current schema + ``_bucket``) partitioned by bucket
        under ``data/{dirname}/``; return manifest entries.  ``kind='delta'``
        marks merge-on-read change files (payload + ``op``).

        Contract: ``df``'s last exchange is ``repartition(n_buckets, *key)``,
        so every task already holds exactly one bucket's rows
        (:func:`bucket_expr_keyhash`) and the write adds no shuffle of its
        own — one file per bucket.  ``partitionBy`` routes rows by value, so
        a caller that breaks the contract stays correct (more files per
        bucket).

        ``split_tombstones_on='op'``: ONE write job routes delete winners
        (op='D') into ``kind='tombstone'`` files and everything else into
        ``kind`` files via an extra partition dir — the CoW merge uses this
        so tombstone retention costs zero extra Spark jobs.  The price is
        that data files carry the (constant-'U', dictionary-encoded) op
        column readers never select — accepted deliberately: splitting into
        two writes to drop one ~zero-entropy column would double the job
        count on the hottest path."""
        out_dir = os.path.join(self.root, "data", dirname)
        part_cols = ["_bucket"]
        if split_tombstones_on is not None:
            df = df.withColumn(
                "_tomb", (F.col(split_tombstones_on) == F.lit("D")).cast("int")
            )
            part_cols = ["_tomb", "_bucket"]
        (
            df.sortWithinPartitions(*self.key)  # W7: file-level determinism
            .write.partitionBy(*part_cols)
            .mode("overwrite")
            .parquet(out_dir)
        )
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        pattern = os.path.join(out_dir, *[f"{c}=*" for c in part_cols], "*.parquet")
        paths = sorted(glob.glob(pattern))
        # footer reads are tiny I/O ops and pyarrow releases the GIL — a
        # thread pool keeps this driver-serial stretch off the commit path's
        # critical section at high parallelism
        if len(paths) > 1:
            with ThreadPoolExecutor(max_workers=min(16, len(paths))) as pool:
                n_rows = list(
                    pool.map(lambda p: pq.ParquetFile(p).metadata.num_rows, paths)
                )
        else:
            n_rows = [pq.ParquetFile(p).metadata.num_rows for p in paths]
        entries = []
        for path, rows in zip(paths, n_rows):
            bucket = int(path.split("_bucket=")[1].split(os.sep)[0])
            file_kind = kind
            if split_tombstones_on is not None and "_tomb=1" in path:
                file_kind = "tombstone"
            entries.append(
                {
                    "path": os.path.relpath(path, self.root),
                    "bucket": bucket,
                    "schema_id": self.meta["current_schema_id"],
                    "rows": rows,
                    "kind": file_kind,
                }
            )
        return entries

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("_bucket", bucket_expr_keyhash(self.key, self.n_buckets))

    def _next_snapshot_id(self) -> int:
        # monotonic across expire_snapshots: never re-issue an expired id
        existing = max(
            (s["snapshot_id"] for s in self.meta["snapshots"]), default=0
        )
        return max(existing, self.meta.get("last_snapshot_id", 0)) + 1

    def _commit(
        self,
        operation: str,
        summary: dict,
        schema_id: int | None = None,
        *,
        base_segs: list[str] | tuple = (),
        new_entries: list[dict] | tuple = (),
    ) -> int:
        """Single-writer commit: reuse the parent's manifest segments
        (``base_segs``) and write ``new_entries`` (if any) as one new
        immutable segment — O(new files) serial metadata work, which is what
        keeps the commit path off the scaling critical path at high
        parallelism."""
        snapshot_id = self._next_snapshot_id()
        segs = list(base_segs)
        if new_entries:
            seg_rel = os.path.join(
                "metadata", f"seg-{snapshot_id}-{uuid.uuid4().hex[:8]}.json"
            )
            seg_path = os.path.join(self.root, seg_rel)
            tmp = seg_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(list(new_entries), fh)
            os.replace(tmp, seg_path)
            self._seg_cache[seg_rel] = list(new_entries)
            segs.append(seg_rel)
        snap = {
            "snapshot_id": snapshot_id,
            "parent_id": self.meta["current_snapshot_id"],
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "schema_id": (
                schema_id if schema_id is not None else self.meta["current_schema_id"]
            ),
            "summary": {k: str(v) for k, v in summary.items()},
            "manifest_segs": segs,
        }
        self.meta["snapshots"].append(snap)
        self.meta["current_snapshot_id"] = snapshot_id
        self.meta["last_snapshot_id"] = snapshot_id
        self.meta["version"] += 1
        self._write_metadata()
        return snapshot_id

    def append(self, df: DataFrame, summary: dict | None = None) -> int:
        """Append rows (no key dedup). df must carry the current columns."""
        snapshot_id = self._next_snapshot_id()
        shaped = df.select(*self.column_names).repartition(self.n_buckets, *self.key)
        new_entries = self._write_data_files(
            self._with_bucket(shaped), f"snap-{snapshot_id}"
        )
        cur = self.current_snapshot()
        s = {"rows-appended": sum(e["rows"] for e in new_entries)}
        s.update(summary or {})
        return self._commit(
            "append", s, base_segs=self._segs_of(cur), new_entries=new_entries
        )

    def merge(self, batch: DataFrame, summary: dict | None = None) -> int:
        """J6: key-partition-pruned MERGE (SURVEY §2.3).

        ``batch`` = the raw (normalized) change events: ``op`` column plus the
        current payload columns, any number of rows per key.  For CoW the
        max-LSN dedup is FUSED into the merge aggregation itself — the batch
        dedup and the merge are ONE shuffle of target ∪ batch.  Semantics:
        the MERGE kernel's (plans/apply.py ``merge_into_frame``; ties keep
        the target row, so equal-LSN redelivery is a no-op).

        Physical plan: bucket the batch, prune the manifest to touched buckets,
        merge ONLY those buckets' rows with the batch (one hash aggregation),
        rewrite those buckets, keep every untouched file by reference.

        Write modes (``create(write_mode=...)``):

        - ``cow`` — copy-on-write: one fused max-LSN aggregation over
          target ∪ batch, then rewrite the touched buckets.  Read is a plain
          scan.  Right when batches are small relative to buckets or reads
          dominate.
        - ``mor`` — merge-on-read: max-LSN dedup pinned to the bucket
          layout, :meth:`stage_delta`, then :meth:`commit_delta` — append
          the winners (with ``op``) as bucketed DELTA files, no join, no
          rewrite — O(batch) per merge regardless of table size.  Reads
          resolve base ∪ deltas via max-LSN dedup; ``compact()`` folds deltas
          back into data files.  Right for high-frequency ingest at 100 TB,
          where CoW would rewrite the table every micro-batch.
        """
        from magneto_matcher_spark.plans.apply import dedup_max_lsn

        if self.meta["write_mode"] == "mor":
            # MoR delta files stay ≤1 row/key (read-amplification bound); the
            # dedup's exchange is pinned to n_buckets partitions so the delta
            # write reuses it (ONE exchange).
            batch = dedup_max_lsn(
                batch, key=self.key, lsn_col=self.lsn_col,
                n_partitions=self.n_buckets,
            )
            return self.commit_delta(self.stage_delta(batch), summary)

        snapshot_id = self._next_snapshot_id()
        cols = self.column_names
        batch = self._with_bucket(batch.select(*cols, "op"))
        touched = [
            r["_bucket"] for r in batch.select("_bucket").distinct().collect()
        ]
        kept = [
            e for e in self.manifest(self.current_snapshot())
            if e["bucket"] not in set(touched)
        ]
        merged = self.merged_frame(batch.drop("_bucket"), touched)
        new_entries = self._write_data_files(
            self._with_bucket(merged.select(*cols, "op")),
            f"snap-{snapshot_id}",
            split_tombstones_on="op",
        )
        data_rows = sum(e["rows"] for e in new_entries if e["kind"] == "data")
        tomb_rows = sum(e["rows"] for e in new_entries if e["kind"] == "tombstone")
        s = {
            "buckets-rewritten": len(touched),
            "files-kept": len(kept),
            "rows-written": data_rows,
            "tombstones-written": tomb_rows,
        }
        s.update(summary or {})
        # CoW rewrites the touched buckets' data, so an O(kept+new) manifest
        # rewrite is already dominated by the data job — no segment reuse
        # (kept entries may span many parent segments minus touched buckets)
        return self._commit("merge", s, new_entries=kept + new_entries)

    def merged_frame(self, batch: DataFrame, touched: list[int]) -> DataFrame:
        """The CoW merge plan: the touched buckets' target view through the
        one MERGE kernel (plans/apply.py ``merge_into_frame``), its exchange
        pinned to n_buckets key-hash partitions so the rewrite needs no
        repartition.  The target view includes tombstones so a stale 'U'
        below a delete's LSN loses the comparison instead of resurrecting the
        key; delete winners stay in the output (op='D') for the write to
        route into tombstone files in the same job.

        On a pure-CoW table the target view is a raw scan (see
        :meth:`_resolve`: no delta files, nothing to deduplicate), so the one
        fused agg picks the winner across {base rows, tombstone rows, batch
        rows} directly; buckets that carry delta files (mixed-mode tables)
        are resolved first."""
        from magneto_matcher_spark.plans.apply import merge_into_frame

        return merge_into_frame(
            self.read_buckets(touched, keep_tombstones=True), batch, key=self.key,
            lsn_col=self.lsn_col, n_partitions=self.n_buckets,
        )

    def stage_delta(self, winners: DataFrame) -> list[dict]:
        """Write a batch's MoR delta files WITHOUT committing; returns the
        manifest entries for :meth:`commit_delta`.

        The write half of the MoR merge: delta writes touch no shared state
        (each stage gets its own directory), so multiple micro-batches can
        stage in parallel threads while commits stay serialized in LSN order
        (the engine's exactly-once contract).  Requires a schema-stable
        window: callers must resolve drift before staging (the engine
        serializes on drift).  ``winners`` holds ≤1 row per key and its last
        exchange is ``repartition(n_buckets, *key)`` — ``dedup_max_lsn(...,
        n_partitions=n_buckets)`` — so the write adds no shuffle."""
        if self.meta["write_mode"] != "mor":
            raise ValueError("stage_delta requires write_mode='mor'")
        batch = self._with_bucket(winners.select(*self.column_names, "op"))
        return self._write_data_files(
            batch, f"delta-stage-{uuid.uuid4().hex[:12]}", kind="delta"
        )

    def commit_delta(self, entries: list[dict], summary: dict | None = None) -> int:
        """Attach staged delta entries to the table (single-writer commit)."""
        cur = self.current_snapshot()
        s = {
            "delta-rows-written": sum(e["rows"] for e in entries),
            "rows-written": sum(e["rows"] for e in entries),
            "buckets-rewritten": 0,
            "files-kept": len(self.manifest(cur)),
        }
        s.update(summary or {})
        return self._commit(
            "merge", s, base_segs=self._segs_of(cur), new_entries=entries
        )

    def discard_staged(self, entries: list[dict]) -> None:
        """Remove staged delta files that will never be committed (e.g. the
        batch lost the watermark race on redelivery)."""
        import shutil as _shutil

        dirs = {os.path.dirname(os.path.join(self.root, e["path"])) for e in entries}
        for d in dirs:
            _shutil.rmtree(os.path.dirname(d) if "_bucket=" in os.path.basename(d) else d,
                           ignore_errors=True)

    def compact(
        self,
        summary: dict | None = None,
        tombstone_retention_lsn: int | None = None,
    ) -> int:
        """Fold delta files into data files (MoR maintenance).  Resolves the
        current state once and rewrites it; subsequent reads are plain scans
        again.  At scale this is the Iceberg ``rewrite_data_files`` analog —
        run when delta rows exceed a fraction of base rows.

        Delete winners are NOT discarded: they are rewritten as
        ``kind='tombstone'`` entries (Iceberg's equality-delete retention
        analog), so a partially-overlapping redelivery after compaction — an
        older 'U' for a deleted key — still loses the LSN comparison instead
        of resurrecting the key (the engine's exactly-once contract).
        Tombstones are ignored by plain reads of delta-free buckets, so they
        cost nothing until a new delta lands in their bucket.

        ``tombstone_retention_lsn``: GC horizon — tombstones with
        ``lsn <= horizon`` are dropped (safe once the caller knows no
        redelivery can reach below that LSN, e.g. the source's acked offset)."""
        snapshot_id = self._next_snapshot_id()
        cur = self.current_snapshot()
        manifest = self.manifest(cur)
        folded = [e for e in manifest if e["kind"] != "data"]
        has_deltas = any(e["kind"] == "delta" for e in folded)
        # tombstone-only manifests are already plain-scan fast; rewriting them
        # is only worth it when a GC horizon lets us actually drop tombstones
        if not has_deltas and not (folded and tombstone_retention_lsn is not None):
            return self._commit(
                "compact", {"noop": True, **(summary or {})},
                base_segs=self._segs_of(cur),
            )

        # PARTIAL compaction: only buckets holding deltas (plus, when a GC
        # horizon is set, buckets holding tombstones) are resolved and
        # rewritten; clean buckets' files are carried by reference like the
        # CoW merge's kept entries — maintenance cost is O(dirty buckets),
        # not O(table), which is what keeps auto-compaction bounded inside a
        # long ingest loop.
        dirty = {e["bucket"] for e in manifest if e["kind"] == "delta"}
        if tombstone_retention_lsn is not None:
            dirty |= {e["bucket"] for e in manifest if e["kind"] == "tombstone"}
        kept = [e for e in manifest if e["bucket"] not in dirty]
        sub = [e for e in manifest if e["bucket"] in dirty]

        # pin the resolution's exchange to n_buckets so both rewrites below
        # reuse it as the bucket layout (zero repartitions)
        winners = self._resolve(
            sub, self.meta["current_schema_id"], keep_tombstones=True,
            n_partitions=self.n_buckets,
        ).persist()
        try:
            live = winners.filter(F.col("op") != F.lit("D")).select(*self.column_names)
            new_entries = self._write_data_files(
                self._with_bucket(live), f"snap-{snapshot_id}"
            )
            tombs = winners.filter(F.col("op") == F.lit("D"))
            if tombstone_retention_lsn is not None:
                tombs = tombs.filter(F.col(self.lsn_col) > tombstone_retention_lsn)
            tomb_entries = self._write_data_files(
                self._with_bucket(tombs.select(*self.column_names, "op")),
                f"tomb-{snapshot_id}",
                kind="tombstone",
            )
        finally:
            winners.unpersist()
        s = {
            "rows-written": sum(e["rows"] for e in new_entries),
            "deltas-folded": len([e for e in sub if e["kind"] == "delta"]),
            "buckets-compacted": len(dirty),
            "files-kept": len(kept),
            "tombstones-retained": sum(e["rows"] for e in tomb_entries),
        }
        s.update(summary or {})
        return self._commit(
            "compact", s, new_entries=kept + new_entries + tomb_entries
        )

    # ---------------- maintenance: snapshot expiry + orphan GC ----------------

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg ``expire_snapshots`` analog: drop all but the newest
        ``keep_last`` snapshots from the log, then delete data files and
        manifest segments referenced ONLY by expired snapshots.

        At 10^10-event scale the snapshot log grows by one entry per
        micro-batch — unbounded metadata and unbounded delta/tombstone file
        retention without expiry.  This is the bound: metadata stays
        O(keep_last), disk stays O(live files).  Time travel to expired
        snapshots becomes unavailable (by design); the exactly-once
        watermark is preserved via ``expired_offset_end`` even when every
        kept snapshot lacks an ``offsets.end`` stamp (e.g. newest commit is
        an evolve/compact).  Single-writer, like all commits."""
        snaps = self.meta["snapshots"]
        keep_last = max(1, int(keep_last))
        if len(snaps) <= keep_last:
            return {"snapshots_removed": 0, "files_deleted": 0, "segs_deleted": 0}
        kept, expired = snaps[-keep_last:], snaps[:-keep_last]
        cur_id = self.meta["current_snapshot_id"]
        if not any(s["snapshot_id"] == cur_id for s in kept):
            # safety invariant, not a debug check — must survive python -O
            raise RuntimeError(
                f"expire_snapshots would drop the current snapshot {cur_id}"
            )

        # roll the watermark of expired merge commits into table metadata
        best = int(self.meta.get("expired_offset_end", -1))
        for s in expired:
            end = s["summary"].get("offsets.end")
            if end is not None:
                best = max(best, int(end))
        if best >= 0:
            self.meta["expired_offset_end"] = best

        live_files = {e["path"] for s in kept for e in self.manifest(s)}
        live_segs = {seg for s in kept for seg in s["manifest_segs"]}
        dead_files: set[str] = set()
        dead_segs: set[str] = set()
        for s in expired:
            dead_files.update(e["path"] for e in self.manifest(s))
            dead_segs.update(s["manifest_segs"])
        dead_files -= live_files
        dead_segs -= live_segs

        # Iceberg ordering: COMMIT the pruned metadata first, THEN clean up.
        # A crash between the two leaves harmless orphan files; the reverse
        # order would leave metadata pointing at deleted files (broken
        # manifest()/read() for still-listed snapshots).
        self.meta["snapshots"] = kept
        self.meta["version"] += 1
        self._write_metadata()

        n_files = n_segs = 0
        emptied: set[str] = set()
        for rel in dead_files:
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                os.remove(p)
                n_files += 1
                emptied.add(os.path.dirname(p))
        for rel in dead_segs:
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                os.remove(p)
                n_segs += 1
            self._seg_cache.pop(rel, None)
        # prune dirs the deletions emptied (plus their write markers):
        # each commit leaves data/<snap>/_bucket=N/ trees and _SUCCESS
        # files behind — without this, directory/inode count grows
        # O(commits), the exact footprint this method exists to bound.
        # Walk upward while dirs stay empty, stopping at the table root.
        root_real = os.path.realpath(self.root)
        for d in sorted(emptied, key=len, reverse=True):
            while os.path.realpath(d) != root_real and os.path.isdir(d):
                left = os.listdir(d)
                markers = [f for f in left if f == "_SUCCESS" or f.startswith(".")]
                if len(markers) != len(left):
                    break  # dir still holds live content
                for f in markers:
                    os.remove(os.path.join(d, f))
                os.rmdir(d)
                d = os.path.dirname(d)
        # superseded metadata versions: every commit leaves a v{n}.json
        # behind — same O(commits) footprint.  The current version
        # (just written, referenced by version-hint) is kept.
        meta_dir = os.path.join(self.root, "metadata")
        cur_v = self.meta["version"]
        for fname in os.listdir(meta_dir):
            if fname.startswith("v") and fname.endswith(".json"):
                try:
                    v = int(fname[1:-5])
                except ValueError:
                    continue
                if v < cur_v:
                    os.remove(os.path.join(meta_dir, fname))
        return {
            "snapshots_removed": len(expired),
            "files_deleted": n_files,
            "segs_deleted": n_segs,
        }

    # ---------------- schema evolution ----------------

    def evolve(
        self,
        renames: dict[str, str] | None = None,
        adds: list[tuple[str, str]] | None = None,
        summary: dict | None = None,
        promotes: dict[str, str] | None = None,
    ) -> int:
        """Schema evolution by field ID — renames keep the ID (old files keep
        serving the column under its old on-disk name), adds mint new IDs (old
        files serve NULL), ``promotes`` widens a column's type in place
        (``SAFE_PROMOTIONS`` only: int→long, float→double — old files keep
        the narrow physical type and are cast up at read).  No data rewrite
        (Iceberg evolve semantics).

        Promotion of key or LSN columns is REFUSED: unlike Iceberg's spec
        bucket transform (which hashes int as long precisely so promotion
        can't move rows), this table's transform uses Spark's ``F.hash``,
        whose int32 and int64 hashes differ — promoting a key column would
        silently re-bucket every existing row (the LSN is protected as the
        ordering column).  RENAMING them is fine (same field ID, same data):
        the table's name-keyed metadata (``key``, ``lsn_column``) follows the
        rename.  ``promotes`` keys refer to post-rename names."""
        renames = renames or {}
        adds = adds or []
        promotes = promotes or {}
        cur_fields = self.current_schema_meta["fields"]
        names = {f["name"] for f in cur_fields}
        for old in renames:
            if old not in names:
                raise KeyError(f"rename source {old!r} not in schema")
        # rename targets must not collide — with a surviving column, with
        # each other, or with another rename's source-after-rename
        post = [renames.get(f["name"], f["name"]) for f in cur_fields]
        dupes = {n for n in post if post.count(n) > 1}
        if dupes:
            raise ValueError(
                f"rename target(s) collide with existing columns: {sorted(dupes)}"
            )
        for name, _ in adds:
            if name in post:
                raise ValueError(f"add target {name!r} already exists")
            post.append(name)  # adds must not collide with each other either

        new_fields = [
            {**f, "name": renames.get(f["name"], f["name"])} for f in cur_fields
        ]
        if promotes:
            by_name = {f["name"]: f for f in new_fields}
            protected = {renames.get(c, c) for c in [*self.key, self.lsn_col]}
            promotes = dict(promotes)  # canonicalized in place for the summary
            for name, new_type in promotes.items():
                f = by_name.get(name)
                if f is None:
                    raise KeyError(f"promote target {name!r} not in schema")
                if name in protected:
                    raise ValueError(
                        f"cannot promote key/LSN column {name!r}: the bucket "
                        f"transform is not width-stable (see evolve docs)"
                    )
                # canonicalize to simpleString ("long" and "bigint" both OK in)
                new_type_c = _type_to_str(_str_to_type(new_type))
                if (f["type"], new_type_c) not in SAFE_PROMOTIONS:
                    raise ValueError(
                        f"unsafe promotion {name!r}: {f['type']} -> {new_type_c} "
                        f"(allowed: {sorted(SAFE_PROMOTIONS)})"
                    )
                f["type"] = new_type_c
                promotes[name] = new_type_c
        last_id = self.meta["last_field_id"]
        for name, type_str in adds:
            last_id += 1
            _ = _str_to_type(type_str)  # validate
            new_fields.append({"id": last_id, "name": name, "type": type_str})

        new_schema_id = max(s["schema_id"] for s in self.meta["schemas"]) + 1
        self.meta["schemas"].append({"schema_id": new_schema_id, "fields": new_fields})
        self.meta["current_schema_id"] = new_schema_id
        self.meta["last_field_id"] = last_id
        # renaming a key / LSN column is legal (same field ID, same data) —
        # but every piece of table metadata that refers to the column BY
        # NAME must follow the rename, or the next merge/read groupBys a
        # name that no longer exists and the table is bricked
        if renames:
            self.meta["key"] = [renames.get(k, k) for k in self.meta["key"]]
            self.meta["lsn_column"] = renames.get(
                self.meta["lsn_column"], self.meta["lsn_column"]
            )

        cur = self.current_snapshot()
        s = {
            "schema-renames": json.dumps(renames),
            "schema-adds": json.dumps([list(a) for a in adds]),
            "schema-promotes": json.dumps(promotes),
        }
        s.update(summary or {})
        return self._commit(
            "evolve", s, schema_id=new_schema_id, base_segs=self._segs_of(cur)
        )
