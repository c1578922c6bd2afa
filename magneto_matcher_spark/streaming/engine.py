"""The CDC engine — Structured Streaming / batch-replay driver (SURVEY.md §3.4).

Every micro-batch goes through one two-step pipeline, whichever driver
delivers it (``apply_batch``/``foreachBatch``, sequential or concurrent
``replay``):

- **stage** (``CdcEngine._stage``): footer/scan stats → empty / null-LSN /
  committed-watermark skip → schema-drift resolve (Magneto matcher between
  batch and table column profiles) → normalize payload (P8).  MoR then
  runs the max-LSN dedup and writes the batch's delta files uncommitted
  (``LakeTable.stage_delta``); CoW writes nothing.
- **commit** (``CdcEngine._commit``): re-check the watermark, then ONE
  snapshot commit stamped with offsets + per-file lineage —
  ``commit_delta`` for MoR, the fused ``merge`` for CoW (its MERGE reads
  the prior table state, so it can only run after the previous commit) —
  then compact/expire and one ``BatchMetrics`` record.

Exactly-once: Spark's checkpoint gives at-least-once delivery of batches; the
engine stamps the consumed LSN range of every batch into the snapshot summary
(``offsets.start`` / ``offsets.end``) and skips any batch whose range is
already ≤ the committed watermark on restart — and the MERGE itself is
idempotent by LSN comparison, so even a partially-overlapping redelivery is a
no-op for already-applied keys.  That includes DELETED keys: both write modes
retain delete winners as tombstone entries (MoR deltas / compaction
tombstones, CoW per-merge tombstone files — sources/lake.py), so a stale 'U'
below a delete's LSN loses the comparison instead of resurrecting the key.
Together: effectively-once.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magneto_matcher_spark.plans.apply import dedup_max_lsn, normalize_payload
from magneto_matcher_spark.sources.lake import SAFE_PROMOTIONS, LakeTable

#: engine-internal columns that are never payload
_SYSTEM_COLS = {"op"}


def _arrow_type_str(t) -> str | None:
    """Parquet/arrow type → Spark simpleString for the primitive types the
    transcripts schema uses; None for anything unclassified (callers must
    treat None as 'not provably identical' and take the safe path)."""
    import pyarrow as pa

    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    return None


class BatchMetrics(dict):
    """Per-micro-batch metrics record (A11), one shape for every driver.

    Every record: ``source``, ``events_in``, ``offsets_start``,
    ``offsets_end``, ``skipped``, ``stage_s``, ``commit_s`` and
    ``duration_s`` (= ``stage_s + commit_s`` before rounding).

    Skipped batches add ``reason`` (``"empty"`` or
    ``"offsets<=committed(<watermark>)"``).  Applied batches add
    ``snapshot_id``, ``rows_written`` and ``buckets_rewritten`` (from the
    batch's own commit summary, taken before maintenance), ``compacted``,
    ``events_per_sec`` and ``lsn_lag``."""


@dataclass
class _Staged:
    """A batch between stage and commit: its record so far and lineage
    spans, plus what the commit writes — MoR's staged delta entries, or
    CoW's normalized frame (merged at commit)."""

    metrics: BatchMetrics
    spans: dict[str, list[int]]
    frame: DataFrame | None = None
    entries: list[dict] | None = None


class CdcEngine:
    def __init__(
        self,
        table: LakeTable,
        dedup_strategy: str = "agg",
        n_salts: int = 32,
        drift_resolver=None,
        metrics_sink: str | None = None,
        auto_compact_ratio: float | None = None,
        expire_keep: int | None = None,
    ):
        """``drift_resolver``: callable (batch_df, table) →
        (renames: dict incoming→table name, adds: list[(name, type_str)]).
        Defaults to exact cleaned-name matching; Phase 4 wires the full
        Magneto cascade here (SURVEY.md §3.4).

        ``auto_compact_ratio``: MoR maintenance policy — after a merge, if
        accumulated delta rows exceed this fraction of data rows, run
        ``table.compact()`` (read-amplification bound; the Iceberg
        rewrite_data_files analog).  None disables; ignored for CoW tables.

        ``dedup_strategy``/``n_salts``: kept so existing callers (the repo
        benchmark passes ``dedup_strategy="agg", n_salts=32``) still run;
        the one max-LSN dedup is :func:`dedup_max_lsn`, so ``"agg"`` is the
        only accepted strategy and ``n_salts`` is ignored.

        ``expire_keep``: after each commit, expire all but the newest N
        snapshots and GC their orphaned files/segments
        (``LakeTable.expire_snapshots``) — on a 10^10-event replay the
        snapshot log is one entry per micro-batch, so without this the
        metadata and dead-file footprint grow without bound.  Exactly-once
        redelivery skipping survives expiry (``expired_offset_end``).
        None disables (keep full history / time travel).
        """
        if dedup_strategy != "agg":
            raise ValueError(
                f"dedup_strategy={dedup_strategy!r}: the 'salted', 'window' "
                "and 'auto' strategies were removed; only 'agg' remains"
            )
        self.table = table
        self.drift_resolver = drift_resolver or exact_name_drift_resolver
        self.metrics_sink = metrics_sink
        self.auto_compact_ratio = auto_compact_ratio
        self.expire_keep = expire_keep
        self.metrics_log: list[BatchMetrics] = []

    # ------------- drift handling -------------

    def _resolve_drift(self, batch: DataFrame) -> DataFrame:
        """Map incoming columns onto the live schema; evolve for net-new ones.

        Policy: an incoming column that matches an existing table column
        (exact name, else resolver mapping) is renamed to the table name;
        unmatched incoming columns become schema adds (new field IDs);
        table columns absent from the batch are filled with NULL.
        """
        incoming = [c for c in batch.columns if c not in _SYSTEM_COLS]
        current = self.table.column_names
        if set(incoming) == set(current):
            return self._resolve_type_drift(batch)

        renames, adds = self.drift_resolver(batch, self.table)
        for old, new in renames.items():
            batch = batch.withColumnRenamed(old, new)
        if adds:
            self.table.evolve(
                adds=adds,
                summary={"drift-renames": json.dumps(renames)},
            )
        batch = self._resolve_type_drift(batch)
        current = self.table.column_names
        for name in current:
            if name not in batch.columns:
                field_type = next(
                    f["type"]
                    for f in self.table.current_schema_meta["fields"]
                    if f["name"] == name
                )
                batch = batch.withColumn(name, F.lit(None).cast(field_type))
        return batch.select(*current, *sorted(_SYSTEM_COLS & set(batch.columns)))

    def _resolve_type_drift(self, batch: DataFrame) -> DataFrame:
        """Align column TYPES once names are aligned (axis-B drift is not
        just renames/adds — producers also widen numeric columns).

        - batch column WIDER than the table's (int→long, float→double):
          Iceberg-style type promotion — metadata-only ``evolve(promotes=…)``,
          field ID kept, old files cast up at read;
        - batch column NARROWER: cast the batch up to the table type (the
          table never narrows);
        - any other mismatch: fail loud — unsafe drift (e.g. int→string)
          must not be guessed at;
        - key/LSN columns can never be PROMOTED (keyhash width stability —
          ``F.hash`` of the same value at different widths differs, which
          would scatter a key's rows across buckets; see ``LakeTable.evolve``).
          A NARROWER batch key is cast up to the table's registered type
          (value- and hash-preserving); a WIDER one fails loud here instead
          of silently wrapping at read time.

        Driver-side schema comparison only; no job runs when types match."""
        protected = set(self.table.key) | {self.table.lsn_col}
        table_types = {
            f["name"]: f["type"]
            for f in self.table.current_schema_meta["fields"]
        }
        batch_types = {
            f.name: f.dataType.simpleString() for f in batch.schema.fields
        }
        promotes: dict[str, str] = {}
        upcasts: dict[str, str] = {}
        for name, tt in table_types.items():
            bt = batch_types.get(name)
            if bt is None or bt == tt:
                continue
            if (tt, bt) in SAFE_PROMOTIONS and name not in protected:
                promotes[name] = bt
            elif (bt, tt) in SAFE_PROMOTIONS:
                upcasts[name] = tt
            elif (tt, bt) in SAFE_PROMOTIONS:  # protected, batch wider
                raise ValueError(
                    f"type drift on key/LSN column {name!r}: batch has {bt}, "
                    f"table has {tt} — key columns cannot be promoted "
                    f"(bucket-hash width stability); re-key the table"
                )
            else:
                raise ValueError(
                    f"incompatible type drift on column {name!r}: batch has "
                    f"{bt}, table has {tt} — not a safe widening either way"
                )
        if promotes:
            self.table.evolve(
                promotes=promotes,
                summary={"drift-promotes": json.dumps(promotes)},
            )
        for name, tt in upcasts.items():
            batch = batch.withColumn(name, F.col(name).cast(tt))
        return batch

    # ------------- the batch pipeline: stage → commit -------------

    def _stage(self, source: str, batch: DataFrame | None = None) -> _Staged:
        """Everything before the commit.  ``batch=None`` means ``source`` is
        a replay batch dir: its stats (count, LSN range, each file's LSN
        span) come from the parquet footers with zero Spark jobs, and an
        empty dir is never read (schema inference on it would throw).  A
        frame is stat'ed per SOURCE FILE with one aggregation scan (file
        names, unlike scan partition ids, are stable across a
        restart-resumed replay)."""
        t0 = time.perf_counter()
        lsn_col = self.table.lsn_col
        stats = None
        if batch is None:
            stats = _footer_stats(source, lsn_col)
            if stats is None or stats[0]:
                batch = _read_batch_dir(self.table.spark, source)
        n_events, lo, hi, spans = stats or _scan_stats(batch, lsn_col)
        metrics = BatchMetrics(
            source=source, events_in=n_events, offsets_start=lo,
            offsets_end=hi, skipped=False,
        )
        staged = _Staged(metrics, spans)
        if n_events == 0:
            metrics.update(skipped=True, reason="empty")
        elif hi is None:
            # rows exist but every LSN is null — a malformed feed; ordering
            # and the exactly-once watermark are both undefined.  Fail loud
            # instead of a TypeError deep in the comparison.
            raise ValueError(
                f"batch {source!r} has {n_events} rows but no non-null "
                f"'{lsn_col}' values — cannot order or watermark it"
            )
        elif hi <= (committed := self.table.committed_offset_end()):
            metrics.update(skipped=True, reason=f"offsets<=committed({committed})")
        else:
            # drift first, normalize second: a drift-renamed column (e.g.
            # tool_name → tool) must land under its table name BEFORE the
            # name-keyed normalizer runs, or renamed payloads would be
            # written un-normalized (null-normalize/trim/cast skipped).
            batch = normalize_payload(self._resolve_drift(batch))
            if self.table.meta["write_mode"] == "mor":
                # MoR consumes winners exactly once (the delta write) — dedup
                # up front so delta files stay ≤1 row/key.  The dedup's final
                # exchange is pinned to n_buckets partitions so the delta
                # write reuses it (one exchange).
                winners = dedup_max_lsn(
                    batch,
                    key=self.table.key,
                    lsn_col=lsn_col,
                    n_partitions=self.table.n_buckets,
                )
                staged.entries = self.table.stage_delta(winners)
            else:
                staged.frame = batch
        metrics["stage_s"] = time.perf_counter() - t0
        return staged

    def _commit(self, staged: _Staged) -> BatchMetrics:
        """Make the staged batch visible in one snapshot commit stamped with
        offsets + lineage, run maintenance, emit the record.  Commits run
        serially in feed order; a batch whose range fell under the watermark
        since it was staged (a redelivery race) is discarded instead."""
        t0 = time.perf_counter()
        metrics = staged.metrics
        committed = self.table.committed_offset_end()
        if not metrics["skipped"] and metrics["offsets_end"] <= committed:
            if staged.entries is not None:
                self.table.discard_staged(staged.entries)
            metrics.update(skipped=True, reason=f"offsets<=committed({committed})")
        if not metrics["skipped"]:
            lo, hi = int(metrics["offsets_start"]), int(metrics["offsets_end"])
            # per-file lineage: source offsets plus each input file's LSN
            # span — a restart-resumed replay must reproduce this map
            # exactly (tested in test_engine)
            lineage = {
                "source": metrics["source"], "start": lo, "end": hi,
                "files": staged.spans,
            }
            summary = {
                "offsets.start": lo,
                "offsets.end": hi,
                "source.lineage": json.dumps(lineage),
            }
            mor = staged.entries is not None
            if mor:
                snapshot_id = self.table.commit_delta(staged.entries, summary=summary)
            else:
                # fused path: the max-LSN dedup happens INSIDE the merge
                # aggregation — one shuffle of target ∪ batch
                snapshot_id = self.table.merge(staged.frame, summary=summary)
            # this commit's summary, captured BEFORE compaction/expiry —
            # afterwards the current snapshot may be the compaction's (whose
            # rows-written describes the rewrite, not this batch) and expiry
            # may have dropped the batch's snapshot entirely
            summ = self.table.summary(snapshot_id)
            compacted = mor and self._maybe_compact()
            if self.expire_keep is not None:
                self.table.expire_snapshots(keep_last=self.expire_keep)
            metrics.update(
                snapshot_id=snapshot_id,
                rows_written=int(summ.get("rows-written", -1)),
                buckets_rewritten=int(summ.get("buckets-rewritten", -1)),
                compacted=compacted,
                lsn_lag=hi - lo,
            )
        commit_s = time.perf_counter() - t0
        dur = metrics["stage_s"] + commit_s
        metrics.update(
            stage_s=round(metrics["stage_s"], 3),
            commit_s=round(commit_s, 3),
            duration_s=dur,
        )
        if not metrics["skipped"]:
            metrics["events_per_sec"] = (
                metrics["events_in"] / dur if dur > 0 else float("inf")
            )
        self._emit(metrics)
        return metrics

    def apply_batch(
        self, batch: DataFrame, source_desc: str | None = None
    ) -> BatchMetrics:
        """Stage then commit one micro-batch frame (the ``foreachBatch``
        entry point; also callable directly)."""
        return self._commit(self._stage(source_desc or "", batch))

    def _maybe_compact(self) -> bool:
        """MoR read-amplification bound: compact when delta rows exceed
        ``auto_compact_ratio`` x data rows (or when there are deltas but no
        data files at all, ratio-free)."""
        if self.auto_compact_ratio is None:
            return False
        snap = self.table.current_snapshot()
        if not snap:
            return False
        entries = self.table.manifest(snap)
        delta_rows = sum(e["rows"] for e in entries if e["kind"] == "delta")
        data_rows = sum(e["rows"] for e in entries if e["kind"] == "data")
        if delta_rows == 0:
            return False
        if data_rows > 0 and delta_rows < self.auto_compact_ratio * data_rows:
            return False
        self.table.compact(summary={"trigger": "auto"})
        return True

    def _emit(self, metrics: BatchMetrics) -> None:
        self.metrics_log.append(metrics)
        if self.metrics_sink:
            with open(self.metrics_sink, "a") as fh:
                fh.write(json.dumps(metrics) + "\n")

    # ------------- drivers -------------

    def replay(
        self, batch_paths: list[str], concurrency: int = 1
    ) -> list[BatchMetrics]:
        """Batch replay driver: apply parquet batch dirs in order (bench mode +
        deterministic tests). Resumable: already-committed batches skip.

        Each dir is staged, then committed (``_stage`` → ``_commit``).  Batch
        stats (count + LSN range) come from the parquet footers — driver-side
        metadata reads, no Spark job.

        ``concurrency > 1`` (MoR tables, schema-stable feeds only): stage
        several batches in parallel driver threads — Spark schedules their
        dedup + delta-write jobs concurrently, filling each other's stage
        barriers — then commit serially in feed order.  Final state is
        identical because MoR resolution is a pure function of the delta set
        (max-LSN per key), not of commit interleaving; exactly-once is
        enforced at the serial commit.  CoW tables (whose merge runs at
        commit, after the previous one) and feeds whose on-disk schema
        deviates from the live schema (drift must serialize) stage one batch
        at a time."""
        if concurrency > 1 and self._can_replay_concurrently(batch_paths):
            with ThreadPoolExecutor(max_workers=concurrency) as pool:
                staged = list(pool.map(self._stage, batch_paths))
            return [self._commit(s) for s in staged]
        return [self._commit(self._stage(path)) for path in batch_paths]

    def _can_replay_concurrently(self, batch_paths: list[str]) -> bool:
        import pyarrow.parquet as pq

        if self.table.meta["write_mode"] != "mor":
            return False
        expect_names = set(self.table.column_names) | _SYSTEM_COLS
        expect_types = {
            f["name"]: f["type"]
            for f in self.table.current_schema_meta["fields"]
        }
        # EVERY file's footer, not a sample: a mixed-schema batch dir
        # (e.g. a foreign backfill straddling a producer-side widening)
        # must serialize through the drift path, and sampling files[0]
        # would let the drifted tail bypass promote/fail-loud entirely.
        files = [fp for path in batch_paths for fp in _parquet_files(path)]

        def _ok(fp: str) -> bool:
            schema = pq.read_schema(fp)
            if set(schema.names) != expect_names:
                return False  # name drift present → serialize
            for field in schema:
                want = expect_types.get(field.name)
                if want is None:  # system col (op)
                    continue
                got = _arrow_type_str(field.type)
                # type drift (widened ints, etc.) or an arrow type this
                # check can't classify: serialize through the drift path,
                # which promotes/upcasts/fails-loud per column
                if got != want:
                    return False
            return True

        return all(_footer_map(_ok, files))

    def run_streaming(
        self,
        input_dir: str,
        checkpoint_dir: str,
        schema=None,
        trigger_once: bool = True,
        max_files_per_trigger: int | None = None,
    ):
        """Structured Streaming file source → foreachBatch apply.

        ``availableNow`` drains everything already in ``input_dir`` then
        stops (the test/bench mode); drop ``trigger_once`` for continuous
        tailing.  Exactly-once across restarts comes from the snapshot-summary
        watermark even if the checkpoint redelivers a batch.
        ``max_files_per_trigger`` bounds micro-batch admission (respected by
        availableNow since Spark 3.3) — the lever that sets the streaming
        micro-batch grain to match a replay's batch split.

        Delivery-order caveat for backfill drains: the file source admits
        files in MODIFICATION-TIME order, and the engine's exactly-once
        watermark treats any batch whose max LSN is at-or-below the
        committed watermark as a redelivery (skip).  A pre-existing feed
        whose files carry tied/shuffled mtimes, or whose files interleave
        LSN ranges (mod-striped layouts), can therefore be admitted out of
        LSN order and lose late-admitted ranges to the skip.  A live tail
        satisfies this naturally (files appear in write order);
        ``write_change_files`` satisfies it by construction (contiguous
        range-partitioned files, mtimes stamped in LSN order — see its
        docstring); for foreign backfills either restamp mtimes the same
        way or use ``CdcEngine.replay`` whose explicit path list IS the
        order.  Partial overlap (a micro-batch straddling the watermark) is
        safe: the max-LSN MERGE is idempotent, re-applied old rows lose to
        the incumbent.
        """
        spark = self.table.spark
        reader = spark.readStream
        if schema is not None:
            reader = reader.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
        stream = reader.option("recursiveFileLookup", "true").parquet(input_dir)

        def _apply(df: DataFrame, batch_id: int) -> None:
            self.apply_batch(df, source_desc=f"stream-batch-{batch_id}")

        writer = (
            stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        if trigger_once:
            query.awaitTermination()
        return query


def _parquet_files(path: str) -> list[str]:
    import glob

    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _footer_map(fn, files: list[str]) -> list:
    """``fn`` over each file in a thread pool: footer reads are tiny
    driver-side I/O and pyarrow releases the GIL, so the per-batch metadata
    stretch doesn't grow with file count."""
    if len(files) <= 1:
        return [fn(f) for f in files]
    with ThreadPoolExecutor(max_workers=min(16, len(files))) as pool:
        return list(pool.map(fn, files))


def _read_batch_dir(spark, path: str) -> DataFrame:
    """Read one replay batch dir.  When every file carries the same (name,
    raw arrow type) schema this is a plain ``spark.read.parquet(path)``.

    Files that disagree (a producer-side change landed mid-batch) can't be
    read that way: single-footer inference either fails at scan time
    (narrow file sampled) or silently upcasts (wide file sampled), and
    Spark's mergeSchema refuses numeric widening across files.  So group
    files by exact RAW signature, read each group with its own schema, cast
    columns whose raw types differ ACROSS groups up to the SAFE_PROMOTIONS
    union, and union the groups by name (missing columns null-filled).  The
    drift resolver then promotes/adds/fails-loud on the union schema.

    Classification (``_arrow_type_str``) is only required where raw types
    actually differ: a column whose raw type is identical in every file —
    classifiable or not — needs no cast and passes through untouched.  A
    column whose raw types DIFFER and include an unclassifiable one fails
    loud ('not provably identical' takes the safe path), same contract as
    the drift resolver."""
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    groups: dict[tuple, list[str]] = {}
    arrow_types: dict[tuple, list] = {}
    for fp, schema in zip(files, _footer_map(pq.read_schema, files)):
        sig = tuple((f.name, str(f.type)) for f in schema)
        groups.setdefault(sig, []).append(fp)
        arrow_types[sig] = [(f.name, f.type) for f in schema]
    if len(groups) <= 1:
        return spark.read.parquet(path)

    # per-column raw variants across groups
    raw_variants: dict[str, set] = {}
    for sig in groups:
        for name, raw in sig:
            raw_variants.setdefault(name, set()).add(raw)

    # columns with >1 raw variant need a classified union type
    union_types: dict[str, str] = {}
    classified: dict[tuple, str | None] = {}
    for sig in groups:
        for name, atype in arrow_types[sig]:
            classified[(name, str(atype))] = _arrow_type_str(atype)
    for name, variants in raw_variants.items():
        if len(variants) == 1:
            continue
        target: str | None = None
        for raw in variants:
            typ = classified[(name, raw)]
            if typ is None:
                raise ValueError(
                    f"files in {path!r} mix types for column {name!r} and "
                    f"variant {raw!r} is not classifiable — cannot prove a "
                    f"safe widening"
                )
            if target is None or target == typ:
                target = typ
            elif (target, typ) in SAFE_PROMOTIONS:
                target = typ
            elif (typ, target) in SAFE_PROMOTIONS:
                pass
            else:
                raise ValueError(
                    f"files in {path!r} mix incompatible types for column "
                    f"{name!r}: {target} vs {typ} — not a safe widening"
                )
        union_types[name] = target

    parts = []
    for sig, group_files in groups.items():
        df = spark.read.parquet(*group_files)
        for name, raw in sig:
            want = union_types.get(name)
            if want is not None and classified[(name, raw)] != want:
                df = df.withColumn(name, F.col(name).cast(want))
        parts.append(df)
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def _scan_stats(
    df: DataFrame, lsn_col: str
) -> tuple[int, int | None, int | None, dict[str, list[int]]]:
    """(n_rows, min_lsn, max_lsn, per-file spans) with ONE aggregation scan
    keyed by ``input_file_name()`` — the stats fallback when parquet footers
    lack statistics.  Lineage keys are stable per source file across a
    restart-resumed replay (scan partition ids are not: split planning
    varies with maxPartitionBytes / cores); non-file sources yield one
    'unpartitioned' span.  Labels match ``_footer_stats``' so both stats
    paths record the SAME ``source.lineage.files`` map."""
    rows = (
        df.groupBy(F.input_file_name().alias("_src"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.col(lsn_col)).alias("nn"),
            F.min(lsn_col).alias("lo"),
            F.max(lsn_col).alias("hi"),
        )
        .collect()
    )
    n = sum(r["n"] for r in rows)
    n_null = n - sum(r["nn"] for r in rows)
    if 0 < n_null < n:
        # a PARTIALLY-null LSN column is a malformed feed: the null rows
        # can neither be ordered nor watermarked, and letting them through
        # silently drops or corrupts them downstream (max_by/merge treat
        # null as smallest).  All-null keeps the existing contract: the
        # caller fail-louds on hi is None.
        raise ValueError(
            f"batch has {n_null} of {n} rows with null '{lsn_col}' — "
            f"cannot order or watermark them"
        )
    nonnull = [r for r in rows if r["lo"] is not None]
    lo = min((r["lo"] for r in nonnull), default=None)
    hi = max((r["hi"] for r in nonnull), default=None)
    spans: dict[str, list[int]] = {}
    keys = _lineage_keys([r["_src"] for r in nonnull])
    for r, name in zip(nonnull, keys):
        cur = spans.get(name)
        spans[name] = (
            [int(r["lo"]), int(r["hi"])]
            if cur is None
            else [min(cur[0], int(r["lo"])), max(cur[1], int(r["hi"]))]
        )
    return n, lo, hi, spans


def _lineage_keys(uris: list[str], encoded: bool = True) -> list[str]:
    """Stable lineage labels for scanned source files.

    ``input_file_name()`` returns a percent-encoded URI; the footer-stats
    path labels by raw filesystem path — decode so both paths record
    the SAME key for the same file.  ``encoded=False`` is for raw
    filesystem paths (the footer path): unquoting those would corrupt a
    real filename containing a literal %XX sequence (``part%20a.parquet``
    would key as ``part a.parquet`` while the scan path, which sees it
    percent-ENCODED as %2520, correctly decodes back — the two stats paths
    would then disagree on the key).  When two distinct files in one batch
    share a basename (recursiveFileLookup over partition dirs like
    ``date=A/data.parquet``), the parent directory is prefixed so their
    LSN spans stay separate instead of being silently min/max-merged.
    Empty URI (non-file source) → 'unpartitioned'."""
    from urllib.parse import unquote, urlparse

    def decode(u: str) -> str:
        if not encoded:
            return u
        return unquote(urlparse(u).path) if "://" in u else unquote(u)

    paths = [decode(u) if u else "" for u in uris]

    def suffix(p: str, depth: int) -> str:
        # last `depth` path components (depth=1 → basename)
        return os.path.join(*p.split(os.sep)[-depth:])

    # progressively lengthen the path suffix until every non-empty path has
    # a unique key — two files may collide on basename AND parent-dir name
    # (a/date=A/data.parquet vs b/date=A/data.parquet), so one fixed level
    # of disambiguation isn't enough.  Depth is CAPPED at the longest
    # path's component count: distinct absolute paths differ at some depth,
    # but os.path.join drops empty components, so '/x/a.parquet' vs
    # 'x/a.parquet' would yield identical suffixes at EVERY depth and an
    # uncapped loop would never terminate — at the cap, colliding keys
    # fall back to the full decoded path (identical full paths are the same
    # physical file and legitimately share a key).
    keys = {p: os.path.basename(p) for p in paths if p}
    max_depth = max((len(p.split(os.sep)) for p in keys), default=1)
    depth = 1
    while len(set(keys.values())) < len(keys) and depth < max_depth:
        depth += 1
        seen: dict[str, int] = {}
        for p in keys:
            seen[keys[p]] = seen.get(keys[p], 0) + 1
        for p in list(keys):
            if seen[keys[p]] > 1:
                keys[p] = suffix(p, depth)
    if len(set(keys.values())) < len(keys):
        final: dict[str, int] = {}
        for p in keys:
            final[keys[p]] = final.get(keys[p], 0) + 1
        for p in list(keys):
            if final[keys[p]] > 1:
                keys[p] = p
    return [keys[p] if p else "unpartitioned" for p in paths]


def _footer_stats(
    path: str, lsn_col: str
) -> tuple[int, int, int, dict[str, list[int]]] | None:
    """(n_rows, min_lsn, max_lsn, per_file) from the parquet footers of a
    batch dir, where per_file maps each file's ``_lineage_keys`` label
    (basename, parent-prefixed on basename collision — the same keying
    ``_scan_stats`` uses) to its [lo, hi] LSN span — the per-partition
    lineage recorded in every snapshot summary (``source.lineage.files``,
    the BASELINE.json north-star checkbox).
    Returns None when any file lacks column statistics (falls back to a scan).
    """
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    if not files:
        return (0, None, None, {})

    def _one(f: str) -> tuple[int, int | None, int | None, int] | None:
        md = pq.ParquetFile(f).metadata
        try:
            idx = md.schema.names.index(lsn_col)
        except ValueError:
            return None
        f_lo = f_hi = None
        f_null = 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            if st.null_count is None:
                return None  # can't prove null-freeness → scan decides
            f_null += st.null_count
            f_lo = st.min if f_lo is None else min(f_lo, st.min)
            f_hi = st.max if f_hi is None else max(f_hi, st.max)
        return (md.num_rows, f_lo, f_hi, f_null)

    results = _footer_map(_one, files)
    n = 0
    n_null = 0
    lo = hi = None
    per_file: dict[str, list[int]] = {}
    # Label through _lineage_keys — the SAME keying _scan_stats uses — so a
    # stream-then-replay resume records identically-keyed lineage whichever
    # stats path ran, and colliding basenames (impossible for one glob dir
    # today, but the keying must not depend on that) disambiguate instead
    # of silently overwriting a span.  encoded=False: these are raw
    # filesystem paths, not input_file_name() URIs.
    labels = _lineage_keys(files, encoded=False)
    for f_label, res in zip(labels, results):
        if res is None:
            return None  # missing stats → caller falls back to a scan
        f_rows, f_lo, f_hi, f_null = res
        n += f_rows
        n_null += f_null
        if f_lo is not None:
            per_file[f_label] = [int(f_lo), int(f_hi)]
            lo = f_lo if lo is None else min(lo, f_lo)
            hi = f_hi if hi is None else max(hi, f_hi)
    if 0 < n_null < n:
        # same contract as _scan_stats: partially-null LSNs are a
        # malformed feed — null rows can't be ordered or watermarked, and
        # downstream max_by/merge would silently drop or corrupt them
        raise ValueError(
            f"batch {path!r} has {n_null} of {n} rows with null "
            f"'{lsn_col}' — cannot order or watermark them"
        )
    return (n, lo, hi, per_file)


def exact_name_drift_resolver(batch: DataFrame, table: LakeTable):
    """Phase-3 stub resolver: map incoming columns to table columns by exact
    cleaned name (J1); everything else is an add.  Name cleaning is pure
    driver-side metadata work (Python twin of P3) — zero Spark jobs per
    drift event.  The full Magneto cascade lives in
    magneto_matcher_spark.plans.matcher.matcher_drift_resolver."""
    from magneto_matcher_spark.functions.cleaning import clean_column_name

    incoming = [c for c in batch.columns if c not in _SYSTEM_COLS]
    current = set(table.column_names)

    unknown = [c for c in incoming if c not in current]
    missing = [c for c in current if c not in set(incoming)]
    if not unknown:
        return {}, []
    in_clean = {n: clean_column_name(n) for n in unknown}
    tbl_clean = {clean_column_name(n): n for n in missing}

    renames, adds = {}, []
    for c in unknown:
        tgt = tbl_clean.get(in_clean[c])
        if tgt is not None:
            renames[c] = tgt
        else:
            field_type = dict(zip(batch.columns, [f.dataType.simpleString() for f in batch.schema.fields]))[c]
            adds.append((c, field_type))
    return renames, adds
