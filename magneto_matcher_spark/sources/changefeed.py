"""Deterministic binlog/WAL-style change-feed generator (FIXTURES.md F1-F3).

Generates the transcripts change feed entirely with Spark expressions over
``spark.range`` — no driver-side loops, no Python RNG — so the same call
produces identical bytes at any parallelism and any scale (seed + pure
``xxhash64`` arithmetic, per FIXTURES.md determinism rules).  This is what
lets the bench generate ~10^7 events distributively as the sf-scaled proxy of
the north rule's 10^10-event replay profile.

Semantics of the feed (documented, tested):
- ``lsn`` = the range index — globally monotone, unique.
- key = (conv_id, turn_idx); the first event per key (in LSN order) is 'I',
  later events are 'U' (~90%) or 'D' (~10%).
- Replay semantics are upsert-like: 'I'/'U' both write the payload, 'D'
  deletes; the max-LSN event per key decides the final state.  This makes the
  final state a pure function of the per-key max-LSN winner — the LSN
  permutation invariance property the pytest suite checks.
- Zipf-ish skew: a configurable fraction of events lands on conversation 0
  (the hot key) to exercise key skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: base epoch for ts generation (2024-01-01 UTC), seconds.
_BASE_EPOCH = 1_704_067_200

TOOLS = ["search", "python", "browser"]
ROLES = ["user", "assistant", "tool"]


def _h(seed_tag: int, *cols) -> "F.Column":
    """Deterministic 64-bit hash with a namespace tag (xxhash64's own seed is
    fixed at 42; varying the first literal column gives independent streams)."""
    return F.xxhash64(F.lit(seed_tag), *cols)


def generate_change_feed(
    spark: SparkSession,
    n_events: int,
    n_convs: int = 100,
    turns_per_conv: int = 20,
    seed: int = 42,
    hot_frac: float = 0.0,
    n_partitions: int | None = None,
) -> DataFrame:
    """Build the change feed as a DataFrame with CHANGE_FEED_SCHEMA columns.

    ``hot_frac`` > 0 routes that fraction of events to conv 0 (skew mode,
    FIXTURES.md F2 "hot-key mode").
    """
    rng = spark.range(0, n_events, numPartitions=n_partitions)
    lsn = F.col("id")

    u_hot = (F.pmod(_h(seed + 1, lsn), F.lit(1_000_000)) / 1_000_000.0)
    conv_num = F.when(u_hot < F.lit(hot_frac), F.lit(0)).otherwise(
        F.pmod(_h(seed + 2, lsn), F.lit(n_convs)).cast("int")
    )
    turn_idx = F.pmod(_h(seed + 3, lsn), F.lit(turns_per_conv)).cast("int")

    df = rng.select(
        lsn.alias("lsn"),
        F.format_string("conv%06d", conv_num).alias("conv_id"),
        turn_idx.alias("turn_idx"),
    )

    # first event per key is 'I'; later ones 'U'/'D' by hash (~90/10).
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("lsn")
    occurrence = F.row_number().over(w)
    op = (
        F.when(occurrence == 1, F.lit("I"))
        .when(F.pmod(_h(seed + 4, F.col("lsn")), F.lit(10)) < 1, F.lit("D"))
        .otherwise(F.lit("U"))
    )

    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]), F.pmod(F.col("turn_idx"), F.lit(3)) + 1
    )
    tool_pick = F.pmod(_h(seed + 5, F.col("lsn")), F.lit(4))
    tool = F.when(tool_pick == 0, F.lit(None).cast("string")).otherwise(
        F.element_at(F.array(*[F.lit(t) for t in TOOLS]), tool_pick.cast("int"))
    )
    text = F.format_string(
        "turn %d of %s rev%d", F.col("turn_idx"), F.col("conv_id"), F.col("lsn")
    )
    ts = F.timestamp_seconds(F.lit(_BASE_EPOCH) + F.col("lsn"))

    return df.select(
        "lsn",
        op.alias("op"),
        "conv_id",
        "turn_idx",
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def with_schema_drift(feed: DataFrame, from_lsn: int) -> DataFrame:
    """FIXTURES.md F3: from ``from_lsn`` onward the producer renames ``tool`` →
    ``tool_name`` and adds ``tool_meta`` (JSON-ish) and ``latency_ms``.

    Returns a feed with the union schema; pre-drift rows have the new columns
    null and keep ``tool``; post-drift rows have ``tool`` null and carry
    ``tool_name``.  Ground-truth mapping the matcher must recover:
    ``{tool_name → tool, tool_meta → add, latency_ms → add}``.
    """
    drifted = F.col("lsn") >= F.lit(from_lsn)
    return (
        feed.withColumn("tool_name", F.when(drifted, F.col("tool")))
        .withColumn(
            "tool_meta",
            F.when(
                drifted & F.col("tool").isNotNull(),
                F.format_string('{"tool": "%s", "v": 2}', F.col("tool")),
            ),
        )
        .withColumn(
            "latency_ms",
            F.when(
                drifted, F.pmod(F.xxhash64(F.lit(77), F.col("lsn")), F.lit(5000)).cast("int")
            ),
        )
        .withColumn("tool", F.when(~drifted, F.col("tool")))
    )


def write_change_files(
    feed: DataFrame,
    out_dir: str,
    n_batches: int,
    lsn_col: str = "lsn",
    files_per_batch: int = 32,
    stamp_root: str | None = None,
) -> list[str]:
    """Split the feed into ``n_batches`` contiguous LSN ranges, one parquet
    directory per batch (``batch_00000`` …) — the on-disk shape both the
    Structured Streaming file source and the batch replay driver consume.
    Returns the batch directory paths in LSN order.

    Single pass: partitioned write by batch id (a per-batch filter loop would
    re-run the whole generation pipeline once per batch).  Each batch is
    sub-split into ~``files_per_batch`` files — one file per batch would cap
    the replay's scan parallelism at the file's row-group count (measured: a
    single straggler task dominates every batch apply).

    Delivery-order contract (what a real WAL-shipping producer provides):
    every file covers a CONTIGUOUS LSN sub-range (``repartitionByRange`` on
    the LSN, not mod-striping), and file mtimes are stamped strictly
    increasing in LSN order.  The Structured Streaming file source admits
    files in mtime order, so admission at ANY ``maxFilesPerTrigger`` grain —
    even one that cuts across batch directories — is LSN-monotone, which is
    exactly the precondition the engine's exactly-once watermark needs
    (a micro-batch whose max LSN ≤ the committed watermark is a redelivery
    by contract, and is skipped).  Mod-striped files break this: each file
    then spans the whole batch range, so a trigger split mid-batch advances
    the watermark past rows still sitting in unadmitted sibling files.

    ``stamp_root``: opt-in cross-tree monotonicity anchor.  Calls that write
    SEPARATE out_dirs under one feed tree (and will be drained by one glob)
    should pass the tree root here; a ``.changefeed_stamp_ms`` marker at the
    root then carries each call's exact last-stamped mtime to the next call
    at ANY nesting depth.  Without it, sibling out_dirs get best-effort
    monotonicity from a bounded directory scan (out_dir, its parent, one
    level under the parent) clamped to 60 s of forward overhang — enough for
    feeds up to ~12k files per call, and fail-safe beyond (stamps fall back
    to wall clock; a checkpointed drain still dedups, but a FRESH drain's
    admission order is no longer guaranteed LSN-monotone across the trees).
    """
    import os
    import shutil
    import time

    bounds = feed.select(
        F.min(lsn_col).alias("lo"), F.max(lsn_col).alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        return []  # empty feed: no batches (min/max are null)
    span = (hi - lo + 1 + n_batches - 1) // n_batches
    batch_id = F.floor((F.col(lsn_col) - lo) / span).cast("int")
    # rerun support (matching the staged write's mode('overwrite')): clear
    # prior batch dirs so a re-generation can neither crash the rename
    # (ENOTEMPTY) nor leave stale batch_* dirs from a larger previous run
    # that a directory-consuming replay would read as duplicate data.
    # Deletion is scoped to THIS writer's exact naming pattern
    # (batch_ + 5-digit index) — out_dir is otherwise shared-safe, and
    # failures surface instead of being swallowed.
    import re as _re

    if os.path.isdir(out_dir):
        for d in os.listdir(out_dir):
            if _re.fullmatch(r"batch_\d{5}", d):
                shutil.rmtree(os.path.join(out_dir, d))
    staged = f"{out_dir}/_staged"
    # repartitionByRange: output partition p covers an LSN range strictly
    # below partition p+1's, and the part-file name embeds p — so a
    # name-sorted walk of each batch dir IS the LSN order of its files.
    # (A range partition straddling a batch boundary writes one contiguous
    # file into each side's dir; order still holds.)
    (
        feed.withColumn("_batch", batch_id)
        .repartitionByRange(n_batches * files_per_batch, F.col(lsn_col))
        .write.partitionBy("_batch")
        .mode("overwrite")
        .parquet(staged)
    )
    # Stamp mtimes strictly increasing in LSN order (batch-major, part-id
    # minor) WHILE THE FILES ARE STILL UNDER _staged — only then publish
    # via rename.  Stamping after publication would open a race with a
    # live continuous tail: the file source could list just-renamed files
    # still carrying their Spark-write mtimes (task-completion order, not
    # LSN order) and, at a sub-batch trigger grain, advance the exactly-once
    # watermark past unadmitted sibling files.
    #
    # Stamps anchor at NOW and step 5 ms per file on the millisecond grid
    # the file source compares at (no two files ever tie, even under float
    # accumulation).  Cross-call monotonicity: the forward overhang is
    # 5 ms x n_files PER CALL (seconds for very large feeds), so wall clock
    # alone is not quite enough when a fast sibling-tree write starts
    # within that overhang — the belt-and-braces scan below therefore
    # covers batch_* dirs in out_dir, in out_dir's parent, AND one level
    # under the parent's other children (the `tree/late/batch_*` and
    # `tree/{a,b,c}/batch_*` layouts), clamped to sane values so an
    # unrelated producer's absurd future stamps can't drag ours along.
    # A producer writing CONCURRENTLY into the same tree still needs a
    # checkpointed drain (seen-file tracking), like any multi-writer
    # file-source setup.
    staged_dirs = [
        (b, f"{staged}/_batch={b}")
        for b in range(n_batches)
        if os.path.isdir(f"{staged}/_batch={b}")
    ]
    all_files = [
        os.path.join(dp, fn)
        for _b, dp in staged_dirs
        for fn in sorted(os.listdir(dp))
        if fn.endswith(".parquet") and not fn.startswith(".")
    ]
    step = 0.005
    existing = 0.0

    def _scan_batch_dirs(root_dir: str) -> None:
        nonlocal existing
        try:
            for d in os.listdir(root_dir):
                if not _re.fullmatch(r"batch_\d{5}", d):
                    continue
                dp = os.path.join(root_dir, d)
                try:
                    for fn in os.listdir(dp):
                        existing = max(
                            existing, os.path.getmtime(os.path.join(dp, fn))
                        )
                except OSError:
                    pass
        except OSError:
            pass

    now = time.time()
    _scan_batch_dirs(out_dir)
    parent = os.path.dirname(out_dir.rstrip("/"))
    if parent and os.path.isdir(parent):
        _scan_batch_dirs(parent)
        try:
            for d in os.listdir(parent):
                dp = os.path.join(parent, d)
                if dp != out_dir.rstrip("/") and os.path.isdir(dp):
                    _scan_batch_dirs(dp)
        except OSError:
            pass
    # clamp: ignore stamps more than 60 s in the future (an unrelated
    # producer sharing the parent must not drag our stamps forward)
    if existing > now + 60.0:
        existing = now + 60.0
    # Marker files make cross-call monotonicity independent of the
    # fixed-depth directory scan above: each call records the LAST mtime it
    # stamped in `.changefeed_stamp_ms` at out_dir (self-appends) and, when
    # the caller passes ``stamp_root``, at that shared root too — so every
    # call sharing the root gets EXACT monotonicity at any nesting depth,
    # including forward overhangs (5 ms x n_files) that legitimately exceed
    # the 60 s scan clamp for very large feeds.  Markers are written ONLY to
    # dirs the caller owns (out_dir; stamp_root is the caller's explicit
    # opt-in) — never to implicit parents/grandparents, where an unrelated
    # producer's feed would both inherit our far-future stamps unclamped and
    # find our dotfiles in directories we don't own.  Without stamp_root,
    # sibling trees fall back to the clamped scan above (its depth/clamp
    # limits documented there).
    marker_dirs = [out_dir.rstrip("/")]
    if stamp_root:
        sr = stamp_root.rstrip("/")
        os.makedirs(sr, exist_ok=True)
        if sr not in marker_dirs:
            marker_dirs.append(sr)
    for d in marker_dirs:
        try:
            with open(os.path.join(d, ".changefeed_stamp_ms")) as fh:
                existing = max(existing, float(fh.read().strip()) / 1000.0)
        except (OSError, ValueError):
            pass
    base_ms = int(max(now, existing + step) * 1000) + 1
    for i, f in enumerate(all_files):
        t = (base_ms + int(step * 1000) * i) / 1000.0
        os.utime(f, (t, t))
    if all_files:
        last_ms = base_ms + int(step * 1000) * (len(all_files) - 1)
        for d in marker_dirs:
            with open(os.path.join(d, ".changefeed_stamp_ms"), "w") as fh:
                fh.write(str(last_ms))

    paths = []
    for b, src in staged_dirs:
        dst = f"{out_dir}/batch_{b:05d}"
        os.rename(src, dst)
        paths.append(dst)
    return paths
