"""Replay orchestrator: changelog window → LWW dedup → schema reconcile →
MERGE → atomic checkpoint advance.

This is the Spark re-expression of the reference's transaction lifecycle
(SURVEY.md §3.1): validate/plan window → discover schema → ingest → advance
``ConfigDiff``. One ``replay()`` call = one Embulk "transaction"; each inner
slice = one bulk-export window (``MarketoBaseBulkExtractInputPlugin.java:
140-175``), except slices here run through Spark's distributed plan instead of
a single-threaded CSV loop (the reference's data plane is one task,
``MarketoBaseInputPluginDelegate.java:104-108``).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from embulk_input_marketo_spark.checkpoint import batch_id_for, resume_hwm
from embulk_input_marketo_spark.lake import fsio
from embulk_input_marketo_spark.lake.merge import (
    MergeResult,
    StagedMerge,
    commit_staged_merge,
    merge_batch,
    stage_merge,
)
from embulk_input_marketo_spark.lake.table import LakeTable
from embulk_input_marketo_spark.operators.dedup import lww_dedup
from embulk_input_marketo_spark.operators.windows import bounded_scan, slice_range
from embulk_input_marketo_spark.registry import SchemaRegistry


@dataclass
class ReplayReport:
    batches: list[MergeResult] = field(default_factory=list)
    start_hwm: int = -1
    end_hwm: int = -1

    @property
    def rows_merged(self) -> int:
        """Rows written by applied merge commits (raw for mor appends,
        post-dedup for cow)."""
        return sum(b.rows_in for b in self.batches if b.applied)

    @property
    def events_applied(self) -> int:
        """Raw changelog events consumed (hwm advance) — the throughput
        numerator for the change-events/sec metric."""
        return max(self.end_hwm - self.start_hwm, 0)


def replay(
    spark: SparkSession,
    changelog: DataFrame,
    table: LakeTable,
    batch_span: int = 1_000_000,
    n_slices: int | None = None,
    salt_buckets: int | None = None,
    mode: str = "mor",
    compact_threshold: int = 8,
    extract_text_from_html: bool = False,
    registry: SchemaRegistry | None = None,
    max_batches: int | None = None,
    on_batch: Callable[[MergeResult], Any] | None = None,
    pipeline: bool = False,
    bloom_fast_path: bool = False,
) -> ReplayReport:
    """Replay the changelog into the table from the committed checkpoint.

    - The job-start snapshot of ``max(lsn)`` clamps the run (C1): events that
      arrive mid-replay wait for the next run.
    - The window splits into ≤``batch_span`` half-open slices (C2); each is
      LWW-deduped, schema-reconciled and merged with an idempotent batch_id —
      killing the process anywhere and re-running converges (C3/C7).
    - mor slices are staged (lake/merge.stage_merge) and then committed
      (commit_staged_merge). ``pipeline`` (mor only, ignored when a
      ``registry`` is given) hands each commit to one side thread, so slice
      k's commit bookkeeping (footer stats, manifest build, fsync; on a
      cluster the catalog round-trip) runs under slice k+1's write job.
      Those are absolute driver costs that surface as idle at wide
      parallelism — measured 10-15% of replay wall at 8 cores, which is why
      the option is kept. On a 4-core host at 3 slices the overlap does not
      pay for itself: perfbench/README.md measured ``backfill_sequential``
      9% faster than ``bulk_backfill``. Commits publish strictly in slice
      order, so crash and rerun semantics are the inline path's; an
      uncommitted staged dir is invisible (expiry's in-flight guard skips
      it).
    - ``bloom_fast_path`` (cow mode with key blooms enabled): probe each
      slice's keys against the per-bucket blooms before the fold — buckets
      whose keys are all provably absent append instead of read+rewrite
      (``lake/merge.merge_batch``). The insert-heavy crawl-frontier knob;
      a no-op for mor (mor never reads base data on merge).
    """
    hwm = resume_hwm(table)
    row = changelog.agg(F.max("lsn").alias("mx")).collect()[0]
    max_lsn = row["mx"] if row["mx"] is not None else -1
    if max_lsn <= hwm:
        # skip-batch guard (C7): nothing new, keep state
        return ReplayReport(start_hwm=hwm, end_hwm=hwm)
    if n_slices is not None:
        # derive the span from the lsn bounds this function already computed —
        # callers wanting "K slices" need no extra count() scan of their own
        batch_span = max(-(-(max_lsn - hwm) // n_slices), 1)
    slices = list(slice_range(hwm, max_lsn, batch_span))[:max_batches]

    overlap = pipeline and mode == "mor" and registry is None
    report = ReplayReport(start_hwm=hwm, end_hwm=hwm)
    m0 = table.manifest()
    staged_by_idx: dict[int, StagedMerge] = {}  # staged, not yet consumed

    def record(hi: int, result: MergeResult) -> None:
        report.batches.append(result)
        if result.applied:
            report.end_hwm = hi
        if on_batch:
            on_batch(result)

    def do_commit(i: int, staged: StagedMerge) -> None:
        lo, hi = slices[i]
        try:
            result = commit_staged_merge(
                spark, table, staged,
                batch_id=batch_id_for(table.path, lo, hi),
                mode=mode,
                compact_threshold=compact_threshold,
                checkpoint={"hwm_lsn": hi},
                window=(lo, hi),
                lineage={"lsn_lo": lo, "lsn_hi": hi, "source": "changelog"},
                salt_buckets=salt_buckets,
            )
        except BaseException:
            # a commit that failed AFTER publishing the stage (e.g. in its
            # auto-compaction) consumed the dir — an inline stage is
            # published in place, so it must not be reclaimed. Anything
            # earlier leaves the claim for the cleanup below
            if table.current_version() >= staged.label:
                staged_by_idx.pop(i, None)
            raise
        staged_by_idx.pop(i, None)  # published, or reclaimed by the commit
        record(hi, result)

    pending = None
    try:
        with ThreadPoolExecutor(max_workers=1) as commit_pool:
            for i, (lo, hi) in enumerate(slices):
                if registry is not None:
                    registry.reconcile(table, up_to_lsn=hi)
                m = m0 if overlap else table.manifest()
                batch, derive = _project_slice(
                    bounded_scan(changelog, lo, hi), m, extract_text_from_html,
                    mode,
                )
                if mode == "cow":
                    # CoW folds base data every commit — pre-reduce to one row
                    # per key first so the union the merge reduces over stays
                    # small
                    batch = lww_dedup(
                        batch,
                        key_cols=m.key_col,
                        order_cols=[m.lww_major, "_lsn"],
                        salt_buckets=salt_buckets,
                    )
                    result = merge_batch(
                        spark,
                        table,
                        batch,
                        batch_id=batch_id_for(table.path, lo, hi),
                        salt_buckets=salt_buckets,
                        mode=mode,
                        compact_threshold=compact_threshold,
                        checkpoint={"hwm_lsn": hi},
                        window=(lo, hi),
                        lineage={"lsn_lo": lo, "lsn_hi": hi,
                                 "source": "changelog"},
                        derive=derive,
                        bloom_fast_path=bloom_fast_path,
                    )
                    record(hi, result)
                    continue
                # mor: append raw (LSM-style); the threshold compaction +
                # read-time reduce own the dedup work, amortized and parallel.
                # An overlapped stage is labeled with headroom: each in-order
                # commit advances ≤2 versions (merge + auto-compaction) and at
                # most one commit is in flight, so +3 per slice keeps every
                # UNCOMMITTED staging dir above the committed frontier — the
                # property expiry's in-flight-writer guard relies on. The
                # commit renames the dir to the version it actually lands at
                # (inline, the default label already is that version).
                staged_by_idx[i] = staged = stage_merge(
                    spark, table, batch, manifest=m, salt_buckets=salt_buckets,
                    derive=derive,
                    label=m.version + 3 * (i + 1) if overlap else None,
                )
                if overlap:
                    if pending is not None:
                        pending.result()  # surface commit errors before going on
                    pending = commit_pool.submit(do_commit, i, staged)
                else:
                    do_commit(i, staged)
            if pending is not None:
                pending.result()
    finally:
        # the pool's exit waited for any in-flight commit (threads can't be
        # cancelled mid-write); an error path must not leak a staged dir
        # that no commit attempt consumed
        for s in staged_by_idx.values():
            if s.staging:
                fsio.remove_dir(s.staging)
    return report


def _project_slice(
    window_df: DataFrame,
    m: Any,
    extract_text_from_html: bool,
    mode: str,
) -> tuple[DataFrame, dict[str, Any] | None]:
    """One slice's schema discipline: rename-log translation, projection to
    the current schema, and the deferred-text derive hook.

    - inbound rows may still carry pre-rename column names (a source that
      lags the registry); translate through the rename log
    - project to current schema (+op); unknown inbound columns dropped,
      missing ones padded with typed nulls, types cast — the
      included_fields ∩ describe discipline
      (LeadServiceResponseMapperBuilder.java:47-76)"""
    cur_fields = m.current_schema().fields
    for r in m.renames:
        if r["old"] in window_df.columns and r["new"] not in window_df.columns:
            window_df = window_df.withColumnRenamed(r["old"], r["new"])
    proj = []
    inbound = dict(zip(window_df.columns, window_df.schema.fields))
    for f_ in cur_fields:
        if f_.name in inbound:
            c = F.col(f_.name)
            if inbound[f_.name].dataType != f_.dataType:
                c = c.cast(f_.dataType)
            proj.append(c.alias(f_.name))
        else:
            proj.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    batch = window_df.select(*proj, F.col("op"), F.col("lsn").alias("_lsn"))
    derive = None
    if extract_text_from_html and "text" in [f.name for f in cur_fields]:
        # the engine's own text derivation (input_hint §2.8): one Catalyst
        # expression over the html payload, byte-identical per url to the
        # oracle's expected text, with no Python worker in the stage
        from embulk_input_marketo_spark.functions.textops import extract_text

        if mode == "mor":
            # defer to the write tasks (stage_merge derive=) so the
            # bucket shuffle carries a null placeholder, not a second
            # copy of ~the html bytes — shuffle width is the engine's
            # memory-bandwidth hot spot at high core counts
            derive = {"text": extract_text(F.col("html"))}
            batch = batch.withColumn("text", F.lit(None).cast("string"))
        else:
            batch = batch.withColumn("text", extract_text(F.col("html")))
    return batch, derive
