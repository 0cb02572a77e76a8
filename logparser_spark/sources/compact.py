"""Post-load small-file compaction for the routed sinks.

Reference analog: the index rebuild after each load
(LogFileParser.java:727-821) — the maintenance pass that keeps read
performance flat as loads accumulate. SURVEY §4 maps it to Iceberg's
``rewrite_data_files``; this module is the rename-protocol stand-in for
the sandbox's raw-parquet sink (the Iceberg writer gets compaction for
free from the table service).

Why it matters at 100 TB: every committed chunk adds ~tasks x live-days
files per (category, day) partition, so a table loaded in daily chunks
accumulates thousands of small files per partition — scan planning,
footer reads and open() costs grow linearly while data doesn't.
Compaction rewrites each oversized partition into
ceil(bytes / target_file_bytes) files.

Crash-safe protocol (same shape as the chunk commit protocol —
prefix-named files + manifest as the commit point):

1. finish any PENDING DELETES from compactions that committed but
   crashed before removing their source files (idempotent);
2. roll back promoted files of any compaction id NOT in the manifest
   (a crash before commit leaves only prefix-identifiable garbage);
3. per oversized partition (concurrently): rewrite ONLY
   committed-generation files to staging and verify footer row counts
   (staged == old) there — a failure in any partition aborts with
   every live directory untouched. Files of an UNcommitted chunk (a
   load that crashed between promote and its manifest commit) are
   never compaction sources: baking them into a compacted file would
   survive the resume's chunk rollback and duplicate the chunk's rows
   when it is re-processed;
4. promote every partition's verified files with the
   ``compact-NNNNN-`` prefix (serial; an exception mid-promote removes
   the files already promoted, and a hard crash leaves only
   uncommitted-prefix files that step 2 heals next run);
5. commit ONE manifest record carrying the rewrite lineage (per
   partition: old files, new file count, rows);
6. delete the old files. A crash inside 6 is healed by 1 next run.

Readers between 4 and 5 can observe a partition twice (both file
generations) — run compaction between loads/query windows, exactly like
the reference's rebuild. Iceberg's snapshot swap removes even that
window; the protocol here is the strongest a rename-only filesystem
sink offers.
"""

from __future__ import annotations

import glob
import math
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from logparser_spark.plans.checkpoint import Manifest
from logparser_spark.sources.sinks import footer_row_count, footer_schema

_COMPACT_RX = re.compile(r"^(compact-\d{5})-")
# every live data file carries its generation prefix (a batch chunk
# id, a stream micro-batch id or a compaction id) — the commit unit of
# both protocols. Five digits or more: a stream's batch ids outgrow
# the zero padding (a 1 s trigger passes 99,999 in about 28 hours)
_GEN_RX = re.compile(r"^((?:chunk|compact|stream)-\d{5,})-")
# codec-default zstd level: a rewrite is off the load path, so it
# trades the writer's level-1 speed for smaller files
COMPRESSION = "zstd"
# partition rewrites submitted at once from driver threads
MAX_CONCURRENT = 8


def _data_dir(out_root: str) -> str:
    return os.path.join(out_root, "data")


def _partition_dirs(out_root: str) -> list[str]:
    return sorted(
        d
        for d in glob.glob(os.path.join(_data_dir(out_root), "*", "*"))
        if os.path.isdir(d)
    )


def _finish_pending_deletes(out_root: str, done: dict) -> int:
    """Complete committed compactions' source-file deletes (step 5 of a
    previous run that crashed mid-delete). Idempotent."""
    n = 0
    for rec in done.values():
        if rec.get("kind") != "compaction":
            continue
        for rel in rec.get("old_files", []):
            p = os.path.join(out_root, rel)
            if os.path.exists(p):
                os.remove(p)
                n += 1
    return n


def _rollback_uncommitted(out_root: str, done: dict) -> int:
    """Remove promoted files of compaction ids missing from the
    manifest (crash between promote and commit)."""
    n = 0
    for f in glob.glob(
        os.path.join(_data_dir(out_root), "**", "compact-*.parquet"), recursive=True
    ):
        m = _COMPACT_RX.match(os.path.basename(f))
        if m and m.group(1) not in done:
            os.remove(f)
            n += 1
    return n


def compact_sinks(
    spark: SparkSession,
    out_root: str,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Rewrite every (category, day) partition holding more parquet
    files than its data needs into ceil(bytes / target_file_bytes)
    files. Returns a summary dict (also committed to the manifest).

    Query results are byte-identical before/after (footer-verified row
    counts per partition in staging, before any live-directory change;
    content equality is pinned in tests). Resume stays valid: chunk
    manifest records are untouched, and files of uncommitted chunks are
    excluded from compaction sources (left in place for the resume's
    chunk rollback), so a chunk is never both baked into a compacted
    file AND re-processed.

    Scale posture: one coalesce-write job per oversized partition,
    submitted concurrently from driver threads (same pattern as
    run_aggregates) — each job reads only that partition's files. On an
    Iceberg deployment replace this module with
    ``CALL rewrite_data_files(strategy => 'binpack')``; the manifest
    record shape is the same lineage either way.
    """
    manifest = Manifest(out_root)
    done = manifest.completed_chunks()
    healed = _finish_pending_deletes(out_root, done)
    rolled_back = _rollback_uncommitted(out_root, done)

    n_compactions = sum(1 for r in done.values() if r.get("kind") == "compaction")
    compact_id = f"compact-{n_compactions:05d}"

    plans = []  # (partition_dir, old_files, n_out)
    for pdir in _partition_dirs(out_root):
        # only committed generations: an uncommitted chunk's files must
        # stay untouched so the resume's remove_chunk rollback (followed
        # by re-processing) doesn't duplicate rows already baked into a
        # compacted file
        files = sorted(
            f
            for f in glob.glob(os.path.join(pdir, "*.parquet"))
            if (m := _GEN_RX.match(os.path.basename(f))) and m.group(1) in done
        )
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(total / target_file_bytes))
        if len(files) <= n_out:
            # already at or below the target layout (n_out >= 1, so an
            # empty or single-file partition is never rewritten)
            continue
        plans.append((pdir, files, n_out))

    staging = os.path.join(out_root, "_staging", compact_id)
    if os.path.exists(staging):
        shutil.rmtree(staging)

    # Spark job-group/description are THREAD-local properties: jobs
    # submitted from pool workers would escape the caller's job group
    # (progress sampling + cancel_job_group would miss them), so capture
    # the caller's group here and re-set it inside each worker.
    sc = spark.sparkContext
    _group = sc.getLocalProperty("spark.jobGroup.id")
    _desc = sc.getLocalProperty("spark.job.description")
    _interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")

    def rewrite(plan):
        """Rewrite one partition into staging and verify it THERE —
        no live directory is touched, so a failure in any partition
        (this thread or a sibling) aborts the whole compaction with
        every partition intact."""
        if _group is not None:
            sc.setJobGroup(_group, _desc, _interrupt == "true")
        pdir, files, n_out = plan
        rel = os.path.relpath(pdir, _data_dir(out_root))
        stage = os.path.join(staging, rel)
        # read the leaf files directly (partition cols live in the dir
        # name, not the rows) and bin-pack to n_out files; the footer
        # schema spares one schema-inference job per partition
        (
            spark.read.schema(footer_schema(files[0]))
            .parquet(*files)
            .coalesce(n_out)
            .write.mode("overwrite")
            .option("compression", COMPRESSION)
            .parquet(stage)
        )
        staged_files = sorted(glob.glob(os.path.join(stage, "*.parquet")))
        old_rows = footer_row_count(files)
        new_rows = footer_row_count(staged_files)
        if new_rows != old_rows:
            raise RuntimeError(
                f"compaction row mismatch in {rel}: {new_rows} != {old_rows}"
            )
        return rel, pdir, files, staged_files, old_rows

    results = []
    promoted: list[str] = []
    try:
        staged = []
        if plans:
            with ThreadPoolExecutor(
                max_workers=min(MAX_CONCURRENT, len(plans))
            ) as pool:
                # pool.map re-raises the first worker exception -> the
                # promote phase below never runs on a partial rewrite
                staged = list(pool.map(rewrite, plans))
        # promote phase: every partition verified, now swap names in
        for rel, pdir, files, staged_files, old_rows in staged:
            new_files = []
            for src in staged_files:
                dst = os.path.join(pdir, f"{compact_id}-{os.path.basename(src)}")
                os.replace(src, dst)
                promoted.append(dst)
                new_files.append(dst)
            results.append((rel, files, new_files, old_rows))
    except BaseException:
        # an exception mid-promote (or in any rewrite) must not leave a
        # partition readable twice: remove whatever this run promoted
        # (a hard crash instead is healed by _rollback_uncommitted next
        # run — the id is not yet in the manifest)
        for f in promoted:
            try:
                os.remove(f)
            except OSError:
                pass
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)

    summary = {
        "chunk_id": compact_id,
        "kind": "compaction",
        "partitions_rewritten": len(results),
        "healed_pending_deletes": healed,
        "rolled_back_files": rolled_back,
        "partitions": {
            rel: {"old_files": len(olds), "new_files": len(news), "rows": rows}
            for rel, olds, news, rows in results
        },
        # relative paths so the record is portable; these are the
        # pending deletes a crash before step 5 leaves behind
        "old_files": [
            os.path.relpath(f, out_root) for _, olds, _, _ in results for f in olds
        ],
    }
    if results:
        # commit point: from here the new files are the truth
        manifest.commit_chunk(summary)
        for _, olds, _, _ in results:
            for f in olds:
                os.remove(f)
    return summary
