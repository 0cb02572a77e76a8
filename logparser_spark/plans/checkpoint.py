"""Lineage manifest + resume logic.

Reference analog: the freshness check that skips a re-parse when the
sink already holds the file's data (LogFileParser.java:975-1047),
generalized to per-chunk granularity per the north rule.

The manifest is an append-only JSONL file; one record per committed
chunk carrying lineage (exact input files), row counts per category,
and throughput metrics. A chunk is the unit of resume: on restart,
committed chunks are skipped; a chunk that crashed after writing some
sink files but before its manifest record is rolled back by filename
prefix (MultiSinkWriter.remove_chunk) and re-run — end state identical
to an uninterrupted run (tested).

Commits are O(1): one appended line + fsync per chunk (a rewrite-whole-
file commit is O(n) per chunk = O(n²) total manifest I/O across a load
with thousands of chunks — a measurable driver stall at the target
scale). Torn-write invariant: a crash mid-append can only tear the
FINAL line and a torn write never includes its trailing newline (the
newline is the record's last byte), so "unparseable final line with no
trailing newline" = that chunk never committed — the reader skips it
and the chunk is rolled back and re-run, identical to crashing just
before the commit. The next commit TRUNCATES the fragment before
appending, so every interior line is always a complete committed
record; an unparseable interior (or newline-terminated) line can
therefore only mean external corruption of a COMMITTED record, and the
reader raises loudly instead of silently re-ingesting a chunk whose
sink files may since have been compacted away (silent duplicates).

Two boundary cases of that invariant, both resolved toward fail-safe:

- PAGE ATOMICITY. "A torn write never includes its trailing newline"
  assumes the OS persists an appended record's pages in order. After a
  crash with no completed fsync, a record spanning a page boundary can
  in principle land newline-terminated but interior-garbled — which
  this reader counts as corruption of a committed record and refuses to
  resume, turning a benign never-committed record into a manual step.
  That is the right trade for <4 KB records (the common case fits one
  page; the alternative — silently re-running the chunk — risks
  duplicate rows when the garbling hit a genuinely committed record).
  The raised error says so: deleting the final line by hand IS the
  valid recovery when the operator knows the record was mid-commit.
- LEGACY FORMAT. Writers before the truncate-on-commit change
  newline-TERMINATED torn fragments instead of truncating them, so a
  manifest carrying such a crash artifact now parses as a corrupted
  interior line and refuses to resume. Indistinguishable from real
  corruption by construction; same manual recovery (delete the line —
  its chunk was never committed under the old writer either).
"""

from __future__ import annotations

import json
import os


class Manifest:
    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "manifest.jsonl")
        os.makedirs(root, exist_ok=True)

    def completed_chunks(self) -> dict[str, dict]:
        done = {}
        if not os.path.exists(self.path):
            return done
        with open(self.path, "rb") as f:
            data = f.read()
        lines = data.split(b"\n")
        for i, ln in enumerate(lines):
            ln = ln.strip()
            if not ln:
                continue
            try:
                rec = json.loads(ln)
            except ValueError:
                if i == len(lines) - 1 and not data.endswith(b"\n"):
                    # torn append from a crash mid-commit: the record
                    # never committed; its chunk re-runs after the
                    # usual filename-prefix rollback
                    continue
                # an interior (or newline-terminated) line can only be
                # a COMMITTED record damaged after the fact — its chunk
                # must NOT silently re-run (its files may have been
                # compacted away, so rollback would delete nothing and
                # every row would be ingested twice)
                raise ValueError(
                    f"manifest {self.path} line {i + 1} is corrupted; "
                    "a committed record is unreadable — refusing to "
                    "resume (re-ingesting its chunk would duplicate "
                    "rows). Restore the manifest or re-create the sink. "
                    "If this is the FINAL line and the writer crashed "
                    "mid-commit (a page-boundary torn write, or a "
                    "pre-truncate-format writer that newline-terminated "
                    "its fragment), the record never committed and "
                    "deleting that line is the valid recovery."
                )
            done[rec["chunk_id"]] = rec
        return done

    def commit_chunk(self, record: dict) -> None:
        line = (json.dumps(record, sort_keys=True) + "\n").encode()
        with open(self.path, "ab") as f:
            # drop a torn fragment left by a crashed commit (fragments
            # never end in \n — the newline is each record's last byte)
            # so the invariant holds: every line except possibly the
            # very last is a complete committed record
            size = f.tell()
            if size > 0:
                with open(self.path, "r+b") as r:
                    r.seek(-1, os.SEEK_END)
                    if r.read(1) != b"\n":
                        r.truncate(self._last_newline_end(r, size))
            f.write(line)
            f.flush()
            os.fsync(f.fileno())

    @staticmethod
    def _last_newline_end(f, size: int) -> int:
        """Offset just past the last newline in the file (0 if none),
        scanning backwards in bounded blocks — commits stay O(record),
        not O(file)."""
        block = 65536
        end = size
        while end > 0:
            start = max(0, end - block)
            f.seek(start)
            buf = f.read(end - start)
            pos = buf.rfind(b"\n")
            if pos != -1:
                return start + pos + 1
            end = start
        return 0
