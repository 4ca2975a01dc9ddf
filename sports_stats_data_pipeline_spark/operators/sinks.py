"""Crash-safe replacement of, and appends to, a parquet sink directory.

Parquet has no transactional MERGE (that is Delta's job at production
scale); this is the no-Delta stand-in shared by the batch scrape ingest
(sources.scrape_pipeline), the streaming upsert (streaming.pipeline) and
the other staged writers. Replacing a sink:

    write ``<sink>.staging`` → rename live aside to ``<sink>.old`` →
    promote staging → drop ``.old``

The protocol guarantees CRASH-RECOVERABILITY, not continuous read
availability: between the two renames the live path briefly does not
exist (a concurrent reader can see FileNotFoundError for that instant),
but a crash at ANY point leaves a state from which :func:`recover_sink`
restores a complete sink — previously merged rows are never lost. The
old rmtree-then-rename approach had a window where a crash lost the
entire sink and a replayed batch would rebuild from itself alone.

Insert-only sinks (the scrape ingest after its first round, the
streaming upsert and the near-dup store after their first batch) do not
rewrite the live sink at all — a run costs O(Δ), not O(sink) — and use
the append protocol of :func:`append_staging`:

    write only the new rows to ``<sink>.staging`` → move its part files
    into the live sink under a unique per-run prefix → drop staging

Each move is one atomic rename, but the moves are not atomic as a
group. Crash contract: a crash leaves the live sink holding every old
row plus the new rows of the files already moved, each row whole;
:func:`recover_sink` discards the leftover staging dir, and the next
run re-derives the rows not yet moved, because their keys are still
absent from the sink. This holds for any writer whose rows are
independent per key and whose run anti-joins the sink's keys before
writing — a partly visible run can then neither duplicate nor lose a
key.
"""

from __future__ import annotations

import os
import shutil


def promote_staging(sink_path: str) -> None:
    """Promote a fully-written ``<sink>.staging`` dir to the live sink:
    rename live aside to ``.old`` (never rmtree it first), promote
    staging, then drop ``.old``."""
    old = sink_path + ".old"
    if os.path.exists(sink_path):
        os.rename(sink_path, old)
    os.rename(sink_path + ".staging", sink_path)
    if os.path.exists(old):
        shutil.rmtree(old)


def append_staging(sink_path: str, prefix: str) -> None:
    """Append a fully-written ``<sink>.staging`` dir to the live sink:
    move each of its non-empty parquet part files into the sink as
    ``<prefix><name>``, then drop staging. ``prefix`` must be unique per
    run (a part file name is only unique within one write).

    A zero-row part file carries only the schema, which the live sink
    already has, so it is not moved: a run that adds nothing leaves the
    sink's file list unchanged. The crash contract is in the module
    docstring."""
    import pyarrow.parquet as pq

    staging = sink_path + ".staging"
    for f in sorted(os.listdir(staging)):
        src = os.path.join(staging, f)
        if f.endswith(".parquet") and pq.read_metadata(src).num_rows:
            os.rename(src, os.path.join(sink_path, prefix + f))
    shutil.rmtree(staging)


def recover_sink(sink_path: str) -> None:
    """Restore the newest complete sink from whatever combination of
    ``.staging``/``.old`` a crash left behind.

    Invariant the protocol maintains: the live dir is only renamed to
    ``.old`` AFTER the staging write completed — so if the live dir is
    missing and ``.old`` exists, staging is complete and can be promoted;
    a ``.staging`` left while the live dir exists is an unfinished write
    and is discarded.
    """
    tmp, old = sink_path + ".staging", sink_path + ".old"
    if not os.path.exists(sink_path):
        if os.path.exists(tmp) and os.path.exists(old):
            # crashed between the two renames: staging was complete.
            os.rename(tmp, sink_path)
            shutil.rmtree(old)
        elif os.path.exists(old):
            os.rename(old, sink_path)
    elif os.path.exists(old):
        # crashed before cleanup; the live dir is the newer state.
        shutil.rmtree(old)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
