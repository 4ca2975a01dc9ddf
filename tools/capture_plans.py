"""Capture .explain("formatted") for the named query slots, one file
per slot: <out_dir>/<slot>_<suffix>.txt.

Run from the repo root whose code should be captured (a checkout of the
parent revision for *_before.txt, HEAD for *_after.txt):

    python tools/capture_plans.py <out_dir> <suffix> <slot> [<slot> ...]

Uses the same session factory and data (sf0.1 unless
$SPARK_GRAFT_SF_DIR says otherwise) as bench.py so the plans
match what the bench measures. Building some of these DataFrames
executes bounded driver-side work by design (heavy-hitter candidate
collect, iterative graph rounds, the mart lifecycle); that is the same
work the bench times, so the captured plan is the plan of record.
"""

from __future__ import annotations

import datetime
import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, os.getcwd())

from sports_stats_data_pipeline_spark.plans import all_registries  # noqa: E402
from sports_stats_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _explain_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit("usage: capture_plans.py <out_dir> <suffix> <slot>...")
    out_dir = Path(sys.argv[1])
    suffix = sys.argv[2]
    slots = sys.argv[3:]
    queries = all_registries().queries
    unknown = [name for name in slots if name not in queries]
    if unknown:
        sys.exit(f"unknown slot(s): {', '.join(unknown)}")
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"capture-plans-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    stamp = datetime.datetime.now(datetime.timezone.utc).isoformat()
    for name in slots:
        df = queries[name](spark, SF_DIR)
        path = out_dir / f"{name}_{suffix}.txt"
        path.write_text(
            f"# {name} — explain('formatted') at "
            f"{os.path.basename(SF_DIR)}, {suffix}\n"
            f"# captured {stamp} by tools/capture_plans.py\n\n"
            + _explain_text(df)
        )
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
