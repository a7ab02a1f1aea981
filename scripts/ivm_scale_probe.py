"""Snapshot-consumer scale probe: hold the batch fixed, grow the
snapshot, and compare the two layouts ``start_matview_query`` reads.

STREAM_BENCH measures the consumer at snapshot == feed scale (sf0.1:
100k rows, 100k changes), where band confinement's write savings
cancel against its per-band overheads. The claim that matters at
100 TB is different: on the PLAIN layout the per-batch cost grows
with SNAPSHOT size (a snapshot-scale rewrite per batch), while on the
BANDED layout (write_banded_snapshot) the write grows only with the
TOUCHED-BAND count. This probe holds the batch fixed and grows the
snapshot 10x:

  snapshot = /tmp/scale10 events (10x rows, key range 10x wider)
  feed     = sf0.1-derived changes, txn-contiguous (keys cover only
             the low ~10% of the key range -> ~10% of bands touched,
             the WAL-locality shape a txn-ordered feed has natively)

Both layouts drain the same 4-microbatch feed, their runs interleaved
(plain, banded, plain, ...) so box drift hits both alike; integrity =
final view == full recompute of the final snapshot. Each row records
the touched-band count of every batch (banded) and how many batches
took the join path (a change set over LOOKUP_INLINE_MAX_ROWS).

Usage: python scripts/ivm_scale_probe.py [snap_src] [feed_sf]
       [--json out.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from speculare_pgcdc_spark.catalog import table as cat_table  # noqa: E402
from speculare_pgcdc_spark.cdc import apply  # noqa: E402
from speculare_pgcdc_spark.cdc.feedgen import (  # noqa: E402
    FEED_TABLES,
    lookup_df,
    write_feed,
)
from speculare_pgcdc_spark.cdc.pipeline import (  # noqa: E402
    normalize_hypertables,
    parse_wal2json,
)
from speculare_pgcdc_spark.session import get_spark  # noqa: E402
from speculare_pgcdc_spark.streaming.source import (  # noqa: E402
    file_change_feed,
)

IVM_COLS = {"event_id": "bigint", "event_type": "string",
            "value": "double"}
N_FILES = 8
FPT = 2  # 4 microbatches
N_RUNS = 3
N_BANDS = 32
MODES = ("plain", "banded")


def ivm_aggs():
    return [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("sv"),
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("paths", nargs="*", help="[snap_src] [feed_sf]")
    ap.add_argument("--json", dest="out_path")
    opts = ap.parse_args()
    args = opts.paths
    snap_src = args[0] if args else "/tmp/scale10"
    feed_sf = args[1] if len(args) > 1 else "/root/testdata/sf0.1"

    spark = get_spark(app_name="ivm-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ivm_scale_")
    feed_dir = os.path.join(work, "feed")
    write_feed(spark, feed_sf, feed_dir, num_files=N_FILES,
               contiguous=True)

    base = cat_table(spark, snap_src, "events").select(
        *[F.col(c).cast(t).alias(c) for c, t in IVM_COLS.items()]
    )
    n_snap = base.count()

    # per batch: the touched-band count stage_snapshot returns, and
    # whether the change set took the join path (apply_latest)
    batches: list[dict] = []
    real_stage, real_join = apply.stage_snapshot, apply.apply_latest

    def stage_spy(*a, **k):
        batches.append({"bands": None, "join": False})
        out = real_stage(*a, **k)
        batches[-1]["bands"] = None if out[2] is None else len(out[2])
        return out

    def join_spy(*a, **k):
        batches[-1]["join"] = True
        return real_join(*a, **k)

    apply.stage_snapshot, apply.apply_latest = stage_spy, join_spy

    rows = {m: {"wall_sec": [], "view_integrity": True} for m in MODES}
    for run in range(N_RUNS):
        for mode in MODES:
            snap, mv, ckpt = (os.path.join(work, f"{d}_{mode}_{run}")
                              for d in ("snap", "mv", "ckpt"))
            if mode == "banded":
                apply.write_banded_snapshot(base, snap, "event_id",
                                            n_bands=N_BANDS)
            else:
                base.write.parquet(snap)
            base.groupBy("event_type").agg(*ivm_aggs()).write.parquet(mv)
            stream = normalize_hypertables(
                parse_wal2json(file_change_feed(
                    spark, feed_dir, max_files_per_trigger=FPT
                ), delete_keys=True),
                lookup_df(spark),
            )
            batches.clear()
            t0 = time.perf_counter()
            q = apply.start_matview_query(
                stream, snap, mv, ckpt, "event_id", IVM_COLS,
                "event_type", ivm_aggs, tables=FEED_TABLES,
                available_now=True,
            )
            try:
                q.awaitTermination(1200)
            finally:
                q.stop()
            row = rows[mode]
            row["wall_sec"].append(round(time.perf_counter() - t0, 2))
            row["touched_bands_per_batch"] = [b["bands"] for b in batches]
            row["join_path_batches"] = sum(b["join"] for b in batches)
            final = apply.read_banded_snapshot(spark, snap)
            got = {r["event_type"]: (r["n"], str(r["sv"])) for r in
                   spark.read.parquet(mv).collect()}
            full = {r["event_type"]: (r["n"], str(r["sv"])) for r in
                    final.groupBy("event_type").agg(*ivm_aggs())
                    .collect()}
            row["view_integrity"] &= got == full
            if mode == "banded":
                row["final_band_dirs"] = len(apply.band_dirs(snap))
            for d in (snap, mv, ckpt):
                shutil.rmtree(d, ignore_errors=True)
            print(f"run {run} {mode}: {row['wall_sec'][-1]:.2f}s, "
                  f"touched bands {row['touched_bands_per_batch']}",
                  flush=True)

    for mode, row in rows.items():
        walls = row["wall_sec"]
        row["best_sec"] = min(walls)
        row["median_sec"] = sorted(walls)[len(walls) // 2]
        print(f"{mode}: best {row['best_sec']:.2f}s / med "
              f"{row['median_sec']:.2f}s over {n_snap}-row snapshot, "
              f"integrity={'ok' if row['view_integrity'] else 'FAIL'}",
              flush=True)
    report = {
        "_meta": {
            "purpose": (
                "hold the batch fixed, grow the snapshot: the plain "
                "layout's per-batch cost tracks snapshot size (full "
                "rewrite), the banded layout's tracks touched bands"
            ),
            "snapshot_src": snap_src,
            "snapshot_rows": n_snap,
            "feed_sf": feed_sf,
            "n_feed_files": N_FILES,
            "files_per_trigger": FPT,
            "n_bands": N_BANDS,
        },
        "modes": rows,
        "plain_over_banded": round(
            rows["plain"]["median_sec"] / rows["banded"]["median_sec"], 2
        ),
    }
    shutil.rmtree(work, ignore_errors=True)
    if opts.out_path:
        with open(opts.out_path, "w") as f:
            json.dump(report, f, indent=1)
        print(f"wrote {opts.out_path}")
    if not all(m["view_integrity"] for m in rows.values()):
        raise SystemExit("VIEW INTEGRITY FAILURE")


if __name__ == "__main__":
    main()
