"""Empirical scale probe (r6 verdict item 3): run the banded-rank
rewrites + the bench tier-1 suite against a 10x (sf1-shaped) fixture
(scripts/make_scale_fixture.py) and record TASK-LEVEL balance stats —
the plan lints prove the shuffle/window SHAPE; this run proves no
hidden driver-side or single-task blowup actually materializes.

Per query: wall seconds, then for every stage the run executed (read
from the Spark status REST API, quantiles endpoint): task count, task
duration median/max, and shuffle-read max. The headline check is
max-task <= 2x median-task on every stage with enough tasks for the
ratio to mean anything (small stages: a 3-task stage's max is
trivially its median's neighbor).

Usage: python scripts/scale_probe.py [fixture_dir] [--json out.json]
       [query_name ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from speculare_pgcdc_spark.queries import load_all  # noqa: E402
from speculare_pgcdc_spark.session import get_spark  # noqa: E402

#: the round-5/6 scale-killer rewrites (banded order statistics) plus
#: the q208 slope median that joined them this round
BANDED = [
    "q130_rfm_segmentation",
    "q184_lorenz_deciles",
    "q187_zipf_regression",
    "q194_exact_global_median",
    "q208_theil_sen_trend",
]

#: stages below this task count are excluded from the balance ratio
MIN_TASKS = 8

#: stages whose MEDIAN task is below this are "micro": their max/med
#: ratio measures scheduler/page-cache jitter, not data skew (the
#: SCALING.md §6m q96 scan-jitter class — observed ratios 2-5x on
#: stages whose absolute max is still tens of ms)
MICRO_MED_MS = 50


def _classify(med_ms: float, shuffle_read_max_b: int) -> str:
    """Stage class for the balance doctrine (r12 verdict item 6):
    only SHUFFLE-FED stages with non-micro medians measure plan skew;
    scan stages inherit file-split jitter and micro stages inherit
    scheduling jitter. Emitted per stage so probe artifacts carry the
    classification instead of per-round prose."""
    fed = "shuffle-fed" if shuffle_read_max_b > 0 else "scan"
    return f"{fed}-micro" if med_ms < MICRO_MED_MS else fed


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.load(r)


def probe(
    fixture: str,
    out_path: str | None,
    query_names: list[str] | None = None,
) -> None:
    # task granularity emulates a real cluster: at 100 TB a task gets a
    # bounded slice (~128 MB) of a huge table, so the probe shrinks the
    # slice instead of inflating the data 1000x — what matters for the
    # balance check is the max/median DISTRIBUTION across many tasks,
    # which local AQE would otherwise coalesce back to 1-2 tasks at
    # this fixture size and hide any skew
    extra = {
        "spark.ui.enabled": "true",
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            2 * 1024 * 1024
        ),
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": str(
            256 * 1024
        ),
    }
    if "--no-coalesce" in sys.argv:
        # skew-distribution mode: AQE's post-shuffle coalescing hides
        # per-key imbalance on fixtures small enough to fold into 1-2
        # tasks — pin the full 32-partition shuffle so the probe sees
        # the DISTRIBUTION the plan would have at scale (the
        # convention SKEW_PROBE_r11_scd2 was measured under)
        extra["spark.sql.adaptive.coalescePartitions.enabled"] = "false"
        extra["spark.sql.shuffle.partitions"] = "32"
    spark = get_spark(app_name="scale-probe", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    api = f"{base}/api/v1/applications/{app_id}"

    registry = load_all()
    if query_names:
        unknown = [n for n in query_names if n not in registry]
        if unknown:
            raise SystemExit(
                f"unknown query name(s): {unknown}; "
                f"usage: scale_probe.py [fixture_dir] [--json out.json] "
                f"[query ...]"
            )
        names = query_names
    else:
        tier1 = sorted(n for n, s in registry.items() if s.bench)
        names = BANDED + [n for n in tier1 if n not in BANDED]

    results: dict[str, dict] = {}
    seen_stages: set[int] = set()
    for s in _api(api, "/stages"):
        seen_stages.add(s["stageId"])

    for name in names:
        spec = registry[name]
        try:
            # one untimed warm run (footer decode, page cache, codegen
            # JIT — the bench methodology), then measure the second
            # run's stages only: first-touch scan stragglers are
            # local-mode artifacts, not plan skew
            spec.fn(spark, fixture).write.format("noop").mode(
                "overwrite"
            ).save()
            for s in _api(api, "/stages"):
                seen_stages.add(s["stageId"])
            t0 = time.perf_counter()
            spec.fn(spark, fixture).write.format("noop").mode(
                "overwrite"
            ).save()
            wall = round(time.perf_counter() - t0, 2)
        except Exception as ex:  # noqa: BLE001 - probe must finish
            results[name] = {"error": f"{type(ex).__name__}: {ex}"[:200]}
            continue
        stages = []
        worst = 0.0
        for s in _api(api, "/stages?status=complete"):
            sid = s["stageId"]
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            ntasks = s.get("numCompleteTasks", 0)
            if ntasks == 0:
                continue
            try:
                qs = _api(
                    api,
                    f"/stages/{sid}/0/taskSummary"
                    "?quantiles=0.5,1.0",
                )
                med_ms, max_ms = qs["executorRunTime"]
                sh_max = qs.get("shuffleReadMetrics", {}).get(
                    "readBytes", [0, 0]
                )[-1]
            except Exception:  # noqa: BLE001 - tiny stages 404 summary
                continue
            ratio = (
                round(max_ms / med_ms, 2) if med_ms > 0 else None
            )
            if ntasks >= MIN_TASKS and ratio is not None:
                worst = max(worst, ratio)
            stages.append(
                {
                    "stage": sid,
                    "tasks": ntasks,
                    "task_med_ms": round(med_ms),
                    "task_max_ms": round(max_ms),
                    "ratio": ratio,
                    "shuffle_read_max_b": int(sh_max),
                    "class": _classify(med_ms, int(sh_max)),
                }
            )
        # the skew headline: worst ratio over SHUFFLE-FED non-micro
        # stages only (the class the balance doctrine is about);
        # worst_ratio keeps every class for cross-round comparability
        worst_fed = max(
            (
                st["ratio"]
                for st in stages
                if st["class"] == "shuffle-fed"
                and st["tasks"] >= MIN_TASKS
                and st["ratio"] is not None
            ),
            default=None,
        )
        results[name] = {
            "wall_sec": wall,
            "worst_ratio": worst or None,
            "worst_ratio_shuffle_fed": worst_fed,
            "stages": stages,
        }
        big = [st for st in stages if st["tasks"] >= MIN_TASKS]
        print(
            f"{name:36s} {wall:7.2f}s  stages={len(stages):2d}  "
            f"worst max/med={worst or float('nan'):.2f} "
            f"(shuffle-fed {worst_fed if worst_fed else float('nan'):.2f}; "
            f"over {len(big)} stages with >= {MIN_TASKS} tasks)",
            flush=True,
        )

    if out_path:
        with open(out_path, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {out_path}")


if __name__ == "__main__":
    # strip the --json PAIR first so its value (which may well start
    # with 'q') can never be mistaken for a query name
    argv = [a for a in sys.argv[1:] if a != "--no-coalesce"]
    out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            raise SystemExit("--json requires an output path")
        out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    fixture = argv[0] if argv else "/tmp/scale10"
    probe(fixture, out, argv[1:] or None)
