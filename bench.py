"""Benchmark runner: times every registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Measurement strategy (round 2 — fixes the round-1 artifact):

This host is a microVM with proactive memory reclaim (DAMON) that
randomly evicts cold JVM pages, producing multi-second refault
stalls unrelated to query cost. Round 1 ran each query back-to-back
(min-of-2) under a soft budget that degraded the tail to single-run,
so one stall permanently polluted that query's number.

Round 2 interleaves instead: run ALL queries once (pass 1), then ALL
again (pass 2), etc., and report the per-query MIN across passes.
A stall lands in one pass of one query; the other pass(es) supply the
steady-state number. The first two passes always complete regardless
of the soft budget — every query is guaranteed min-of-2 — and a third
pass runs if the budget allows, giving min-of-3 to the whole set.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from clickstreamtoclickhouse_spark import plans  # noqa: E402
from clickstreamtoclickhouse_spark.session import get_spark  # noqa: E402

GUARANTEED_PASSES = 2  # always run, budget or not: min-of-2 floor
MAX_PASSES = int(os.environ.get("BENCH_PASSES", "3"))


def run_pass(
    spark,
    sf_dir: str,
    names: list[str],
    timings: dict[str, float],
    passes: dict[str, list[float]],
    n: int,
) -> None:
    for name in names:
        t0 = time.perf_counter()
        # noop sink forces full JVM-side execution with zero
        # serialization to Python (collect would bottleneck the driver)
        plans.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - t0
        prev = timings.get(name, float("inf"))
        timings[name] = min(prev, elapsed)
        passes.setdefault(name, []).append(round(elapsed, 3))
        print(f"# pass{n} {name}: {elapsed:.2f}s (best {timings[name]:.2f}s)",
              file=sys.stderr, flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    # JVM/session warmup outside the timed region (driver pays this
    # once per cluster, not per query)
    plans.load(spark, sf_dir, "lineitem").count()

    deadline = time.perf_counter() + float(os.environ.get("BENCH_BUDGET_SEC", "600"))
    names = sorted(plans.QUERIES)
    timings: dict[str, float] = {}
    # per-pass history (pass 1 = cold, later = warm): min-of-N collapses
    # exactly the signal that exposes a session-cache failure (a cached
    # query whose warm pass costs as much as its cold one), so the full
    # artifact keeps every pass — see the r11 hybrid_search_rrf post-mortem
    passes: dict[str, list[float]] = {}
    for p in range(1, MAX_PASSES + 1):
        if p > GUARANTEED_PASSES and time.perf_counter() > deadline:
            break
        run_pass(spark, sf_dir, names, timings, passes, p)

    timings = {k: round(v, 3) for k, v in timings.items()}
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full per-query detail goes to a file; the stdout line must stay
    # under the harness's ~2 KB output-tail capture or it is truncated
    # mid-line and fails to parse (this is what happened to round 2's
    # BENCH artifact). Print the slowest queries inline until a ~1800
    # char budget is hit; `omitted` counts the fast ones left out, and
    # BENCH_FULL.json always carries everything.
    full = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "passes": passes,
        "sf": sf_val,
    }
    # attach the 10x-rows scale probe if scripts/sf_probe.py has run
    probe_path = Path(__file__).resolve().parent / "SF1_PROBE.json"
    if probe_path.exists():
        try:
            full["sf1_probe"] = json.loads(probe_path.read_text())
        except (OSError, json.JSONDecodeError) as e:
            # a truncated probe file must be visible, not silently
            # published as "probe never ran"
            print(f"# WARNING: SF1_PROBE.json unreadable, omitted: {e}",
                  file=sys.stderr)
    full_path = Path(__file__).resolve().parent / "BENCH_FULL.json"
    full_path.write_text(json.dumps(full, indent=1) + "\n")

    inline: dict[str, float] = {}
    by_cost = sorted(timings, key=timings.get, reverse=True)
    for name in by_cost:
        candidate = {**inline, name: timings[name]}
        line = json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": dict(sorted(candidate.items())),
                "n_queries": len(timings),
                "omitted": len(timings) - len(candidate),
                "full": "BENCH_FULL.json",
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
        if len(line) > 1800:
            break
        inline = candidate

    # registry-wide cache teardown: release every session cache's
    # localCheckpoints before stopping (the documented memory-ceiling
    # contract for multi-dir sessions; see util.evict_session_caches).
    # This MUST happen before the final JSON print: the unpersist emits
    # JVM WARN lines on stderr/stdout, and in round 11 those lines landed
    # AFTER the JSON, pushing it out of the driver's fixed-size tail
    # capture (BENCH_r11.json came back with "parsed": null).
    # Teardown must never suppress the result line: the eviction path is
    # exactly the WARN-spewing code that motivated the reordering, so a
    # teardown exception here would lose the stdout artifact entirely.
    from clickstreamtoclickhouse_spark.util import evict_session_caches

    try:
        evict_session_caches()
        spark.stop()
    except Exception as e:  # noqa: BLE001 — log and continue to the print
        print(f"# WARNING: bench teardown failed (result line unaffected): {e}",
              file=sys.stderr, flush=True)

    print(
        json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": dict(sorted(inline.items())),
                "n_queries": len(timings),
                "omitted": len(timings) - len(inline),
                "full": "BENCH_FULL.json",
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
