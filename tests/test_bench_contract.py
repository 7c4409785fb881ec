"""Pins for bench.py's driver-facing contract (round 13).

The driver records only a ~2 KB stdout tail and parses the final JSON
line, so the bench's printed summary must stay compact while the full
per-query record persists to BENCH_LOCAL.json (VERDICT r12 item 2a).
The artifact-warmup lanes must partition ARTIFACT_WARMUP exactly —
same queries warmed, just scheduled concurrently (VERDICT r12 item 7).
The frozen comparable subsets must keep their exact names and order.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench


def test_warmup_lanes_partition_artifact_warmup():
    lane_names = [n for lane in bench.WARMUP_LANES for n in lane]
    assert len(lane_names) == len(set(lane_names)), "duplicate in lanes"
    assert set(lane_names) == set(bench.ARTIFACT_WARMUP)


#: (length, sha256 of the comma-joined names) of each frozen subset.
#: The subsets are HEADLINE slices, so this pins HEADLINE's first 169
#: entries: an edit, reorder or insert there changes a digest.
FROZEN_SUBSET_PINS = {
    "COMPARABLE_R3": (
        22, "39da19a1eb0e23cc050d8348d06ba8c7dc5656bf156ad55d5c2416f99a579caa"
    ),
    "COMPARABLE_R4": (
        55, "bbe022585b1b5e3684cbc9f6f1a536a4dd4d2f702c655d246438f7e205324f2d"
    ),
    "COMPARABLE_R5": (
        109, "7e023fee47ac112f56a2e5a9d3fa986d62eafc9f54504fbb43662a8ff45dc339"
    ),
    "COMPARABLE_R6": (
        169, "2a1032670c3174fb72a92ce7b08060fb1d7a166b973582018d6d7564d86f75c0"
    ),
}


def test_frozen_subsets_are_pinned():
    for attr, pin in FROZEN_SUBSET_PINS.items():
        names = getattr(bench, attr)
        digest = hashlib.sha256(",".join(names).encode()).hexdigest()
        assert (len(names), digest) == pin, attr


def test_bench_local_snapshot_carries_full_per_query_dict():
    """The slimmed stdout contract relies on BENCH_LOCAL.json holding
    the full per-query record; the committed file must have one entry
    per headline query."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, "BENCH_LOCAL.json")
    if not os.path.exists(path):  # fresh clone before any bench run
        return
    with open(path) as f:
        rec = json.load(f)
    assert set(bench.HEADLINE) <= set(rec["queries"])


def test_summary_line_records_session_config_within_budget(spark):
    """The printed line carries the resolved session config, and with
    the full HEADLINE (its 10 longest names the slowest) it stays
    inside its byte budget."""
    config = bench.session_config(spark)
    assert config["spark.sql.codegen.cache.maxEntries"] == "1000"
    assert {"spark.master", "spark.driver.memory", "gc",
            "spark.sql.shuffle.partitions"} <= set(config)
    timings = {n: round(100 + len(n) + 0.123, 3) for n in bench.HEADLINE}
    calib = {"jvm": 0.123, "shuffle": 0.456, "python": 0.789}
    out = {
        "metric": "headline_queries_total_runtime",
        "value": 12345.678, "unit": "sec", "queries": timings, "sf": 0.1,
        "session": config, "artifact_warmup_sec": 123.456,
        "calib_start": calib, "calib_end": calib,
        "comparable_total": 12345.678, "comparable_n": len(timings),
        **{f"comparable_r{r}_total": 1234.567 for r in (3, 4, 5, 6)},
    }
    summary = bench.summarize(out)
    assert summary["session"] == config and "queries" not in summary
    assert len(json.dumps(summary)) <= bench.SUMMARY_MAX_BYTES
