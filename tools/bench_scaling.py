"""Measure how query time scales with data size and with core count.

Each core count runs in a fresh Python process (its own JVM and
session, ``local[N]``); in it every query runs at every scale factor,
best-of-2 ``.count()`` per point.  The JSON record holds, per core
count, each query's seconds per scale factor and the log-log slope of
each adjacent scale-factor pair (plus the endpoints pair when there are
more than two); with several core counts it also holds, per query and
scale factor, the speedup from the fewest to the most cores.  A slope
of 1.0 is linear scaling; the fixed ~0.3-0.6 s of per-query scheduling
overhead biases small-point slopes down, so the largest pair is the
honest one.  Scale factors above sf0.1 are replication-scaled copies
made by ``tools/gen_scale_data.py`` (e.g.
``python tools/gen_scale_data.py 30 /tmp/scaledata/sf3.0``).

Usage:
  python tools/bench_scaling.py [out.json] [--queries q_a,q_b]
      [--sfs 1.0:/dir1,3.0:/dir2] [--cpus 32,8] [--report out.md]

Defaults: the QUERIES list below, the SF_DIRS below, 32 cores, and
out.json = BENCH_SCALING.json.  ``--report`` also writes the record as
markdown tables.
"""

from __future__ import annotations

import json
import math
import multiprocessing
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

QUERIES = [
    # the most expensive queries at sf0.1
    "q_stream_dedup_substring", "q_dbscan", "q_cross_validation",
    "q_als_eval", "q_learning_curve", "q_hits", "q_ridge",
    "q_scd2_stream", "q_stream_mix", "q_item_cf_incremental",
    "q_adaboost_stumps", "q_ann_lsh_portable", "q_word_vectors",
    "q_semdedup_eval", "q_conformal",
    # watchlist + flagship
    "q_semdedup", "q_rfm", "q_minhash_dedup", "q_tpch_q9_derived",
]

SF_DIRS = {
    0.1: "/root/testdata/sf0.1",
    0.3: "/tmp/scaledata/sf0.3",
    1.0: "/tmp/scaledata/sf1.0",
}
REPS = 2


def run_one(
    cpus: int, queries_sel: list[str], sf_dirs: dict[float, str],
    partial_path: str,
) -> dict[str, dict[str, float]]:
    """Seconds per (query, sf) on a fresh ``local[cpus]`` session; -1.0
    marks a query that raised."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from clv_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name=f"clv-bench-scaling-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            # sf1.0 is 10x the bench SF; the 1g local default heap
            # OOMs in q_als_eval's factor joins
            "spark.driver.memory": "48g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from clv_data_pipeline_spark import registry

    queries = registry.all_queries()
    queries["q_rfm"](spark, "/root/testdata/sf0.001").count()
    queries["q_minhash_dedup"](spark, "/root/testdata/sf0.001").count()

    results: dict[str, dict[str, float]] = {n: {} for n in queries_sel}
    for sf, sf_dir in sorted(sf_dirs.items()):
        for i, name in enumerate(queries_sel):
            spark.sparkContext.setJobDescription(f"scaling: {name}")
            best = float("inf")
            err = None
            for _ in range(REPS):
                t0 = time.perf_counter()
                try:
                    queries[name](spark, sf_dir).count()
                except Exception as e:  # record, keep measuring others
                    err = f"{type(e).__name__}: {str(e)[:200]}"
                    break
                best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
            if (i + 1) % 8 == 0:
                spark.sparkContext._jvm.System.gc()
            if err:
                results[name][str(sf)] = -1.0
                print(f"local[{cpus}] sf{sf} {name}: ERROR {err}", flush=True)
            else:
                results[name][str(sf)] = round(best, 3)
                print(f"local[{cpus}] sf{sf} {name}: {best:.2f}s", flush=True)
            # checkpoint partial results — a crash keeps the points
            with open(partial_path, "w") as f:
                json.dump({str(cpus): results}, f, indent=1, sort_keys=True)
    spark.stop()
    return results


def _tag(a: float, b: float) -> str:
    return f"slope_{str(a).replace('.', '')}_{str(b).replace('.', '')}"


def _slope(sec: dict[str, float], a: float, b: float) -> float | None:
    ta, tb = sec.get(str(a)), sec.get(str(b))
    if not ta or not tb or ta <= 0 or tb <= 0:
        return None
    return round(math.log(tb / ta) / math.log(b / a), 2)


def summarize(
    per_cpus: dict[int, dict[str, dict[str, float]]], sfs: list[float]
) -> dict:
    pairs = list(zip(sfs, sfs[1:]))
    if len(sfs) > 2:
        pairs.append((sfs[0], sfs[-1]))
    rec: dict = {
        "reps": REPS,
        "cpus": {
            str(c): {
                n: dict(
                    sec=sec, **{_tag(a, b): _slope(sec, a, b) for a, b in pairs}
                )
                for n, sec in res.items()
            }
            for c, res in sorted(per_cpus.items())
        },
    }
    if len(per_cpus) > 1:
        lo, hi = per_cpus[min(per_cpus)], per_cpus[max(per_cpus)]
        rec["speedup"] = {
            n: {
                sf: round(lo[n][sf] / hi[n][sf], 2)
                if lo[n].get(sf, 0) > 0 and hi[n].get(sf, 0) > 0 else None
                for sf in hi[n]
            }
            for n in hi
        }
    return rec


def report(rec: dict, sfs: list[float]) -> str:
    """The record as markdown: one seconds + slopes table per core
    count, slowest at the largest sf first, then the speedup table."""
    def fmt(x):
        return f"{x:.2f}" if x and x > 0 else "ERR"

    out = []
    for cpus, per_query in rec["cpus"].items():
        slopes = [k for k in next(iter(per_query.values())) if k != "sec"]
        out += [
            f"### local[{cpus}]", "",
            "| query | " + " | ".join(f"sf{sf} s" for sf in sfs)
            + "".join(f" | {k}" for k in slopes) + " |",
            "|---" * (1 + len(sfs) + len(slopes)) + "|",
        ]
        rows = sorted(
            per_query.items(), key=lambda kv: -(kv[1]["sec"].get(str(sfs[-1])) or 0)
        )
        for n, v in rows:
            out.append(
                f"| {n} | " + " | ".join(fmt(v["sec"].get(str(sf))) for sf in sfs)
                + "".join(f" | {v[k]}" for k in slopes) + " |"
            )
        out.append("")
    if "speedup" in rec:
        lo, hi = min(rec["cpus"], key=int), max(rec["cpus"], key=int)
        out += [
            f"### speedup local[{lo}] -> local[{hi}]", "",
            "| query | " + " | ".join(f"sf{sf}" for sf in sfs) + " |",
            "|---" * (1 + len(sfs)) + "|",
        ]
        for n, v in rec["speedup"].items():
            out.append(
                f"| {n} | " + " | ".join(str(v.get(str(sf))) for sf in sfs) + " |"
            )
        out.append("")
    return "\n".join(out)


def main() -> None:
    args = sys.argv[1:]

    def opt(name: str) -> str | None:
        return args[args.index(name) + 1] if name in args else None

    out_path = (
        args[0] if args and not args[0].startswith("--")
        else "BENCH_SCALING.json"
    )
    queries_sel = (opt("--queries") or ",".join(QUERIES)).split(",")
    sf_dirs = dict(SF_DIRS)
    if opt("--sfs"):
        sf_dirs = {
            float(p.split(":", 1)[0]): p.split(":", 1)[1]
            for p in opt("--sfs").split(",")
        }
    cpus_list = [int(c) for c in (opt("--cpus") or "32").split(",")]

    ctx = multiprocessing.get_context("spawn")
    per_cpus = {}
    for cpus in cpus_list:
        with ctx.Pool(1) as pool:
            per_cpus[cpus] = pool.apply(
                run_one, (cpus, queries_sel, sf_dirs, out_path + ".partial")
            )
    sfs = sorted(sf_dirs)
    rec = summarize(per_cpus, sfs)
    with open(out_path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    written = [out_path]
    if opt("--report"):
        with open(opt("--report"), "w") as f:
            f.write(report(rec, sfs))
        written.append(opt("--report"))
    print(json.dumps({"written": written}))


if __name__ == "__main__":
    main()
