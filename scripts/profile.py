"""Per-query layer record of registry queries.

    python scripts/profile.py [query ...] [--sf DIR] [--reps N] [--out FILE]

Runs on the benchmark's own traced session (``perfbench/harness.Run``:
``local[nproc/2]``, Spark's event log, scratch under ``.perfbench_work/``,
deleted at the end). Every query runs once cold, then ``--reps`` times,
interleaved rep by rep. A rep is the job group ``op:{i}`` with the three
spans of ``perfbench/registry_suite.py``: build, plan (``executedPlan``)
and execute (``noop`` sink). The JSON record keeps, per query, the fastest
warm rep's walls and build-time jobs, and that rep's event-log figures
(``harness.spark_layer``), ``python_bytes`` being the bytes that crossed
the Python worker boundary. Defaults: ``bench.py``'s 46 headline queries.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# perfbench's modules import one another by bare name. This script's own
# directory leaves the path: as a module, this file would shadow the
# standard library's ``profile``, which pyspark imports through cProfile.
sys.path[0:1] = [ROOT, os.path.join(ROOT, "perfbench")]

import eventlog  # noqa: E402
import harness  # noqa: E402

#: the headline queries of ``bench.py`` (a list local to its ``main()``)
HEADLINE = [
    "rolling_window", "lag_lead", "sessionize", "session_stats", "forward_fill",
    "dist_to_boundary", "asof_join", "asof_join_salted", "asof_join_cogroup",
    "asof_join_grid", "geodesic_flood", "zscore", "six_stat_hierarchy",
    "weighted_mean", "interval_join", "percent_rank", "topk", "glcm_stats",
    "component_stats", "watershed_split", "deconvolution", "polygon_components",
    "polygon_watershed", "polygon_holes", "media_decode", "media_decode_png",
    "media_decode_jpeg", "polygon_edt", "polygon_ring", "color_stats",
    "media_decode_flac", "subcompartment", "subcompartment_texture",
    "subcompartment_morph", "exact_dedup", "minhash_dedup", "simhash_dedup",
    "embedding_topk", "lsh_topk", "text_quality", "fingerprint", "salted_agg",
    "stratified_sample", "pack_tokens", "rep_signals", "top_ngram",
]
#: the event-log figures the record keeps per query
SPARK = tuple(f"spark.{k}" for k in (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "python_bytes", "core_util", "task_skew"))


def rep(run: harness.Run, query, name: str, sf: str, i: int) -> harness.Op:
    """One rep of ``query`` under the job group ``op:{i}``."""
    tr = run.tracer
    run.job_group(f"op:{i}")
    with tr.span("op", index=i, query=name) as op:
        with tr.span("build") as b:
            df = query(run.spark, sf)
        jobs = run.jobs_in_group()
        with tr.span("plan") as p:
            df._jdf.queryExecution().executedPlan()
        with tr.span("execute") as x:
            df.write.format("noop").mode("overwrite").save()
    run.spark.catalog.clearCache()
    parts = {"build_s": b["s"], "plan_s": p["s"], "exec_s": x["s"], "build_jobs": jobs}
    return harness.Op(index=i, wall=op["s"], items=1, kind=name, parts=parts)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="per-query layer record")
    ap.add_argument("queries", nargs="*", default=HEADLINE)
    ap.add_argument("--sf", default="/root/testdata/sf0.1", help="fixture directory")
    ap.add_argument("--reps", type=int, default=2, help="warm reps per query")
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out", "profile.json"))
    args = ap.parse_args(argv)
    if args.reps < 1:
        ap.error("--reps must be at least 1")

    import __spark_entry__ as entry

    queries = entry.queries()
    names = list(dict.fromkeys(args.queries))
    unknown = [n for n in names if n not in queries]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    run = harness.Run(ROOT, "profile", 0, 0, trace=True)
    try:
        try:
            run.start_session()
            # rep 0 is the cold one; the job group index runs over every rep
            ops = [rep(run, queries[name], name, args.sf, i)
                   for i, name in enumerate(names * (args.reps + 1))]
        finally:
            run.stop_session()
        groups = eventlog.parse(eventlog.find_log(run.path("eventlog")))
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left while another run uses it
            os.rmdir(os.path.dirname(run.work))

    record = {}
    for name in names:
        best = min((op for op in ops[len(names):] if op.kind == name), key=lambda op: op.wall)
        spark = harness.spark_layer(groups, [best], 1)
        record[name] = {k: round(v, 6) for k, v in
                        {**best.parts, **{k: spark[k] for k in SPARK}}.items()}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump({"sf": args.sf, "reps": args.reps, "nproc": harness.NPROC,
                   "cpus": harness.CPUS, "queries": record}, fh, indent=1)
    print(f"layer record: {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
