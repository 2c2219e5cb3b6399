"""``pit_materialize``: the default path of ``jobs/materialize_features.py``.

One operation = ``plans.pipeline.rowlevel_features(carry_payload=True)``
→ ``sources.catalog.with_bucket(32)`` → ``plans.manifest.ResumableRun
.run_pending`` writing through ``write_snapshot(mode="replace_partitions")``
into a fresh output directory under a fresh run id, so resume never skips
a bucket. Inputs: the seeded fixture tables of ``sources.fixtures`` —
the rows ``sequences_spark(n_docs, seed)`` and ``states_spark(seed)``
produce, with ``n_docs`` the entities it takes to reach ``TARGET_ROWS``
rows — written to parquet during set-up.

Output check per operation: output rows == input rows; the order-free sum
of xxhash64(doc_id, seq_idx, tokens) equals the input's (every token array
unchanged); the manifest ``rows_in`` values sum to the input rows; and the
features of a seeded sample of docs are allclose to
``tests/golden_oracle.rowlevel_oracle``. The input digest and the oracle
features are computed once, after the timed loop; one job digests every
operation's output.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs
from harness import CPUS, Op

TARGET_ROWS = 30_000
#: Untimed operations before the timed loop. The first is cold: it loads
#: classes, generates code and runs interpreted (about 16 s). Over the next
#: two the JIT compiles most of the hot code, and they take 6 s down to
#: about 4.5 s. The timed operations still gain a little from one to the
#: next as the JIT finishes; the run reports their median.
WARMUP_OPS = 3
BUCKETS = 32
SAMPLE_DOCS = 12


def _digest(df) -> tuple[int, int]:
    """One job: the row count and the order-free xxhash64 sum over
    (doc_id, seq_idx, tokens)."""
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("doc_id", "seq_idx", "tokens").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _dir_bytes(path: str) -> tuple[int, int]:
    files = [p for p in Path(path).rglob("*.parquet")]
    return len(files), sum(p.stat().st_size for p in files)


class Workload:
    pass_size = 1
    unit_ops = 1

    def __init__(self, run) -> None:
        self.run = run
        self.spark = run.spark
        self._seq = itertools.count()

    # ---------------------------------------------------------- set-up
    def prepare(self) -> dict:
        self.input_dir = self.run.path("input")
        os.makedirs(self.input_dir)
        size = inputs.write_sequences(self.input_dir, TARGET_ROWS, self.run.seed, CPUS)
        self.n_rows, self.n_docs = size["rows"], size.pop("docs")
        return size

    def _inputs(self):
        seqs = self.spark.read.parquet(os.path.join(self.input_dir, "sequences"))
        states = self.spark.read.parquet(os.path.join(self.input_dir, "states.parquet"))
        return seqs, states

    def warmup(self) -> float:
        t0 = time.perf_counter()
        for i in range(WARMUP_OPS):
            self.discard(self.op(-1 - i, False))
            self.spark.catalog.clearCache()
        return time.perf_counter() - t0

    def _reference(self) -> None:
        """Input digest and the golden-oracle features of a seeded doc
        sample, computed once for every operation's check."""
        from combinedfeatureextraction_spark.sources import fixtures
        from tests.golden_oracle import rowlevel_oracle

        seqs, _ = self._inputs()
        self.in_digest = _digest(seqs)
        rng = np.random.default_rng([self.run.seed, 99])
        idx = sorted(int(i) for i in rng.choice(self.n_docs, SAMPLE_DOCS, replace=False))
        sample = [fixtures._doc_rows(self.run.seed, i) for i in idx]
        self.oracle = (
            rowlevel_oracle(pd.concat(sample, ignore_index=True),
                            fixtures.states_pandas(self.run.seed))
            .sort_values(["doc_id", "seq_idx"], kind="mergesort")
            .reset_index(drop=True)
        )
        self.sample_ids = [f"doc{i:08d}" for i in idx]

    # ------------------------------------------------------- operation
    def op(self, i: int, traced: bool) -> Op:
        from combinedfeatureextraction_spark.plans.manifest import ResumableRun
        from combinedfeatureextraction_spark.plans.pipeline import rowlevel_features
        from combinedfeatureextraction_spark.sources.catalog import (
            BUCKET_COL, with_bucket, write_snapshot,
        )

        tr = self.run.tracer
        out = self.run.path(f"out-{next(self._seq)}")
        t0 = time.perf_counter()
        seqs, states = self._inputs()
        with tr.span("build") as b:
            feat = rowlevel_features(seqs, states, carry_payload=True)
            feat = with_bucket(feat, "doc_id", BUCKETS)
        parts = {"build_s": b["s"], "build_jobs": self.run.jobs_in_group()}
        if traced:
            with tr.span("plan") as p:
                feat._jdf.queryExecution().executedPlan()
            parts["plan_s"] = p["s"]
        run = ResumableRun(out, f"op{i}")
        writes = []

        def write_fn(part):
            with tr.span("write_snapshot") as w:
                snap = write_snapshot(
                    part, out, partition_by=(BUCKET_COL,),
                    sort_within=("doc_id", "ts"), mode="replace_partitions",
                )
            writes.append(w["s"])
            return snap

        jobs0 = self.run.jobs_in_group()
        with tr.span("run_pending") as rp:
            res = run.run_pending(feat, list(range(BUCKETS)), write_fn)
        wall = time.perf_counter() - t0
        parts["exec_s"] = rp["s"]
        parts["manifest.run_pending_s"] = rp["s"]
        parts["manifest.precount_s"] = rp["s"] - sum(writes)
        parts["catalog.write_s"] = sum(writes)
        parts["manifest.jobs"] = self.run.jobs_in_group() - jobs0
        files, nbytes = _dir_bytes(os.path.join(out, "data"))
        parts["catalog.files"] = files
        parts["catalog.bytes"] = nbytes
        return Op(index=i, wall=wall, items=self.n_rows, kind="materialize", parts=parts,
                  extra={"out": out, "run": run, "res": res})

    def discard(self, op: Op) -> None:
        shutil.rmtree(op.extra.get("out", ""), ignore_errors=True)

    # ----------------------------------------------------------- check
    def check(self, ops: list[Op]) -> dict[int, str]:
        from combinedfeatureextraction_spark.plans.pipeline import ROW_FEATURES
        from combinedfeatureextraction_spark.sources.catalog import read_snapshot

        if not ops:
            return {}
        self._reference()
        cols = ROW_FEATURES + ["state_ffill"]
        # one job digests every output, collecting its golden-oracle sample
        sample = F.when(F.col("doc_id").isin(self.sample_ids),
                        F.struct("doc_id", "seq_idx", *cols))
        def output(op: Op) -> DataFrame:
            return read_snapshot(self.spark, op.extra["out"]).select(
                F.lit(op.index).alias("op"), "doc_id", "seq_idx", "tokens", *cols)

        # each read lists its snapshot's files and reads a footer on the
        # driver: the threads overlap those waits
        with ThreadPoolExecutor(max_workers=CPUS) as pool:
            outs = functools.reduce(DataFrame.unionByName, pool.map(output, ops))
        rows = {r["op"]: r for r in outs.groupBy("op").agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("doc_id", "seq_idx", "tokens").cast("decimal(38,0)")).alias("h"),
            F.collect_list(sample).alias("sample"),
        ).collect()}
        bad: dict[int, str] = {}
        for op in ops:
            why = self._check_one(op, rows.get(op.index), cols)
            self.discard(op)
            if why:
                bad[op.index] = why
        return bad

    def _check_one(self, op: Op, row, cols: list[str]) -> str | None:
        if op.extra["res"]["processed"] != BUCKETS:
            return f"resume skipped buckets: {op.extra['res']}"
        if row is None:
            return "no output rows"
        n, h = int(row["n"]), int(row["h"] or 0)
        if n != self.in_digest[0]:
            return f"rows {n} != input rows {self.in_digest[0]}"
        if h != self.in_digest[1]:
            return "token arrays differ from the input (xxhash64 digest)"
        rows_in = sum(
            json.loads(p.read_text())["rows_in"]
            for p in Path(op.extra["run"].manifest_dir).glob("bucket=*.json")
        )
        if rows_in != n:
            return f"manifest rows_in sum {rows_in} != rows {n}"
        got = (
            pd.DataFrame([r.asDict() for r in row["sample"]],
                         columns=["doc_id", "seq_idx", *cols])
            .sort_values(["doc_id", "seq_idx"], kind="mergesort")
            .reset_index(drop=True)
        )
        if len(got) != len(self.oracle):
            return f"sample rows {len(got)} != oracle rows {len(self.oracle)}"
        for c in cols:
            g = got[c].astype("float64").values
            w = self.oracle[c].astype("float64").values
            if not np.allclose(g, w, equal_nan=True, rtol=1e-9, atol=1e-9):
                return f"feature {c} differs from the golden oracle"
        return None

    # ---------------------------------------------------- layer metrics
    def layer_metrics(self, ops: list[Op], n_pass: int) -> dict:
        keys = ("manifest.run_pending_s", "manifest.precount_s", "manifest.jobs",
                "catalog.write_s", "catalog.files", "catalog.bytes")
        out = {k: sum(op.parts.get(k, 0.0) for op in ops) / n_pass for k in keys}
        rows = sum(op.items for op in ops)
        out["catalog.bytes_per_row"] = (
            sum(op.parts["catalog.bytes"] for op in ops) / rows if rows else 0.0
        )
        return out
