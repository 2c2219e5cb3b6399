"""``registry_suite``: registry queries built as ``bench.py`` builds them,
plus one corpus curation.

A pass runs every operation of the suite once, in an order drawn from
the seed; the loop stops only at a pass boundary. The untraced run's
suite is the seven queries of :data:`SUITE`; the traced run adds
``curate_corpus``, which the untraced run leaves out to fit the
benchmark's time budget (warm, it costs about 6 s a pass, as much as the
seven queries together).

* A query operation builds one query (``__spark_entry__.queries()[name]``)
  and writes it to the ``noop`` sink. The tables are generated at scale
  factor :data:`SF` with the fixed data seed 42.
* The ``curate_corpus`` operation (traced run only) is the default path of
  ``jobs/curate_corpus.py``: ``plans.curation.curate_corpus`` →
  ``with_bucket(32)`` → ``write_snapshot`` into a fresh directory →
  ``manifest.collect()``, over a corpus of :data:`CORPUS_DOCS` docs with
  planted duplicates generated from ``--seed``
  (``inputs.write_corpus``).

The queries are seven of the eight hot queries of the round-start layer
probe, not all 46 headline queries plus the flagship: one warm pass of
those takes about 30 s on ``local[4]`` even at sf0.001 (about 55 s cold),
which with the output checks would not fit the benchmark's time budget.
``lsh_topk``, the eighth, is left out for the same budget: it is the
costliest of the eight (about 5 s cold and 2.5 s warm) and has no oracle,
only a row count.

Output checks, outside the timed region:

* queries: the warm-up collects every query to pandas and
  ``tests/oracle_compare.compare_one`` compares it against the query's
  DuckDB oracle. Every execution, warm-up and timed, also records a digest
  of its output through ``DataFrame.observe`` — the row count and the
  order-free sum of xxhash64 over the row, doubles rounded to 6 decimals —
  computed by the execution itself. A timed execution passes when its
  digest equals the digest of the oracle-checked warm-up output.
* ``curate_corpus``: the curated ids equal the planted ground truth (the
  minimum id of every duplicate group survives, no other member and no
  short doc does, every other doc does), and the manifest satisfies
  ``n_raw >= n_quality >= n_exact >= n_curated`` per language, with
  ``n_raw`` summing to the corpus size and ``n_curated`` to the ids
  written.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

import inputs
from harness import CPUS, Op

SF = 0.01
DATA_SEED = 42
CORPUS_DOCS = 1000
BUCKETS = 32
CURATE = "curate_corpus"
#: query -> module of the operator it calls (the per-module grouping)
SUITE = {
    "minhash_dedup": "operators.dedup",
    "simhash_dedup": "operators.dedup",
    "top_ngram": "functions.text",
    "asof_join_grid": "operators.asof",
    "polygon_ring": "multimodal.rasterize",
    "six_stat_hierarchy": "operators.aggregates",
    "watershed_split": "operators.watershed",
}
MODULE = {**SUITE, CURATE: "plans.curation"}


class _Collected:
    """A query result already collected to pandas, handed to
    ``compare_one`` so the oracle comparison reruns no Spark job."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _observed(df, name: str):
    """``df`` with its output digest attached: the execution that runs it
    fills the returned Observation with the row count and the order-free
    xxhash64 sum."""
    from pyspark.sql import Observation

    cols = [
        F.round(F.col(f"`{f.name}`"), 6)
        if f.dataType.typeName() in ("double", "float") else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    obs = Observation(name)
    return df.observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ), obs


def _digest(obs) -> tuple[int, int]:
    got = obs.get
    return int(got["n"]), int(got["h"] or 0)


class Workload:
    def __init__(self, run) -> None:
        import __spark_entry__ as entry

        self.run = run
        self.suite = sorted(SUITE) + ([CURATE] if run.traced else [])
        self.pass_size = self.unit_ops = len(self.suite)
        self.spark = run.spark
        self.entry = entry
        self.queries = entry.queries()
        self._seq = itertools.count()
        #: query -> digest of its oracle-checked warm-up output
        self.digests: dict[str, tuple[int, int]] = {}
        #: query -> why its warm-up failed its oracle check
        self.failures: dict[str, str] = {}

    def _order(self, p: int) -> list[str]:
        """Operation order of pass ``p``, drawn from the seed."""
        names = self.suite
        perm = np.random.default_rng([self.run.seed, p]).permutation(len(names))
        return [names[j] for j in perm]

    def prepare(self) -> dict:
        self.sf_dir = self.run.path("sf")
        size = inputs.write_tables(self.sf_dir, SF, DATA_SEED)
        if CURATE in self.suite:
            self.corpus = inputs.write_corpus(
                self.run.path("corpus"), CORPUS_DOCS, self.run.seed)
            size = {k: size[k] + self.corpus[k] for k in ("rows", "bytes", "files")}
        return size

    def warmup(self) -> float:
        """Run every operation once, all at the same time on CPUS threads
        (the timed warm-up), then check each result (untimed); returns the
        warm-up seconds. The operations are cold, so most of their time is
        class loading and JIT compilation, which overlap well."""
        from tests.oracle_compare import compare_one, duck_con

        def cold(name: str):
            if name == CURATE:
                return self._curate(-1, False)
            df, obs = _observed(self.queries[name](self.spark, self.sf_dir), name)
            return df.toPandas(), obs

        t0 = time.perf_counter()
        # the curation, the longest, starts first
        with ThreadPoolExecutor(max_workers=CPUS) as pool:
            futures = {name: pool.submit(cold, name)
                       for name in sorted(self.suite, key=lambda n: (n != CURATE, n))}
        spent = time.perf_counter() - t0
        self.spark.catalog.clearCache()

        oracles = self.entry.oracle_sql()
        con = duck_con(self.sf_dir)
        try:
            for name, fut in futures.items():
                try:
                    res = fut.result()
                except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                    self.failures[name] = f"{name}: {type(exc).__name__}: {exc}"
                    continue
                if name == CURATE:
                    why = self._check_curate(res)
                    if why:
                        self.failures[name] = why
                    continue
                pdf, obs = res
                self.digests[name] = _digest(obs)
                res = compare_one(self.spark, con, name, lambda s, d: _Collected(pdf),
                                  oracles.get(name), self.sf_dir)
                if not res["ok"]:
                    self.failures[name] = f"{name}: {res['why']} ({res['rows']} rows)"
        finally:
            con.close()
        return spent

    def op(self, i: int, traced: bool) -> Op:
        name = self._order(i // self.pass_size)[i % self.pass_size]
        if name == CURATE:
            return self._curate(i, traced)
        tr = self.run.tracer
        t0 = time.perf_counter()
        with tr.span("build", query=name) as b:
            df = self.queries[name](self.spark, self.sf_dir)
        parts = {"build_s": b["s"], "build_jobs": self.run.jobs_in_group()}
        df, obs = _observed(df, f"{name}-{i}")
        if traced:
            with tr.span("plan", query=name) as p:
                df._jdf.queryExecution().executedPlan()
            parts["plan_s"] = p["s"]
        with tr.span("execute", query=name) as x:
            df.write.format("noop").mode("overwrite").save()
        parts["exec_s"] = x["s"]
        wall = time.perf_counter() - t0
        return Op(index=i, wall=wall, items=1, kind=name, parts=parts,
                  extra={"query": name, "digest": _digest(obs)})

    def _curate(self, i: int, traced: bool) -> Op:
        from combinedfeatureextraction_spark.plans.curation import curate_corpus
        from combinedfeatureextraction_spark.sources.catalog import (
            with_bucket, write_snapshot,
        )

        tr = self.run.tracer
        out = self.run.path(f"curated-{next(self._seq)}")
        t0 = time.perf_counter()
        with tr.span("build", query=CURATE) as b:
            docs = self.spark.read.parquet(
                os.path.join(self.run.path("corpus"), "documents.parquet"))
            curated, manifest = curate_corpus(docs)
            curated = with_bucket(curated, "doc_id", BUCKETS)
        parts = {"build_s": b["s"], "build_jobs": self.run.jobs_in_group()}
        if traced:
            with tr.span("plan", query=CURATE) as p:
                curated._jdf.queryExecution().executedPlan()
            parts["plan_s"] = p["s"]
        with tr.span("execute", query=CURATE) as x:
            with tr.span("write_snapshot") as w:
                write_snapshot(curated, out, sort_within=("doc_id",))
            jobs0 = self.run.jobs_in_group()
            with tr.span("manifest_collect") as m:
                rows = [r.asDict() for r in manifest.collect()]
            parts["curation.manifest_jobs"] = self.run.jobs_in_group() - jobs0
        wall = time.perf_counter() - t0
        parts["exec_s"] = x["s"]
        parts["catalog.write_s"] = w["s"]
        parts["curation.manifest_collect_s"] = m["s"]
        files = list(Path(out, "data").rglob("*.parquet"))
        parts["catalog.files"] = len(files)
        parts["catalog.bytes"] = sum(f.stat().st_size for f in files)
        return Op(index=i, wall=wall, items=1, kind=CURATE, parts=parts,
                  extra={"query": CURATE, "out": out, "manifest": rows})

    def discard(self, op: Op) -> None:
        if "out" in op.extra:
            shutil.rmtree(op.extra["out"], ignore_errors=True)

    # ----------------------------------------------------------- check
    def check(self, ops: list[Op]) -> dict[int, str]:
        bad: dict[int, str] = {}
        for op in ops:
            name = op.extra["query"]
            if name in self.failures:
                why = self.failures[name]
            elif name == CURATE:
                why = self._check_curate(op)
            elif op.extra["digest"] != self.digests[name]:
                why = (f"{name}: output digest {op.extra['digest']} != "
                       f"oracle-checked digest {self.digests[name]}")
            else:
                why = None
            self.discard(op)
            if why:
                bad[op.index] = why
        return bad

    def _check_curate(self, op: Op) -> str | None:
        from combinedfeatureextraction_spark.sources.catalog import read_snapshot

        try:
            got = {r.doc_id for r in
                   read_snapshot(self.spark, op.extra["out"]).select("doc_id").collect()}
        finally:
            self.discard(op)
        want = self.corpus["expected"]
        if got != want:
            return (f"{CURATE}: {len(got - want)} unexpected ids kept "
                    f"({len(got & self.corpus['short'])} short), "
                    f"{len(want - got)} expected ids dropped")
        man = op.extra["manifest"]
        for r in man:
            if not r["n_raw"] >= r["n_quality"] >= r["n_exact"] >= r["n_curated"]:
                return f"{CURATE}: manifest counts not monotone: {r}"
        if sum(r["n_raw"] for r in man) != self.corpus["rows"]:
            return f"{CURATE}: manifest n_raw sum != {self.corpus['rows']} docs"
        if sum(r["n_curated"] for r in man) != len(got):
            return f"{CURATE}: manifest n_curated sum != {len(got)} ids written"
        return None

    # ---------------------------------------------------- layer metrics
    def layer_metrics(self, ops: list[Op], n_pass: int) -> dict:
        out: dict[str, float] = {}
        for op in ops:
            q = op.extra["query"]
            for part in ("build_s", "plan_s", "exec_s"):
                v = op.parts.get(part, 0.0) / n_pass
                key = f"registry.{MODULE[q]}.{part}"
                out[key] = out.get(key, 0.0) + v
                if part != "plan_s":
                    key = f"registry.q.{q}.{part}"
                    out[key] = out.get(key, 0.0) + v
        cur = [op for op in ops if op.extra["query"] == CURATE]
        for k in ("curation.manifest_collect_s", "curation.manifest_jobs",
                  "catalog.write_s", "catalog.files", "catalog.bytes"):
            out[k] = sum(op.parts[k] for op in cur) / n_pass
        wall = sum(op.wall for op in cur)
        out["curation.docs_per_s"] = self.corpus["rows"] * len(cur) / wall if wall else 0.0
        return out
