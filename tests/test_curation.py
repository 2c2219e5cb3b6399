"""End-to-end corpus curation: planted junk, exact dups and near-dups
must fall out; manifest counts must reconcile stage by stage."""

from __future__ import annotations

import numpy as np
import pytest


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(41)
    vocab = ["the", "and", "of", "to", "in"] + [f"word{i}" for i in range(500)]
    rows = []
    for i in range(60):  # good docs, stopword-rich
        rows.append((i, " ".join(rng.choice(vocab, 60))))
    rows.append((100, rows[0][1]))           # exact dup of doc 0
    near = rows[1][1].split()
    near[10] = "CHANGED"
    rows.append((101, " ".join(near)))       # near dup of doc 1
    rows.append((200, "x y"))                # too short (min_tokens)
    rows.append((201, "!!! ??? ;;; ### $$$ %%% &&& *** ((( )))"))  # junk
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_corpus(spark, corpus):
    from combinedfeatureextraction_spark.plans.curation import curate_corpus

    curated, manifest = curate_corpus(corpus, near_dup_threshold=0.5)
    got = curated.toPandas().set_index("doc_id").sort_index()
    ids = set(got.index)
    assert 0 in ids and 100 not in ids          # exact dup dropped, first kept
    assert 1 in ids and 101 not in ids          # near dup: min-id canonical
    assert 200 not in ids and 201 not in ids    # quality/length floor
    assert len(ids) == 60
    assert {"lang_pred", "quality", "n_tokens", "fp"} <= set(got.columns)

    m = manifest.toPandas()
    assert int(m["n_raw"].sum()) == 64
    assert int(m["n_quality"].sum()) == 62      # 200 + 201 dropped
    assert int(m["n_exact"].sum()) == 61        # 100 dropped
    assert int(m["n_curated"].sum()) == 60      # 101 dropped
    # counts are monotone per language
    for _, r in m.iterrows():
        assert r["n_raw"] >= r["n_quality"] >= r["n_exact"] >= r["n_curated"]


def test_curate_corpus_job_end_to_end(spark, tmp_path, monkeypatch):
    """jobs/curate_corpus.py smoke: sample -> curate -> pack -> bucketed
    snapshot write, one JSON summary line; the written snapshot reads
    back with consistent counts and packing columns."""
    import json
    import sys

    from jobs import curate_corpus as job
    from combinedfeatureextraction_spark.sources.catalog import read_snapshot

    out = str(tmp_path / "curated")
    monkeypatch.setattr(sys, "argv", [
        "curate_corpus.py",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", out,
        "--sample-fraction", "0.9", "--sample-salt", "s1",
        "--pack-capacity", "512", "--buckets", "4",
    ])
    printed = []
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    job.main()
    # the job reuses the running session without resetting its confs
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
    summary = json.loads(printed[-1])
    assert summary["docs_in"] > 0
    back = read_snapshot(spark, out)
    assert back.count() == summary["docs_curated"] > 0
    cols = set(back.columns)
    assert {"lang_pred", "quality", "n_tokens", "fp",
            "start_offset", "bin_id", "bin_offset", "spans_boundary",
            "bucket"} <= cols
    # packing consistency inside the snapshot: offsets are the per-lang
    # cumsum of n_tokens in id order
    pdf = back.toPandas().sort_values(["lang_pred", "doc_id"])
    for _, g in pdf.groupby("lang_pred"):
        assert g["start_offset"].tolist() == (
            g["n_tokens"].cumsum() - g["n_tokens"]
        ).tolist()
