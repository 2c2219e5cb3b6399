"""spark-submit entry point: end-to-end training-corpus curation.

    spark-submit --py-files cfe_spark.zip jobs/curate_corpus.py \
        --docs <parquet> --out <path> [--min-quality 0.25]
        [--min-tokens 8] [--sample-fraction 1.0] [--sample-salt 0]
        [--pack-capacity 0] [--buckets 32]

Pipeline (plans.curation.curate_corpus, the engine's flagship composite):
scan-side quality/lang/token features → quality floor → exact dedup →
MinHash-LSH near-dup clustering → canonical winners + fingerprints;
optionally a deterministic md5-keyed pre-sample (operators.sampling —
reproducible across runs/partitionings) and a post-curation sequence
packing assignment (operators.packing). Writes the curated corpus as a
bucketed snapshot (sources.catalog — time travel / atomic CURRENT) plus
the per-language lineage manifest; prints one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-quality", type=float, default=0.25)
    ap.add_argument("--min-tokens", type=int, default=8)
    ap.add_argument("--sample-fraction", type=float, default=1.0,
                    help="deterministic md5-keyed pre-sample (<1.0 keeps "
                         "that fraction of docs, reproducibly)")
    ap.add_argument("--sample-salt", default="0")
    ap.add_argument("--pack-capacity", type=int, default=0,
                    help="> 0: append sequence-packing placement columns "
                         "(bin per lang, ordered by id, token counts "
                         "from the curation features)")
    ap.add_argument("--buckets", type=int, default=32)
    args = ap.parse_args()

    from combinedfeatureextraction_spark.operators.packing import pack_tokens
    from combinedfeatureextraction_spark.operators.sampling import (
        deterministic_sample,
    )
    from combinedfeatureextraction_spark.plans.curation import curate_corpus
    from combinedfeatureextraction_spark.sources.catalog import (
        with_bucket,
        write_snapshot,
    )
    from combinedfeatureextraction_spark.session import get_spark

    spark = get_spark(app_name="cfe_curate")
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()
    if args.sample_fraction < 1.0:
        docs = deterministic_sample(
            docs, [args.id_col], args.sample_fraction, salt=args.sample_salt
        )

    t0 = time.time()
    curated, manifest = curate_corpus(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        min_quality=args.min_quality,
        min_tokens=args.min_tokens,
    )
    if args.pack_capacity > 0:
        curated = pack_tokens(
            curated, ["lang_pred"], [args.id_col], "n_tokens",
            args.pack_capacity,
        )
    curated = with_bucket(curated, args.id_col, args.buckets)
    write_snapshot(curated, args.out, sort_within=(args.id_col,))
    manifest_rows = [r.asDict() for r in manifest.collect()]
    n_out = sum(r["n_curated"] for r in manifest_rows)
    print(json.dumps({
        "docs_in": n_in,
        "docs_curated": n_out,
        "langs": manifest_rows,
        "wall_sec": round(time.time() - t0, 2),
        "out": args.out,
    }))


if __name__ == "__main__":
    main()
