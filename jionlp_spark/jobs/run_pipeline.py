"""spark-submit entry point for the KG-construction pipeline.

Usage (cluster):
    spark-submit --py-files jionlp_spark.zip \
        jionlp_spark/jobs/run_pipeline.py \
        --input /data/pages --output /data/kg --lang zh [--resume]

Usage (sandbox, synthetic corpus):
    python jionlp_spark/jobs/run_pipeline.py --synthetic 20000 --output /tmp/kg

Stages publish through the manifest catalog; re-running with --resume skips
completed stages (checkpoint-resumable boundaries, north_rule).  The final
triples table is written partitioned by pred with url-hash bucketed files.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                '..', '..'))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument('--input', help='pages parquet/iceberg path')
    ap.add_argument('--synthetic', type=int, default=0,
                    help='generate N synthetic pages instead of --input')
    ap.add_argument('--output', required=True)
    ap.add_argument('--lang', default='zh')
    ap.add_argument('--resume', action='store_true')
    ap.add_argument('--dict-dir', default=None,
                    help='full JioNLP-format dictionary dir (optional)')
    ap.add_argument('--partitions', type=int, default=None)
    args = ap.parse_args()

    from jionlp_spark.config import get_spark
    from jionlp_spark.operators.triples import write_triples
    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources.catalog import parquet_rows
    from jionlp_spark.sources.pages import generate_pages

    spark = get_spark('kg-pipeline')
    t0 = time.time()

    if args.synthetic:
        pages = generate_pages(spark, args.synthetic)
        fingerprint = f'synthetic:{args.synthetic}:42'
    else:
        pages = spark.read.parquet(args.input)
        fingerprint = f'input:{args.input}'

    res = run_pipeline(spark, pages, out_dir=args.output,
                       input_fingerprint=fingerprint, lang=args.lang,
                       dict_dir=args.dict_dir,
                       num_partitions=args.partitions,
                       resume=args.resume)

    triples_path = os.path.join(args.output, 'triples_by_pred')
    write_triples(res['triples'], triples_path)
    n = parquet_rows(triples_path)
    wall = time.time() - t0
    print(json.dumps({'triples': n, 'sec': round(wall, 2),
                      'triples_per_sec': round(n / wall, 1),
                      'output': triples_path}))
    spark.stop()


if __name__ == '__main__':
    main()
