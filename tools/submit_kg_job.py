"""spark-submit entry point for the KG-construction pipeline (north rule:
"launched via spark-submit --py-files").

Usage (cluster):

    python -m rdf_tabular_spark.deploy  # or tools/package.sh -> zip
    spark-submit --py-files /tmp/rdf_tabular_spark.zip \
        tools/submit_kg_job.py \
        --source /path/to/source_parquet_or_iceberg \
        --output /path/to/output_dir \
        [--checkpoint-dir /path/to/ckpt] [--n-files 100000]

Local smoke:

    spark-submit --master 'local[8]' \
        --py-files "$(python -c 'from rdf_tabular_spark.deploy import build_package_zip; print(build_package_zip())')" \
        tools/submit_kg_job.py --n-files 2000 --output /tmp/kg_out

Reads the source table of input_hint shape (repo, path, commit, lang,
content), runs the batch KG job of rdf_tabular_spark/kg/pipeline.py
(extract -> link -> entities -> graph) — with per-stage checkpoints and
lineage when --checkpoint-dir is given — writes the triple + entity
tables, and prints a one-line JSON report.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# spark-submit ships the package via --py-files; direct `python tools/...`
# runs resolve it from the repo root instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", help="parquet path of the source table")
    ap.add_argument("--n-files", type=int, default=None,
                    help="synthesize a deterministic source of N files instead")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint-dir", default=None,
                    help="enable resumable per-stage checkpoints + lineage")
    ap.add_argument("--jaccard-threshold", type=float, default=0.55)
    ap.add_argument("--json-lines", action="store_true",
                    help="also write the per-subject JSON-lines "
                         "serialization (rdf-tabular to_json analog)")
    args = ap.parse_args()
    if not args.source and not args.n_files:
        ap.error("one of --source / --n-files is required")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("rdf-tabular-spark-kg").getOrCreate()

    t0 = time.time()
    if args.checkpoint_dir:
        from rdf_tabular_spark.kg.pipeline import KGConfig, KGPipeline

        cfg = KGConfig(
            checkpoint_dir=args.checkpoint_dir,
            n_files=args.n_files or 0,
            source_path=args.source,
            jaccard_threshold=args.jaccard_threshold,
        )
        results = KGPipeline(spark, cfg).run()
    else:
        from rdf_tabular_spark.kg import synth
        from rdf_tabular_spark.kg.pipeline import build_kg

        src = (spark.read.parquet(args.source) if args.source
               else synth.synth_source_table(spark, args.n_files))
        results = build_kg(src, args.jaccard_threshold)
    triples, entities = results["triples"], results["entities"]

    from rdf_tabular_spark.kg.materialize import (
        graph_json_lines,
        materialize_graph,
    )

    materialize_graph(triples, entities, args.output)
    if args.json_lines:
        # distributed JSONL sink: one line per subject, straight from the
        # executors — no driver materialization
        (graph_json_lines(spark.read.parquet(f"{args.output}/triples"))
         .select("json").write.mode("overwrite")
         .text(f"{args.output}/graph_jsonl"))
    n_triples = spark.read.parquet(f"{args.output}/triples").count()
    n_entities = spark.read.parquet(f"{args.output}/entities").count()
    wall = time.time() - t0
    print(json.dumps({
        "triples": n_triples,
        "entities": n_entities,
        "wall_s": round(wall, 2),
        "triples_per_sec": round(n_triples / wall, 1),
        "output": args.output,
    }))


if __name__ == "__main__":
    main()
