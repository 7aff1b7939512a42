"""spark-submit entry point for the KG pipeline.

Usage (north rule: `spark-submit --py-files` on a cluster; sandbox runs
local[N]):

    spark-submit --master local[32] --py-files mps.zip \
        master_project_spark/run_pipeline.py \
        --transcripts /path/transcripts.parquet --out /path/warehouse

    # or synthetic input:
    python -m master_project_spark.run_pipeline --n-convs 200 --out /tmp/kg
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", help="parquet path of transcripts table")
    ap.add_argument("--n-convs", type=int, default=200,
                    help="synthesize this many conversations when no --transcripts")
    ap.add_argument("--max-turns", type=int, default=40)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--no-chunks", action="store_true")
    ap.add_argument("--incremental", action="store_true",
                    help="process only new/grown conversations vs the "
                         "committed ledger and append (O(delta) mode)")
    ap.add_argument("--with-fixpoint", action="store_true",
                    help="run the extraction fixpoint loop stage "
                         "(retrieval-gated extract/verify to convergence)")
    ap.add_argument("--snapshot-token",
                    help="external input snapshot id (e.g. Iceberg snapshot)"
                         " — skips the full-input fingerprint scan")
    args = ap.parse_args(argv)

    # absolute imports: spark-submit executes this file as a top-level
    # script (no parent package), with the package shipped via --py-files
    from master_project_spark.datagen import alias_df, transcripts_df
    from master_project_spark.pipeline import run_pipeline
    from master_project_spark.session import get_spark

    spark = get_spark(args.cores, app_name="kg_pipeline")
    if args.transcripts:
        transcripts = spark.read.parquet(args.transcripts)
    else:
        transcripts = transcripts_df(spark, args.n_convs, args.max_turns,
                                     args.seed)
    if args.incremental:
        from master_project_spark.incremental import append_new_conversations
        t0 = time.perf_counter()
        res = append_new_conversations(spark, transcripts, args.out,
                                       alias_df(spark))
        wall = time.perf_counter() - t0
        n_triples = spark.read.parquet(f"{args.out}/triples").count()
        print(json.dumps({
            "mode": "incremental", "new_convs": res["new_convs"],
            "new_rows": res["new_rows"],
            "triples_total": n_triples, "wall_sec": round(wall, 3),
        }))
        return 0

    t0 = time.perf_counter()
    result = run_pipeline(spark, transcripts, args.out, alias_df(spark),
                          resume=not args.no_resume,
                          with_chunks=not args.no_chunks,
                          with_fixpoint=args.with_fixpoint,
                          snapshot_token=args.snapshot_token)
    wall = time.perf_counter() - t0
    n_triples = result.tables["triples"].count()
    n_turns = transcripts.count()
    print(json.dumps({
        "run_id": result.run_id,
        "turns": n_turns,
        "triples": n_triples,
        "wall_sec": round(wall, 3),
        "triples_per_sec": round(n_triples / wall, 2),
        "turns_per_sec": round(n_turns / wall, 2),
        "stages": {m["stage"]: {"rows": m["rows_out"],
                                "wall_ms": m["wall_ms"],
                                "skipped": m["skipped"]}
                   for m in result.metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
