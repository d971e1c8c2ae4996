#!/usr/bin/env python3
"""spark-submit entry point for the entity-resolution pipeline.

    spark-submit --py-files dist/healthcare_entity_resolution_spark.zip \
        run_pipeline.py --input /data/files_parquet --output /runs/run1 \
        [--resume] [--cores 32]

``--input`` is a parquet/Iceberg path with columns
(repo, path, commit, lang, content) — the engine's input contract
(BASELINE input_hint) — or a documents-shaped (doc_id, text[, lang,
source]) table.  ``--output`` is the run directory that receives the stage
snapshots of ``pipeline.resumable_resolve_files`` (resumable with
``--resume``; a run without it clears them first), ``lineage_events.jsonl``
(per-stage rows and ``sec``, the same events ``resolve_files`` logs, plus
one ``resume.<stage>`` event per snapshot), the ``score_batches`` lineage
table and ``report.html``.  Prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume", action="store_true",
                    help="skip stages whose snapshots already exist in --output")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] cores (ignored under a real cluster master)")
    args = ap.parse_args()

    from healthcare_entity_resolution_spark.pipeline import (
        CODE_FILE_STAGES,
        documents_as_files,
        resumable_resolve_files,
    )
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog
    from healthcare_entity_resolution_spark.session import get_spark

    spark = get_spark(app_name="her_pipeline", cores=args.cores)
    lineage = LineageLog(run_dir=args.output)
    raw = spark.read.parquet(args.input)
    need = {"repo", "path", "commit", "lang", "content"}
    if not need <= set(raw.columns):
        if {"doc_id", "text"} <= set(raw.columns):
            # documents-shaped input (the testdata tables): adapt in place
            from pyspark.sql import functions as F

            for col, default in (("lang", "unknown"), ("source", "docs")):
                if col not in raw.columns:
                    raw = raw.withColumn(col, F.lit(default))
            raw = documents_as_files(raw)
            lineage.log("input.adapted", shape="documents")
        else:
            raise SystemExit(
                f"--input must have columns {sorted(need)} (files contract) "
                f"or (doc_id, text[, lang, source]) (documents contract); "
                f"got {raw.columns}"
            )

    if not args.resume:
        # fresh run: clear prior snapshots so every stage recomputes
        import shutil

        for name in CODE_FILE_STAGES:
            shutil.rmtree(os.path.join(args.output, name), ignore_errors=True)

    out = resumable_resolve_files(spark, raw, args.output, lineage=lineage)
    n = out["assignments"].count()

    from healthcare_entity_resolution_spark.plans.report_html import (
        write_run_report,
    )

    events = lineage.read_events()  # this run's, read back from the jsonl
    report = write_run_report(
        os.path.join(args.output, "report.html"),
        assignments=out["assignments"],
        classified=out["classified"],
        lineage_events=events,
    )
    summary = {"assignments": n,
               "output": args.output,
               "report": report,
               "stages": [e["stage"] for e in events]}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
