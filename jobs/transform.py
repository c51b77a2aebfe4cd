"""spark-submit entry point for the transform stage of the offline
workflow (reference: ``api.apply_transformations``,
/root/reference/src/api.py:1111-1289, orchestrated by
workflow.py:352-533 as download → transform → validate → upload).

    spark-submit --py-files engine.zip jobs/transform.py \
        --turns /data/turns \
        --out   /data/turns_clean \
        [--manifest /data/turns_clean_manifest.json] \
        [--dry-run] [--no-exact-unicode] [--table-format parquet]

The reference transforms each record in Python and writes
``*_transformed.json`` plus ``transformation_metadata.json`` (the
applied-transformation list and per-item report,
src/api.py:1205-1230). The Spark form:

* the canonical F8 composition (``functions/native.py:text_pipeline``:
  entities+NFC → whitespace → abbreviations → markdown → wikidata →
  URLs) applied to ``text`` as ONE projection — the chain is built
  stage-by-stage IN THE SAME plan, so Catalyst collapses it into the
  single pass the composed function compiles to (parity with
  ``text_pipeline`` is pytest-pinned);
* per-stage changed-row counts ride the write via ``df.observe`` —
  the manifest costs ZERO extra scans (same trick as backup.py's
  checksummed manifests). Null-safe comparison: NULL text passes
  through every stage and never counts as changed;
* the manifest (``transformation_metadata.json`` analog) records the
  ordered stage list, per-stage changed counts, row count, and
  lineage; ``--dry-run`` computes the manifest with a one-pass
  aggregation and writes NO table — the reference upload stage's
  dry-run-by-default contract (src/api.py:1423-1446) moved to where
  the engine mutates data;
* the output keeps the input schema and day-partitioning (dynamic
  overwrite — re-transforming one day augments, never truncates).

Downstream: re-validate the cleaned table with jobs/validate.py — the
reference's validate-after-transform gate (workflow.py:487-492).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="transcript text-transform run")
    p.add_argument("--turns", required=True)
    p.add_argument("--out", help="cleaned-table location (required unless --dry-run)")
    p.add_argument("--manifest", help="write the transformation manifest JSON here")
    p.add_argument(
        "--dry-run",
        action="store_true",
        help="report per-stage changed-row counts without writing the table",
    )
    p.add_argument(
        "--no-exact-unicode",
        action="store_true",
        help="skip the entities+NFC pandas-UDF stage (for corpora known "
        "entity-free and NFC-normalized; the rest of the chain is pure "
        "codegen)",
    )
    p.add_argument("--table-format", choices=["parquet", "iceberg", "table"], default=None)
    p.add_argument("--lineage", default="jobs/transform.py")
    args = p.parse_args(argv)
    if not args.dry_run and not args.out:
        p.error("--out is required unless --dry-run")
    return args


def staged_pipeline(col: Column, exact_unicode: bool = True) -> list[tuple[str, Column]]:
    """The F8 composition unrolled as (stage_name, cumulative_column)
    pairs, in the EXACT order ``text_pipeline`` applies them — the
    parity test asserts the last stage equals ``text_pipeline(col)``.
    Exposing the intermediates is what lets the manifest count
    per-stage changes inside the same single projection."""
    from sgb_data_validator_spark.functions import native as N

    stages: list[tuple[str, Column]] = []
    out = col
    if exact_unicode:
        from sgb_data_validator_spark.functions.vectorized import entities_nfc_udf

        out = entities_nfc_udf(out)
        stages.append(("decode_entities_nfc", out))
    for name, fn in (
        ("normalize_whitespace", N.normalize_whitespace),
        ("normalize_abbreviations", N.normalize_abbreviations),
        ("normalize_markdown_links", N.normalize_markdown_links),
        ("normalize_wikidata_url", N.normalize_wikidata_url),
        ("normalize_urls", N.normalize_urls),
    ):
        out = fn(out)
        stages.append((name, out))
    return stages


def transformed_with_metrics(
    turns: DataFrame, exact_unicode: bool = True
) -> tuple[DataFrame, Observation, list[str]]:
    """(cleaned frame, its Observation, ordered stage names).

    The cleaned frame keeps the input schema; the Observation carries
    ``rows`` plus one ``changed_<stage>`` count per stage, harvested
    for free by whatever single action materializes the frame (the
    table write, or the dry-run aggregation)."""
    stages = staged_pipeline(F.col("text"), exact_unicode=exact_unicode)
    names = [name for name, _ in stages]
    # project every stage ONCE, below observe, and refer to it by name
    # above: an expression repeated on both sides of observe is planned
    # twice, so the pandas-UDF stage would run twice per row
    staged = turns.select("*", *[cur.alias(f"__{name}") for name, cur in stages])
    prev: Column = F.col("text")
    metrics = [F.count(F.lit(1)).alias("rows")]
    for name in names:
        cur = F.col(f"__{name}")
        # null-safe: NULL text stays NULL through the chain and is
        # never "changed"
        metrics.append(
            F.sum((~prev.eqNullSafe(cur)).cast("long")).alias(f"changed_{name}")
        )
        prev = cur
    obs = Observation("transform_metrics")
    # observe BEFORE the rename: the metric expressions reference the
    # ORIGINAL text column; attaching them after withColumn("text", …)
    # would re-resolve every F.col("text") against the transformed
    # output and count zero changes
    out = (
        staged.observe(obs, *metrics)
        .withColumn("text", F.col(f"__{names[-1]}"))
        .drop(*[f"__{name}" for name in names])
    )
    return out, obs, names


def run(spark: SparkSession, args: argparse.Namespace) -> int:
    from sgb_data_validator_spark.sources.catalog import read_table

    turns = read_table(spark, args.turns, args.table_format)
    exact = not args.no_exact_unicode
    cleaned, obs, stage_names = transformed_with_metrics(turns, exact_unicode=exact)

    t0 = time.perf_counter()
    if args.dry_run:
        # one full-scan action, no write: count() drains the observation
        cleaned.agg(F.count(F.lit(1))).collect()
    else:
        # table-format-aware: a catalog-table input round-trips to a
        # catalog-table output (same resolution as read_table) instead
        # of silently writing the table NAME as a parquet path literal
        from sgb_data_validator_spark.sources.catalog import write_table

        write_table(cleaned, args.out, args.table_format)
    elapsed = time.perf_counter() - t0

    got = obs.get  # blocks until the action above has published metrics
    manifest = {
        "stage": "transform",
        "dry_run": bool(args.dry_run),
        "exact_unicode": exact,
        "turns": args.turns,
        "out": None if args.dry_run else args.out,
        "rows": got["rows"],
        "applied_transformations": stage_names,
        "changed_rows": {name: got[f"changed_{name}"] for name in stage_names},
        "elapsed_sec": round(elapsed, 2),
        "lineage": args.lineage,
        "run_ts": time.time(),
    }
    print(json.dumps(manifest))
    if args.manifest:
        with open(args.manifest, "w") as fh:
            json.dump(manifest, fh, indent=2)
    return 0


def main() -> None:
    args = parse_args(sys.argv[1:])
    from sgb_data_validator_spark.session import get_spark

    spark = get_spark(app_name="sgb-transform")
    try:
        sys.exit(run(spark, args))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
