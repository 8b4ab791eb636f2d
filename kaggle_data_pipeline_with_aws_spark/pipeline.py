"""The end-to-end pipeline DAG (SURVEY §3: EP1→EP3 collapsed into one
driver program).

Reference control flow (five Lambdas glued by EventBridge/SQS/S3
events — cron → download → per-file extract ×2 → CSV rebuild → publish)
becomes four explicit stages over shared DataFrames:

    ingest()      land new match JSONs (ledger-gated, ≤N per cycle)
    extract()     ONE scan of the landing zone → matchwise + deliverywise
                  (the reference's two parallel per-file Lambdas, T3,
                  become two projections of the same source DataFrame)
    materialize() renumber + enrich + sorted CSV (EP3)
    publish()     version-notes metadata from the top-1 latest match (K7
                  is Kaggle-API-bound in the reference; here a metadata
                  dict, the engine boundary)

The reference's 5-minute SQS delay (T4) is a race-avoidance hack; the
explicit stage ordering here replaces it (documented behavioral
difference: we always rebuild *after* extraction completes).

State under ``state_dir`` is append-only: ``silver_matchwise`` and
``silver_deliverywise`` gain only rows whose natural key is absent, and
the ``file_status`` ledger gains one row per file after both inserts.
A cycle writes O(new files). Every step is idempotent on its key, so a
crash anywhere leaves the files unledgered and the rerun converges to
the same published CSVs without a staging copy or a transaction log.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .materialize import (
    deliverywise_published,
    matchwise_numbered,
    write_sorted_csv,
)
from .operators import flatten
from .operators.ledger import detect_new_files, read_ledger, upsert_status
from .schemas import CRICSHEET_MATCH_SCHEMA
from .sources.readers import read_json_documents


@dataclass
class PipelineResult:
    n_new_files: int
    matchwise: DataFrame
    deliverywise: DataFrame
    n_corrupt: int = 0


def list_candidate_files(spark: SparkSession, landing_dir: str) -> DataFrame:
    """S2/P4: enumerate *.json files in the landing zone as a DataFrame
    (the reference walks the extracted zip dir, download...py:88-92)."""
    names = [
        f for f in sorted(os.listdir(landing_dir)) if f.endswith(".json")
    ]
    # Arrow, not a list of tuples: the latter round-trips a Python worker.
    return spark.createDataFrame(
        pa.table({"file_name": pa.array(names, pa.string())})
    )


def run_incremental(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    output_dir: str,
    max_files_per_cycle: int = 10,
    single_file_csv: bool = False,
) -> PipelineResult:
    """One cycle of the weekly pipeline: detect-new → extract both tables →
    mark ledger → rematerialize the full published dataset."""
    ledger = read_ledger(spark, state_dir)
    candidates = list_candidate_files(spark, landing_dir)
    new_files = detect_new_files(candidates, ledger, limit=max_files_per_cycle)
    new_names = [r["file_name"] for r in new_files.collect()]
    n_corrupt = 0

    if new_names:
        paths = [os.path.join(landing_dir, n) for n in new_names]
        # T3: one scan, two consumers — cache the parsed documents so the
        # matchwise and deliverywise branches don't each re-read the
        # landing zone (multiline-JSON parse of many small files is the
        # dominant extract cost; the parsed batch is bounded by
        # max_files_per_cycle).
        scanned = read_json_documents(
            spark, paths, CRICSHEET_MATCH_SCHEMA
        ).cache()
        # Malformed documents surface as null-struct rows (PERMISSIVE
        # scan) with match_id still derived from the filename: exclude
        # them from both tables but STILL ledger-mark their files below —
        # a permanently-corrupt file must not be retried forever (the
        # reference would crash its per-file Lambda and retry on every
        # cycle). n_corrupt reports them to the caller/notifier.
        raw = scanned.filter(F.col("info").isNotNull())
        n_corrupt = scanned.count() - raw.count()
        try:
            _insert_absent(
                flatten.matchwise(raw),
                f"{state_dir}/silver_matchwise",
                "match_id",
            )
            _insert_absent(
                flatten.composite_delivery_key(flatten.deliverywise(raw)),
                f"{state_dir}/silver_deliverywise",
                "composite_delivery_key",
            )
        finally:
            scanned.unpersist()
        # Last state write of the cycle: until it lands the files stay
        # unledgered, and a rerun re-inserts nothing the anti-joins
        # above already committed.
        upsert_status(spark, state_dir, new_names)

    matches = spark.read.parquet(f"{state_dir}/silver_matchwise")
    deliveries = spark.read.parquet(f"{state_dir}/silver_deliverywise")

    numbered = matchwise_numbered(matches)
    published = deliverywise_published(deliveries, numbered)
    write_sorted_csv(
        numbered,
        f"{output_dir}/matchwise_data",
        ["match_number"],
        single_file=single_file_csv,
    )
    write_sorted_csv(
        published,
        f"{output_dir}/deliverywise_data",
        ["match_number", "innings_number", "over_number", "ball_number"],
        single_file=single_file_csv,
    )
    return PipelineResult(
        len(new_names), numbered, published, n_corrupt=n_corrupt
    )


def _insert_absent(df: DataFrame, path: str, key: str) -> None:
    """K2/K3 + T7: insert-if-absent on the natural key — Mongo's ``_id``
    conflict-not-duplicate semantics. Only the new rows are written, so
    the cost follows the batch, not the table; rows already stored win
    over a replayed or re-landed copy."""
    fresh = df.dropDuplicates([key])
    try:
        existing = df.sparkSession.read.parquet(path).select(key)
    except AnalysisException:  # first write: no table yet
        pass
    else:
        fresh = fresh.join(existing, key, "left_anti")
    fresh.write.mode("append").parquet(path)


def version_notes(matches_numbered: DataFrame) -> dict:
    """K7/P10/F4: the Kaggle version metadata derived from the latest match
    (upload_dataset_to_kaggle_lambda.py:119-129)."""
    last = (
        matches_numbered.orderBy(
            F.col("date").desc(), F.col("match_id").desc()
        )
        .limit(1)
        .select(
            "date",
            "team_1",
            "team_2",
            F.date_format(F.to_date("date", "yyyy-MM-dd"), "dd/MM/yyyy").alias(
                "formatted_date"
            ),
        )
        .collect()
    )
    if not last:
        return {"notes": "no matches"}
    row = last[0]
    return {
        "notes": (
            f"Updated till the match between {row['team_1']} "
            f"and {row['team_2']} on {row['formatted_date']}"
        )
    }
