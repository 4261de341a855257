"""Checkpoint / resume with per-partition lineage + metrics.

Spark-native generalization of the reference's resume machinery: the CSV
hash index that skips already-processed documents (reference
utils/utils.py:291-304, main.py:244-257) and the failures.jsonl sidecar
(main.py:304-311) become one ``run_partitions`` lineage table
(FIXTURES.md §3):

    run_partitions(run_id, partition_id, conv_bucket, rows, bytes,
                   failures, status, started_at, finished_at)

Unit of work = ``conv_bucket = pmod(hash(conv_id), n_buckets)`` — a
deterministic, data-independent partition of conversation space (the
Iceberg ``bucket(N, conv_id)`` transform's moral equivalent).  A killed
run resumes by filtering the input to the buckets its one read of the
committed lineage rows does not list (J1 in SURVEY.md §2.4) and
recomputes nothing that committed.

Commit protocol (write-audit-publish, SURVEY.md §7.4.6): a batch's data
files AND its lineage rows are staged as unreferenced snapshots, the
staged data is audited (sampled read-back), and both publish in ONE
atomic catalog commit (``TableCatalog.commit`` — a single ``_HEAD``
pointer swap).  A kill at any instant leaves either both visible or
neither; the orphan-drop below remains as defense-in-depth for catalogs
whose data/lineage got out of sync through external surgery (e.g. a
partial restore), publishing a new data snapshot that omits the orphan
bucket dirs (metadata-only, hardlinks) before reprocessing."""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import (
    DataFrame,
    Observation,
    SparkSession,
    functions as F,
    types as T,
)

from mistral_ocr_pipeline_spark.plans.extract_pipeline import extract_transcripts
from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("conv_bucket", T.IntegerType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("failures", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("finished_at", T.TimestampType(), True),
    ]
)

DEFAULT_N_BUCKETS = 16
# rows of the staged output read back before publishing (the write audit)
AUDIT_SAMPLE_ROWS = 100


def with_conv_bucket(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    return df.withColumn(
        "conv_bucket", F.pmod(F.hash(F.col("conv_id")), F.lit(n_buckets)).cast("int")
    )


def committed_lineage(
    catalog: TableCatalog, lineage_table: str
) -> dict[int, tuple[int, int]]:
    """``{conv_bucket: (rows, failures)}`` of the committed lineage rows —
    one read of the lineage table, at most ``n_buckets`` rows collected."""
    if not catalog.exists(lineage_table):
        return {}
    rows = (
        catalog.read(lineage_table)
        .filter(F.col("status") == "committed")
        .select("conv_bucket", "rows", "failures")
        .collect()
    )
    return {r.conv_bucket: (r.rows, r.failures) for r in rows}


def _drop_orphan_buckets(
    catalog: TableCatalog, output_table: str, committed: set[int]
) -> list[int]:
    """Remove bucket partitions that have data but no lineage commit so
    reprocessing cannot double-write.  With the single-commit protocol
    this cannot arise from a kill (data+lineage publish atomically); it
    covers externally-desynced catalogs.  The drop is a new snapshot
    omitting the orphan dirs — metadata-only, no data rewrite."""
    data_dir = catalog.data_path(output_table)
    orphans: list[int] = []
    if data_dir is None or not os.path.isdir(data_dir):
        return orphans
    for entry in os.listdir(data_dir):
        if not entry.startswith("conv_bucket="):
            continue
        bucket = int(entry.split("=", 1)[1])
        if bucket not in committed:
            orphans.append(bucket)
    if orphans:
        catalog.drop_partition_dirs(
            output_table, [f"conv_bucket={b}" for b in orphans]
        )
    return orphans


def run_extraction(
    spark: SparkSession,
    catalog: TableCatalog,
    input_df: DataFrame,
    output_table: str = "extracted",
    lineage_table: str = "run_partitions",
    run_id: str = "run-0",
    n_buckets: int = DEFAULT_N_BUCKETS,
    only_buckets: set[int] | None = None,
) -> dict:
    """One (possibly resumed) extraction run.

    ``only_buckets`` restricts the run to a subset — the test hook that
    simulates a kill after k bucket-batches committed.  Returns summary
    metrics {processed_buckets, skipped_buckets, orphans_dropped,
    total_rows, total_failures}.

    The committed lineage is read ONCE: its (bucket, rows, failures) rows
    — one per bucket — decide on the driver which buckets are still to do
    and seed the run's totals.  A run with nothing to do returns before
    building any plan.  The new buckets' rows/bytes/failures are collected
    by ``DataFrame.observe`` DURING the write — at 100 TB a read-back would
    be a second complete scan of the output per run; only a sampled audit
    of ``AUDIT_SAMPLE_ROWS`` staged rows is read back."""
    committed = committed_lineage(catalog, lineage_table)
    orphans = _drop_orphan_buckets(catalog, output_table, set(committed))
    summary = {
        "run_id": run_id,
        "processed_buckets": 0,
        "skipped_buckets": len(committed),
        "orphans_dropped": orphans,
        "total_rows": sum(rows for rows, _ in committed.values()),
        "total_failures": sum(fails for _, fails in committed.values()),
    }
    # J1 resume: committed buckets drop out of the scan via one driver-side
    # set difference (the reference's hash-index skip, utils.py:291-304)
    wanted = range(n_buckets) if only_buckets is None else only_buckets
    todo = sorted({int(b) for b in wanted} - committed.keys())
    if not todo:
        return summary

    src = with_conv_bucket(input_df, n_buckets).filter(F.col("conv_bucket").isin(todo))
    # tz-AWARE instants: createDataFrame would interpret naive datetimes in
    # the Spark session timezone, shifting lineage times on non-UTC sessions
    started_at = datetime.now(timezone.utc)
    extracted = extract_transcripts(
        src.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    out = with_conv_bucket(extracted, n_buckets)

    # per-bucket rows/bytes/failures ride the WRITE pass via observe():
    # one conditional-aggregate triple per bucket (n_buckets is a fixed,
    # small table property — 3×16 exprs here, 3×1024 on a warehouse-sized
    # bucket count — all map-side, no extra job, no output re-scan)
    bytes_col = (
        F.coalesce(F.octet_length("extracted_text"), F.lit(0))
        + F.coalesce(F.octet_length("md"), F.lit(0))
    ).cast("long")
    fail_col = F.col("error").isNotNull().cast("long")
    obs = Observation(f"lineage_{run_id}_{uuid.uuid4().hex[:8]}")
    aggs = []
    for b in range(n_buckets):
        in_b = (F.col("conv_bucket") == b).cast("long")
        aggs.append(F.sum(in_b).alias(f"rows_{b}"))
        aggs.append(F.sum(in_b * bytes_col).alias(f"bytes_{b}"))
        aggs.append(F.sum(in_b * fail_col).alias(f"fails_{b}"))
    out = out.observe(obs, *aggs)
    # WRITE-audit-PUBLISH, for real: stage the data snapshot (invisible),
    # audit the staged files, stage the lineage rows, publish BOTH in one
    # atomic catalog commit — a kill anywhere leaves both or neither.
    data_snap = catalog.stage_append(out, output_table, partition_by=["conv_bucket"])
    vals = obs.get  # blocks until the staging write finishes

    lineage_rows = [
        (
            run_id,
            b,
            b,
            int(vals[f"rows_{b}"] or 0),
            int(vals[f"bytes_{b}"] or 0),
            int(vals[f"fails_{b}"] or 0),
            "committed",
            started_at,
            datetime.now(timezone.utc),
        )
        for b in range(n_buckets)
        if (vals[f"rows_{b}"] or 0) > 0
    ]
    if not lineage_rows:
        catalog.discard_staged(data_snap)
        return summary
    # sampled audit of the STAGED (not yet visible) snapshot: prove the
    # files are readable with the expected schema before anything
    # publishes — partition-pruned + LIMITed, a handful of rows, not a
    # table scan
    new_buckets = [r[2] for r in lineage_rows]
    audited = (
        spark.read.parquet(os.path.join(catalog.warehouse, data_snap))
        .filter(F.col("conv_bucket").isin(new_buckets))
        .select("conv_id", "turn_idx", "extracted_text", "error")
        .limit(AUDIT_SAMPLE_ROWS)
        .count()
    )
    if audited == 0:
        catalog.discard_staged(data_snap)
        raise RuntimeError(
            f"write audit failed: {len(lineage_rows)} buckets staged but the "
            f"staged output has no readable rows; nothing published"
        )
    lineage_snap = catalog.stage_append(
        spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA), lineage_table
    )
    catalog.commit({output_table: data_snap, lineage_table: lineage_snap})
    summary["processed_buckets"] = len(lineage_rows)
    summary["total_rows"] += sum(r[3] for r in lineage_rows)
    summary["total_failures"] += sum(r[5] for r in lineage_rows)
    return summary
