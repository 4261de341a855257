"""The flagship Spark job: transcripts → per-turn extraction.

Spark shape (SURVEY.md §3.1): ``scan(transcripts) → salted repartition →
mapInPandas(extract) → [ordering window where order matters] → sink``.

Design points, per the north rule:

* **No per-row Python in Spark's pipeline** — extraction runs inside one
  Arrow-batched ``mapInPandas`` stage; the per-document loops live inside
  the extractor batch (same contract as lxml/NumPy inner loops).
* **conv_id-salted repartitioning** defuses long-conversation skew: each
  turn is independent (the reference re-sorts after unordered completion,
  main.py:203-209, so per-turn parallelism is semantics-preserving), and
  the shuffle key is ``(conv_id, salt(turn_idx))`` so one 10⁶-turn
  conversation spreads across up to ``N_SALTS`` tasks.
* **No tuning knobs on the extract path** — the shuffle width is
  ``spark.sql.shuffle.partitions`` + AQE (set per cluster with ``--conf``),
  the salt count and the per-slice payload budget are fixed constants.
* **Stable turn ordering** is restored only where an order-sensitive
  derivation needs it (W6): ``with_stable_order`` and
  ``assemble_conversations`` window/sort on ``(conv_id, turn_idx)``.
"""

from __future__ import annotations

from collections.abc import Iterator, Iterable

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from mistral_ocr_pipeline_spark.extractors.dispatch import extract_turn

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("ref", T.StringType(), True),
        ]
    )
)

EXTRACT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("payload_kind", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("spans", SPAN_TYPE, True),
        T.StructField("md", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# fixed: the exchange WIDTH comes from spark.sql.shuffle.partitions + AQE
# (cluster --conf); the salt only bounds how many tasks one hot
# conversation may fan out over
N_SALTS = 64


def salted_repartition(df: DataFrame) -> DataFrame:
    """Hash-repartition on ``(conv_id, salt)`` with ``salt =
    pmod(hash(turn_idx), N_SALTS)``.

    A Zipf-head conversation (FIXTURES.md skew profile: one conv = 50% of
    turns) fans out over up to ``N_SALTS`` tasks instead of pinning one;
    AQE skew handling is the runtime backstop.  At 100 TB the same key
    keeps related turns loosely co-located for downstream per-conv ops
    while bounding any single task's share of a hot conversation."""
    salt = F.pmod(F.hash(F.col("turn_idx")), F.lit(N_SALTS))
    return df.repartition(F.col("conv_id"), salt)


MAX_BATCH_PAYLOAD_BYTES = 64 * 1024 * 1024


def _byte_bounded(pdf: pd.DataFrame, budget: int) -> Iterator[pd.DataFrame]:
    """Split one incoming batch into slices whose summed payload size stays
    under ``budget`` bytes (SURVEY §7.4.4): Arrow's maxRecordsPerBatch
    bounds ROWS, but 2048 rows of MB-scale HTML is gigabytes of strings
    held live while the output frame builds.  Length estimation is two
    vectorized str.len passes — no per-row Python."""
    # str.len() over object dtype yields object; make the dtype explicit
    # BEFORE fillna (object-fillna downcasting is deprecated and flips
    # behavior in pandas 3)
    sizes = (
        pdf["text"].str.len().astype("float64").fillna(0.0)
        + pdf["tool"].str.len().astype("float64").fillna(0.0)
    ).to_numpy()
    if sizes.sum() <= budget:
        yield pdf
        return
    start = 0
    acc = 0
    for i, sz in enumerate(sizes):
        if acc and acc + sz > budget:
            yield pdf.iloc[start:i]
            start, acc = i, 0
        acc += sz
    if start < len(pdf):
        yield pdf.iloc[start:]


def _extract_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The mapInPandas kernel: each Arrow batch, byte-bounded, extracted."""
    for incoming in batches:
        for piece in _byte_bounded(incoming, MAX_BATCH_PAYLOAD_BYTES):
            yield _extract_one(piece)


def _extract_one(pdf: pd.DataFrame) -> pd.DataFrame:
    # Per-row dispatch is the MEASURED optimum here, not an oversight.
    # Profiled r3 (cProfile, 2k pdf_layout turns): _page_lines 47%,
    # routing+json.loads ~15% — the layout kernel dominates, not dispatch.
    # A vectorized pre-route (pandas str.contains sniff + str.replace
    # normalize for the plain family) measured 3.5× SLOWER than this loop
    # at 50k plain rows: object-dtype pandas str ops pay per-row Python
    # anyway, while extract_turn's scalar fast paths (_WS_NEEDS_COLLAPSE
    # single C scan, html sniff short-circuit) do less work per row.
    #
    # nulls arrive as None or NaN depending on the Arrow→pandas path;
    # pin to None so the dispatcher's contract holds
    texts = [t if isinstance(t, str) else None for t in pdf["text"]]
    tools = [t if isinstance(t, str) else None for t in pdf["tool"]]
    recs = [extract_turn(t, tl) for t, tl in zip(texts, tools)]
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].values,
            "turn_idx": pdf["turn_idx"].values,
            "role": pdf["role"].values,
            "ts": pdf["ts"].values,
            "payload_kind": [r["payload_kind"] for r in recs],
            "extracted_text": [r["extracted_text"] for r in recs],
            "spans": [
                [
                    {"start": s[0], "end": s[1], "kind": s[2], "ref": s[3]}
                    for s in r["spans"]
                ]
                for r in recs
            ],
            "md": [r["md"] for r in recs],
            "error": [r["error"] for r in recs],
        }
    )


def extract_transcripts(df: DataFrame, repartition: bool | str = "auto") -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extraction table.

    ``repartition``:
      * ``"auto"`` (default) — shuffle via ``salted_repartition`` only when
        the incoming partitioning is too coarse (fewer partitions than the
        cluster's parallelism).  Extraction is per-turn-independent, so an
        input that is already fine-grained (Iceberg/parquet splits sized by
        ``maxPartitionBytes``) spreads long conversations across tasks *by
        construction* and a pre-shuffle is pure overhead (~30% wall in the
        local bench).  A conv-grouped source (e.g. bucketed-by-conv_id
        table) arrives coarse → auto engages the salted shuffle.
      * ``True`` — always shuffle (explicitly skewed sources).
      * ``False`` — never shuffle.

    The shuffle's width is ``spark.sql.shuffle.partitions`` (coalesced by
    AQE); each incoming Arrow batch is extracted in slices of at most
    ``MAX_BATCH_PAYLOAD_BYTES`` of payload.

    Null-handling: nulls are pinned to None before dispatch (Arrow delivers
    None for string nulls; NaN can appear via pandas paths)."""
    src = df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    if repartition == "auto":
        target = src.sparkSession.sparkContext.defaultParallelism
        repartition = src.rdd.getNumPartitions() < target
    if repartition:
        src = salted_repartition(src)
    return src.mapInPandas(_extract_batches, EXTRACT_OUTPUT_SCHEMA)


def with_stable_order(df: DataFrame) -> DataFrame:
    """W6: global stable ordering rank within each conversation."""
    from pyspark.sql import Window as W

    w = W.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_rank", F.row_number().over(w))


def assemble_conversations(df: DataFrame, text_col: str = "md") -> DataFrame:
    """A1 analog: deterministic per-conversation markdown assembly.

    Order-stability does NOT rely on shuffle arrival order: turns are
    collected as (turn_idx, md) structs and ``array_sort``-ed before the
    join — the Spark expression of the reference's "sort chunks by start
    page, then merge" contract (main.py:203-216).  All built-in exprs
    (codegen'd), no UDF."""
    return (
        df.groupBy("conv_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("turn_idx"), F.col(text_col).alias("t")))
            ).alias("_turns")
        )
        .select(
            "conv_id",
            F.array_join(
                F.transform(F.col("_turns"), lambda x: x["t"]), "\n\n"
            ).alias("conv_md"),
            F.size("_turns").alias("n_turns"),
        )
    )
