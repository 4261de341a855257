"""Golden equality: Spark engine output == pure-Python oracle, byte-for-byte,
under stable (conv_id, turn_idx) ordering — the BASELINE.json correctness
criterion (per-turn text equality under stable turn ordering)."""

import pandas as pd
import pytest

from mistral_ocr_pipeline_spark.extractors.dispatch import extract_turn_golden
from mistral_ocr_pipeline_spark.fixtures.gen import gen_transcripts, transcripts_schema
from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
    assemble_conversations,
    extract_transcripts,
    with_stable_order,
)


def _golden(rows):
    out = []
    for conv_id, turn_idx, role, text, tool, ts in sorted(rows, key=lambda r: (r[0], r[1])):
        rec = extract_turn_golden(text, tool)
        out.append(
            (
                conv_id,
                turn_idx,
                rec["payload_kind"],
                rec["extracted_text"],
                tuple(rec["spans"]),
                rec["md"],
                rec["error"],
            )
        )
    return out


def _spark_rows(spark, rows, **kw):
    df = spark.createDataFrame(rows, schema=transcripts_schema())
    got = extract_transcripts(df, **kw)
    collected = got.orderBy("conv_id", "turn_idx").collect()
    return [
        (
            r.conv_id,
            r.turn_idx,
            r.payload_kind,
            r.extracted_text,
            tuple((s.start, s.end, s.kind, s.ref) for s in (r.spans or [])),
            r.md,
            r.error,
        )
        for r in collected
    ]


@pytest.fixture(scope="module")
def unit_rows():
    return gen_transcripts(20, (2, 30), seed=42, profile="unit")


class TestGoldenEquality:
    def test_tiny_slice(self, spark):
        rows = gen_transcripts(3, (5, 10), seed=7, profile="tiny")
        assert _spark_rows(spark, rows) == _golden(rows)

    def test_unit_profile_full_matrix(self, spark, unit_rows):
        assert _spark_rows(spark, unit_rows) == _golden(unit_rows)

    def test_order_independence_of_salting(self, spark, unit_rows):
        """Salted repartition (shuffle) must not change any per-turn result."""
        a = _spark_rows(spark, unit_rows, repartition=True)
        b = _spark_rows(spark, unit_rows, repartition=False)
        assert a == b

    def test_skew_profile(self, spark):
        rows = gen_transcripts(12, 4, seed=11, profile="skew")
        # conv 0 holds ~half of all turns
        n0 = sum(1 for r in rows if r[0] == "conv-000000")
        assert n0 >= len(rows) * 0.4
        assert _spark_rows(spark, rows) == _golden(rows)


class TestConversationAssembly:
    def test_assemble_matches_oracle_order(self, spark):
        """A1: per-conversation md assembly must follow turn_idx order, not
        shuffle arrival order (reference main.py:203-216 re-sort contract)."""
        rows = gen_transcripts(5, (3, 9), seed=13, profile="tiny")
        df = spark.createDataFrame(rows, schema=transcripts_schema())
        ext = extract_transcripts(df)
        conv = assemble_conversations(ext).orderBy("conv_id").collect()

        golden = {}
        for conv_id, turn_idx, *_ in sorted(rows, key=lambda r: (r[0], r[1])):
            pass
        by_conv = {}
        for conv_id, turn_idx, role, text, tool, ts in sorted(
            rows, key=lambda r: (r[0], r[1])
        ):
            rec = extract_turn_golden(text, tool)
            by_conv.setdefault(conv_id, []).append(rec["md"])
        golden = {k: "\n\n".join(v) for k, v in by_conv.items()}

        for r in conv:
            assert r.conv_md == golden[r.conv_id]

    def test_stable_order_rank(self, spark):
        rows = gen_transcripts(3, 6, seed=3, profile="tiny")
        df = spark.createDataFrame(rows, schema=transcripts_schema())
        ranked = with_stable_order(extract_transcripts(df)).collect()
        for r in ranked:
            assert r.turn_rank == r.turn_idx + 1


class TestByteBoundedRebatch:
    def test_split_preserves_rows_and_bounds(self, spark):
        import pandas as pd

        from mistral_ocr_pipeline_spark.plans import extract_pipeline as ep

        pdf = pd.DataFrame(
            {
                "conv_id": [f"c{i}" for i in range(10)],
                "turn_idx": list(range(10)),
                "role": ["u"] * 10,
                "text": ["x" * 3_000_000] * 9 + [None],  # 27 MB total + null
                "tool": [None] * 10,
                "ts": [None] * 10,
            }
        )
        slices = list(ep._byte_bounded(pdf, 10_000_000))
        # rows preserved in order, each slice under budget (or single row)
        assert sum(len(s) for s in slices) == 10 and len(slices) >= 3
        assert [c for s in slices for c in s["conv_id"]] == list(pdf["conv_id"])
        for s in slices:
            payload = s["text"].str.len().fillna(0).sum()
            assert payload <= 10_000_000 or len(s) == 1

    def test_extraction_output_independent_of_budget(self):
        from mistral_ocr_pipeline_spark.plans import extract_pipeline as ep

        pdf = pd.DataFrame(
            {
                "conv_id": [f"c{i % 3}" for i in range(50)],
                "turn_idx": list(range(50)),
                "role": ["u"] * 50,
                "text": [f"turn {i} text with words " * 20 for i in range(50)],
                "tool": [None] * 50,
                "ts": [None] * 50,
            }
        )
        # a 1000-byte budget forces many slices; extracting them one by
        # one must equal extracting the batch whole
        slices = list(ep._byte_bounded(pdf, 1000))
        assert len(slices) > 1
        small = pd.concat([ep._extract_one(s) for s in slices], ignore_index=True)
        pd.testing.assert_frame_equal(small, ep._extract_one(pdf))
