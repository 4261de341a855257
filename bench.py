"""Legacy benchmark harness — the repository's benchmark is
``perfbench/run.py`` (workloads in ``BENCHMARK.json``).  Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {name: sec},
 "sf": ..., "turns_per_sec": ..., "extract_turns": ...}

Headline: mixed-payload per-turn extraction throughput (turns/sec) — the
BASELINE.json metric.  The mixed corpus derives deterministically from the
sf documents table (plain + HTML-wrapped + PDF-layout payloads), replicated
``SPARK_GRAFT_BENCH_REP``× so the run is long enough to measure.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_REP (default 60).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_ROOT = str(Path(__file__).resolve().parent)
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from pyspark.sql import functions as F  # noqa: E402


def mixed_transcripts(spark, sf_dir: str, rep: int):
    """documents × rep → transcripts with a deterministic payload mix:
    1/3 plain, 1/3 full HTML page, 1/3 PDF-layout tool payload."""
    # the small documents file is one input split — fan it out BEFORE the
    # explode so payload construction and the downstream shuffle map side
    # are parallel (serial stages are what kill N→4N scaling)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(128, "doc_id")
    rows = docs.select(
        "doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))).alias("r")
    )
    uid = F.col("doc_id") * rep + F.col("r")
    fam = uid % 3
    html = F.concat(
        F.lit(
            '<html><body><nav><a href="/a">Home</a> <a href="/b">About</a></nav>'
            "<header><p>Site tagline</p></header><article><h1>Doc "
        ),
        uid.cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            '</p></article><aside><ul><li><a href="/r">Related junk</a></li></ul>'
            "</aside><footer><p>© 2024</p></footer></body></html>"
        ),
    )

    def line(text_col, size, y0):
        bbox = F.array(F.lit(72.0), F.lit(y0), F.lit(272.0), F.lit(y0 + size + 2))
        return F.struct(
            bbox.alias("bbox"),
            F.array(
                F.struct(text_col.alias("text"), F.lit(size).alias("size"), bbox.alias("bbox"))
            ).alias("spans"),
        )

    def page(lines):
        return F.struct(
            F.lit(612.0).alias("width"),
            F.lit(792.0).alias("height"),
            F.array(
                F.struct(
                    F.lit(0).alias("type"),
                    F.array(F.lit(50.0), F.lit(50.0), F.lit(562.0), F.lit(700.0)).alias("bbox"),
                    lines.alias("lines"),
                )
            ).alias("blocks"),
        )

    pdf = F.to_json(
        F.struct(
            F.lit("pdf_layout").alias("kind"),
            F.array(
                page(F.array(line(F.lit("Introduction"), 12.5, 60.0), line(F.col("text"), 10.0, 90.0))),
                page(F.array(line(F.lit("References"), 12.5, 60.0), line(F.lit("[1] cite."), 10.0, 90.0))),
            ).alias("pages"),
        )
    )
    return rows.select(
        F.concat(F.lit("conv-"), F.lpad((uid % 997).cast("string"), 6, "0")).alias("conv_id"),
        (uid / 997).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.when(fam == 0, F.col("text")).when(fam == 1, html).alias("text"),
        F.when(fam == 2, pdf).alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def _run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    rep = int(os.environ.get("SPARK_GRAFT_BENCH_REP", "60"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.0

    from mistral_ocr_pipeline_spark.plans.entry_queries import QUERIES
    from mistral_ocr_pipeline_spark.plans.extract_pipeline import extract_transcripts
    from mistral_ocr_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench", cores=cpus)

    timings: dict[str, float] = {}

    # headline: mixed-payload extraction throughput.  Persist the input and
    # run one warmup drain first so the number measures the engine, not
    # JVM codegen + python-worker spin-up.
    t_input = mixed_transcripts(spark, sf_dir, rep).persist()
    n_turns = t_input.count()
    # two warmup drains: measured ramp on this box is pass0 5.2s → pass1
    # 3.2s → pass2 2.7s → floor ~2.5s (python-worker spin-up, JIT, page
    # cache) — one warmup still leaves ~25% ramp in the first timed pass
    _run_noop(extract_transcripts(t_input))
    _run_noop(extract_transcripts(t_input))
    extract_sec = None
    for _ in range(2):
        t0 = time.perf_counter()
        _run_noop(extract_transcripts(t_input))
        dt = time.perf_counter() - t0
        extract_sec = dt if extract_sec is None else min(extract_sec, dt)
    timings["extract_mixed"] = round(extract_sec, 3)
    turns_per_sec = round(n_turns / extract_sec, 1)

    bench_queries = [
        "flagship_extract_plain",
        "extract_html_boilerplate",
        "extract_pdf_layout",
        "a1_conversation_assembly",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "ann_cosine_topk",
        "ann_brute_force_numpy",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "text_quality_score",
        "text_langid",
        "text_bm25_topk",
        "text_dsir_weights",
        "ann_pq_topk",
        "ann_ivfpq_topk",
        "ann_jl_refine_topk",
        "text_substring_dedup",
        "text_nb_quality",
        "text_winnow_fingerprint",
        "sketch_countmin",
        "text_ngram_novelty",
        "sample_cluster_balanced",
        "url_dedup_latest",
        "url_trap_flags",
        "text_soft_dedup_weights",
        "coreset_kcenter",
        "sketch_kmv_overlap",
        "dedup_ngram_containment",
        "j2_fuzzy_best_match",
        "pricing_summary",
        "w6_stable_turn_ordering",
        "transcript_prefix_dedup",
        "transcript_neardup",
        "transcript_context_windows",
        "text_bm25_incremental",
        "text_script_detect",
        "layout_zorder",
        "profile_table",
        "transcript_script_mismatch",
        "text_lr_quality",
        "text_kn_surprisal",
        "transcript_pathology_facts",
        "md_table_cells",
        "html_link_graph",
        "host_authority",
        "md_section_chunks",
        "embed_margin_mine",
        "ann_ivf_index_append",
        "pack_similar_order",
        "text_host_boilerplate",
        "embed_margin_mine_ivf",
        "host_communities",
        "text_texttile_segments",
        "warc_parse_records",
        "warc_html_extract",
        "crawl_community_waves",
        "ann_mrl_topk",
        "pack_length_buckets",
    ]
    # Best-of-N with adaptive extension: this box shows periodic
    # multi-MINUTE whole-VM stall phases (an untouched pure-JVM query
    # swings 1.4s↔10.6s between runs with identical plans — both passes
    # of a best-of-2 can land inside one phase).  Two base passes; if the
    # best still looks stall-inflated (>1 s) take a third, and keep
    # taking passes while each one improves the best by >20% (max 5) —
    # stable queries stop immediately, stall-hit ones get the chances
    # they need.  The canary below quantifies the remaining noise.
    for name in bench_queries:
        best = None
        passes = 0
        while passes < 5:
            t0 = time.perf_counter()
            _run_noop(QUERIES[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            prev = best
            best = dt if best is None else min(best, dt)
            passes += 1
            if passes < 2:
                continue
            if best <= 1.0:
                break  # at/near floor: sub-second queries don't stall-inflate
            if best > 3.0 and passes < 4:
                continue  # heavy query still above any plausible floor:
                #           keep hunting for a stall-free window
            if prev is not None and best > prev * 0.8:
                break  # last pass bought <20%: converged
        timings[name] = round(best, 3)

    # stall canary: a fixed pure-JVM aggregation with no Python, no IO
    # beyond one cached range — its spread across 3 runs measures MACHINE
    # noise during this bench, independent of any engine code
    canary = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).selectExpr("sum(id * 3)").collect()
        canary.append(time.perf_counter() - t0)
    canary_spread = round(max(canary) / max(min(canary), 1e-9), 2)

    # per-turn text-equality pass rate vs the pure-Python oracle (the
    # BASELINE.json correctness metric), on a deterministic sample
    from mistral_ocr_pipeline_spark.extractors.dispatch import extract_turn_golden
    from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
        extract_transcripts as _ext,
    )

    sample = t_input.unpersist().filter(
        (F.col("turn_idx") % 29 == 0)
    ).persist()
    got = {
        (r.conv_id, r.turn_idx): (r.extracted_text, r.md, r.error)
        for r in _ext(sample).collect()
    }
    n_pass = 0
    src_rows = sample.select("conv_id", "turn_idx", "text", "tool").collect()
    for r in src_rows:
        g = extract_turn_golden(r.text, r.tool)
        if got.get((r.conv_id, r.turn_idx)) == (
            g["extracted_text"], g["md"], g["error"]
        ):
            n_pass += 1
    pass_rate = round(n_pass / max(len(src_rows), 1), 6)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_bench_sec (headline: extract_mixed turns/sec)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extract_turns": n_turns,
                "turns_per_sec": turns_per_sec,
                "pass_rate": pass_rate,
                "pass_sample": len(src_rows),
                "cpus": int(cpus),
                "canary_spread": canary_spread,
                "canary_sec": [round(c, 3) for c in canary],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
