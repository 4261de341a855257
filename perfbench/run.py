#!/usr/bin/env python3
"""Benchmark for the transcript extraction engine.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 3 --trace 0

Runs one workload as a single closed-loop client on ``local[nproc]``: it
submits one job, waits for it to finish, then submits the next.  Inputs
are generated from ``--seed`` before anything is timed, every output turn
is checked against the single-process oracle after timing, and the last
line of standard output is one JSON object with the metrics.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of a traced session (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

import pyarrow.compute as pc  # noqa: E402
import pyarrow.dataset as ds  # noqa: E402

from mistral_ocr_pipeline_spark import session  # noqa: E402
from mistral_ocr_pipeline_spark.checkpoint import lineage  # noqa: E402
from mistral_ocr_pipeline_spark.extractors import dispatch  # noqa: E402
from mistral_ocr_pipeline_spark.fixtures.gen import transcripts_schema  # noqa: E402
from mistral_ocr_pipeline_spark.plans import extract_pipeline  # noqa: E402
from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog  # noqa: E402
from perfbench import check, inputs  # noqa: E402
from perfbench.trace import (  # noqa: E402
    PHASE_PROPERTY,
    EventLog,
    Tracer,
    WorkerRss,
)

SETUPS = 3  # set-ups per run; setup_s is their median
PASSES = 3  # timed passes per run, each over a slice of its own
REPEATS = 3  # no-op resumes and read-backs per run; reported as medians
# slices are sized so that a run's timed passes take about --seconds at
# these rates, measured on a 4-core box at local[4]
NOMINAL_TURNS_PER_S = {"extract_mixed": 3_500, "extract_skewed": 2_200}
DRIVER_MEM = "3g"
OUTPUT_TABLE = "extracted"
CATALOG_METHODS = (
    "read", "exists", "data_path", "current_tables", "stage_append",
    "stage_overwrite", "discard_staged", "commit", "drop_partition_dirs",
)
EXTRACTOR_FUNCTIONS = {
    "extract_html_blocks": "extractors.html_extract_blocks_s",
    "extract_pdf_layout_blocks": "extractors.pdf_layout_blocks_s",
    "assemble": "extractors.assemble_s",
    "normalize_plain": "extractors.normalize_plain_s",
}
TURN_KINDS = ("plain", "html", "pdf_layout", "empty", "error")

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: Path) -> None:
    """Point every scratch path Spark, the JVM and Python use into ``work``
    and make the package importable by Spark's Python workers, which do
    not inherit the driver's ``sys.path``."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the launcher's too: temp files here, no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def spark_conf(work: Path, event_dir: Path | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        # each input file is one split, as each file of a large table would
        # be; Spark would otherwise pack a few MB of files into nproc splits
        "spark.sql.files.minPartitionNum": str(inputs.SPLIT_FILES),
    }
    if event_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def set_phase(spark, phase: str) -> None:
    spark.sparkContext.setLocalProperty(PHASE_PROPERTY, phase)


def read_tables(spark, tables: list[str]):
    return spark.read.schema(transcripts_schema()).parquet(*tables)


def extract_pass(spark, table: str) -> None:
    """One extraction job over one slice, drained to a noop sink."""
    df = extract_pipeline.extract_transcripts(read_tables(spark, [table]))
    df.write.format("noop").mode("overwrite").save()


def start_session(work: Path, cores: int, warmup: str, event_dir: Path | None = None):
    """``get_spark`` plus Python-worker spin-up on a small warm-up
    extraction; returns the session and the set-up seconds."""
    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name="perfbench", cores=cores, extra_conf=spark_conf(work, event_dir)
    )
    set_phase(spark, "warmup")
    extract_pass(spark, warmup)
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def check_turns(path: str, oracles) -> tuple[check.CheckResult, int]:
    """Check an extraction output directory against the oracle; also
    returns its ``extracted_text`` + ``md`` bytes."""
    out = ds.dataset(path, partitioning="hive").to_table(columns=list(check.TURN_COLUMNS))
    want = {}
    for o in oracles:
        want.update(o.turns)
    res = check.compare(
        want, check.turn_pairs({c: out.column(c).to_pylist() for c in check.TURN_COLUMNS})
    )
    output_bytes = sum(
        pc.sum(pc.binary_length(out.column(c))).as_py() or 0 for c in ("extracted_text", "md")
    )
    return res, output_bytes


@dataclass
class CommitPhase:
    run_s: dict[str, float]  # seconds of the killed run and of its resume
    noop_resume_s: list[float]
    readback_s: list[float]
    summaries: dict[str, dict]
    check: check.CheckResult
    input_turns: int
    output_bytes: int
    warehouse: Path


def no_span(_name: str):
    return nullcontext()


def timed_run(spark, warehouse: Path, tables: list[str], phase: str, span, only=None):
    """One ``run_extraction`` through a new catalog object over a new
    DataFrame, as a restarted job would make them."""
    catalog = TableCatalog(spark, str(warehouse))
    src = read_tables(spark, tables)
    set_phase(spark, phase)
    t0 = time.perf_counter()
    with span(f"checkpoint.{phase}"):
        summary = lineage.run_extraction(
            spark, catalog, src, output_table=OUTPUT_TABLE, run_id=phase, only_buckets=only
        )
    return time.perf_counter() - t0, summary


def commit_phase(spark, tables: list[str], warehouse: Path, oracles, span) -> CommitPhase:
    """``run_extraction`` into a fresh catalog as a run killed after half
    the buckets and its resume; then, ``REPEATS`` times, a no-op resume of
    the finished job and a read-back of the table with its conversations
    assembled.  The resume leaves the no-op resume's code path warm.  The
    committed turns and the assembled conversations are checked against
    the oracle."""
    run_s, summaries = {}, {}
    half = set(range(0, lineage.DEFAULT_N_BUCKETS, 2))
    for phase, only in (("killed", half), ("resume", None)):
        run_s[phase], summaries[phase] = timed_run(spark, warehouse, tables, phase, span, only)
    noop_s, readback_s = [], []
    for _ in range(REPEATS):
        s, summaries["noop_resume"] = timed_run(spark, warehouse, tables, "noop_resume", span)
        noop_s.append(s)
        set_phase(spark, "readback")
        t0 = time.perf_counter()
        with span("plans.readback"):
            table = TableCatalog(spark, str(warehouse)).read(OUTPUT_TABLE)
            convs = extract_pipeline.assemble_conversations(table).toArrow()
        readback_s.append(time.perf_counter() - t0)
    log(
        "commit phase: " + ", ".join(f"{k} {v:.2f}s" for k, v in run_s.items())
        + f", noop_resume {fmt(noop_s)}, readback {fmt(readback_s)}"
    )
    catalog = TableCatalog(spark, str(warehouse))
    turn_res, output_bytes = check_turns(catalog.data_path(OUTPUT_TABLE), oracles)
    want_convs = {}
    for o in oracles:
        want_convs.update(o.convs)
    conv_res = check.compare(
        want_convs,
        check.conversation_pairs({c: convs.column(c).to_pylist() for c in check.CONV_COLUMNS}),
    )
    return CommitPhase(
        run_s, noop_s, readback_s, summaries, turn_res + conv_res,
        sum(len(o.turns) for o in oracles), output_bytes, warehouse,
    )


def fmt(values: list[float]) -> str:
    return "/".join(f"{v:.2f}" for v in values) + "s"


@dataclass
class Measurement:
    """What one session measured on one workload."""

    pass_s: list[float] = field(default_factory=list)
    pass_turns: list[int] = field(default_factory=list)
    commit: CommitPhase | None = None
    rss_peak_bytes: int = 0

    @property
    def turns_per_s(self) -> float:
        return statistics.median(n / s for n, s in zip(self.pass_turns, self.pass_s))


def measure(spark, data: inputs.Inputs, work: Path, tracer: Tracer | None) -> Measurement:
    """The timed passes, one extraction job per slice drained to a noop
    sink, then one commit phase over all the slices they read; the oracle
    check reads what that commit phase committed."""
    m = Measurement()
    span = tracer.span if tracer else no_span
    with WorkerRss() as rss:
        for table, turns in zip(data.slices, data.turns):
            set_phase(spark, "pass")
            t0 = time.perf_counter()
            with span("plans.extract_pass"):
                extract_pass(spark, table)
            m.pass_s.append(time.perf_counter() - t0)
            m.pass_turns.append(turns)
    log(f"passes: {fmt(m.pass_s)}")
    m.rss_peak_bytes = rss.peak_bytes
    m.commit = commit_phase(spark, data.slices, work / "warehouse", data.oracles, span)
    return m


def build_inputs(args, work: Path, cores: int):
    """Build the inputs, then start the first session, which also starts
    the JVM; this cold set-up is the slowest of a run's set-ups."""
    turns = max(1000, int(args.seconds * NOMINAL_TURNS_PER_S[args.workload] / PASSES))
    data = inputs.build(args.workload, args.seed, str(work / "inputs"), PASSES, turns)
    print(json.dumps({"inputs": data.stats}), flush=True)
    log("inputs built")
    spark, setup_s = start_session(work, cores, data.warmup)
    log(f"cold set-up {setup_s:.2f}s")
    return data, spark, setup_s


def run_untraced(args, work: Path, cores: int) -> tuple[dict, Measurement]:
    data, spark, cold_s = build_inputs(args, work, cores)
    setup_s = [cold_s]
    try:
        for _ in range(SETUPS - 1):
            spark.stop()
            spark, s = start_session(work, cores, data.warmup)
            setup_s.append(s)
            log(f"set-up {s:.2f}s")
        m = measure(spark, data, work, None)
    finally:
        shutdown(spark)
    log("session ended")
    metrics = {
        "turns_per_s": (m.turns_per_s, "turns/s"),
        "noop_resume_s": (statistics.median(m.commit.noop_resume_s), "s"),
        "readback_s": (statistics.median(m.commit.readback_s), "s"),
        "setup_s": (statistics.median(setup_s), "s"),
        "worker_peak_rss_mb": (m.rss_peak_bytes / 2**20, "MB"),
    }
    return metrics, m


def run_traced(args, work: Path, cores: int) -> tuple[dict, Measurement]:
    """The cold session starts untraced; the measured session is a second
    one, with the event log on and spans around the engine's calls."""
    data, spark, _cold_s = build_inputs(args, work, cores)
    spark.stop()
    tracer = Tracer(run_id=f"{args.workload}-{args.seed}")
    tracer.wrap(session, "get_spark", "session.get_spark")
    for method in CATALOG_METHODS:
        tracer.wrap(TableCatalog, method, f"catalog.{method}")
    event_dir = work / "events"
    event_dir.mkdir()
    try:
        spark, setup_s = start_session(work, cores, data.warmup, event_dir)
        m = measure(spark, data, work, tracer)
        app_id = spark.sparkContext.applicationId
    finally:
        tracer.restore()
        shutdown(spark)
    metrics = layer_metrics(m, tracer, EventLog(str(event_dir / app_id)))
    metrics.update(extractor_pass(data.slices[0], Tracer(tracer.run_id)))
    metrics.update(
        {
            "trace.turns_per_s": m.turns_per_s,
            "trace.readback_s": statistics.median(m.commit.readback_s),
            "trace.setup_s": setup_s,
        }
    )
    return {k: (v, unit(k)) for k, v in metrics.items()}, m


def extractor_pass(table: str, tracer: Tracer) -> dict[str, float]:
    """Single-process pass of ``extract_turn`` over one slice's rows, with
    the extractor kernels it calls wrapped in spans."""
    rows = ds.dataset(table).to_table(columns=["text", "tool"])
    texts, tools = rows.column("text").to_pylist(), rows.column("tool").to_pylist()
    for fn, name in EXTRACTOR_FUNCTIONS.items():
        tracer.wrap(dispatch, fn, name)
    try:
        for text, tool in zip(texts, tools):
            t0 = time.perf_counter()
            rec = dispatch.extract_turn(text, tool)
            tracer.record(f"extractors.turn.{rec['payload_kind']}", t0, time.perf_counter())
    finally:
        tracer.restore()
    out: dict[str, float] = {}
    for kind in TURN_KINDS:
        out[f"extractors.turns.{kind}"] = tracer.count(f"extractors.turn.{kind}")
    for kind in ("plain", "html", "pdf_layout"):
        n = out[f"extractors.turns.{kind}"]
        total = tracer.total_s(f"extractors.turn.{kind}")
        out[f"extractors.{kind}.us_per_turn"] = total / n * 1e6 if n else 0.0
    for name in EXTRACTOR_FUNCTIONS.values():
        out[name] = tracer.total_s(name)
    out["extractors.bytes_in"] = sum(
        len((t or "").encode()) + len((tl or "").encode()) for t, tl in zip(texts, tools)
    )
    return out


def _disk_usage(root: Path) -> tuple[int, int]:
    """(distinct files, bytes) under ``root``; hardlinks count once."""
    seen: dict[tuple[int, int], int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            seen[(st.st_dev, st.st_ino)] = st.st_size
    return len(seen), sum(seen.values())


def layer_metrics(m: Measurement, tracer: Tracer, events: EventLog) -> dict[str, float]:
    """Per-layer metrics of one traced session (see README.md)."""
    c = m.commit
    out: dict[str, float] = {"session.get_spark_s": tracer.total_s("session.get_spark")}
    for k, v in events.task_metrics({"pass"}).items():
        out[f"plans.{k}"] = v
    for key, name in (
        ("python_run_s", "time to run Python workers"),
        ("python_start_s", "time to start Python workers"),
        ("python_sent_bytes", "data sent to Python workers"),
        ("python_returned_bytes", "data returned from Python workers"),
    ):
        v = events.python_metric({"pass"}, name)
        out[f"plans.{key}"] = v / 1e3 if key.endswith("_s") else v
    readback = events.task_metrics({"readback"})
    out["plans.assemble_s"] = readback["executor_run_s"] / REPEATS
    out["plans.assemble_shuffle_bytes"] = readback["shuffle_write_bytes"] / REPEATS

    out["checkpoint.killed_run_s"] = c.run_s["killed"]
    out["checkpoint.resume_run_s"] = c.run_s["resume"]
    out["checkpoint.noop_resume_s"] = statistics.median(c.noop_resume_s)
    out["checkpoint.buckets_committed"] = sum(
        c.summaries[p]["processed_buckets"] for p in ("killed", "resume")
    )
    out["checkpoint.buckets_skipped"] = sum(
        c.summaries[p]["skipped_buckets"] for p in ("resume", "noop_resume")
    )
    # input turns over turns the killed and resume runs extracted: 1.0
    # when the resume recomputes nothing the killed run committed
    extracted = events.python_metric({"killed", "resume"}, "number of output rows")
    out["checkpoint.useful_ratio"] = c.input_turns / max(1, extracted)

    # every catalog call of the session: the killed run, its resume, the
    # no-op resumes and the read-backs
    for name in ("stage_append", "stage_overwrite", "commit", "read"):
        out[f"catalog.{name}_s"] = tracer.total_s(f"catalog.{name}")
    out["catalog.stage_append_calls"] = tracer.count("catalog.stage_append")
    files, disk_bytes = _disk_usage(c.warehouse)
    out["catalog.files_written"] = files
    out["catalog.bytes_per_output_byte"] = disk_bytes / max(1, c.output_bytes)
    return out


def unit(name: str) -> str:
    if name.endswith("turns_per_s"):
        return "turns/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "bytes_in")):
        return "bytes"
    if name.endswith("us_per_turn"):
        return "us"
    if name.endswith(("_over_median", "_ratio", "_per_output_byte")):
        return "ratio"
    return "count"


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    cores = nproc()
    work = ROOT / "perfbench" / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        prepare_environment(work)
        runner = run_traced if args.trace else run_untraced
        metrics, m = runner(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = m.commit.check
    print(json.dumps({"mismatch_frac": res.mismatch_frac, "check": vars(res)}), flush=True)
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
