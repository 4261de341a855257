"""Seeded benchmark inputs and their single-process oracle.

A workload's input is a list of slices.  Each slice is its own parquet
table of distinct turns in the ``(conv_id, turn_idx, role, text, tool,
ts)`` shape, so every timed pass reads rows no earlier pass has seen and
no content is replicated.  Payloads come from
``mistral_ocr_pipeline_spark.fixtures.gen.gen_turn``.

Everything is built in one process.  Each slice draws from its own
``random.Random`` seeded with ``(workload, seed, slice, size)``, so its
bytes depend on nothing else.  The oracle is ``extract_turn`` run on each
row in that process; only its digests are kept.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import zlib
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from mistral_ocr_pipeline_spark.extractors.dispatch import extract_turn
from mistral_ocr_pipeline_spark.fixtures.gen import ROLES, gen_turn
from perfbench.check import conversation_digest, turn_digest

WORKLOADS = ("extract_mixed", "extract_skewed")

# share of the mixed payloads drawn from the fixture edge cases (empty,
# null, whitespace, corrupt tool JSON, truncated HTML, unicode)
EDGE_SHARE = 0.03
# share of an extract_skewed slice held by its one hot conversation
HOT_SHARE = 0.5
# a split table has this many files; a bucketed one this many buckets
SPLIT_FILES = 8
N_BUCKETS = 8
WARMUP_TURNS = 80

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def _conversation_sizes(rng: random.Random, n_turns: int, hot: int) -> list[int]:
    sizes = [hot] if hot else []
    left = n_turns - hot
    while left > 0:
        k = min(left, rng.randint(2, 24))
        sizes.append(k)
        left -= k
    return sizes


def slice_rows(workload: str, seed: int, idx: int, n_turns: int) -> list[tuple]:
    """The rows of one slice (or of the warm-up table when ``idx < 0``)."""
    rng = random.Random(f"{workload}:{seed}:{idx}:{n_turns}")
    hot = int(n_turns * HOT_SHARE) if workload == "extract_skewed" and idx >= 0 else 0
    n_edge = 0
    rows = []
    for c, k in enumerate(_conversation_sizes(rng, n_turns, hot)):
        conv_id = f"s{idx}-c{c:06d}"
        for t in range(k):
            if rng.random() < EDGE_SHARE:
                n_edge += 1
                text, tool = gen_turn(rng, n_edge)
            else:
                text, tool = gen_turn(rng)
            ts = _EPOCH + dt.timedelta(minutes=c, seconds=t)
            rows.append((conv_id, t, ROLES[(c + t) % len(ROLES)], text, tool, ts))
    return rows


def _files_for(workload: str, rows: list[tuple]) -> list[list[tuple]]:
    """Split rows into the table's files.  ``extract_skewed`` is stored
    conv-bucketed, as a ``bucket(conv_id)`` table arrives, so the hot
    conversation's bucket is one large file; the others are split evenly."""
    if workload == "extract_skewed":
        files: list[list[tuple]] = [[] for _ in range(N_BUCKETS)]
        for r in rows:
            files[zlib.crc32(r[0].encode()) % N_BUCKETS].append(r)
        return [f for f in files if f]
    per = -(-len(rows) // SPLIT_FILES)
    return [rows[i : i + per] for i in range(0, len(rows), per)]


def write_table(workload: str, rows: list[tuple], out_dir: str) -> list[int]:
    """Write ``rows`` as a parquet table directory; returns rows per file."""
    os.makedirs(out_dir, exist_ok=True)
    counts = []
    for i, part in enumerate(_files_for(workload, rows)):
        cols = list(zip(*part))
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{i:03d}.parquet"))
        counts.append(len(part))
    return counts


@dataclass
class SliceOracle:
    turns: dict = field(default_factory=dict)  # (conv_id, turn_idx) -> digest
    convs: dict = field(default_factory=dict)  # conv_id -> digest
    kinds: Counter = field(default_factory=Counter)


def oracle(rows: list[tuple]) -> SliceOracle:
    """Single-process reference output for ``rows`` (in conversation order)."""
    out = SliceOracle()
    mds: dict[str, list] = {}
    for conv_id, turn_idx, _role, text, tool, _ts in rows:
        rec = extract_turn(text, tool)
        out.kinds[rec["payload_kind"]] += 1
        out.turns[(conv_id, turn_idx)] = turn_digest(
            rec["payload_kind"], rec["extracted_text"], rec["spans"],
            rec["md"], rec["error"],
        )
        mds.setdefault(conv_id, []).append((turn_idx, rec["md"]))
    for conv_id, turns in mds.items():
        out.convs[conv_id] = conversation_digest([m for _i, m in sorted(turns)])
    return out


def _fingerprint(out_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as fh:
            h.update(name.encode())
            h.update(fh.read())
    return h.hexdigest()


def build_slice(workload: str, seed: int, idx: int, n_turns: int,
                out_dir: str) -> tuple[dict, SliceOracle]:
    """Write one slice and compute its oracle."""
    rows = slice_rows(workload, seed, idx, n_turns)
    counts = write_table(workload, rows, out_dir)
    stats = {
        "turns": len(rows),
        "bytes_in": sum(
            len((r[3] or "").encode()) + len((r[4] or "").encode()) for r in rows
        ),
        "files": len(counts),
        "max_file_rows": max(counts),
        "sha256": _fingerprint(out_dir),
    }
    return stats, oracle(rows)


@dataclass
class Inputs:
    warmup: str
    slices: list[str]
    turns: list[int]
    oracles: list[SliceOracle]
    stats: dict


def build(workload: str, seed: int, root: str, n_slices: int, slice_turns: int) -> Inputs:
    """Write the warm-up table and ``n_slices`` slices under ``root``."""
    warmup = os.path.join(root, "warmup")
    write_table("extract_mixed", slice_rows(workload, seed, -1, WARMUP_TURNS), warmup)
    slices = [os.path.join(root, f"slice-{i}") for i in range(n_slices)]
    results = [
        build_slice(workload, seed, i, slice_turns, d) for i, d in enumerate(slices)
    ]
    slice_stats = [s for s, _o in results]
    oracles = [o for _s, o in results]
    kinds = sum((o.kinds for o in oracles), Counter())
    turns = [s["turns"] for s in slice_stats]
    fp = hashlib.sha256("".join(s["sha256"] for s in slice_stats).encode())
    stats = {
        "workload": workload,
        "seed": seed,
        "slices": n_slices,
        "turns": sum(turns),
        "bytes_in": sum(s["bytes_in"] for s in slice_stats),
        "kind_share": {k: round(v / sum(turns), 4) for k, v in sorted(kinds.items())},
        "hot_split_share": round(
            max(s["max_file_rows"] / s["turns"] for s in slice_stats), 4
        ),
        "files_per_slice": slice_stats[0]["files"],
        "sha256": fp.hexdigest()[:16],
    }
    return Inputs(warmup, slices, turns, oracles, stats)
