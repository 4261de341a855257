"""Full-output oracle check, run outside the timed region.

The oracle is ``extractors.dispatch.extract_turn`` run in a single plain
Python process on the generated rows (see ``inputs.py``).  Both sides are
reduced to a 16-byte digest per turn, keyed on ``(conv_id, turn_idx)``,
and per conversation, keyed on ``conv_id``, so the check holds no second
copy of the extracted text in memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable
from dataclasses import dataclass

TURN_COLUMNS = (
    "conv_id", "turn_idx", "payload_kind", "extracted_text", "spans", "md", "error",
)
CONV_COLUMNS = ("conv_id", "conv_md", "n_turns")


def _digest(value: tuple) -> bytes:
    # repr of a tuple of str, int and None is canonical
    return hashlib.blake2b(repr(value).encode("utf-8"), digest_size=16).digest()


def turn_digest(payload_kind, extracted_text, spans, md, error) -> bytes:
    """Digest of one output record.  ``spans`` may be oracle tuples
    ``(start, end, kind, ref)`` or the dicts Spark returns for the struct."""
    flat = tuple(
        (s["start"], s["end"], s["kind"], s["ref"]) if isinstance(s, dict) else tuple(s)
        for s in (spans or ())
    )
    return _digest((payload_kind, extracted_text, flat, md, error))


def conversation_digest(mds_in_turn_order: list[str | None]) -> bytes:
    """What ``assemble_conversations`` must produce for one conversation:
    the non-null ``md`` values joined by a blank line in ``turn_idx``
    order (Spark's ``array_join`` drops nulls), and the turn count."""
    joined = "\n\n".join(m for m in mds_in_turn_order if m is not None)
    return conversation_digest_of(joined, len(mds_in_turn_order))


def conversation_digest_of(conv_md: str | None, n_turns: int) -> bytes:
    return _digest((conv_md, n_turns))


@dataclass
class CheckResult:
    attempted: int = 0
    mismatched: int = 0
    missing: int = 0
    duplicated: int = 0
    unexpected: int = 0

    @property
    def failed(self) -> int:
        return self.mismatched + self.missing + self.duplicated + self.unexpected

    @property
    def mismatch_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def __add__(self, other: CheckResult) -> CheckResult:
        return CheckResult(
            self.attempted + other.attempted,
            self.mismatched + other.mismatched,
            self.missing + other.missing,
            self.duplicated + other.duplicated,
            self.unexpected + other.unexpected,
        )


def compare(expected: dict, actual: Iterable[tuple[object, bytes]]) -> CheckResult:
    """Compare ``(key, digest)`` pairs against the oracle's ``key → digest``.

    Every expected key counts as attempted.  A key the output lacks is
    missing, a second copy of a key is duplicated, a key the oracle never
    produced is unexpected, and a differing digest is mismatched."""
    res = CheckResult(attempted=len(expected))
    seen: set = set()
    for key, digest in actual:
        if key in seen:
            res.duplicated += 1
            continue
        seen.add(key)
        want = expected.get(key)
        if want is None:
            res.unexpected += 1
        elif want != digest:
            res.mismatched += 1
    res.missing = sum(1 for k in expected if k not in seen)
    return res


def turn_pairs(columns: dict[str, list]) -> Iterable[tuple[tuple[str, int], bytes]]:
    """``(key, digest)`` pairs from column lists named by ``TURN_COLUMNS``."""
    for conv_id, turn_idx, kind, text, spans, md, error in zip(
        *(columns[c] for c in TURN_COLUMNS)
    ):
        yield (conv_id, turn_idx), turn_digest(kind, text, spans, md, error)


def conversation_pairs(columns: dict[str, list]) -> Iterable[tuple[str, bytes]]:
    """``(conv_id, digest)`` pairs from ``assemble_conversations`` output."""
    for conv_id, conv_md, n_turns in zip(*(columns[c] for c in CONV_COLUMNS)):
        yield conv_id, conversation_digest_of(conv_md, n_turns)
