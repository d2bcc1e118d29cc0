"""Closed-form expected outputs, derived from the generator's injection rules
(``generator.expected_violation_indices``), never from an engine run."""

from __future__ import annotations

from collections import Counter

from baskerville_spark.generator import (
    GenConfig,
    clip_id_of,
    expected_violation_indices,
    part_of,
)

NULL_RATE_MAX = 0.05  # ValidationConfig.null_rate_max
NULL_RATE_COLS = ("clip_id", "codec", "transcript", "sr_hz", "dur_ms")


def expected_verdicts(cfg: GenConfig) -> dict[tuple[int, str], tuple]:
    """(part_id, check_name) -> (passed, n_violations, n_rows) for every
    verdict row ``run_resumable`` writes with the default checks (audio
    invariant on) and no baseline."""
    exp = expected_violation_indices(cfg)
    missing_ref = {clip_id_of(i, cfg) for i in exp["ref_integrity"]}

    def per_part(indices) -> Counter:
        return Counter(part_of(i, cfg) for i in indices)

    n_rows = per_part(range(cfg.n_rows))
    counted = {
        "uniqueness": per_part(exp["uniqueness"]),
        "ref_integrity": per_part(exp["ref_integrity"]),
        "pattern:clip_id": Counter(),
        # mp3 rows fail the codec pattern and the decode
        "pattern:codec": per_part(exp["decode_error"]),
        "decode_error": per_part(exp["decode_error"]),
        "snr": per_part(exp["snr"]),
        # a transcript is only compared when its reference row exists
        "transcript_eq": per_part(
            i for i in exp["transcript_eq"] if clip_id_of(i, cfg) not in missing_ref
        ),
    }
    nulls = per_part(exp["null_rate"])
    out_of_range = per_part(exp["range"])

    grid: dict[tuple[int, str], tuple] = {}
    for p in range(cfg.n_parts):
        n = n_rows[p]
        for check, counts in counted.items():
            grid[(p, check)] = (counts[p] == 0, counts[p], n)
        for c in NULL_RATE_COLS:
            nv = nulls[p] if c == "dur_ms" else 0
            grid[(p, f"null_rate:{c}")] = (nv / n <= NULL_RATE_MAX, nv, n)
        grid[(p, "range:dur_ms")] = (out_of_range[p] == 0, None, n)
        grid[(p, "range:sr_hz")] = (True, None, n)
    return grid


def verdict_mismatches(rows, expected: dict, parts) -> list[str]:
    """Compare written verdict rows of ``parts`` with the closed form.
    Rows are (part_id, check_name, passed, n_violations, n_rows)."""
    parts = set(parts)
    got = {}
    problems = []
    for part, check, passed, n_viol, n in rows:
        if part not in parts:
            continue
        if (part, check) in got:
            problems.append(f"duplicate verdict {(part, check)}")
        got[(part, check)] = (bool(passed), n_viol, n)
    want = {k: v for k, v in expected.items() if k[0] in parts}
    for key in sorted(set(want) | set(got)):
        if got.get(key) != want.get(key):
            problems.append(f"{key}: got {got.get(key)} want {want.get(key)}")
    return problems


def decode_errors(cfg: GenConfig) -> int:
    return len(expected_violation_indices(cfg)["decode_error"])


def null_durations(cfg: GenConfig) -> int:
    return len(expected_violation_indices(cfg)["null_rate"])
