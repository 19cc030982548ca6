"""Output check for one timed pass of the validation job."""

from __future__ import annotations

from typing import Dict, List, Mapping, Optional


def pass_counts(metrics: Mapping, persisted: Mapping[str, int]
                ) -> Dict[str, int]:
    """The counts a pass is judged by: rows validated, persisted
    violation rows, and duplicated ids (reported and persisted)."""
    return {
        "rows": int(metrics["rows"]),
        "violations": int(persisted["violations"]),
        "uniqueness_violations": int(metrics["uniqueness_violations"]),
        "uniqueness_rows": int(persisted["uniqueness_violations"]),
    }


def check_pass(metrics: Mapping, persisted: Mapping[str, int],
               expected: Mapping[str, int],
               previous: Optional[Mapping[str, int]] = None) -> List[str]:
    """Every way the pass's output is wrong; empty when it is right.

    * ``rows`` equals the generated row count;
    * ``row_integrity.ok`` holds where the job reports it;
    * persisted violation rows and duplicated ids equal the counts the
      generator's anomaly draws imply, and the persisted duplicate rows
      agree with the reported count;
    * the counts equal the previous pass's.
    """
    got = pass_counts(metrics, persisted)
    problems = []
    for key in ("rows", "violations", "uniqueness_violations"):
        if got[key] != expected[key]:
            problems.append(f"{key}: got {got[key]}, expected "
                            f"{expected[key]}")
    if got["uniqueness_rows"] != got["uniqueness_violations"]:
        problems.append(f"persisted {got['uniqueness_rows']} duplicate "
                        f"rows, reported {got['uniqueness_violations']}")
    integrity = metrics.get("row_integrity")
    if integrity is not None and not integrity.get("ok"):
        problems.append(f"row_integrity failed: {integrity}")
    if previous is not None and dict(previous) != got:
        problems.append(f"counts changed between passes: {dict(previous)}"
                        f" -> {got}")
    return problems
