"""Output checks shared by the workloads. Each returns a count of rejected
results, which the run adds to its failures; pure Python over collected
rows so that ``test_perfbench.py`` can show they reject corrupted output."""

from __future__ import annotations

from collections import Counter


def row_diff(expected, got) -> int:
    """Rows in one multiset and not the other (a dropped, added, changed or
    duplicated row each count)."""
    e, g = Counter(map(tuple, expected)), Counter(map(tuple, got))
    return sum(((e - g) + (g - e)).values())


def total_diff(expected: dict, got_rows, key, value) -> int:
    """Keys whose summed ``value(row)`` over ``got_rows`` differs from
    ``expected[key]`` (a key missing on either side counts)."""
    tot: dict = {}
    for r in got_rows:
        k = key(r)
        tot[k] = tot.get(k, 0) + value(r)
    return sum(1 for k in set(expected) | set(tot) if expected.get(k) != tot.get(k))


def exactly_once(expected_ids, got_ids) -> tuple[int, int]:
    """(missing, duplicated) ids of ``got_ids`` against ``expected_ids``."""
    exp, got = set(expected_ids), Counter(got_ids)
    missing = sum(1 for i in exp if i not in got)
    dup = sum(n - 1 for n in got.values() if n > 1)
    extra = sum(1 for i in got if i not in exp)
    return missing + extra, dup
