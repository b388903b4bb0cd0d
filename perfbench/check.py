"""Output check: every extracted row against the generator's expected
output, outside any timed region.

A document counts as failed when its row is missing, duplicated, comes
back with ok=False, carries the wrong branch, or its text differs from
the expected text by a single byte. Rows for urls that were never input
count as failures too.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyarrow.dataset as ds


@dataclass
class CheckResult:
    attempted: int = 0
    failed: int = 0
    examples: list = field(default_factory=list)

    def add(self, other: "CheckResult") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.examples.extend(other.examples[: max(0, 5 - len(self.examples))])


def check_rows(rows, expected: dict) -> CheckResult:
    """rows: iterable of (url, extracted_text, ok, branch);
    expected: url → (text, branch)."""
    res = CheckResult(attempted=len(expected))
    seen: dict = {}
    for url, text, ok, branch in rows:
        seen[url] = seen.get(url, 0) + 1
        want = expected.get(url)
        if want is None:
            res.failed += 1
            res.examples.append((url, "unexpected row"))
            continue
        if seen[url] > 1:
            res.failed += 1
            res.examples.append((url, "duplicate row"))
            continue
        why = None
        if not ok:
            why = "ok=False"
        elif branch != want[1]:
            why = f"branch {branch!r} != {want[1]!r}"
        elif (text if text is not None else "") != want[0]:
            why = f"text {text!r} != {want[0]!r}"
        if why:
            res.failed += 1
            res.examples.append((url, why))
    missing = [u for u in expected if u not in seen]
    res.failed += len(missing)
    res.examples.extend((u, "missing") for u in missing[:5])
    del res.examples[5:]
    return res


def read_sink(path: str):
    """(url, extracted_text, ok, branch) rows of a parquet sink directory
    (Spark part files; `_`-prefixed metadata is skipped)."""
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(path)
             if "/_" not in dp[len(path):] and not os.path.basename(dp).startswith("_")
             for f in fs if f.endswith(".parquet") and not f.startswith((".", "_"))]
    if not files:
        return []
    t = ds.dataset(files, format="parquet").to_table(
        columns=["url", "extracted_text", "ok", "branch"]).to_pydict()
    return list(zip(t["url"], t["extracted_text"], t["ok"], t["branch"]))


def check_sink(path: str, expected: dict) -> CheckResult:
    return check_rows(read_sink(path), expected)
