"""Registry bookkeeping guards: every ``queries()`` entry has a DuckDB
oracle in ``oracle_sql()`` (and no oracle is orphaned), and the
hand-bumped registry counts in COVERAGE.md and README.md match the
registry."""

from __future__ import annotations

import os

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_oracle_or_documented_exception():
    """Round 5 closed the last no-oracle gaps (VERDICT r4 item 3): the
    approx-sketch trio carries composed oracles (exact statistic +
    asserted in-bounds flag, the d13 pattern) and s15_pca_eigen was
    retired in favor of the oracle-checked s15a invariants — EVERY
    registry entry must now have a DuckDB oracle."""
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    rows_only = qs - oracles
    assert rows_only == set(), (
        f"unexpected rows-only entries: {sorted(rows_only)}"
    )
    assert not (oracles - qs), "orphan oracles with no query entry"


def test_coverage_doc_counts_match_registry():
    """COVERAGE.md's summary line must track the real registry — the
    count is bumped by hand with each new entry, and this pins it so the
    doc can't silently drift from the code."""
    import re

    with open("COVERAGE.md") as f:
        text = f.read()
    m = re.search(r"(\d+) registry entries; (\d+) oracle-checked", text)
    assert m, "COVERAGE.md summary line missing"
    n_entries, n_oracle = int(m.group(1)), int(m.group(2))
    assert n_entries == len(entrymod.queries())
    assert n_oracle == len(entrymod.oracle_sql())
    # README's quick-start comment carries the same hand-bumped count
    # (drifted silently in round 7 until pinned here)
    with open(os.path.join(REPO, "README.md")) as f:
        readme = f.read()
    rm = re.search(r"# (\d+) analytics ops", readme)
    assert rm, "README registry count comment missing"
    assert int(rm.group(1)) == len(entrymod.queries())
