"""Zero-dark machinery invariant as a pytest (round-12 verdict ask
#6): every public function in operators/ and functions/ must be
covered by at least one of

  - a registered query that executes it (dynamic trace over plan
    construction),
  - a pytest pin, or
  - a covered_via chain to a covered caller (one-level static call
    graph through private helpers and oracle builders),

so new machinery cannot land dark.  This replays
tools/machinery_coverage.compute_rows — the same computation that
writes MACHINERY_COVERAGE.json — inside the test session.

Heavy (~3.5 min: builds all registered plans at sf0.001 under a
sys.setprofile trace), so it lives in its own module and asserts the
trace itself stayed clean too: a query that ERRORS during plan
construction would otherwise silently shrink the coverage map.  The
committed MACHINERY_COVERAGE.json must name the same functions as the
recomputed rows, so a change that adds, renames or deletes a public
function also regenerates the report.
"""

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

SF = "/root/testdata/sf0.001"


def test_every_public_function_is_covered(spark, built_queries):
    import machinery_coverage as MC

    _dfs, calls, build_errors = built_queries
    rows, errors = MC.compute_rows(spark, SF, traced=(calls, build_errors))
    assert not errors, f"queries errored during trace: {errors}"
    dark = [
        r["function"]
        for r in rows
        if not MC.direct(r) and not r["covered_via"]
    ]
    assert not dark, f"dark machinery (no query/pytest/via coverage): {dark}"
    names = {r["function"] for r in rows}
    committed = json.loads((ROOT / "MACHINERY_COVERAGE.json").read_text())
    listed = {r["function"] for r in committed["functions"]}
    assert names == listed, (
        f"MACHINERY_COVERAGE.json is stale: missing {sorted(names - listed)}, "
        f"gone from the code {sorted(listed - names)}; regenerate it with "
        "`python tools/machinery_coverage.py --json MACHINERY_COVERAGE.json`"
    )
    # sanity on the computation itself: the scan saw a realistic
    # function population and a majority carries direct coverage
    assert len(rows) > 250
    assert sum(1 for r in rows if MC.direct(r)) > 200
