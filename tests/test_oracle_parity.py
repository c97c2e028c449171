"""Every oracle-checkable query in __spark_entry__ hash-matches DuckDB
at sf0.001 — the same compare the driver's t2 gate runs at sf0.01
(tools/oracle_check.py is the standalone version of this test)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import __spark_entry__ as entrymod  # noqa: E402
from oracle_check import _canon, value_hash  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_every_query_declared_in_entry():
    # driver contract: oracle keys ⊆ query keys, nothing dangling
    assert set(ORACLES) <= set(QUERIES)
    assert len(QUERIES) >= 40


def test_grade_first_manifest_names_all_registered():
    """_ordered() silently skips any _GRADE_FIRST name that isn't a
    registered query (`if k in merged`), so a typo or a rename that
    misses the manifest would silently SHIFT the driver's 50-entry
    grading window — a pulled-in tail entry would be graded in place
    of the intended one with no error anywhere. Pin every manifest
    name to the registry."""
    missing = [n for n in entrymod._GRADE_FIRST if n not in QUERIES]
    assert not missing, (
        f"_GRADE_FIRST names not in the registry (typo/rename?): "
        f"{missing}")


def test_grade_first_has_no_duplicates():
    """_ordered()'s dict comprehension silently dedupes, so a name
    listed twice would make any consumer that slices the RAW tuple
    (e.g. `_GRADE_FIRST[:50]`) mis-window or double-grade."""
    names = list(entrymod._GRADE_FIRST)
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"duplicate _GRADE_FIRST entries: {dupes}"


def test_grading_window_is_the_manifest_head():
    """The driver grades the first 50 queries() entries; those must be
    exactly the first 50 _GRADE_FIRST names, in order — i.e. every
    consumer (driver included) sees the window the manifest declares,
    with no silent shift from _ordered()'s merge."""
    assert list(QUERIES)[:50] == list(entrymod._GRADE_FIRST[:50])


def test_grade_first_is_only_the_window():
    """Only the first 50 names change what the driver grades; names past
    the window are narrative that queries() ignores (they would only
    reorder the ungraded tail). Keep the manifest to the window."""
    assert len(entrymod._GRADE_FIRST) <= 50


def test_declared_exception_maps_have_no_stale_names():
    """plan_audit/oracle_check gate runtime warnings and plan features
    against DECLARED per-query exception maps. A key that no longer
    names a registered query (after a rename) is a dead declaration —
    and the renamed query would then flag as undeclared, or worse, a
    future query reusing the old name would inherit an exception it
    never earned. Keep the maps exactly on the registry."""
    import oracle_check
    import plan_audit
    import scale_sweep

    for owner, mapname in ((plan_audit, "WINDOW_OK"),
                           (plan_audit, "SMJ_OK"),
                           (plan_audit, "PYTHON_OK"),
                           (plan_audit, "SHUFFLES_OK"),
                           (oracle_check, "WINDOW_OK"),
                           (scale_sweep, "SLOPE_OK")):
        decl = getattr(owner, mapname)
        stale = [k for k in decl if k not in QUERIES]
        assert not stale, (
            f"{owner.__name__}.{mapname} declares unknown queries: "
            f"{stale}")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, oracle, sf_dir):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = oracle.sql(ORACLES[name]).df()
    assert len(sdf) == len(odf), f"row count {len(sdf)} vs {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    if value_hash(sdf) != value_hash(odf):
        a, b = _canon(sdf), _canon(odf)
        neq = (a.fillna("~") != b.fillna("~")).any(axis=1)
        i = neq.idxmax()
        raise AssertionError(
            f"value mismatch at row {i}: spark={a.loc[i].to_dict()} "
            f"oracle={b.loc[i].to_dict()}")


# The rows-only (no-oracle) class was eliminated in round 2 and its
# last member retired in round 9 (embedding_pca_explained_variance
# now grades through exact trace/Frobenius spectrum companions; the
# eigenvalues stay numpy-pinned in test_similarity.py). Any future
# entry here must be genuinely non-SQL-expressible AND carry a
# hash-graded twin covering its distributed stage plus a pytest
# numeric pin.
ROWS_ONLY_DECLARED: set[str] = set()


def test_no_rows_only_queries():
    """Every registered query is fully oracle-checkable except the
    explicitly declared non-SQL-expressible set above — keeping the
    driver's hash gate at 100% of the hash-checkable registry."""
    assert set(QUERIES) - set(ORACLES) == ROWS_ONLY_DECLARED, \
        f"undeclared rows-only: {sorted(set(QUERIES) - set(ORACLES) - ROWS_ONLY_DECLARED)}"
