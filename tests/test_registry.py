"""Driver-contract registry invariants (cheap, no Spark jobs): every
oracle key has a query, names are unique and stable, entry() builds."""

from __future__ import annotations

import inspect


# Rows-only queries (no SQL oracle) must each carry a documented reason in
# their docstring/registration comment; everything else needs an oracle.
ROWS_ONLY_OK = {
    "velocity_timefunc_full",
    "gaussian_smooth",
    "velocity_dem_pattern",
    # power iteration: float sum order is partitioning-dependent at the
    # last ulp; accuracy pinned by the numpy seed-and-recover pytest
    "embedding_top_eigen",
}


def test_registry_matches_frozen_manifest():
    """The registry is FROZEN per round: every registered query appears in
    tests/registry_frozen.txt (updated in the same commit that adds a
    query). Catches accidental late registration — the round-1 gap where 9
    registered queries missed the driver's correctness snapshot."""
    import os

    import __spark_entry__ as E

    manifest = os.path.join(os.path.dirname(__file__), "registry_frozen.txt")
    frozen = {l.strip() for l in open(manifest) if l.strip()}
    assert set(E.queries()) == frozen, (
        "registry drifted from tests/registry_frozen.txt — update the "
        "manifest in the SAME commit that adds/removes a query"
    )


def test_oracle_text_matches_frozen_digests():
    """Every oracle's SQL is FROZEN as the registry names are:
    tests/oracle_frozen.txt holds one ``name sha1(sql)`` line per oracle.
    A refactor of the Spark side must leave each oracle byte for byte, so
    the sweep keeps certifying against the same truth; an oracle edit is
    deliberate and updates this file in the same commit."""
    import hashlib
    import os

    import __spark_entry__ as E

    manifest = os.path.join(os.path.dirname(__file__), "oracle_frozen.txt")
    frozen = dict(l.split() for l in open(manifest) if l.strip())
    got = {k: hashlib.sha1(v.encode()).hexdigest() for k, v in E.oracle_sql().items()}
    changed = sorted(k for k in got.keys() | frozen.keys() if got.get(k) != frozen.get(k))
    assert not changed, f"oracle SQL drifted from tests/oracle_frozen.txt: {changed}"


def test_registry_shape():
    import __spark_entry__ as E

    qs, os_ = E.queries(), E.oracle_sql()
    assert len(qs) >= 45
    assert set(os_) <= set(qs), "oracle without a query"
    # documented rows-only exceptions
    rows_only = set(qs) - set(os_)
    assert rows_only <= ROWS_ONLY_OK
    for name, fn in qs.items():
        params = list(inspect.signature(fn).parameters)
        assert len(params) == 2, f"{name} must take (spark, sf_dir)"
    for name, sql in os_.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_docs_quote_the_frozen_registry_count():
    """README's query count must equal the frozen manifest — the docs are
    the driver's first read and drifted twice (82/89 vs 91 in round 2).
    tests/registry_frozen.txt is the single authoritative count."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    manifest = os.path.join(root, "tests", "registry_frozen.txt")
    n = len([l for l in open(manifest) if l.strip()])
    readme = open(os.path.join(root, "README.md")).read()
    m = re.search(r"exposes (\d+) queries", readme)
    assert m, "README must state the query count"
    assert int(m.group(1)) == n, (
        f"README says {m.group(1)} queries, frozen manifest has {n} — "
        "update README.md in the same commit that changes the registry"
    )
    baseline = open(os.path.join(root, "BASELINE.md")).read()
    m2 = re.search(r"frozen registry to (\d+)", baseline)
    assert m2, "BASELINE.md must state the registry count"
    assert int(m2.group(1)) == n, (
        f"BASELINE.md says {m2.group(1)} queries, frozen manifest has {n}"
    )


def test_driver_priority_is_not_stale():
    """The driver samples the first 50 queries() entries per round, so a
    stale DRIVER_PRIORITY silently wastes a whole round's correctness
    sample on re-checks (VERDICT r3 #2: round 3's priority head was
    exactly the 50 queries round 3 had already checked). The generator
    (tools/rebuild_priority.py) orders latest-check failures first, then
    never-driver-checked registry entries; this asserts the committed
    list matches what the generator would produce from the CORRECTNESS
    files present at commit time."""
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from rebuild_priority import build_priority
    finally:
        sys.path.pop(0)
    from mintpy_spark.queries import DRIVER_PRIORITY

    expected = tuple(build_priority())
    assert DRIVER_PRIORITY == expected, (
        "DRIVER_PRIORITY is stale — run `python tools/rebuild_priority.py` "
        "in the same commit that adds a CORRECTNESS_r*.json or a new query"
    )


def test_driver_priority_head_is_unchecked_or_failed():
    """Belt-and-braces mirror of the staleness test: none of the first 50
    priority entries may already be GREEN in a prior driver snapshot."""
    import glob
    import json
    import os

    from mintpy_spark.queries import DRIVER_PRIORITY

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green = set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        for name, res in json.load(open(path)).items():
            if res.get("err") == "no_oracle":
                ok = res.get("spark_rows") is not None
            else:
                ok = bool(
                    res.get("rows_match")
                    and res.get("schema_match")
                    and res.get("hash_match", True)
                    and not res.get("err")
                )
            if ok:
                green.add(name)
            else:
                green.discard(name)  # later failure reopens the query
    overlap = set(DRIVER_PRIORITY[:50]) & green
    assert not overlap, f"priority head wastes driver slots on green queries: {sorted(overlap)}"


def test_verification_only_queries_have_scale_safe_twins():
    """Every verification-tier query (exact all-pairs / benign-block
    formulation kept to validate candidate generation) must map to a
    registered scale-safe production twin."""
    import __spark_entry__ as E
    from mintpy_spark.queries import VERIFICATION_ONLY

    qs = set(E.queries())
    for verif, twin in VERIFICATION_ONLY.items():
        assert verif in qs, f"verification query {verif} not registered"
        assert twin in qs, f"{verif}'s scale-safe twin {twin} not registered"
        assert verif != twin


def test_entry_runs(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert {"user_id", "bucket_start", "cnt", "vsum", "vmin", "vmax", "vmean"} <= set(
        df.columns
    )


def test_frozen_manifest_has_no_duplicate_lines():
    """The registry test compares as a SET, so a duplicated manifest
    line silently inflates every documented count (bit round 4:
    olap_cube_revenue was listed twice and three docs said 300 for a
    299-query registry)."""
    import os

    manifest = os.path.join(os.path.dirname(__file__), "registry_frozen.txt")
    lines = [l.strip() for l in open(manifest) if l.strip()]
    dupes = sorted({l for l in lines if lines.count(l) > 1})
    assert len(lines) == len(set(lines)), f"duplicate manifest lines: {dupes}"
