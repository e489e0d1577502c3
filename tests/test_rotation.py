"""Structural invariants of the driver gate (queries.DRIVER_GATE, the
fixed set ``__spark_entry__.queries()`` returns): it names registered
queries, fits the driver's 50-row cap, holds every ``run_topology``
row, and keeps the rows-only twin constraint; DRIVER_OMIT is exactly
the rest of the registry. Also: no round tag in the package source,
and the test-runner helpers."""

import re

from conftest import REPO_ROOT, topology_rows
from willa_spark.queries import (
    DRIVER_GATE,
    DRIVER_OMIT,
    ORACLE_SQL,
    QUERIES,
    ROWS_ONLY_TWINS,
    driver_oracles,
    driver_queries,
)


def test_omit_set_names_registered_queries():
    """The gate names registered queries only — a typo'd or removed
    name would silently shrink it — and DRIVER_OMIT is the rest of the
    registry."""
    assert DRIVER_GATE <= set(QUERIES), DRIVER_GATE - set(QUERIES)
    assert DRIVER_OMIT == set(QUERIES) - DRIVER_GATE


def test_gate_fits_the_driver_cap():
    """The driver records at most 50 oracle rows (in registration
    order); a gate past 50 silently drops the newest registrations
    from the correctness record. The gate holds every row that runs
    through ``run_topology``: those rows are the paper's engine."""
    gate = driver_queries()
    assert set(gate) == DRIVER_GATE
    assert len(gate) <= 50, len(gate)
    assert set(driver_oracles()) <= set(gate)
    topology = topology_rows()
    assert len(topology) == 19 and topology <= DRIVER_GATE, topology - DRIVER_GATE


def test_every_oracle_names_a_registered_query():
    assert set(ORACLE_SQL) <= set(QUERIES), set(ORACLE_SQL) - set(QUERIES)


def test_rows_only_twin_map_is_exact():
    """ROWS_ONLY_TWINS covers EXACTLY the registered no-oracle names
    (an unlisted rows-only row has no declared proof; a stale entry
    claims one that no longer exists), and every declared twin is a
    registered oracle-bearing query."""
    rows_only = {n for n in QUERIES if n not in ORACLE_SQL}
    assert set(ROWS_ONLY_TWINS) == rows_only, (
        set(ROWS_ONLY_TWINS) ^ rows_only
    )
    for name, twins in ROWS_ONLY_TWINS.items():
        assert twins, name
        for twin in twins:
            assert twin in QUERIES, (name, twin)
            assert twin in ORACLE_SQL, (name, twin)


def test_rows_only_gate_names_carry_their_twin_in_gate():
    """THE twin constraint: a rows-only name may be driver-visible
    only alongside at least one oracle-bearing family twin — a gate
    without any twin records a weaker rows-only row with no hash-grade
    proof of the family."""
    gate = set(driver_queries())
    for name, twins in ROWS_ONLY_TWINS.items():
        if name in gate:
            assert any(t in gate for t in twins), (
                f"rows-only gate name {name} with NO family twin of "
                f"{twins} in the same gate"
            )


def test_package_source_carries_no_round_tags():
    """Comments, docstrings and literals in the package say why, not
    when: a round tag (``r10``) names a review the reader cannot see,
    and in a plan literal it changes the plan text."""
    root = REPO_ROOT / "willa_spark"
    tag = re.compile(r"\br[0-9]{2}\b")
    hits = [
        f"{p.relative_to(root)}:{n}"
        for p in sorted(root.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if tag.search(line)
    ]
    assert not hits, hits


def test_fast_gate_skip_list_names_real_tests():
    """Every fast-gate skip entry (conftest.SLOW_FULL_SUITE_ONLY) must
    name a test that still collects — a renamed/removed test would
    otherwise leave a stale entry silently skipping nothing while the
    renamed (slow) test re-enters the driver's budgeted gate."""
    import subprocess
    import sys

    from tests.conftest import REPO_ROOT, SLOW_FULL_SUITE_ONLY

    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q",
         "--no-header", "-p", "no:cacheprovider"],
        capture_output=True, text=True, timeout=300, cwd=REPO_ROOT,
        env={**__import__("os").environ, "WILLA_FULL_SUITE": "1"},
    )
    # a collection error would otherwise read as "every entry missing"
    assert out.returncode == 0, f"collection failed:\n{out.stderr}\n{out.stdout[-4000:]}"
    collected = set(out.stdout.splitlines())
    missing = {t for t in SLOW_FULL_SUITE_ONLY if t not in collected}
    assert not missing, missing


def test_fast_gate_skip_matches_from_any_rootdir():
    """The skip list spells ids from the repository root; run from inside
    tests/, pytest's nodeids lack the ``tests/`` prefix, and the gate must
    still match them. Collection from inside tests/ works too: the
    package imports from the repository root there as well."""
    import subprocess
    import sys
    from types import SimpleNamespace

    from tests.conftest import REPO_ROOT, SLOW_FULL_SUITE_ONLY, repo_nodeid

    listed = sorted(SLOW_FULL_SUITE_ONLY)[0]
    path, name = listed.split("::", 1)
    for nodeid in (listed, f"{path.removeprefix('tests/')}::{name}"):
        item = SimpleNamespace(path=REPO_ROOT / path, nodeid=nodeid)
        assert repo_nodeid(item) == listed

    run = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", "test_rotation.py"],
        cwd=REPO_ROOT / "tests", capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stdout + run.stderr


def test_default_shard_count_fits_the_host():
    """tools/run_tests.sh's default: one 8 GB local[4] shard per 4 cores
    and per ~10 GB available, 1 to 4 shards."""
    from tools.shard_plan import shard_count

    gb = 1 << 30
    assert shard_count(4, 15 * gb) == 1  # 4 cores, ~15 GB available
    assert shard_count(32, 256 * gb) == 4
    assert shard_count(32, 25 * gb) == 2
    assert shard_count(2, 64 * gb) == 1
