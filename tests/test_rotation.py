"""Structural invariants of the driver-gate rotation (queries.py's
policy block made machine-checked): the partition arithmetic, the
50-row driver cap, and the rows-only twin constraint hold for
WHATEVER the current DRIVER_OMIT says — so the per-round gate edit
can never silently strand a query or a proof (the checks each round
ran by hand, r12 verdict #2, now permanent)."""

from willa_spark.queries import (
    DRIVER_OMIT,
    EXHIBITION,
    ORACLE_SQL,
    QUERIES,
    ROWS_ONLY_TWINS,
    driver_oracles,
    driver_queries,
)


def test_omit_set_names_registered_queries():
    """Every omitted name is a registered query — a typo'd or removed
    name in DRIVER_OMIT silently widens the gate past the cap."""
    assert DRIVER_OMIT <= set(QUERIES), DRIVER_OMIT - set(QUERIES)


def test_gate_fits_the_driver_cap():
    """The driver records at most 50 oracle rows (in registration
    order); a gate past 50 silently drops the newest registrations
    from the correctness record."""
    gate = driver_queries()
    assert len(gate) <= 50, len(gate)
    assert set(driver_oracles()) <= set(gate)


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
    where every twin rests records a weaker rows-only row with no
    same-round hash-grade proof of the family."""
    gate = set(driver_queries())
    for name, twins in ROWS_ONLY_TWINS.items():
        if name in gate:
            assert any(t in gate for t in twins), (
                f"rows-only gate name {name} with NO family twin of "
                f"{twins} in the same gate — the FORWARD SCHEDULE's "
                "twin keeps were not honored"
            )


def test_exhibition_rows_keep_their_proof():
    """The exhibition retirement (capacity policy (a)) trades driver
    gate rows, never correctness coverage: every exhibition name is a
    registered query WITH a DuckDB oracle (so the automatic
    omitted-parity pytest pins it every round) and rests in
    DRIVER_OMIT."""
    assert EXHIBITION <= set(QUERIES), EXHIBITION - set(QUERIES)
    assert EXHIBITION <= set(ORACLE_SQL), EXHIBITION - set(ORACLE_SQL)
    assert EXHIBITION <= DRIVER_OMIT, EXHIBITION - DRIVER_OMIT
    # no rows-only name may ever be exhibited: its twin proof cadence
    # is the rotation's, not the exhibition's
    assert not (EXHIBITION & set(ROWS_ONLY_TWINS))


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
    still match them."""
    from types import SimpleNamespace

    from tests.conftest import REPO_ROOT, SLOW_FULL_SUITE_ONLY, repo_nodeid

    listed = sorted(SLOW_FULL_SUITE_ONLY)[0]
    path, name = listed.split("::", 1)
    for nodeid in (listed, f"{path.removeprefix('tests/')}::{name}"):
        item = SimpleNamespace(path=REPO_ROOT / path, nodeid=nodeid)
        assert repo_nodeid(item) == listed


def test_default_shard_count_fits_the_host():
    """tools/run_tests.sh's default: one 8 GB local[4] shard per 4 cores
    and per ~10 GB available, 1 to 4 shards."""
    from tools.shard_plan import shard_count

    gb = 1 << 30
    assert shard_count(4, 15 * gb) == 1  # 4 cores, ~15 GB available
    assert shard_count(32, 256 * gb) == 4
    assert shard_count(32, 25 * gb) == 2
    assert shard_count(2, 64 * gb) == 1
