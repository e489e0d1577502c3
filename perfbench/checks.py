"""Output checks. Each returns a list of problems; an empty list passes.

The batch check normalises a Spark result and its DuckDB oracle with the
repository's parity tool (``tools/check_parity.py``): columns sorted by
name, integer widths collapsed, declared-float cells rounded, rows sorted.
"""

from __future__ import annotations

from collections import Counter

from tools.check_parity import duck_type_to_spark, norm_rows


def oracle_mismatch(df, con, sql: str) -> list[str]:
    """Compare a Spark DataFrame with a DuckDB query over the same parquet."""
    s = norm_rows(df.columns, [f.dataType.simpleString() for f in df.schema.fields],
                  [tuple(r) for r in df.collect()])
    rel = con.sql(sql)
    d = norm_rows(list(rel.columns), [duck_type_to_spark(t) for t in rel.types], rel.fetchall())
    if s[0] != d[0]:
        return [f"columns {s[0]} != {d[0]}"]
    if s[1] != d[1]:
        return [f"types {s[1]} != {d[1]}"]
    if len(s[2]) != len(d[2]):
        return [f"rows {len(s[2])} != {len(d[2])}"]
    bad = sum(a != b for a, b in zip(s[2], d[2]))
    return [f"{bad} rows differ"] if bad else []


def exactly_once(expected_ids, got_ids) -> list[str]:
    """Every expected id appears exactly once and nothing else appears."""
    want, got = Counter(expected_ids), Counter(got_ids)
    missing = sum((want - got).values())
    extra = sum((got - want).values())
    probs = []
    if missing:
        probs.append(f"{missing} expected rows missing")
    if extra:
        probs.append(f"{extra} unexpected or duplicate rows")
    return probs


def same_mapping(got: dict, want: dict) -> list[str]:
    """Two {key: value} results agree on every key."""
    diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
    return [f"{len(diff)} of {len(want)} keys differ, e.g. {sorted(diff, key=str)[:3]}"] if diff else []
