"""Output checks, run outside the timed region.

Registry outputs are compared with their DuckDB twins from
`oracle_sql()` the way `tests/oracle_harness.py` compares them: the
harness's DuckDB views and cell normalisation, then column names, row
count and the sorted normalised rows. Entries without a twin must
return rows, as in the harness.
"""

from __future__ import annotations

from tests.oracle_harness import _norm_rows
from tests.oracle_harness import duck_connection as _harness_connection


def duck_connection(sf_dir: str):
    """The harness's DuckDB views over `sf_dir`, with DuckDB's memory
    capped so the checker does not crowd the engine under test."""
    con = _harness_connection(sf_dir)
    con.execute("SET memory_limit = '1GB'")
    return con


def same_rows(cols_a: list[str], rows_a, cols_b: list[str], rows_b) -> bool:
    """Whether two row sets are equal as multisets after the harness's
    normalisation (which sorts them)."""
    return _norm_rows(cols_a, [tuple(r) for r in rows_a]) == _norm_rows(cols_b, [tuple(r) for r in rows_b])


def against_oracle(con, sql: str | None, got) -> list[str]:
    """Problems found comparing collected Spark output (`cols`, `rows`)
    with the DuckDB result of `sql` (empty list = match)."""
    if sql is None:
        return [] if len(got.rows) else ["rows-only check: Spark returned 0 rows"]
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if sorted(got.cols) != sorted(duck_cols):
        return [f"columns differ: spark={sorted(got.cols)} duck={sorted(duck_cols)}"]
    if len(got.rows) != len(duck_rows):
        return [f"row count differs: spark={len(got.rows)} duck={len(duck_rows)}"]
    if not same_rows(got.cols, got.rows, duck_cols, duck_rows):
        return ["values differ after normalisation"]
    return []


def planted_pairs_found(planted: list[tuple[int, int]], found: set[tuple[int, int]]) -> int:
    return sum((min(a, b), max(a, b)) in found for a, b in planted)


def exact_groups_found(planted: list[tuple[int, int]], keeper_copies: dict[int, int]) -> tuple[int, int]:
    """Planted exact-duplicate groups (union of planted pairs) whose
    keeper row in `exact_dedup` output has the group's size."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in planted:
        parent[find(a)] = find(b)
    groups: dict[int, list[int]] = {}
    for x in list(parent):
        groups.setdefault(find(x), []).append(x)
    hit = sum(keeper_copies.get(min(g), 0) >= len(g) for g in groups.values())
    return hit, len(groups)
