"""Regenerate OPERATORS.md — the declared-query index — from
`__spark_entry__.py` docstrings (previously hand-extracted; checked in
as a tool in r5 so the index can never drift from the code).

Usage:  python tools/gen_operators_md.py          # rewrites OPERATORS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADER = """# OPERATORS — declared-query index

Machine-extracted from `__spark_entry__.py` (one row per declared
query; the first docstring sentence states the SURVEY.md section 2
operator ids and the plan shape).  `oracle` = checked bit-for-bit
against DuckDB by the driver at sf0.01; `rows-only` = invariants
pinned by pytest instead (sketch state / write patterns / file
layout are engine-specific by construction).

| declared query | check | what it locks |
|---|---|---|
"""


def render() -> str:
    """OPERATORS.md's content for the current declared queries."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    rows = []
    for name, fn in entry.queries().items():
        doc = (fn.__doc__ or "").strip()
        # first docstring chunk, whitespace-collapsed, truncated
        text = re.sub(r"\s+", " ", doc)
        if len(text) > 155:
            text = text[:152].rstrip() + "..."
        check = "oracle" if name in oracles else "rows-only"
        rows.append(f"| `{name}` | {check} | {text} |")
    return HEADER + "\n".join(rows) + "\n"


def main() -> None:
    path = os.path.join(REPO, "OPERATORS.md")
    with open(path, "w") as fh:
        fh.write(render())
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
