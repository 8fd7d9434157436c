"""Macro runtime + run-operation (SURVEY.md §2.10 X1-X5; reference
macros/compare_dev_prod.sql and `dbt run-operation`,
scripts/compare.sh:21).

Macros are Jinja ``{% macro %}`` definitions in ``macros/*.sql``.
Inside a macro the context provides:

  run_query(sql)   → QueryResult (rows/columns; reference X3 —
                     macro-time query execution)
  log(msg)         → stdout (the reference parses SUMMARY| lines from
                     the log stream, pr_data_diff.sh:94-118)

on top of the shared render context (``compiler.render``: var,
env_var, target, exceptions, surrogate_key).  ``run_operation(engine,
name, args)`` renders ``{{ name(**args) }}`` with that context — the
engine's interactive entry point (X2).
"""

from __future__ import annotations

from typing import Any

from .compiler import render


class QueryResult:
    """Minimal macro-facing result table (reference gets an Agate table;
    ours is a thin list-of-rows with named column access)."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.column_names = columns
        self.rows = rows

    def values(self, column: str) -> list[Any]:
        i = self.column_names.index(column)
        return [r[i] for r in self.rows]

    def first(self) -> Any:
        return self.rows[0][0] if self.rows and self.rows[0] else None

    def __iter__(self):
        return iter(self.rows)

    def __len__(self):
        return len(self.rows)


def run_operation(engine, name: str, args: dict[str, Any] | None = None) -> str:
    """Render and execute macro ``name`` with ``args`` (X2)."""
    logged: list[str] = []

    def _run_query(sql: str) -> QueryResult:
        df = engine.spark.sql(sql)
        return QueryResult(df.columns, [tuple(r) for r in df.collect()])

    def _log(msg: str, info: bool = False) -> str:
        print(msg)
        logged.append(str(msg))
        return ""

    arg_names = sorted((args or {}).keys())
    call = f"{{{{ {name}({', '.join(f'{a}=__arg_{a}' for a in arg_names)}) }}}}"
    rendered = render(
        engine.project,
        engine.target,
        call,
        f"run-operation {name}",
        run_query=_run_query,
        log=_log,
        **{f"__arg_{a}": args[a] for a in arg_names},
    )
    # log() already printed to stdout; return only non-log render output
    return "" if logged else rendered.strip()
