"""Query plans: the engine's declared query surface.

Each query is a QuerySpec: a DataFrame-API builder (the engine side) and
an equivalent ANSI-SQL string (the duckdb oracle side), registered under
its exposed name by the `registry.query(name, oracle)` decorator. The
registry is what `__spark_entry__.queries()/oracle_sql()` exposes to the
driver.

The registry also owns cache lifetime: builders cache, materialize and
release only through `registry.cache/materialize/checkpoint_release`,
which become identities under the tool-only `registry.plan_context()`.
"""

from .registry import ALL_SPECS, QuerySpec, get_specs
