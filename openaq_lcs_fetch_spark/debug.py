"""Debug/CI guards for silent execution-mode regressions.

The one that motivated this module: Spark 4.1.2's whole-stage codegen
over an Expand (unpivot) output with a common subexpression in the
fused projection generates invalid Java; janino fails and the stage
SILENTLY runs interpreted ("ERROR CodeGenerator: Failed to compile" in
the executor log is the only trace). ``melt(codegen_safe=True)``
exists to dodge that — but its reason-for-being was guarded only by
grepping logs. :func:`assert_compiles` makes the regression
self-announcing: it executes the plan with
``spark.sql.codegen.fallback=false``, under which a codegen compile
failure RAISES (``CompileException`` inside the Py4J error) instead of
silently degrading. CI runs the provider hot path through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .session import pinned_conf


def assert_compiles(df: DataFrame, n: int | None = None) -> None:
    """Execute ``df`` (all rows, or ``limit(n)``) with codegen fallback
    DISABLED so a whole-stage-codegen compile failure raises instead of
    silently running interpreted. Restores the previous conf either
    way, and holds ``session.pinned_conf``'s lock for the whole run.
    Use in tests/CI on plans whose performance contract depends on
    staying compiled — a pass means every generated stage actually
    compiled; interpreted fallback becomes a loud failure, not a log
    line nobody greps.
    """
    with pinned_conf(df.sparkSession, {"spark.sql.codegen.fallback": "false"}):
        (df.limit(n) if n is not None else df).collect()
