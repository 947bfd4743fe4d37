"""Column helpers shared by the pipeline operators."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def col_of(x) -> Column:
    """Accept a Column, a column name, or a Python literal."""
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.col(x)
    return F.lit(x)


def let_(val: Column, fn) -> Column:
    """Let-binding for Column expressions: evaluate ``val`` ONCE per row
    and reference it as a lambda variable inside ``fn``.

    Catalyst evaluates a higher-order lambda's *captured* expressions
    per element, so ``transform(seq, i -> f(expensive, i))`` recomputes
    ``expensive`` for every i.  Binding it as the lambda argument of a
    single-element transform makes it a lambda variable:
    ``transform(array(expensive), v -> g(v))[0]``.
    """
    return F.get(F.transform(F.array(val), fn), 0)
