"""Cellid string algebra as pure Spark Column expressions (no Python at all).

Distributed counterparts of the reference's cellid helpers parent and
children (dggstools rhpx/rhpxutils.py:55-83).  Everything is
substring/concat/sequence arithmetic, so it stays inside whole-stage codegen
and is usable in joins, group-bys and partition pruning."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parent(cellid: Column) -> Column:
    """parent cellid; '' for base cells (rhpxutils.py:55-59)."""
    return F.expr(f"substring({_name(cellid)}, 1, length({_name(cellid)}) - 1)")


def children(cellid: Column, n_side: int) -> Column:
    """array of the n_side^2 children (rhpxutils.py:82-83)."""
    c = _name(cellid)
    k = n_side * n_side - 1
    return F.expr(f"transform(sequence(0, {k}), d -> concat({c}, CAST(d AS STRING)))")


def _name(col: Column) -> str:
    """SQL-expression text for a column (works for plain named columns)."""
    # Column -> its SQL string; for simple named columns this is the name.
    s = str(col)
    # str(Column) looks like Column<'name'>
    if s.startswith("Column<'") and s.endswith("'>"):
        return s[len("Column<'"):-2]
    raise ValueError(f"cellid column must be a simple named column, got {s}")
