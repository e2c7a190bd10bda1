"""Iterative nested-JSON flatten — the reference's signature transform.

Reference: transformation_job.py:19-34 (intent — the published code has a
loop-dedent bug, SURVEY.md §0; we implement what the comment at line 18
declares: "iteratively flatten nested JSON structures").

Semantics per pass:
- struct column ``s`` with fields f1..fn -> columns ``s_f1``..``s_fn``
  (``{parent}_{child}`` naming, transformation_job.py:28), parent dropped;
- array column ``a`` -> one row per element (explode). The reference uses
  inner ``explode`` (rows with empty/null arrays vanish); default here is
  ``explode_outer`` (analytically safer); ``mode="reference"`` reproduces
  the reference's row-dropping behavior.
- map column -> exploded to ``{parent}_key`` / ``{parent}_value`` rows
  (cricsheet ``info.players`` is a dynamic-key object, SURVEY.md §1.2).

Repeat until no nested column remains. Each pass is plan rewriting only —
nothing executes until an action; Catalyst's CollapseProject folds the
select chain, and the physical plan is a single narrow
FileScan→Project→Generate pipeline (no shuffle) at any scale.

Scale notes: explode fan-out multiplies rows (innings×overs×deliveries×…).
Project-prune *before* flatten when only a column subset is needed — select
the needed top-level columns first so Generate operates on the narrowest
rows possible.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, MapType, StructType

NestedKinds = (StructType, ArrayType, MapType)


def nested_columns(df: DataFrame) -> list[str]:
    """P1 (transformation_job.py:22): names of struct/array/map columns."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, NestedKinds)]


def _unique_name(base: str, taken: set[str]) -> str:
    """Collision-safe `{parent}_{child}` naming (FIXTURES.md §5 case 6)."""
    name = base
    i = 2
    while name in taken:
        name = f"{base}_{i}"
        i += 1
    return name


def flatten_once(df: DataFrame, mode: str = "outer") -> DataFrame:
    """One pass: expand every struct, explode the FIRST array/map column.

    Arrays are exploded one-at-a-time per pass (multiple explodes in one
    select would build a cartesian product of generators, which Spark
    rejects); structs are all expanded in the same projection.
    """
    explode_fn = F.explode if mode == "reference" else F.explode_outer
    taken = set(df.columns)
    projections = []
    exploded_done = False
    for field in df.schema.fields:
        dt = field.dataType
        if isinstance(dt, StructType):
            for sub in dt.fields:
                new_name = _unique_name(f"{field.name}_{sub.name}", taken)
                taken.add(new_name)
                projections.append(F.col(f"`{field.name}`.`{sub.name}`").alias(new_name))
        elif isinstance(dt, ArrayType) and not exploded_done:
            projections.append(explode_fn(F.col(f"`{field.name}`")).alias(field.name))
            exploded_done = True
        elif isinstance(dt, MapType) and not exploded_done:
            key_name = _unique_name(f"{field.name}_key", taken)
            taken.add(key_name)
            val_name = _unique_name(f"{field.name}_value", taken)
            taken.add(val_name)
            projections.append(explode_fn(F.col(f"`{field.name}`")).alias(key_name, val_name))
            exploded_done = True
        else:
            projections.append(F.col(f"`{field.name}`"))
    return df.select(*projections)


FLATTEN_MAX_PASSES = 100  # a schema still nested after this many is an error


def flatten(df: DataFrame, mode: str = "outer") -> DataFrame:
    """P4 fixpoint flatten (transformation_job.py:19-34, intent).

    mode="outer"     -> explode_outer (empty arrays keep their row, nulls)
    mode="reference" -> explode       (reference-faithful row dropping)
    """
    passes = 0
    while nested_columns(df):
        if passes >= FLATTEN_MAX_PASSES:
            raise RuntimeError(
                f"flatten did not converge after {FLATTEN_MAX_PASSES} passes; "
                f"remaining nested: {nested_columns(df)}"
            )
        df = flatten_once(df, mode=mode)
        passes += 1
    return df
