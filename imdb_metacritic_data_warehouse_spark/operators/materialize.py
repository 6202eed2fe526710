"""Eager materialization — the one place the engine pins a plan.

Catalyst has no cross-branch common-subexpression elimination: a frame
read by two branches of one plan executes once per branch.  Every
operator or query that needs ONE execution of a shared intermediate (a
frame several branches read, an iterative loop's lineage cut, the
sampled range exchange both phases of a two-phase rank must agree on)
calls ``materialize``.  It owns four rules:

- **Plan-only skip.** Inside ``plan_only()`` (plan and lint tooling) it
  returns its input unchanged, so building a query submits no
  materialization job and a dumped plan shows the whole operator tree
  instead of an ``ExistingRDD`` cut.  Plans built there must not be
  executed: they lose the one-execution pin.
- **Checkpoint, never cache.** ``localCheckpoint`` blocks are freed by
  the ContextCleaner once the plan is dropped.  A query-shaped caller
  has no unpersist point, so ``persist``/``cache`` entries would pile
  up in the session's CacheManager across invocations.  The frozen RDD
  also makes a re-drawn range-exchange sample impossible by
  construction.  Caveat: local checkpoint blocks live on executor
  storage and are lost with the executor; on a cluster with a
  checkpoint dir, reliable ``checkpoint()`` has the same semantics.
- **Id re-key.** A checkpoint keeps its plan's expression ids, so a
  frame materialized over another materialized frame would re-expose
  its parent's ids and parent⋈child joins fail as ambiguous self-joins.
  The output is re-aliased column by column: a lazy no-op projection
  over the checkpointed RDD.  Callers refer to its columns by name.
- **Step label.** The eager job runs under ``spark.job.description =
  materialize:<step>``.  The caller's description is restored after,
  and the job group is left alone, so group-based job attribution
  still sees the job.
"""

from __future__ import annotations

import contextlib
import contextvars

from pyspark.sql import DataFrame

# A contextvar, not a module global: the scope is exception-safe and
# local to the tooling block, so plans built afterwards in the same
# process are unaffected.
_PLAN_ONLY: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "plan_only", default=False
)


def is_plan_only() -> bool:
    """True inside a ``plan_only()`` block."""
    return _PLAN_ONLY.get()


@contextlib.contextmanager
def plan_only():
    """Scope within which ``materialize`` is a no-op, so query-function
    calls only BUILD plans."""
    token = _PLAN_ONLY.set(True)
    try:
        yield
    finally:
        _PLAN_ONLY.reset(token)


def materialize(df: DataFrame, step: str, *, eager: bool = True) -> DataFrame:
    """``df`` checkpointed (eagerly unless ``eager=False``) with fresh
    column ids; ``step`` names the job."""
    if is_plan_only():
        return df
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", f"materialize:{step}")
    try:
        ck = df.localCheckpoint(eager=eager)
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    return ck.toDF(*ck.columns)
