"""Lineage-truncation helper shared by the iterative / reused-subtree
operators (dd09/dd10 connected components, llm01/llm02 near-dup band
reuse, ev04/x25 tiny shared aggregates) and by the offline ingest
pipeline (ingest/pipeline.py: one fetch batch feeds every sink).

Why localCheckpoint: these plans either iterate (lineage grows per
round) or reuse one small subtree from two pruning-divergent branches
(ReusedExchange does not fire); truncating the lineage materializes the
subtree once instead of recomputing it per consumer.

CLUSTER-SCALE CAVEAT (stated once here, inherited by every call site):
`localCheckpoint` stores blocks on executors and is NOT fault-tolerant —
an executor loss invalidates the checkpoint and fails the query. On a
real cluster, set a reliable checkpoint directory
(`spark.sparkContext.setCheckpointDir("hdfs://…")`) and export
SPARK_GRAFT_RELIABLE_CHECKPOINT=1 (read on every call) so these sites
use `DataFrame.checkpoint` instead; local[...] test runs keep the
executor-local fast path, where driver==executor makes the caveat moot.
"""

from __future__ import annotations

import contextlib
import contextvars
import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame

def reliable_enabled() -> bool:
    """Read the reliable-checkpoint flag NOW (per call, not at import):
    operators bind `eager_checkpoint` by name at their own import time,
    so an import-time constant would freeze the mode before a deployment
    script (or test) could set the env var."""
    return os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "").lower() not in (
        "",
        "0",
        "false",
        "no",
    )


# Pre-checkpoint observer (round-5 advice): checkpointing REPLACES the
# plan with an RDD scan, so anything the linter would have flagged in an
# iterative round's plan disappears from the final query plan. The plan
# linter installs an observer here to capture each DataFrame's plan
# BEFORE the truncation, closing that blind spot by machine instead of
# prose. A ContextVar (round-6 advice), not a module global: concurrent
# lint/gen_plans runs or a multithreaded driver each see their own
# observer, so nested/parallel observers can never cross-capture plans
# between queries. None → zero overhead on the normal path.
_OBSERVER: contextvars.ContextVar[Callable[[DataFrame], None] | None] = (
    contextvars.ContextVar("checkpoint_observer", default=None)
)


@contextlib.contextmanager
def checkpoint_observer(fn: Callable[[DataFrame], None]) -> Iterator[None]:
    """Install `fn` to be called with every DataFrame just before it is
    checkpointed (plan-lint uses this to see inside iterative loops).
    Context-local: observers installed on other threads/contexts are
    unaffected, and re-entry restores the previous observer on exit.

    SAME-THREAD REQUIREMENT (round-7 advice): the ContextVar isolation
    that prevents cross-capture also means a DataFrame built on a WORKER
    thread under this context manager is invisible to the observer —
    contextvars do not propagate into threads started outside the
    context. Every current caller builds plans on the installing thread;
    a future caller fanning out via a thread pool must wrap each task in
    contextvars.copy_context().run(...) or the capture (and any lint
    depending on it) silently turns vacuous. lint_registry guards the
    vacuous case by asserting captures are non-empty for queries known
    to checkpoint."""
    token = _OBSERVER.set(fn)
    try:
        yield
    finally:
        _OBSERVER.reset(token)


# Monotone count of checkpoint calls in this process (r14): a query
# construction that performs NO checkpoint builds a PURE plan whose
# handle can be reused across bench timing runs (every noop execution
# still computes from the parquet scans); one that checkpoints holds
# run-local materializable state and must be rebuilt per run. bench.py
# snapshots this counter around fn() to tell the two apart by machine
# instead of by allowlist.
CHECKPOINT_SEQ = 0


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """Truncate lineage without materializing the subplan's final stage
    now. It is NOT free at the call: with AQE on, building the lazy
    checkpoint's RDD executes the adaptive plan, which runs every
    shuffle map stage of the subplan before this returns (at sf0.01,
    dd18's construction runs 6-7 jobs over 10-12 stages). Only the last
    stage and the block writes wait for the first action. See module
    docstring for the cluster-scale fault-tolerance caveat."""
    global CHECKPOINT_SEQ
    CHECKPOINT_SEQ += 1
    obs = _OBSERVER.get()
    if obs is not None:
        obs(df)
    if reliable_enabled():
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize now — for iterative loops that immediately fan out
    multiple consumers of the checkpointed state (dd09's CC rounds)."""
    global CHECKPOINT_SEQ
    CHECKPOINT_SEQ += 1
    obs = _OBSERVER.get()
    if obs is not None:
        obs(df)
    if reliable_enabled():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
