"""Error handling / observability (reference §2.11).

The reference wraps every search in ``searchAndPrintQueryOnError``
(lib/collectServicesFromSummaries.ts:327-335) and its catch blocks dump
the query with the hits blanked (:98-111, :304-318).  The Spark analog:
run the action; on failure, echo the logical/physical plan (the "query")
and re-raise — the result rows are never dumped, matching the reference's
hits-blanked behavior.
"""

from __future__ import annotations

import sys
from typing import Any, Callable

from pyspark.sql import DataFrame


def run_and_print_plan_on_error(
    df: DataFrame,
    action: Callable[[DataFrame], Any] = lambda d: d.collect(),
    log=lambda msg: print(msg, file=sys.stderr),
) -> Any:
    """Execute ``action(df)``; on failure echo the plan, then re-raise.

    Mirrors ``searchAndPrintQueryOnError``: the *query* is printed (here:
    the Catalyst plan, which is the engine's query IR), never the data.
    """
    try:
        return action(df)
    except Exception:
        log("=== query failed; plan echo (searchAndPrintQueryOnError analog) ===")
        try:
            log(df._jdf.queryExecution().toString())
        except Exception:  # plan printing must never mask the original error
            log("<plan unavailable>")
        raise


def observed(
    df: DataFrame, name: str, *metrics
):
    """Attach in-flight metrics to a frame → ``(df, Observation)``.

    Spark's ``Observation`` evaluates aggregate expressions ON THE ROWS
    FLOWING THROUGH the plan during the next action — row counts, null
    counts, min/max — at zero extra passes (the metrics ride the same
    physical plan; a separate ``df.agg`` would re-scan).  The pipeline
    observability primitive the reference's error path hints at
    (§2.11): a production job asserts ``obs.get`` after the write and
    alerts on contract violations (rows dropped, nulls in a key column)
    without a second job.

    Metrics must be aggregate expressions (``F.count``, ``F.sum``, ...);
    ``obs.get`` blocks until the first action on ``df`` completes.
    Scale note: metric state is a handful of scalars merged on the
    driver — O(1) regardless of data size.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def checkpoint(df: DataFrame, **metrics) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df`` with the named ``metrics``
    columns observed on the same job (no separate count action) →
    (checkpoint, metric values).

    One job materializes the frame and measures it, so whatever reads
    the checkpoint afterwards never re-runs its plan, and sizing
    figures (row counts, touched keys) cost no action of their own.
    The iterative graph operators checkpoint their rounds through it,
    which also truncates lineage so plans do not snowball over rounds;
    the asset upsert materializes its batch through it.  Release the
    result with :func:`release_checkpoint` once nothing reads it.
    """
    from pyspark.sql import Observation

    obs = Observation()
    if metrics:
        df = df.observe(obs, *(c.alias(n) for n, c in metrics.items()))
    out = df.localCheckpoint(eager=True)
    return out, obs.get if metrics else {}


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a local checkpoint made by :func:`checkpoint`.

    ``DataFrame.unpersist()`` leaves a local checkpoint's blocks in
    place; unpersist the RDD under its LogicalRDD plan instead,
    non-blocking so no Spark job is added.
    """
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)
