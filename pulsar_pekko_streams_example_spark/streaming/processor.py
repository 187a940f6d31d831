"""The processor-as-UDF contract (T1/T4).

Reference: ``SimpleProcessor.processMessage: Message[T] => Future[ProcessingResult]``
(``part2/MessageProcessor.scala:19-21`` trait, ``:47-71`` impl) applied with
bounded-parallel unordered completion (``mapAsyncUnordered``,
``part2/PekkoStreamGenerator.scala:40-56``), exceptions captured into
``ProcessFailure`` rather than failing the stream.

Spark-first shape: the user supplies a *vectorized* function
``pandas.DataFrame -> pandas.Series[bool]`` (or raises); we wrap it in
mapInPandas so each Arrow batch is one "async chunk", exceptions are captured
per-batch into ``(ok, error)`` columns (the ``ProcessingResult`` analog), and
parallelism is task parallelism — Spark's default unordered completion matches
mapAsyncUnordered semantics.
Pure column-expression processors should skip this and use plain
``withColumn`` (the fast path; stays in codegen).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as _np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def apply_processor(
    df: DataFrame, fn: Callable[[pd.DataFrame], pd.Series]
) -> DataFrame:
    """Run a user processor over every row, capturing failures as data.

    Adds ``ok: boolean`` and ``error: string`` columns (the ProcessedMessage
    envelope, util/StandardTestTools.scala:28-31): ``ok=True`` is
    ProcessSuccess, else ProcessFailure(error)
    (util/StandardTestTools.scala:9-14).
    """
    # a REPROCESSED frontier (due_retries output) already carries ok/error
    # from its last attempt; those verdicts are stale by definition — this
    # call exists to re-decide them.  Drop them before appending: the
    # output schema must never carry duplicate fields (StructType.add does
    # not dedupe, and a duplicate field breaks mapInPandas column binding
    # at runtime), and pre-fix every caller had to remember the drop
    # itself or fail inside the stream.
    stale = [c for c in ("ok", "error") if c in df.columns]
    if stale:
        df = df.drop(*stale)
    out_schema = StructType.fromJson(df.schema.jsonValue())
    out_schema = out_schema.add("ok", "boolean").add("error", "string")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            try:
                result = fn(pdf)
                # Fail CLOSED on malformed returns: pd.Series(scalar, index)
                # broadcasts, so a buggy processor returning a bare truthy
                # scalar (True, a non-empty string) would silently ACK the
                # whole batch.  One verdict per row or the batch is a
                # ProcessFailure — same contract as the wrong-length case.
                n = (
                    len(result)
                    if hasattr(result, "__len__")
                    and not isinstance(result, (str, bytes))
                    else None
                )
                if n != len(pdf):
                    raise TypeError(
                        "processor must return one verdict per row: got "
                        f"{type(result).__name__}"
                        f"{'' if n is None else f' of length {n}'} "
                        f"for a batch of {len(pdf)} rows"
                    )
                # Align the verdicts to the batch index: a processor that
                # returns a misaligned Series leaves NaN gaps, and a
                # NaN verdict under a bare astype(bool) silently ACKS the
                # message (NaN is truthy).  No-verdict is a failure — the
                # reference turns every non-answer into ProcessFailure
                # (round-8 streaming sweep finding).
                ok = pd.Series(result, index=pdf.index)
                # Verdicts must be BOOLEAN-valued: astype(bool) maps any
                # non-empty string to True, so a processor leaking a string
                # column ("false", an error message) would silently ACK —
                # truthiness of prose is not a delivery verdict.  Booleans
                # and 0/1 numerics pass; anything else fails the batch.
                if ok.dtype == object:
                    nonbool = ok.dropna().map(
                        lambda v: not isinstance(v, (bool, _np.bool_))
                    )
                    if nonbool.any():
                        raise TypeError(
                            "verdicts must be boolean, got "
                            f"{type(ok.dropna()[nonbool].iloc[0]).__name__}"
                        )
                elif pd.api.types.is_bool_dtype(ok):
                    pass
                elif pd.api.types.is_numeric_dtype(ok):
                    # Numerics pass ONLY as exact 0/1 (the honest integer
                    # encodings of a verdict): a processor leaking a score
                    # or probability column (0.7, 2, -1) under a bare
                    # astype(bool) would silently ACK every nonzero value —
                    # the same truthiness hole the string guard closes.
                    vals = ok.dropna()
                    offenders = ~vals.isin([0, 1])
                    if offenders.any():
                        raise TypeError(
                            "numeric verdicts must be exactly 0/1, got "
                            f"{vals[offenders].iloc[0]!r}"
                        )
                else:
                    raise TypeError(f"verdicts must be boolean, got dtype {ok.dtype}")
                missing = ok.isna()
                pdf = pdf.assign(
                    ok=ok.fillna(False).astype(bool), error=None
                )
                if missing.any():
                    pdf.loc[missing.to_numpy(), "error"] = (
                        "NullVerdict: processor returned no verdict for this row"
                    )
            except Exception as e:  # ProcessFailure path: capture, don't fail the stream
                pdf = pdf.assign(ok=False, error=f"{type(e).__name__}: {e}")
            yield pdf

    return df.mapInPandas(run, out_schema)


def simulated_processor(failure_mod: int = 10) -> Callable[[pd.DataFrame], pd.Series]:
    """Deterministic stand-in for the reference's simulated processor
    (sleep + Random.nextInt(10)==0 failure, part2/MessageProcessor.scala:47-71):
    fails every ``failure_mod``-th message by id, no sleep."""

    def fn(pdf: pd.DataFrame) -> pd.Series:
        ids = pdf["event_id"]
        # NULL ids arrive as NaN in the Arrow batch, and NaN % m != 0
        # evaluates True — a silent fail-open ACK for a message that
        # cannot even be identified.  A missing id is a FAILURE, the same
        # NULL-is-failure contract route_batch enforces.
        return ids.notna() & (ids % failure_mod != 0)

    return fn

