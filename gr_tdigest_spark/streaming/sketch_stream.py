"""Generic stateful streaming sketch aggregation (north_rule §2.9).

Any ``SketchSpec`` monoid (t-digest, HLL, CMS, Bloom, KLL, MinHash,
bottom-k) plugs into the same ``applyInPandasWithState`` plan: one
sketch blob per key in the state store, updated per micro-batch,
emitted in update mode. The batch path and the streaming path share the
input projection, the columnar ``build_blobs_from_codes`` and
``merge_blobs``: each micro-batch's blob merges into the stored one, so
a streaming aggregate equals the in-order merge of the batch
aggregates of its micro-batches (tested), and watermark/window
semantics compose by adding the window column to ``keys``.
"""

from __future__ import annotations

from typing import Callable, Iterable, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType, DoubleType, StructField, StructType,
)

from gr_tdigest_spark.operators.agg import SketchSpec, _project_input

__all__ = ["sketch_stream_agg"]


def sketch_stream_agg(
    stream_df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    spec: SketchSpec,
    out_col: Optional[str] = None,
    count_fn: Optional[Callable] = None,
) -> DataFrame:
    """Streaming grouped sketch: one blob per key held in the state
    store, updated each micro-batch, emitted in update mode.

    Output rows: (keys..., out_col binary, n double) — ``n`` is
    ``count_fn(state)`` when given (e.g. ``lambda d: d.count`` for
    t-digest), else the running count of ingested rows tracked in the
    state alongside the blob.
    """
    key_cols = list(keys)
    out_col = out_col or spec.name

    key_fields = [stream_df.schema[k] for k in key_cols]
    out_schema = StructType(
        key_fields
        + [
            StructField(out_col, BinaryType(), True),
            StructField("n", DoubleType(), True),
        ]
    )
    state_schema = StructType([
        StructField("blob", BinaryType(), True),
        StructField("rows", DoubleType(), True),
    ])

    def update(
        key: Tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        frames = [pdf[value_col].to_numpy() for pdf in pdfs]
        vals = np.concatenate(frames) if frames else np.empty(0)
        n_new = float(spec.clean_values(vals, None)[0].size)
        _, built = spec.build_blobs_from_codes(
            np.zeros(vals.size, dtype=np.int64), [key], vals, None
        )
        if state.exists:
            stored, rows = state.get
            blob = spec.merge_blobs([bytes(stored)] + built)
            rows = float(rows) + n_new
        elif not built:
            return
        else:
            blob, rows = built[0], n_new
        state.update((blob, rows))
        row = dict(zip(key_cols, key))
        row[out_col] = blob
        row["n"] = (float(count_fn(spec.blob_to_state(blob)))
                    if count_fn is not None else rows)
        yield pd.DataFrame([row], columns=key_cols + [out_col, "n"])

    return (
        _project_input(stream_df, key_cols, value_col, None, spec)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
