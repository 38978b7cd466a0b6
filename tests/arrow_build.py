"""Drive the production partial build without Spark: one pandas frame
becomes one Arrow batch, fed to the same code a mapInArrow task runs.

Tests compare these against ``SketchSpec.build_groups``, the per-group
reference, so the two sides never share the code under test.
"""

import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import BinaryType, StructField, StructType

from gr_tdigest_spark.operators.agg import (
    _encode_batch_keys,
    _partial_builder_arrow,
    _value_numpy,
)


def build_states(spec, pdf, key_cols, value_col, weight_col=None):
    """``{key: state}``: ``spec.blob_to_state`` of each blob
    ``spec.build_blobs_from_codes`` builds over the batch's
    dictionary-encoded keys and Spark-form values."""
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    if key_cols:
        codes, keys = _encode_batch_keys(batch, key_cols)
    else:
        codes, keys = np.zeros(batch.num_rows, dtype=np.int64), [()]
    ws = _value_numpy(batch.column(weight_col)) if weight_col else None
    keys, blobs = spec.build_blobs_from_codes(
        codes, keys, _value_numpy(batch.column(value_col)), ws
    )
    return {key: spec.blob_to_state(b) for key, b in zip(keys, blobs)}


def build_blobs(spec, pdf, key_cols, value_col, weight_col=None,
                batch_rows=None, **kw):
    """``{key: blob}`` emitted by ``_partial_builder_arrow`` for the
    frame as one partition, fed as batches of ``batch_rows`` rows (one
    batch when None; ``kw`` reaches the builder, e.g. ``flush_rows``)."""
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    batches = [batch] if not batch_rows else [
        batch.slice(i, batch_rows)
        for i in range(0, batch.num_rows, batch_rows)
    ]
    types = from_arrow_schema(batch.schema)
    schema = StructType(
        [types[k] for k in key_cols] + [StructField("b", BinaryType())]
    )
    build = _partial_builder_arrow(
        spec, key_cols, value_col, weight_col, schema, **kw
    )
    out = {}
    for part in build(iter(batches)):
        for row in part.to_pylist():
            out[tuple(row[k] for k in key_cols)] = row["b"]
    return out
