"""Re-aggregation / incremental-add operators over sketch tables.

The reference's in-place ``add`` / ``add_many`` / ``merge`` family
(tdigest.rs:626-651, frontends.rs:480-491) at table granularity:
existing digest tables are immutable; adding data = build partials from
the new rows and merge per key — mergeability makes incremental batch
ingest a pure union.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame

import gr_tdigest_spark.functions as Fn
from gr_tdigest_spark.operators.agg import (TDigestSpec, _merge_partials,
                                            tdigest_agg)

__all__ = ["merge_sketch_tables", "add_values", "add_weighted_values"]


def merge_sketch_tables(
    tables: Sequence[DataFrame],
    keys: Sequence[str],
    col: str = "tdigest",
    spec=None,
) -> DataFrame:
    """Union N sketch tables and merge per key — the table-level
    ``merge_many`` (frontends.rs:480-491). Strict config/precision
    checks apply inside the merge (frontends.rs:432-478).

    Default merges t-digest blobs; pass any ``SketchSpec`` (HLLSpec,
    CMSSpec, BloomSpec, KLLSpec, MinHashSpec) to merge that kind
    instead. Keyed, this is ``sketch_agg``'s merge stage (one row per
    canonical key); keyless, a grouped-aggregate merge, so no input
    still gives one row."""
    spec = spec or TDigestSpec()
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    if keys:
        return _merge_partials(out, spec, list(keys), col)
    return out.agg(Fn._merge_udf(spec)(col).alias(col))


def add_values(
    digests: DataFrame,
    new_rows: DataFrame,
    keys: Sequence[str],
    value_col: str,
    col: str = "tdigest",
    weight_col: Optional[str] = None,
    **cfg,
) -> DataFrame:
    """Table-level ``add_many``: ingest new raw rows into an existing
    digest table. Config for the new partials must match the existing
    digests (strict merge compatibility enforces it)."""
    fresh = tdigest_agg(
        new_rows, list(keys) or None, value_col,
        weight_col=weight_col, out_col=col, **cfg,
    )
    return merge_sketch_tables([digests, fresh], list(keys), col)


def add_weighted_values(
    digests: DataFrame,
    new_rows: DataFrame,
    keys: Sequence[str],
    value_col: str,
    weight_col: str,
    col: str = "tdigest",
    **cfg,
) -> DataFrame:
    """Table-level ``add_weighted_many`` (frontends.rs:385-402)."""
    return add_values(
        digests, new_rows, keys, value_col, col=col,
        weight_col=weight_col, **cfg,
    )
