"""Packed segment storage: long rows <-> Gorilla-compressed binary segments.

Rolled-up points for the coarse tiers are stored packed per
``(series, segment_start)`` — ``segments_<tier>(url, channel, seg_start_us,
n, ts_codec binary, val_codec binary)`` — our analog of the reference's
compact Edge/miniseed encodings, with Parquet+zstd beneath for free.

Pack/unpack are grouped Arrow ``applyInPandas`` kernels: the only Python in
the engine's storage path, amortized per segment (≤ a few thousand points),
never per row. Sorting happens inside each group (pandas sort) — no global
sort. NULL values become NaN inside the codec (bit-exact either way).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import gorilla
from ..tiers import US


def pack_segments(
    df: DataFrame,
    segment_us: int = 3600 * US,
    series_cols: Sequence[str] = ("url", "channel"),
    ts_col: str = "t_us",
    value_col: str = "value",
) -> DataFrame:
    """Pack long rows into one Gorilla segment per (series, segment window)."""
    series_cols = list(series_cols)
    seg = (F.col(ts_col) - F.pmod(F.col(ts_col), F.lit(int(segment_us)))).alias(
        "seg_start_us"
    )
    dtypes = dict(df.dtypes)
    schema_prefix = ", ".join(f"{c} {dtypes[c]}" for c in series_cols)
    out_schema = (
        f"{schema_prefix}, seg_start_us long, n long, "
        "ts_codec binary, val_codec binary"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        ts = pdf[ts_col].to_numpy(dtype=np.int64)
        vals = pdf[value_col].to_numpy(dtype=np.float64)  # None -> NaN
        head = {c: [pdf[c].iloc[0]] for c in series_cols}
        return pd.DataFrame(
            {
                **head,
                "seg_start_us": [int(pdf["seg_start_us"].iloc[0])],
                "n": [len(ts)],
                "ts_codec": [gorilla.encode_timestamps(ts)],
                "val_codec": [gorilla.encode_values(vals)],
            }
        )

    return (
        df.select(*series_cols, F.col(ts_col), F.col(value_col), seg)
        .groupBy(*series_cols, "seg_start_us")
        .applyInPandas(pack, schema=out_schema)
    )


def unpack_segments(
    segs: DataFrame,
    series_cols: Sequence[str] = ("url", "channel"),
    ts_col: str = "t_us",
    value_col: str = "value",
) -> DataFrame:
    """Explode packed segments back to long rows (NaN -> NULL).

    One call decodes a whole Arrow batch: each segment's codecs decode to
    arrays, which are concatenated once, and the series keys are repeated
    by the segments' point counts — no per-segment frame. Callers prune
    segments (range, series) before this runs: the Python stage decodes
    every segment it is given."""
    series_cols = list(series_cols)
    dtypes = dict(segs.dtypes)
    schema_prefix = ", ".join(f"{c} {dtypes[c]}" for c in series_cols)
    out_schema = f"{schema_prefix}, {ts_col} long, {value_col} double"

    def unpack(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            counts = pdf["n"].to_numpy(dtype=np.int64)
            ts = [
                gorilla.decode_timestamps(bytes(b), int(n))
                for b, n in zip(pdf["ts_codec"], counts)
            ]
            vals = [
                gorilla.decode_values(bytes(b), int(n))
                for b, n in zip(pdf["val_codec"], counts)
            ]
            yield pd.DataFrame(
                {
                    **{
                        c: np.repeat(pdf[c].to_numpy(), counts)
                        for c in series_cols
                    },
                    ts_col: np.concatenate(ts),
                    value_col: np.concatenate(vals),
                }
            )

    out = segs.mapInPandas(unpack, schema=out_schema)
    # NaN (codec) -> NULL (engine gap convention)
    return out.withColumn(
        value_col, F.when(~F.isnan(value_col), F.col(value_col))
    )
