"""Explicit schemas for the EXstream data model.

The reference infers schemas from CSV headers and identifies metadata columns
*positionally* ("last 4 columns", reference exstream/correlation_filtering.py:37)
— we replace that with named, declared schemas (SURVEY §1.3).

Data model (SURVEY §1.1):
  - trace table: (timestamp long, <feature double>...) one row per tick
  - labels table: (label_row int, trace_id string, ano_id int, ano_type string,
        ref_start long, ref_end long, ano_start long, ano_end long)
    interval bounds asymmetry: ref = [ref_start, ref_end), ano = [ano_start, ano_end]
    (reference utils/get_data.py:85-95)
  - sliced table: features + (trace_id, timestamp, ano_id, type_data, ano_key)
  - melted long form: (ano_key, type_data, timestamp, feature, feature_order, value)
  - result: (trace_id, ano_id, explanation array<int>, exp_size, exp_instability)
"""

from __future__ import annotations

from pyspark.sql import types as T

LABELS_SCHEMA = T.StructType(
    [
        T.StructField("label_row", T.IntegerType()),
        T.StructField("trace_id", T.StringType()),
        T.StructField("ano_id", T.IntegerType()),
        T.StructField("ano_type", T.StringType()),
        T.StructField("ref_start", T.LongType()),
        T.StructField("ref_end", T.LongType()),
        T.StructField("ano_start", T.LongType()),
        T.StructField("ano_end", T.LongType()),
    ]
)

# Metadata columns appended to a sliced trace; everything else is a feature.
SLICE_META_COLS = ["trace_id", "timestamp", "ano_id", "type_data", "ano_key"]


def feature_columns(columns: list[str]) -> list[str]:
    """Feature columns of a (possibly sliced) trace table = all non-metadata.

    Replaces the reference's positional ``df.columns[:-4]`` convention
    (reference exstream/correlation_filtering.py:37) with named metadata.
    """
    meta = set(SLICE_META_COLS)
    return [c for c in columns if c not in meta]
