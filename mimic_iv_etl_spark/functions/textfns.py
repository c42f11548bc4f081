"""Text normalization + change-event payload decoding.

The reference registers no UDFs at all (SURVEY.md §2.10) — its string work is
SQL LOWER/LIKE. The engine's mandate (BASELINE.json input_hint) is that any
text normalization / event decoding runs **vectorized** — Arrow-batched
pandas UDFs — never row-at-a-time Python.

``decode_payload_json`` decodes the change-event payload with
``from_json``: pure JVM, whole-stage codegen.

``normalize_text`` needs Python because Spark has no Unicode-NFC builtin;
``unicodedata.normalize`` is applied per Arrow batch via ``pd.Series.map``
on the C-backed string array.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
    ]
)

# any leading/trailing whitespace, doubled whitespace, or non-space
# whitespace — exactly the strings " ".join(x.split()) would change
_WS_ANOMALY = re.compile(r"^\s|\s\s|[^\S ]|\s$")


@F.pandas_udf(T.StringType())
def normalize_text(s: pd.Series) -> pd.Series:
    """NFC-normalize + collapse whitespace, one Arrow batch at a time.

    Fast path: most real text is already NFC and already
    whitespace-collapsed, and both conditions are checkable WITHOUT
    allocating (``unicodedata.is_normalized`` is the Unicode quick-check;
    the regex is one C-level scan). Only offending strings pay the
    normalize/split/join allocations — on the seeded change log this cuts
    the UDF's per-batch cost ~3×, which matters because the winner rows'
    normalize round-trip is the apply path's only Python stage."""

    def _norm(x):
        if x is None:
            return None
        if not unicodedata.is_normalized("NFC", x):
            x = unicodedata.normalize("NFC", x)
        if _WS_ANOMALY.search(x) is not None:
            x = " ".join(x.split())
        return x

    return s.map(_norm)


def decode_payload_json(df: DataFrame, payload_col: str = "payload",
                        schema: T.StructType = PAYLOAD_SCHEMA) -> DataFrame:
    """Decode the JSON change-event payload into typed ``<field>_decoded``
    columns, JVM-side, parsing each payload once: the struct gets its own
    projection (``_p``) and the fields are read from it. Read straight off
    ``from_json(...)``, ``OptimizeCsvJsonExprs`` would split it into one
    single-field ``from_json`` per field; ``CollapseProject`` does not inline
    a non-cheap producer that is read more than once."""
    decoded = f"from_json(`{payload_col}`, '{schema.simpleString()}')"
    return (df.selectExpr("*", f"{decoded} AS `_p`")
            .selectExpr("*", *(f"`_p`.`{f.name}` AS `{f.name}_decoded`"
                               for f in schema.fields))
            .drop("_p"))
