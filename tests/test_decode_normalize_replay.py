"""Full mandated pipeline e2e: encoded events → JSON decode → vectorized NFC
normalization → LWW replay == an independently-normalizing DuckDB oracle.
Without payload decode the raw text columns are normalized the same way:
both shapes normalize LWW winners only, inside ``apply_batch``."""

from __future__ import annotations

import glob

import duckdb
import pandas as pd
import pytest

from mimic_iv_etl_spark.cdc.replay import replay_log
from mimic_iv_etl_spark.lake.table import LakeTable
from tests.util import TRANSCRIPT_SCHEMA, assert_final_state_equal


def _oracle_normalized(log_dir: str) -> pd.DataFrame:
    files = sorted(glob.glob(f"{log_dir}/tranche-*/*.parquet"))
    lst = ", ".join(f"'{f}'" for f in files)
    con = duckdb.connect()
    return con.execute(
        f"""
        WITH ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                    ORDER BY ts DESC, "offset" DESC, partition DESC) rn
          FROM read_parquet([{lst}], union_by_name=true))
        SELECT conv_id, turn_idx, role,
               CASE WHEN text IS NULL THEN NULL
                    WHEN trim(text) = '' THEN ''
                    ELSE nfc_normalize(regexp_replace(trim(text), '\\s+', ' ', 'g'))
               END AS text,
               tool, ts
        FROM ranked WHERE rn = 1 AND op <> 'D'
        ORDER BY conv_id, turn_idx
        """
    ).df()


@pytest.mark.parametrize("decode_payload", [True, False])
def test_decode_normalize_replay_matches_normalizing_oracle(spark, small_log, tmp_path,
                                                            decode_payload):
    d, spec, _ = small_log
    tp = str(tmp_path / "t_dn")
    out = replay_log(spark, d, tp, schema=TRANSCRIPT_SCHEMA, batch_offsets=2_000,
                     n_buckets=8, decode_payload=decode_payload, normalize=True)
    assert out["events_applied"] == spec.n_events
    assert_final_state_equal(LakeTable(spark, tp).read(), _oracle_normalized(d))


def test_payload_is_parsed_once_per_row(spark, small_log):
    """decode_payload_json parses each payload once: its optimized plan
    holds a single ``from_json``. Selecting the three fields straight off
    ``from_json(...)`` let the optimizer split it into one single-field
    ``from_json`` per field, three parses per row. Rows are unchanged."""
    from pyspark.sql import functions as F

    from mimic_iv_etl_spark.functions import decode_payload_json

    d, _, _ = small_log
    out = decode_payload_json(spark.read.parquet(f"{d}/tranche-0"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json(") == 1, plan
    assert out.columns[-3:] == ["role_decoded", "text_decoded", "tool_decoded"]
    assert out.filter(
        ~F.col("text_decoded").eqNullSafe(F.col("text"))
        | ~F.col("role_decoded").eqNullSafe(F.col("role"))
        | ~F.col("tool_decoded").eqNullSafe(F.col("tool"))).count() == 0
