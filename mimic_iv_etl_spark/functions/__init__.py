"""Vectorized (Arrow/pandas) scalar functions — the engine's only Python-side
compute, and only where JVM built-ins can't express the semantics
(input_hint: "no per-row Python")."""

from mimic_iv_etl_spark.functions.textfns import decode_payload_json, normalize_text

__all__ = ["normalize_text", "decode_payload_json"]
