"""Deduplication operators for training-data pipelines, smallest-cost-first:

- exact:        hash groupBy on normalized text — one shuffle, no pairs.
- minhash+LSH:  shingle → k-permutation minhash signature → banded bucket
                join → verified Jaccard. Candidate generation is a self-join
                only *within* LSH buckets, so the pair space never
                materializes at corpus scale.
- simhash:      64-bit sign-aggregated token hashes; near-dups = small
                Hamming distance within band buckets.
- n-gram Jaccard: exact verified similarity on candidate pairs.

The hot paths (:func:`minhash_band_buckets`, :func:`_simhash_by_id`) run as
explode → codegen'd hash projection → map-side-combined aggregates: Spark's
higher-order array functions are CodegenFallback (interpreted), so the
row-wise array-signature APIs kept for callers who persist signatures are
NOT the fast path (measured 4×+ slower at sf0.1). The explode is pipelined
inside whole-stage codegen and the shuffle carries one row per document.
Expression families (per-bit votes, per-hash minima, per-band hashes) are
built as server-parsed SQL strings, not Column chains: a Column node costs
one or more Py4J round-trips to build, so a 64-wide family built node by
node took ~10k round-trips (~1-2 s) per plan, while one SQL string costs a
fixed handful whatever ``bits``/``k``/``bands`` are.
Scale notes: every operator keys its shuffle on a hash-uniform value
(signature band, text hash) so hot documents don't skew, and the bucket
self-joins carry a frequent-bucket cap so degenerate buckets can't square.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mimic_iv_etl_spark.operators.text import _shingles, normalize_text_expr, tokens


def _cap_bucket_size(buckets: DataFrame, key_cols: list[str],
                     max_bucket: int | None) -> DataFrame:
    """Frequent-bucket cap for LSH self-joins: drop buckets holding more than
    ``max_bucket`` rows before the pair-generating join. A bucket of B rows
    emits B² candidates — degenerate buckets (empty strings, boilerplate,
    license headers) are the classic near-dup blowup at corpus scale
    (VERDICT r01 item 4). Rows in an over-cap bucket are near-identical by
    construction, which is :func:`exact_dedup`'s job — skipping them here is
    the standard cap (sub-salting would emit an arbitrary pair subset, a
    false sense of coverage). The count is a window over the same keys the
    join shuffles on, so the cap adds no new shuffle key."""
    if max_bucket is None:
        return buckets
    keys = ", ".join(key_cols)
    return (
        buckets.selectExpr("*", f"count(*) OVER (PARTITION BY {keys}) AS _bsz")
        .where(f"_bsz <= {int(max_bucket)}")
        .drop("_bsz")
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", normalize: bool = True) -> DataFrame:
    """Keep one representative row (min id) per identical text.
    groupBy on the text hash → map-side combine; never compares pairs."""
    key = normalize_text_expr(text_col) if normalize else F.col(text_col)
    return (
        df.withColumn("_k", F.xxhash64(key))
        .groupBy("_k")
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("_w"),
             F.count("*").alias("dup_count"))
        .select(*[F.col(f"_w.{c}").alias(c) for c in df.columns], "dup_count")
    )


def _long_sql(v: int) -> str:
    """A BIGINT constant as SQL text: a ``L``-suffixed literal, sign
    included, so -2^63 parses as one literal (not a negated 2^63) and the
    expression stays non-nullable, as ``lit(v).cast("long")`` was."""
    return f"({v}L)"


def _rotl_sql(c: str, r: int) -> str:
    """Bitwise 64-bit rotate-left of SQL expression ``c`` (shift ops carry no
    ANSI overflow checks)."""
    r = r % 64
    if r == 0:
        return c
    return f"(shiftleft({c}, {r}) | shiftrightunsigned({c}, {64 - r}))"


# Seeded per-function mixing constants for the 2-base-hash minhash family
# below. Fixed forever: signatures are persisted by callers, so the family
# must never drift.
def _mix_params(k: int) -> list[tuple[int, int, int]]:
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, 64), rng.randrange(1, 64),
         rng.randrange(-(1 << 63), 1 << 63))
        for _ in range(k)
    ]


def _minhash_fn_sqls(h1: str, h2: str, k: int) -> list[str]:
    """The k derived hash functions over base hashes ``h1``/``h2`` (SQL
    expressions): ``rotl(h1, r_i) XOR rotl(h2, s_i) XOR c_i``. The one
    definition of the family — the row-wise signature and the fused bucket
    path both render it from here."""
    return [f"(({_rotl_sql(h1, r)} ^ {_rotl_sql(h2, s)}) ^ {_long_sql(c)})"
            for r, s, c in _mix_params(k)]


def minhash_signature(df: DataFrame, text_col: str = "text", n: int = 3,
                      k: int = 32, alias: str = "minhash") -> DataFrame:
    """k-hash minhash signature over word n-gram shingles.

    Hash family: TWO base ``xxhash64`` per shingle recombined into k derived
    functions ``h_i = rotl(h1, r_i) XOR rotl(h2, s_i) XOR c_i`` — the standard
    2-universal "a_i·h1 + b_i·h2" recombination, expressed with rotate/XOR
    because Spark 4 runs ANSI mode by default and 64-bit multiply-add throws
    on overflow (estimation accuracy pinned by
    ``test_minhash_family_estimates_jaccard``).

    This row-wise array API exists for callers who persist signatures; the
    fast path is :func:`minhash_band_buckets` — HOFs here are interpreted
    (CodegenFallback), where expression-node count dominates cost.
    """
    # ONE traversal of the shingle array; the two base hashes are bound to a
    # lambda variable (struct), so the k derived hashes are variable reads +
    # bitwise ops, not k hash evaluations.
    base = F.transform(
        _shingles(text_col, n),
        lambda s: F.struct(
            F.xxhash64(s).alias("h1"),
            F.xxhash64(F.concat(F.lit("\x01|"), s)).alias("h2"),
        ),
    )
    fns = ", ".join(_minhash_fn_sqls("_h.h1", "_h.h2", k))
    sig = F.expr(
        f"aggregate(_mhb, array_repeat({_long_sql((1 << 63) - 1)}, {k}), "
        f"(_acc, _h) -> zip_with(_acc, array({fns}), (_a, _x) -> least(_a, _x)))")
    return df.withColumn("_mhb", base).withColumn(alias, sig).drop("_mhb")


def _band_hashes_sql(slot: Callable[[int], str], bands: int, k: int) -> str:
    """``posexplode`` of one hash per LSH band as ONE SQL expression yielding
    ``(band, band_hash)``; ``slot(j)`` is the SQL text of signature slot j
    (0-based). Unrolled with literal indices — no runtime slice."""
    r = max(1, k // bands)
    hashes = (
        "xxhash64(concat_ws(',', "
        + ", ".join(f"CAST({slot(j)} AS STRING)"
                    for j in range(b * r, min((b + 1) * r, k)))
        + "))"
        for b in range(bands)
    )
    return f"posexplode(array({', '.join(hashes)})) AS (band, band_hash)"


def _bucket_pairs(buckets: DataFrame, bucket_keys: list[str],
                  max_bucket: int | None) -> DataFrame:
    """Self-join per LSH bucket → distinct candidate id pairs (a < b), with
    the frequent-bucket cap applied first."""
    buckets = _cap_bucket_size(buckets, bucket_keys, max_bucket)
    return (
        buckets.alias("a").join(buckets.alias("b"), bucket_keys)
        .where("a._id < b._id")
        .selectExpr("a._id AS id_a", "b._id AS id_b")
        .distinct()
    )


def minhash_lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                           sig_col: str = "minhash", bands: int = 8,
                           k: int = 32,
                           max_bucket: int | None = 1000) -> DataFrame:
    """LSH banding over a precomputed signature-array column: split the k-wide
    signature into ``bands`` bands, hash each band, self-join per
    (band_id, band_hash) bucket → candidate id pairs (a < b). Shuffle key =
    band hash (uniform); pair blowup bounded by ``max_bucket`` (buckets above
    it are skipped — see :func:`_cap_bucket_size`).

    The fused text→candidates hot path is :func:`minhash_band_buckets` (fully
    codegen'd); this entry point exists for callers holding persisted
    signatures."""
    buckets = (
        df.select(F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig"))
        .selectExpr("_id", _band_hashes_sql(
            lambda j: f"element_at(_sig, {j + 1})", bands, k))
    )
    return _bucket_pairs(buckets, ["band", "band_hash"], max_bucket)


def _minhash_hash_rows(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3) -> DataFrame:
    """The shingle explode + double-hash pass of the minhash signature: one
    ``(_id, _h1, _h2)`` row per shingle OCCURRENCE (duplicates included —
    min aggregation ignores them).

    Shape: explode a position SEQUENCE and build each shingle string with
    codegen'd ``concat_ws(slice(...))`` per exploded row — NOT
    ``explode(_shingles(...))``, whose per-shingle string construction runs
    through the interpreted HOF transform (CodegenFallback) and measured
    4.5× slower (1.12s → 0.25s at sf1.0; identical (_id, hash) multisets).
    The sub-n-token fallback mirrors ``_shingles``: k ≤ 0 ⇒ one whole-text
    shingle (sequence(1, greatest(k, 1)) emits exactly i=1). A NULL text
    has no tokens and emits no rows, like ``_shingles``."""
    w = tokens(text_col)
    k = F.greatest(F.size(F.col("_w")) - (n - 1), F.lit(1))
    return (
        df.select(F.col(id_col).alias("_id"), w.alias("_w"))
        .filter(F.col("_w").isNotNull())
        .select("_id", "_w", F.explode(F.sequence(F.lit(1), k)).alias("_i"))
        .select(
            "_id",
            F.when(F.size("_w") < n, F.concat_ws(" ", F.col("_w")))
            .otherwise(F.concat_ws(" ", F.slice("_w", F.col("_i"), n)))
            .alias("_s"),
        )
        .select(
            "_id",
            F.xxhash64("_s").alias("_h1"),
            F.xxhash64(F.concat(F.lit("\x01|"), F.col("_s"))).alias("_h2"),
        )
    )


def minhash_band_buckets(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n: int = 3, k: int = 32,
                         bands: int = 8) -> DataFrame:
    """Fused text → (id, band, band_hash) minhash-LSH path, entirely inside
    whole-stage codegen: explode shingles (pipelined, never materialized),
    hash each shingle twice, derive the k functions with rotate/XOR, reduce
    with a map-side-combined ``min`` aggregate — the shuffle carries one
    k-long row per doc, O(docs) not O(shingles).

    (Measured note, sf0.1 local[32]: the previous array-HOF signature ran
    interpreted — ``aggregate``/``transform`` are CodegenFallback — and per-
    element node count dominated; this agg shape cut minhash_near_dups from
    11.7s/28s to ~3s end-to-end.)"""
    ex = _minhash_hash_rows(df, id_col, text_col, n)
    # k min aggregates in ONE server-parsed struct (still a HashAggregate:
    # k fixed-width long buffers; the struct is built after the final merge)
    mins = ", ".join(f"min({f}) AS m{i}" for i, f in
                     enumerate(_minhash_fn_sqls("_h1", "_h2", k)))
    return (
        ex.groupBy("_id").agg(F.expr(f"struct({mins}) AS _mh"))
        .selectExpr("_id", _band_hashes_sql(lambda j: f"_mh.m{j}", bands, k))
    )


def ngram_jaccard(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  hashed: bool = False) -> DataFrame:
    """Exact n-gram-shingle Jaccard for candidate ``pairs (id_a, id_b)``:
    |∩| / |∪| of the two docs' shingle sets, rounded to 6 places, 0.0 when
    the union is empty or NULL (a NULL text). Inner joins: a pair naming an
    id absent from ``df`` is dropped, a repeated pair comes out once per
    occurrence. Set semantics: element order inside a set is irrelevant.

    ``hashed=True`` represents each shingle set as ``array<long>`` of
    shingle ``xxhash64`` values instead of the raw strings: the joined
    arrays shrink ~3× and the per-pair intersect/union hashes fixed longs
    instead of rehashing ~15-char strings twice per pair (measured at
    sf1.0, 634k candidate pairs: join+verify 1.7s → 0.78s). Set
    cardinalities — and therefore every jaccard value — are unchanged
    unless two distinct shingles of ONE compared pair collide in 64 bits
    (P < 1e-13 per pair); the LSH band buckets already join on xxhash64
    equality, so this is the engine's established hash-identity assumption.
    The string path stays the default for callers that want pure
    string-set semantics.

    Lazy, one plan: the whole corpus is shingled once and joined to
    ``pairs`` on ``id_a`` and again on ``id_b``. The shingle subtree does
    not depend on ``pairs``, so the candidate generator (LSH banding, the
    simhash band join) is read exactly once, nothing runs until the result
    is acted on, and every block keeps its lineage. AQE picks the join
    strategy: broadcast while the shingle sets fit under the session
    threshold (at sf0.01 and sf0.1), a shuffle join past it. The cost is
    shingling docs that are in no pair. At sf0.1 (5,000 docs, a few hundred
    candidates) it still beats the eager verify pruned to candidate docs
    that it replaced: ``minhash_near_dups`` 1.14 → 1.08 s,
    ``simhash_near_dups`` 3.00 → 2.06 s (warm build + ``noop`` medians of 3
    alternations, 4 cores). A corpus far larger than
    its candidate set pays the whole-corpus shingle pass in full.

    Two shapes were measured and rejected (same protocol at sf0.01, means
    of 2 sessions; this shape: ngram_jaccard_pairs 2.27 s,
    minhash_near_dups 0.99 s, simhash_near_dups 1.22 s):

    - keeping the semi-join that prunes the corpus to candidate ids reads
      ``pairs`` again in the pruning branch, so the candidate generator
      runs once per read (AQE initial plan: 12 scans, 36 exchanges):
      2.59 / 1.74 / 2.22 s;
    - one reader of ``pairs`` (stack both ids, join the corpus once,
      regroup per pair with ``collect_list``) shuffles a shingle array per
      pair side and needs a synthetic pair key to keep repeated pairs:
      2.55 / 0.96 / 1.19 s, no faster for more code."""
    sets = (F.array_distinct(F.transform(_shingles(text_col, n),
                                         lambda s: F.xxhash64(s)))
            if hashed else F.array_distinct(_shingles(text_col, n)))
    sh = df.select(F.col(id_col).alias("_id"), sets.alias("_sh"))
    inter = "size(array_intersect(sh_a, sh_b))"
    union = "size(array_union(sh_a, sh_b))"
    return (
        pairs.join(sh.selectExpr("_id AS id_a", "_sh AS sh_a"), "id_a")
        .join(sh.selectExpr("_id AS id_b", "_sh AS sh_b"), "id_b")
        .selectExpr(
            "id_a", "id_b",
            f"round(CASE WHEN {union} > 0 THEN {inter} / {union} ELSE 0.0D END, 6) "
            "AS jaccard")
    )


def minhash_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3, k: int = 32,
                  bands: int = 8, threshold: float = 0.8,
                  max_bucket: int | None = 1000) -> DataFrame:
    """End-to-end near-dup pair detection: minhash → LSH buckets (capped at
    ``max_bucket`` rows per bucket) → verified Jaccard ≥ threshold. One lazy
    plan: the candidate pairs are read once by :func:`ngram_jaccard`, which
    shingles the whole corpus for the verify (see there for the measured
    cost and the rejected shapes).

    A shared-hash variant (materialize :func:`_minhash_hash_rows` once,
    derive signatures AND ``collect_set`` verify sets from it) was measured
    and rejected at sf1.0: the shared frame materializes every shingle
    occurrence — interleaved A/B medians 4.9s vs 4.5s, with worse tails."""
    buckets = minhash_band_buckets(df, id_col=id_col, text_col=text_col,
                                   n=n, k=k, bands=bands)
    cands = _bucket_pairs(buckets, ["band", "band_hash"], max_bucket)
    return ngram_jaccard(df, cands, id_col=id_col, text_col=text_col, n=n,
                         hashed=True).filter(
        F.col("jaccard") >= threshold
    )


def _sign_vote_sql(h: str, i: int) -> str:
    """The ±1 vote of 64-bit hash ``h`` (SQL expression) for output bit i."""
    return f"CASE WHEN (shiftright({h}, {i}) & 1) = 1 THEN 1 ELSE -1 END"


def _pack_sign_sql(vote: Callable[[int], str], bits: int) -> str:
    """Pack per-bit vote signs into one 64-bit long; ``vote(i)`` is the SQL
    text of the Σ±1 vote for bit i. The ``+`` chain is left-associated, so
    the sign bit (63, the -2^63 constant) is added last to a non-negative
    sum of disjoint lower bits — never an ANSI overflow."""
    return " + ".join(
        f"CASE WHEN {vote(i)} > 0 THEN "
        f"{_long_sql((1 << i) if i < 63 else -(1 << 63))} ELSE {_long_sql(0)} END"
        for i in range(bits)
    )


def simhash(df: DataFrame, text_col: str = "text", bits: int = 64,
            alias: str = "simhash") -> DataFrame:
    """SimHash: per-token 64-bit hash; each output bit is the sign of the
    Σ±1 vote across tokens. Row-wise array API (``aggregate`` over the token
    array — interpreted, no shuffle); the fast path for bulk scoring is
    :func:`_simhash_by_id`."""
    votes = ", ".join(f"CAST({_sign_vote_sql('_x', i)} AS BIGINT)"
                      for i in range(bits))
    return (
        df.withColumn("_tok", tokens(text_col))
        .selectExpr(
            "*",
            f"aggregate(transform(_tok, _t -> xxhash64(_t)), "
            f"array_repeat({_long_sql(0)}, {bits}), (_acc, _x) -> "
            f"zip_with(_acc, array({votes}), (_a, _v) -> _a + _v)) AS _votes")
        .withColumn(alias, F.expr(
            _pack_sign_sql(lambda i: f"element_at(_votes, {i + 1})", bits)))
        .drop("_tok", "_votes")
    )


def _simhash_by_id(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", bits: int = 64) -> DataFrame:
    """Fused (id, simhash) path, entirely inside whole-stage codegen: explode
    tokens (pipelined), one xxhash64 per token, 64 map-side-combined ±1 sum
    aggregates, pack signs — the shuffle carries one row per doc. Token-less
    docs drop out of the explode: byte-identical empties are
    :func:`exact_dedup`'s job, not a Hamming neighborhood. (Measured note,
    sf0.1 local[32]: the row-wise HOF ``aggregate`` in :func:`simhash` runs
    interpreted; this shape cut simhash_near_dups 9.8s → ~1.5s.)

    The 64 sums are one server-parsed struct (still a HashAggregate: fixed-
    width long buffers) and the pack one SQL string — ~150 Py4J round-trips
    for the whole plan instead of ~10k."""
    ex = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_t")
    ).selectExpr("_id", "xxhash64(_t) AS _h")
    sums = ", ".join(f"sum({_sign_vote_sql('_h', i)}) AS v{i}"
                     for i in range(bits))
    return (
        ex.groupBy("_id").agg(F.expr(f"struct({sums}) AS _v"))
        .selectExpr("_id", _pack_sign_sql(lambda i: f"_v.v{i}", bits)
                    + " AS simhash")
    )


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_distance: int = 7,
                      band_bits: int = 8,
                      max_bucket: int | None = 1000) -> DataFrame:
    """Near-dup pairs by simhash: block on each of the 64/band_bits bit-bands.
    Pigeonhole: two docs within Hamming distance d share at least one
    identical band when d < #bands — with the default 8 bands recall is exact
    for d ≤ 7; verify exact Hamming ≤ max_distance within blocks. Blocks over
    ``max_bucket`` rows are skipped (see :func:`_cap_bucket_size`).

    Cap-vs-recall bound: the pigeonhole guarantee holds only while every
    band bucket is ≤ ``max_bucket`` — a pair is lost iff EVERY band it
    shares sits in an over-cap bucket. Uniform simhashes put ~n/2^band_bits
    docs in a bucket, so exact recall is assured for corpora up to roughly
    ``2^band_bits × max_bucket`` docs (band_bits=8 → ~256k; band_bits=6 →
    ~64k; less under boilerplate skew — but heavily-repeated text lands in
    over-cap buckets that are byte-near-identical, which is
    :func:`exact_dedup`'s job, pinned by the cap-vs-recall test). Past the
    bound, shard the corpus or raise ``max_bucket``.

    As a candidate source for a Jaccard threshold, recall is exact only for
    pairs within Hamming ``max_distance``: Hamming distance does not bound
    Jaccard, and a short doc and its near-copy can have 2-gram Jaccard ≥ 0.5
    yet sit further apart. The registry's ``simhash_near_dups`` (10 × 6-bit
    bands, Hamming ≤ 9) is exact on the test corpora, but on perfbench's
    seed-901 corpus it misses 1 of 33 all-pairs oracle pairs."""
    mask = (1 << band_bits) - 1
    split = ", ".join(f"shiftrightunsigned(simhash, {i * band_bits}) & {mask}"
                      for i in range(64 // band_bits))
    bands = _simhash_by_id(df, id_col=id_col, text_col=text_col).selectExpr(
        "_id", "simhash", f"posexplode(array({split})) AS (band, band_val)")
    bands = _cap_bucket_size(bands, ["band", "band_val"], max_bucket)
    # Hamming filter BEFORE the distinct: unlike minhash's 64-bit band
    # hashes, low-bit band values collide for plenty of far-apart docs, so
    # the band join emits ~n²/2^band_bits pairs per band — the popcount
    # filter is codegen'd and kills the non-dups in the join stage, leaving
    # the distinct's shuffle to carry only actual near-dup pairs (measured
    # at sf0.1 10×6: the swap removes a multi-million-row distinct exchange)
    return (
        bands.alias("a").join(bands.alias("b"), ["band", "band_val"])
        .where("a._id < b._id")
        .selectExpr("a._id AS id_a", "b._id AS id_b",
                    "bit_count(a.simhash ^ b.simhash) AS hamming")
        .where(f"hamming <= {int(max_distance)}")
        .distinct()
    )
