"""Deduplication operators — SURVEY.md §7 tier 4(b).

Exact dedup lives in plans/text_queries.py (hash-groupBy). This module holds
the *pairwise similarity* dedup family:

- ``jaccard_pairs_inverted``  — exact token-set Jaccard via inverted-index
  self-join. O(sum of squared posting-list lengths): correct everywhere, but
  quadratic in documents-per-token — the naive baseline.
- ``jaccard_pairs_bitmask``   — exact Jaccard when the distinct-token
  vocabulary fits in 64 bits: dictionary-encode each document's token set to
  a BIGINT mask, dedup to *distinct masks*, compare masks pairwise with
  popcount arithmetic, then expand back to document pairs. Work collapses
  from O(docs²·tokens) to O(distinct_masks² + output). Same output, bit-exact.
- ``minhash_signatures`` / ``minhash_band_pairs`` — MinHash + banded LSH,
  the generic sub-quadratic scale path for open vocabularies (100 TB tier):
  arithmetic (a·x+b) mod p hashes over dictionary token-ids, deterministic
  and engine-portable (no JVM-specific hash), so results are reproducible
  and oracle-expressible.

All operators are pure DataFrame compositions — no Python UDFs.
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: (a*x+b) with a,b,x < 2^31 stays < 2^62, i.e. exact
# BIGINT arithmetic with no overflow under Spark's default ANSI mode (and
# identical in DuckDB) — the whole point is engine-portable determinism
_MERSENNE_P = (1 << 31) - 1


def tokenize_distinct(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, token) pairs, distinct per document (single-space tokenizer)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("token"),
    )


def token_dictionary(tok: DataFrame) -> DataFrame:
    """Deterministic token-ids: dense dictionary ordered by token string.

    The global row_number window is safe because vocabularies are orders of
    magnitude smaller than the corpus (they get broadcast); for open-web
    vocabularies use :func:`token_dictionary_distributed` (same ids, no
    single-partition sort) or skip dictionaries entirely
    (:func:`shingle_tids` / ``F.xxhash64(token)`` ids).
    """
    w = Window.orderBy("token")
    return (
        tok.select("token")
        .distinct()
        .withColumn("tid", (F.row_number().over(w) - 1).cast("long"))
    )


def token_dictionary_distributed(tok: DataFrame, n_parts: int | None = None) -> DataFrame:
    """``token_dictionary`` for OPEN vocabularies — identical ids, no
    single-partition sort.

    Classic distributed dense-rank: range-partition the distinct tokens,
    rank within each partition, add per-partition offsets (a driver-side
    map of ``n_parts`` counts — KB-scale). The global id equals the
    token's rank in total sort order REGARDLESS of where the sampled
    range boundaries fall: offset(p) counts exactly the tokens in lower
    ranges, so ids are deterministic run to run and bit-identical to
    ``token_dictionary`` (asserted in tests) — the same DuckDB
    ``row_number() OVER (ORDER BY token)`` oracle covers both.

    The vocabulary is persisted between the two passes (offset count +
    final ranking) so both see one consistent partition assignment; the
    cache is vocabulary-sized, released by the caller/bench clearCache.
    """
    spark = tok.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    parts = (
        tok.select("token")
        .distinct()
        .repartitionByRange(n_parts, "token")
        .withColumn("pid", F.spark_partition_id())
        # PERSIST: distinct-token dictionary (vocabulary-sized), read by
        # every posting consumer; session-LRU lifetime (lazy return)
        .persist()
    )
    # COLLECT: one row per range partition (n_parts, a constant) —
    # the offset map, never data-scale
    sizes = {r.pid: r.n for r in parts.groupBy("pid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off_map = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("pid").orderBy("token")
    return parts.select(
        "token",
        (F.element_at(off_map, F.col("pid")) + F.row_number().over(w) - 1)
        .cast("long")
        .alias("tid"),
    )


def jaccard_pairs_inverted(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact Jaccard ≥ threshold doc pairs via inverted-index self-join.

    The per-doc set size ``n`` is folded onto every posting row (one
    doc_id-keyed window over the posting list) BEFORE the token join, so
    the pair aggregation already carries both sizes and no separate
    doc-cardinality ``sizes`` table exists to join — and, critically,
    nothing corpus-sized is ever broadcast (the r6 VERDICT flagged the
    previous ``F.broadcast(sizes)`` form as a 100 TB driver OOM; the
    plan shape is pinned in tests/test_physical_strategies.py).
    """
    tok = tokenize_distinct(docs).withColumn(
        "n", F.count("*").over(Window.partitionBy("doc_id"))
    )
    a, b = tok.alias("a"), tok.alias("b")
    common = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("n_common"),
            # n is constant per doc: max() is a deterministic pick
            F.max(F.col("a.n")).alias("n_a"),
            F.max(F.col("b.n")).alias("n_b"),
        )
    )
    jac = F.col("n_common") * F.lit(1.0) / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def doc_bitmasks(docs: DataFrame, tids: DataFrame | None = None) -> DataFrame:
    """(doc_id, mask): the document's distinct-token set as a BIGINT bitmask.

    Requires vocabulary ≤ 64 tokens — ENFORCED here: a larger vocabulary
    would wrap shiftleft's shift amount mod 64 and silently alias bit
    positions, so both paths fail loudly instead (use
    ``minhash_band_pairs_open`` for open vocabularies).

    Default path: the ≤64-token dictionary is collected to the driver (the
    broadcast-variable pattern — KB-scale by contract) and baked into the
    plan as a token→bit-literal map, so the mask is ONE fold over the
    token array per row: a single scan + one partial-agg-free projection,
    no explode, no global dictionary sort, no join. Bit ids equal the
    rank in token sort order — identical to ``token_dictionary`` and the
    DuckDB oracles. Pass precomputed ``tids`` (doc_id, tid) to reuse an
    existing dictionary encoding instead (one doc_id shuffle).
    """
    if tids is not None:
        return (
            tids.groupBy("doc_id")
            .agg(
                # shiftleft with a *column* shift needs the SQL form (the
                # Python API only accepts a literal bit count); assert_true
                # makes >=64 a runtime error, not a silent wrap
                F.sum(
                    F.expr(
                        "CASE WHEN assert_true(tid < 64, 'doc_bitmasks"
                        " requires a <=64-token vocabulary; use"
                        " minhash_band_pairs_open for open vocabularies')"
                        " IS NULL"
                        " THEN shiftleft(CAST(1 AS BIGINT), CAST(tid AS INT))"
                        " END"
                    )
                ).alias("mask")
            )
        )
    # COLLECT: the <=64-token dictionary (ValueError past 64 by the
    # bitmask contract) — bounded independently of the corpus
    tokens = sorted(
        r.token for r in tokenize_distinct(docs).select("token").distinct().collect()
    )
    if len(tokens) > 64:
        raise ValueError(
            f"doc_bitmasks requires a <=64-token vocabulary, got {len(tokens)};"
            " use minhash_band_pairs_open for open vocabularies"
        )
    # bit 63 is the sign bit: 1 << 63 exceeds max long, its two's-complement
    # value is min-long
    bit = {t: (1 << i) if i < 63 else -(1 << 63) for i, t in enumerate(tokens)}
    bit_map = F.create_map(
        *[x for t in tokens for x in (F.lit(t), F.lit(bit[t]).cast("long"))]
    )
    mask = F.aggregate(
        F.array_distinct(F.split(F.col("text"), " ")),
        F.lit(0).cast("long"),
        lambda acc, t: acc.bitwiseOR(F.element_at(bit_map, t)),
    )
    return docs.select("doc_id", mask.alias("mask"))


def jaccard_pairs_bitmask(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact Jaccard ≥ threshold doc pairs via bitmask dictionary encoding.

    jaccard(A,B) = popcount(maskA & maskB) / popcount(maskA | maskB) — integer
    math, bit-identical to the set-count formula. Pairwise work runs over
    *distinct masks* (≪ docs when texts repeat token sets), then expands back
    to document pairs; at sf0.1 this is ~4k masks vs 5k docs and turns a
    250 s inverted-index join into seconds.
    """
    # PERSIST: distinct 64-bit masks (<= vocabulary-bounded distinct
    # token sets, in practice << docs), read by the group census AND
    # the pair join; session-LRU lifetime (lazy return)
    masks = doc_bitmasks(docs).persist()
    groups = masks.groupBy("mask").agg(F.count("*").alias("n_docs"))

    ga, gb = groups.alias("ga"), groups.alias("gb")
    inter = F.bit_count(F.col("ga.mask").bitwiseAND(F.col("gb.mask")))
    union = F.bit_count(F.col("ga.mask").bitwiseOR(F.col("gb.mask")))
    jac = inter * F.lit(1.0) / union
    # the broadcast here is of the DISTINCT-MASK frame — bounded by the
    # algorithm's own cost model (this is the certified quadratic
    # baseline whose pairwise work is distinct-mask², useful exactly
    # while distinct masks stay small; the scale path is MinHash
    # banding), not by one of the fixed-size classes — deliberate, see
    # SCALING.md round-7 broadcast audit
    # r16 perf: spread the streamed NLJ side across the shuffle-partition
    # count. AQE coalesces the KB-scale groups aggregate to ONE post-shuffle
    # partition (its bytes sit under minPartitionSize), which serialized the
    # entire |masks|² popcount pass into a single task (measured 1.7 s of a
    # 5.3 s pagerank run at sf0.1). An explicit round-robin repartition pins
    # the quadratic work at one task per configured shuffle partition — the
    # same knob that sizes every other exchange, so it scales with the
    # cluster rather than the local box (guide §2.5: parallelize the
    # quadratic stage, don't let a byte-based coalesce serialize CPU work).
    n_parts = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    qual = (
        # CROSSJOIN: inequality broadcast-NLJ over the grouped-mask frame,
        # bounded by |distinct 64-bit masks| (the documented r7-audit baseline
        # exception; SCALING.md)
        ga.repartition(n_parts)
        .join(F.broadcast(gb), F.col("ga.mask") <= F.col("gb.mask"))
        .filter(jac >= threshold)
        .select(
            F.col("ga.mask").alias("ma"),
            F.col("gb.mask").alias("mb"),
            jac.alias("jac"),
        )
    )

    x, y = masks.alias("x"), masks.alias("y")
    return (
        qual.join(x, F.col("ma") == F.col("x.mask"))
        .join(y, F.col("mb") == F.col("y.mask"))
        .filter(
            (F.col("ma") < F.col("mb")) | (F.col("x.doc_id") < F.col("y.doc_id"))
        )
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            F.round("jac", 4).alias("jaccard"),
        )
    )


def minhash_coeffs(n_hashes: int, seed: int) -> list[tuple[int, int]]:
    """The fixed (a_i, b_i) hash coefficients — shared by the Spark operator
    and the DuckDB oracle builder so both engines compute identical hashes."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P) | 1, rng.randrange(0, _MERSENNE_P))
        for _ in range(n_hashes)
    ]


def minhash_pairs_cte(
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.8,
    seed: int = 42,
    source: str = "documents",
) -> str:
    """CTE body replaying ``minhash_band_pairs`` in DuckDB — same dictionary,
    same (a·x+b) mod p hashes, same banding, exact-Jaccard verify — ending
    in ``mh_pairs (doc_a, doc_b, jaccard)``. Composable: downstream oracles
    (components, canonical selection) chain further CTEs onto it;
    ``source`` lets a caller run the replay over a prior CTE (e.g. a
    quality-filtered subset) instead of the raw table — the dictionary is
    then built over exactly that subset, matching a Spark-side
    ``minhash_band_pairs(filtered_df)``."""
    r = n_hashes // n_bands
    coeffs = minhash_coeffs(n_hashes, seed)
    hash_exprs = ",\n               ".join(
        f"min((tid * {a} + {b}) % {_MERSENNE_P}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n            UNION ALL ".join(
        "SELECT doc_id, {band} AS band, concat_ws('_', {cols}) AS key FROM sig".format(
            band=i, cols=", ".join(f"h{i * r + j}" for j in range(r))
        )
        for i in range(n_bands)
    )
    return f"""
        tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
            FROM {source}
        ), vocab AS (
            SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS tid
            FROM (SELECT DISTINCT token FROM tok)
        ), tids AS (
            SELECT doc_id, tid FROM tok JOIN vocab USING (token)
        ), sig AS (
            SELECT doc_id,
               {hash_exprs}
            FROM tids GROUP BY doc_id
        ), bands AS (
            {band_selects}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ), sizes AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id
        ), common AS (
            SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_common
            FROM cand
            JOIN tok a ON doc_a = a.doc_id
            JOIN tok b ON doc_b = b.doc_id AND a.token = b.token
            GROUP BY 1, 2
        ), mh_pairs AS (
            SELECT doc_a, doc_b,
                   round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
            FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= {threshold}
        )
    """


def minhash_oracle_sql(
    n_hashes: int = 16, n_bands: int = 4, threshold: float = 0.8, seed: int = 42
) -> str:
    """DuckDB SQL computing exactly ``minhash_band_pairs`` — so even the
    *approximate* LSH path is oracle-checked end to end (SURVEY §5.1)."""
    return f"""
        WITH {minhash_pairs_cte(n_hashes, n_bands, threshold, seed)}
        SELECT doc_a, doc_b, jaccard FROM mh_pairs
    """


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 16,
    seed: int = 42,
    tids: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig[ n_hashes ]) MinHash signatures over dictionary token-ids.

    h_i(x) = (a_i·x + b_i) mod p with fixed (seeded) odd coefficients — plain
    BIGINT arithmetic, deterministic across engines and runs. min() per hash
    is a partial aggregate: one shuffle on doc_id regardless of n_hashes.
    """
    coeffs = minhash_coeffs(n_hashes, seed)
    if tids is None:
        tok = tokenize_distinct(docs)
        vocab = token_dictionary(tok)
        tids = tok.join(F.broadcast(vocab), "token").select("doc_id", "tid")
    mins = [
        F.min((F.col("tid") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = tids.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig")
    )


def minhash_band_pairs(
    docs: DataFrame,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH candidate pairs, verified with exact Jaccard ≥ threshold.

    Band the signature (rows r = n_hashes/n_bands); docs sharing any full
    band collide. Collision prob ≈ 1-(1-s^r)^b — with 16/4 bands, s=0.8 →
    ~0.93 recall. Candidates are then verified exactly, so precision is 1;
    only recall is approximate. Shuffle is on (band, band-hash) keys —
    sub-quadratic, the open-vocabulary scale path.
    """
    agg = _signature_mask_agg(docs, n_hashes, seed, "minhash_band_pairs")
    bands = _band_keys(agg, n_hashes, n_bands)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _bitmask_verify(
        cand, agg.select("doc_id", "mask"), "doc_a", "doc_b", threshold
    )


def _signature_mask_agg(
    docs: DataFrame, n_hashes: int, seed: int, caller: str
) -> DataFrame:
    """Fused (doc_id → [h0..h{n-1}], bitmask) aggregate shared by every
    banded closed-vocabulary path (symmetric, incremental).

    ONE shuffle computes the signature AND the verify bitmask together:
    fusing the two doc_id aggregations means the tokenize/dictionary scan
    runs once inside a single partial-agg exchange, and only the compact
    per-doc aggregate (n_hashes longs + 1 mask per doc, ≪ raw postings)
    is persisted for the downstream references (banding + both verify
    sides — column pruning makes their subplans differ, so exchange reuse
    alone would re-tokenize).
    """
    coeffs = minhash_coeffs(n_hashes, seed)
    tok = tokenize_distinct(docs)
    vocab = token_dictionary(tok)
    tids = tok.join(F.broadcast(vocab), "token").select("doc_id", "tid")
    mins = [
        F.min((F.col("tid") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return (
        tids.groupBy("doc_id")
        .agg(
            *mins,
            F.sum(
                F.expr(
                    f"CASE WHEN assert_true(tid < 64, '{caller}"
                    " bitmask-verify requires a <=64-token vocabulary; use"
                    " minhash_band_pairs_open') IS NULL"
                    " THEN shiftleft(CAST(1 AS BIGINT), CAST(tid AS INT)) END"
                )
            ).alias("mask"),
        )
        # PERSIST: per-doc (signature, mask) rows — one row per doc,
        # read by the band explode AND the verify join; session-LRU
        .persist()
    )


def _band_keys(agg: DataFrame, n_hashes: int, n_bands: int, *extra: str) -> DataFrame:
    """(doc_id, *extra, key) band rows: key = xxhash64(band index, the
    band's r signature values) — one BIGINT join key instead of an
    underscore-joined string. Same candidate set (equal h-tuples hash
    equal; a 2^-64 cross-band collision could only ADD a candidate, and
    candidates are verified exactly), with a far smaller join shuffle."""
    r = n_hashes // n_bands
    return agg.select(
        "doc_id",
        *extra,
        F.explode(
            F.array(
                *[
                    F.xxhash64(F.lit(i), *[F.col(f"h{i * r + j}") for j in range(r)])
                    for i in range(n_bands)
                ]
            )
        ).alias("key"),
    )


def _bitmask_verify(
    cand: DataFrame,
    masks: DataFrame,
    a_col: str,
    b_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate id pairs via bitmask
    popcount: candidates can be millions of pairs on a high-similarity
    corpus, so re-joining the token table would reintroduce the
    quadratic cost. popcount(maskA & maskB) equals the
    token-intersection count exactly. The doc→mask joins are plain
    equi-joins on doc ids — the masks map has one row PER DOCUMENT, so
    a forced broadcast would be the corpus-cardinality driver OOM the
    r6 verdict flagged for the jaccard sizes table; AQE broadcasts it
    when it is actually small (test scale) and shuffles on the id keys
    when it is corpus-scale. (Open-vocabulary fallback: the token-join
    verify in minhash_band_pairs_open.)"""
    x, y = masks.alias("x"), masks.alias("y")
    inter = F.bit_count(F.col("x.mask").bitwiseAND(F.col("y.mask")))
    union = F.bit_count(F.col("x.mask").bitwiseOR(F.col("y.mask")))
    jac = inter * F.lit(1.0) / union
    return (
        cand.join(x, F.col(a_col) == F.col("x.doc_id"))
        .join(y, F.col(b_col) == F.col("y.doc_id"))
        .filter(jac >= threshold)
        .select(a_col, b_col, F.round(jac, 4).alias("jaccard"))
    )


def ppjoin_pairs(docs: DataFrame, threshold_num: int = 4, threshold_den: int = 5) -> DataFrame:
    """Exact Jaccard >= num/den pairs via PPJoin-style prefix filtering
    (Chaudhuri/Ganti/Kaushik 2006, Bayardo/Ma/Srikant 2007; implemented
    from the published algorithm).

    The third exact-similarity-join strategy beside the all-pairs bitmask
    (jaccard_pairs_bitmask) and MinHash banding (approximate recall):
    tokens get a global RARITY order (ascending document frequency); a
    document's candidate probes are only its first
    ``p = |x| - ceil(tau*|x|) + 1`` rarest tokens — any pair with
    J >= tau provably shares a prefix token under any fixed total order,
    so the filter is LOSSLESS and the output equals the brute-force
    ground truth exactly (the oracle IS the naive all-pairs SQL).
    Candidate volume is driven by rare-token collision rates instead of
    document count squared; at 100 TB the prefix explode shuffles
    ~p rows/doc and the verify stays broadcast-bitmask.

    tau is passed as an exact rational (num/den) so the prefix length is
    computed in integer arithmetic — an IEEE ceil(0.8*5) = ceil(4.0000…2)
    would silently shorten prefixes and break the completeness proof.
    """
    # persist the tokenized postings: they feed the frequency census AND
    # the per-doc rank lists — without the cache the corpus is re-scanned
    # and re-split once per consumer
    # PERSIST: tokenized postings (distinct doc-token pairs), feeding
    # the frequency census AND the per-doc rank lists; session-LRU
    tok = tokenize_distinct(docs).persist()
    freq = tok.groupBy("token").agg(F.count("*").alias("df"))
    # global rarity rank; the vocabulary is KB-scale by the <=64-token
    # bitmask contract, so the single-partition window is free (the open-
    # vocabulary form would use the distributed dense-rank dictionary).
    w = Window.orderBy("df", "token")
    vocab = freq.select("token", F.row_number().over(w).alias("rank"))
    ranks = (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("rank")).alias("ranks"))
    )
    size = F.size("ranks")
    # p = s - ceil(num*s/den) + 1, all-integer: ceil(a/b) = (a + b - 1) div b
    plen = (
        size
        - F.floor(
            (F.lit(threshold_num) * size + F.lit(threshold_den - 1))
            / F.lit(threshold_den)
        ).cast("int")
        + F.lit(1)
    )
    prefix = ranks.select(
        "doc_id", F.explode(F.slice("ranks", F.lit(1), plen)).alias("rank")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.rank") == F.col("b.rank"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # masks persisted: the verify reads the same frame on both sides of
    # the pair join (equi-joins on doc ids — see _bitmask_verify)
    # PERSIST: per-doc masks read on BOTH sides of the verify pair
    # join (equi-joins on doc ids); one row per doc; session-LRU
    masks = doc_bitmasks(docs).persist()
    return _bitmask_verify(
        cand, masks, "doc_a", "doc_b", threshold_num / threshold_den
    )


def minhash_incremental_pairs(
    docs: DataFrame,
    is_new,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Incremental dedup: probe a NEW batch against the EXISTING corpus.

    The production shape at 100 TB — a daily ingest never re-deduplicates
    the whole corpus; the new batch's band keys probe the corpus's banded
    index (here built in-query; in production a persisted table bucketed
    by band key, so the probe join is exchange-free on the corpus side).
    ``is_new`` is a boolean Column splitting docs into batch vs corpus.

    Asymmetric band join (new × corpus, sides disjoint — no self-join, no
    a<b dedup), then the same broadcast-bitmask exact verify as
    ``minhash_band_pairs``. Emits (new_doc, dup_of, jaccard): batch docs
    with a ≥ threshold corpus duplicate. Candidate volume is
    |batch| × collision rate, independent of corpus-side pair counts —
    the whole point versus rerunning the symmetric pass.
    """
    agg = _signature_mask_agg(
        docs, n_hashes, seed, "minhash_incremental_pairs"
    ).withColumn("is_new", is_new)
    bands = _band_keys(agg, n_hashes, n_bands, "is_new")
    cand = (
        bands.filter("is_new")
        .alias("a")
        .join(bands.filter("NOT is_new").alias("b"), "key")
        .select(
            F.col("a.doc_id").alias("new_doc"),
            F.col("b.doc_id").alias("dup_of"),
        )
        .distinct()
    )
    return _bitmask_verify(
        cand, agg.select("doc_id", "mask"), "new_doc", "dup_of", threshold
    )


def minhash_band_pairs_grouped(
    docs: DataFrame,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """``minhash_band_pairs`` computed over DISTINCT token-set masks.

    A MinHash signature depends only on the token SET, so all quadratic
    stages (banding self-join, candidate dedup, verification) can run in
    mask space — here ~20% fewer rows, but the structural win is bigger:
    mask pairs are unique by construction, so the multi-million-row
    ``distinct`` on candidate doc pairs disappears entirely. Doc pairs are
    recovered at the end by two broadcast expansions (inter-mask pairs) plus
    the intra-mask pairs (identical sets → jaccard 1.0 ≥ any threshold).

    Signatures come straight from mask BITS via array expressions
    (set-bit positions ARE the dictionary tids) — no re-join to the token
    table. Output is row-identical to ``minhash_band_pairs`` (same oracle).
    Closed-vocabulary (≤64 tokens) fast path; the generic path remains
    ``minhash_band_pairs``.
    """
    r = n_hashes // n_bands
    coeffs = minhash_coeffs(n_hashes, seed)

    # PERSIST: per-doc masks feeding the distinct-mask signature build
    # AND the doc expansion join; one row per doc; session-LRU
    masks = doc_bitmasks(docs).persist()
    dmask = masks.select("mask").distinct()

    # set-bit positions of the mask == the document's tid set (≤64 longs).
    # Column-indexed shifts aren't exposed in the Python API → test bits
    # against a literal single-bit mask table instead (bit 63 = sign bit).
    bit_masks = F.array(
        *[F.lit(m).cast("long") for m in [1 << i for i in range(63)] + [-(2**63)]]
    )
    tid_arr = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.when(
                F.col("mask").bitwiseAND(F.element_at(bit_masks, i + 1)) != 0,
                i.cast("long"),
            ).otherwise(F.lit(-1).cast("long")),
        ),
        lambda x: x >= 0,
    )
    sig_cols = [
        F.array_min(
            F.transform(
                F.col("tids"), lambda t: (t * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P)
            )
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = dmask.withColumn("tids", tid_arr).select("mask", *sig_cols)
    # xxhash64(band index, r signature values) — one BIGINT key per band
    # (see minhash_band_pairs: same candidate set, smaller self-join)
    bands = sig.select(
        "mask",
        F.explode(
            F.array(
                *[
                    F.xxhash64(F.lit(i), *[F.col(f"h{i * r + j}") for j in range(r)])
                    for i in range(n_bands)
                ]
            )
        ).alias("key"),
    )

    # band-collide mask pairs (distinct over mask-pair space — the shrunken
    # shuffle), verified by popcount jaccard, then expanded back to doc
    # pairs via two mask-keyed equi-joins (the masks map is per-doc, so no
    # forced broadcast — AQE picks broadcast only when it is truly small)
    x, y = masks.alias("x"), masks.alias("y")
    inter_docs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.mask") < F.col("b.mask")),
        )
        .select(F.col("a.mask").alias("ma"), F.col("b.mask").alias("mb"))
        .distinct()
        .withColumn(
            "jac",
            F.bit_count(F.col("ma").bitwiseAND(F.col("mb")))
            * F.lit(1.0)
            / F.bit_count(F.col("ma").bitwiseOR(F.col("mb"))),
        )
        .filter(F.col("jac") >= threshold)
        .join(x, F.col("ma") == F.col("x.mask"))
        .join(y, F.col("mb") == F.col("y.mask"))
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            F.round("jac", 4).alias("jaccard"),
        )
    )
    intra_docs = (
        x.join(
            y,
            (F.col("x.mask") == F.col("y.mask"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return inter_docs.unionByName(intra_docs)


def simhash_64(docs: DataFrame, seed: int = 42) -> DataFrame:
    """(doc_id, simhash) 64-bit SimHash over dictionary token-ids.

    Each token contributes ±1 per bit position according to a deterministic
    arithmetic bit-mix of its id; the sign of each summed position forms the
    fingerprint. Near-duplicate docs differ in few bits (compare with
    bit_count(xor) ≤ k). Pure aggregates — one shuffle on doc_id.
    """
    # one (a,b) pair per bit: bit_j(token) = ((a_j*tid+b_j) mod p) & 1 —
    # the same seeded coefficient family as MinHash, shared with the DuckDB
    # oracle builder (simhash_oracle_sql) so both engines compute identical
    # fingerprints
    coeffs = minhash_coeffs(64, seed)
    tok = tokenize_distinct(docs)
    vocab = token_dictionary(tok)
    tids = tok.join(F.broadcast(vocab), "token").select("doc_id", "tid")
    bit_sums = [
        F.sum(
            ((F.col("tid") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P) % 2) * 2 - 1
        ).alias(f"s{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    agg = tids.groupBy("doc_id").agg(*bit_sums)
    fingerprint = None
    for j in range(64):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select("doc_id", fingerprint.alias("simhash"))


def simhash_oracle_sql(max_hamming: int = 8, seed: int = 42) -> str:
    """DuckDB SQL computing exactly ``simhash_near_pairs`` — same dictionary,
    same per-bit (a·x+b) mod p mix, same 16-bit-quarter blocking and exact
    hamming verify — so even the blocked approximate path is oracle-checked
    end to end, like ``minhash_oracle_sql``.

    Bit-64 arithmetic notes (verified against Spark semantics): bit 63 is
    the sign bit, emitted as the min-long literal (DuckDB rejects
    ``1 << 63``); DuckDB's ``>>`` is an arithmetic shift, but masking with
    0xFFFF keeps only the low 16 bits, which logical and arithmetic shifts
    agree on.
    """
    coeffs = minhash_coeffs(64, seed)
    min_long = "(-9223372036854775807 - 1)"
    sum_exprs = ",\n               ".join(
        f"sum(((tid * {a} + {b}) % {_MERSENNE_P}) % 2 * 2 - 1) AS s{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    fp_terms = " + ".join(
        f"CASE WHEN s{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END" for j in range(63)
    )
    fp_expr = f"{fp_terms} + CASE WHEN s63 > 0 THEN {min_long} ELSE 0 END"
    return f"""
        WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), vocab AS (
            SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS tid
            FROM (SELECT DISTINCT token FROM tok)
        ), tids AS (
            SELECT doc_id, tid FROM tok JOIN vocab USING (token)
        ), sums AS (
            SELECT doc_id,
               {sum_exprs}
            FROM tids GROUP BY doc_id
        ), fp AS (
            SELECT doc_id, {fp_expr} AS simhash
            FROM sums
        ), quarters AS (
            SELECT doc_id, simhash, q, (simhash >> (q * 16)) & 65535 AS qk
            FROM fp, unnest([0, 1, 2, 3]) AS t(q)
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
            FROM quarters a JOIN quarters b
              ON a.q = b.q AND a.qk = b.qk AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 8, seed: int = 42) -> DataFrame:
    """Doc pairs within ``max_hamming`` bits of SimHash distance.

    Blocked by 16-bit quarters (pigeonhole: ≤3-bit-different pairs share at
    least one exact quarter when max_hamming ≤ 3; for larger budgets this is
    a recall-bounded block join, verified exactly with bit_count(xor)).

    No cache: the two self-join sides are identical subplans projecting the
    same columns, so Spark's exchange reuse computes the fingerprint
    aggregation once and feeds both sides from the same shuffle output."""
    sh = simhash_64(docs, seed=seed)
    quarters = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftrightunsigned(F.col("simhash"), q * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("qk"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.q"), F.col("b.qk"), "simhash")
    a, b = quarters.alias("a"), quarters.alias("b")
    dist = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.qk") == F.col("b.qk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _widen_narrow_scan(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Repartition a narrow file scan up to the cluster's parallelism.

    Shingling does O(len(text)) substring work per row, so a scan backed by
    fewer files than cores (one tiny local parquet, a coalesced input) would
    tokenize on a handful of threads; one cheap shuffle of raw text buys a
    fully parallel tokenize. File count is a DataFrame-API proxy for scan
    width (no ``df.rdd`` hop — SURVEY §2.1/S4): any real at-scale scan has
    ≫ cores files and skips the shuffle; non-file sources (in-memory test
    frames) conservatively widen.
    """
    target = docs.sparkSession.sparkContext.defaultParallelism
    n_files = len(docs.inputFiles())
    if n_files == 0 or n_files < target:
        docs = docs.repartition(target, key)
    return docs


def shingle_distinct(docs: DataFrame, k: int = 4) -> DataFrame:
    """(doc_id, token) pairs where tokens are distinct character k-grams.

    The shingling tokenizer for MinHash when word boundaries are unreliable
    (code, CJK, OCR). Pure array expressions — sequence + transform +
    array_distinct — no Python. Texts shorter than k yield the whole text
    as a single shingle.

    Shingling does O(len(text)) substring work per row — by far the most
    CPU per input byte in the pipeline — so if the scan arrives with fewer
    partitions than cores (tiny files, coalesced input), widen it first:
    one cheap shuffle of raw text buys a fully parallel tokenize. Inputs
    that already have enough partitions (any real at-scale scan) skip this.
    """
    docs = _widen_narrow_scan(docs)
    gen = (
        f"transform(sequence(1, greatest(length(text) - {k - 1}, 1)),"
        f" i -> substr(text, i, {k}))"
    )
    return docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(F.expr(gen))).alias("token"),
    )


def minhash_band_pairs_open(
    tok: DataFrame | None = None,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.8,
    seed: int = 42,
    tids: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs for OPEN vocabularies (no ≤64-token mask
    shortcut): signatures → banding → candidate pairs → exact-Jaccard
    verification by joining candidates back to the (doc_id, token-id)
    posting table.

    Input is EITHER ``tok`` — any (doc_id, token) relation distinct per
    document (word tokens, shingle strings), dictionary-encoded here — or
    ``tids`` — a pre-encoded (doc_id, tid BIGINT) posting relation (e.g.
    :func:`shingle_tids`, whose base-256 ids need no dictionary at all;
    prefer it when available, a corpus-wide dictionary is the 100 TB
    anti-pattern). Every stage shuffles on band keys or doc ids, never
    materializes doc×doc, and the verify join is sort-merge-able on the
    candidate doc ids.
    """
    # 0 keeps every banding collision (minhash_candidate_quality); `mid`
    # (the exact verify's rounding boundary, below) must fit long literals
    if not 0 <= threshold <= 1:
        raise ValueError(f"jaccard threshold must be in [0, 1], got {threshold}")
    mid = (Fraction(threshold) + Fraction(math.nextafter(threshold, 0.0))) / 2
    if mid.denominator + mid.numerator >= 2**63:  # 0 < threshold < ~2^-9
        raise ValueError(f"jaccard threshold {threshold} too small for the exact verify")
    r = n_hashes // n_bands
    if tids is None:
        # open vocabulary ⇒ the dictionary must not bottleneck either: the
        # distributed dense-rank builds identical ids without the global
        # single-partition sort, and the encode join is left to AQE (auto-
        # broadcast when the vocabulary is small, shuffle join when not)
        vocab = token_dictionary_distributed(tok)
        tids = tok.join(vocab, "token").select("doc_id", "tid")
    coeffs = minhash_coeffs(n_hashes, seed)
    mins = [
        F.min((F.col("tid") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    # ONE shuffle computes the signature AND the exact-verify posting array
    # together. Tokenizing (shingling especially — len(text) substrings per
    # doc) is by far the most CPU per input byte, and column pruning gives
    # the banding / verify branches different aggregate subplans (so
    # exchange reuse alone would re-tokenize per branch); fusing the two
    # former groupBys means one tokenize inside one partial-agg exchange,
    # and what gets cached for the three downstream references is only the
    # compact per-doc aggregate — not the raw posting table.
    # collect_set (not collect_list/count): the shingle generator emits
    # duplicate tids and the set-state partial aggregate dedups them
    # map-side — min() is duplicate-blind, so the signature is unchanged
    agg = (
        tids.groupBy("doc_id")
        .agg(
            *mins,
            F.sort_array(F.collect_set("tid")).alias("tids"),
        )
        .withColumn("n", F.size("tids").cast("long"))
        # PERSIST: fused per-doc signature frame (one row per doc),
        # read by the band join AND both verify sides; session-LRU
        .persist()
    )
    # band key = xxhash64(band index, r signature values): a single BIGINT
    # join key instead of a concat_ws string — same candidate set (equal
    # h-tuples hash equal; a 2^-64 collision could only add a candidate,
    # which exact verification then filters), much smaller self-join shuffle.
    bands = agg.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(F.lit(i), *[F.col(f"h{i * r + j}") for j in range(r)])
                    for i in range(n_bands)
                ]
            )
        ).alias("key"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verify WITHOUT row explosion: attach each side's sorted tid
    # array and intersect per pair with a JVM higher-order function. The
    # naive alternative — joining candidates back to the posting table and
    # group-counting matches — shuffles |cand| × tokens-per-doc rows (tens
    # of millions here); this streams |cand| rows with two equi-joins AQE
    # resolves as broadcast when the doc→array map is small and sort-merge
    # on doc ids otherwise.
    ta = agg.select(
        F.col("doc_id").alias("doc_a"),
        F.col("tids").alias("tids_a"),
        F.col("n").alias("n_a"),
    )
    tb = agg.select(
        F.col("doc_id").alias("doc_b"),
        F.col("tids").alias("tids_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect(F.col("tids_a"), F.col("tids_b")))
    jac = inter * F.lit(1.0) / (F.col("n_a") + F.col("n_b") - inter)
    # r17: two-stage verify predicate, both stages PROVABLY equal to the
    # naive `jac >= threshold` double comparison on every input:
    #
    # (1) size-ratio gate FIRST in the conjunction (guide §3.2 class):
    #     jac <= min/max, so min/max below the accept boundary rules a
    #     pair out before the per-row hash-set intersect ever runs (~44%
    #     of sf0.1 candidates). The gate compares against threshold-1e-9,
    #     NOT threshold: the double-accept region of `jac >= t` extends
    #     half an ulp BELOW t (e.g. sets of 4 and 5 sharing 4 have exact
    #     jac 4/5 < double(0.8), yet 4/5 rounds to double(0.8) and
    #     PASSES), while `min*1.0 >= t*max` can reject exactly there
    #     (4.0 < 0.8*5 in doubles) — the 1e-9 slack dwarfs every rounding
    #     term (>= 1e-9*max vs ulp-scale errors), so no boundary pair is
    #     ever gated out; false passes just fall through to (2).
    #
    # (2) the exact-jaccard test references the intersect ONCE instead of
    #     twice (the old jac >= t join condition evaluated
    #     size(array_intersect(...)) in both numerator and denominator —
    #     no common-subexpression elimination inside a single join
    #     condition; measured 2x the verify cost). `double(i/u) >= t` is
    #     EXACTLY `i/u >= mid` where mid = (t + nextafter(t, 0))/2 is the
    #     rounding boundary (division is correctly rounded; an exact tie
    #     i/u == mid needs u divisible by 2^53 — unreachable), so the
    #     integer cross-multiplication below is an identity, not an
    #     approximation (brute-verified for every set-size sum <= 2e6).
    #     DECIMAL(38,0) products: mid's numerator is ~2^53 and set sizes
    #     are doc-bounded, so BIGINT would overflow past ~1e3-token
    #     docs; decimal stays exact to 38 digits.
    inter_dec = inter.cast("decimal(20,0)")
    sum_dec = (F.col("n_a") + F.col("n_b")).cast("decimal(20,0)")
    jac_ok = (
        F.lit(mid.denominator + mid.numerator).cast("decimal(20,0)") * inter_dec
        >= F.lit(mid.numerator).cast("decimal(20,0)") * sum_dec
    )
    ratio_ok = (
        F.least("n_a", "n_b") * F.lit(1.0)
        >= F.lit(threshold - 1e-9) * F.greatest("n_a", "n_b")
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(ratio_ok & jac_ok)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def minhash_shingle_oracle_sql(
    k: int = 4,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.8,
    seed: int = 42,
) -> str:
    """DuckDB SQL computing exactly ``minhash_band_pairs_open`` over
    dictionary-free base-256 shingle ids (:func:`shingle_tids`) — same
    encoding, hashes, banding, verify."""
    r = n_hashes // n_bands
    coeffs = minhash_coeffs(n_hashes, seed)
    hash_exprs = ",\n               ".join(
        f"min((tid * {a} + {b}) % {_MERSENNE_P}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n            UNION ALL ".join(
        "SELECT doc_id, {band} AS band, concat_ws('_', {cols}) AS key FROM sig".format(
            band=i, cols=", ".join(f"h{i * r + j}" for j in range(r))
        )
        for i in range(n_bands)
    )
    return f"""
        WITH tids AS (
            {shingle_tids_sql(k)}
        ), sig AS (
            SELECT doc_id,
               {hash_exprs}
            FROM tids GROUP BY doc_id
        ), bands AS (
            {band_selects}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ), sizes AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tids GROUP BY doc_id
        ), common AS (
            SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_common
            FROM cand
            JOIN tids a ON doc_a = a.doc_id
            JOIN tids b ON doc_b = b.doc_id AND a.tid = b.tid
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= {threshold}
    """


def shingle_tids(docs: DataFrame, k: int = 4) -> DataFrame:
    """(doc_id, tid) pairs (NOT distinct per doc — consumers dedup in
    their per-doc aggregate) where tid IS the k-gram's bytes as a base-256
    integer — the dictionary-FREE shingle encoding.

    For ASCII corpora and k ≤ 7 the encoding is injective, so these ids are
    exact shingle identities with zero collisions, and the whole dictionary
    apparatus (global row_number window + broadcast join) disappears — the
    right construction at 100 TB, where a corpus-wide dictionary is the
    anti-pattern. Also skips materializing shingle STRINGS entirely: the
    ids are integer expressions over character codes (both engines agree
    ascii('') = 0, so trailing out-of-bounds positions pad with zeros).

    Max id < 2^(8k); for k=4 that is < 2^32, so (a·x+b) mod p minhash
    stays under 2^63 (ANSI-safe: (2^31-1)·(2^32-1) + 2^31-1 < 2^63-1).
    """
    if k > 7:
        raise ValueError("base-256 shingle ids overflow BIGINT beyond k=7")
    docs = _widen_narrow_scan(docs)
    # explode(sequence) + flat scalar id expression, NOT
    # transform(..., i -> ...): higher-order-function lambdas are evaluated
    # interpreted (no whole-stage codegen), which made the tokenize the
    # pipeline's dominant cost (~3.9 s of a 6.8 s total at sf0.1); the
    # generator + scalar form stays codegen'd end to end. Duplicate
    # shingles are NOT removed here — emitting them is cheaper than any
    # per-row dedup structure, and the downstream per-doc aggregate
    # (collect_set / min) absorbs duplicates map-side for free.
    #
    # r17: slice the k-gram ONCE per position (substr(text, i, k)), then
    # take per-character codes from the k-char slice. UTF8String.substring
    # seeks codepoint boundaries linearly, so ascii(substr(text, i+j, 1))
    # is O(i) — k O(i) seeks per position made the generator O(k·len²)
    # per document; one O(i) seek plus k O(1) slices of a k-char string
    # is O(len²) — measured 0.49 -> 0.25 s for the sf0.1 generator alone.
    # Identical values: substr of a short slice returns '' past its end,
    # and both engines agree ascii('') = 0 (the same padding contract).
    code = " + ".join(
        f"ascii(substr(s, {j + 1}, 1)) * {256 ** (k - 1 - j)}" for j in range(k)
    )
    return docs.select(
        F.col("doc_id"),
        "text",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1)))
        ).alias("i"),
    ).select(
        "doc_id",
        F.expr(f"substr(text, i, {k})").alias("s"),
    ).select(
        "doc_id",
        F.expr(f"CAST({code} AS BIGINT)").alias("tid"),
    )


def shingle_tids_sql(k: int = 4) -> str:
    """The DuckDB twin of :func:`shingle_tids` as a ``tids`` CTE body."""
    code = " + ".join(
        f"ascii(substr(text, i + {j}, 1)) * {256 ** (k - 1 - j)}" for j in range(k)
    )
    return f"""
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, greatest(length(text) - {k - 1}, 1)),
                       i -> CAST({code} AS BIGINT)))) AS tid
            FROM documents
    """


def containment_pairs_bitmask(docs: DataFrame, threshold: float = 1.0) -> DataFrame:
    """Token-set CONTAINMENT ≥ threshold doc pairs via the bitmask path.

    containment(A,B) = |A∩B| / min(|A|,|B|) — the asymmetric-overlap
    measure that catches SUBSET duplicates Jaccard misses (a short doc
    fully contained in a long one scores 1.0 here but low Jaccard) — the
    dataset-decontamination primitive. Same distinct-mask pairwise plan
    as :func:`jaccard_pairs_bitmask`: popcount arithmetic over ≤64-token
    vocabulary masks, expanded back to doc pairs at the end.
    """
    # PERSIST: distinct 64-bit masks (<= vocabulary-bounded distinct
    # token sets, in practice << docs), read by the group census AND
    # the pair join; session-LRU lifetime (lazy return)
    masks = doc_bitmasks(docs).persist()
    groups = masks.groupBy("mask").agg(F.count("*").alias("n_docs"))

    ga, gb = groups.alias("ga"), groups.alias("gb")
    inter = F.bit_count(F.col("ga.mask").bitwiseAND(F.col("gb.mask")))
    smaller = F.least(
        F.bit_count(F.col("ga.mask")), F.bit_count(F.col("gb.mask"))
    )
    cont = inter * F.lit(1.0) / smaller
    # deliberate distinct-mask broadcast — the certified quadratic
    # baseline's own cost model, same note as jaccard_pairs_bitmask
    qual = (
        # CROSSJOIN: inequality broadcast-NLJ over the grouped-mask frame,
        # bounded by |distinct 64-bit masks| (same adjudication as
        # jaccard_pairs_bitmask)
        ga.join(F.broadcast(gb), F.col("ga.mask") <= F.col("gb.mask"))
        .filter(cont >= threshold)
        .select(
            F.col("ga.mask").alias("ma"),
            F.col("gb.mask").alias("mb"),
            cont.alias("cont"),
        )
    )

    x, y = masks.alias("x"), masks.alias("y")
    return (
        qual.join(x, F.col("ma") == F.col("x.mask"))
        .join(y, F.col("mb") == F.col("y.mask"))
        .filter(
            (F.col("ma") < F.col("mb")) | (F.col("x.doc_id") < F.col("y.doc_id"))
        )
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            F.round("cont", 4).alias("containment"),
        )
    )


def minhash_quality_oracle_sql(
    n_hashes: int = 16, n_bands: int = 4, threshold: float = 0.8, seed: int = 42
) -> str:
    """DuckDB SQL for :func:`minhash band` candidate-stage quality: one row
    of (n_true_pairs, n_candidates, n_hits, precision, recall) where truth
    is the exact token-set Jaccard >= threshold over ALL pairs and
    candidates are the banding collisions (pre-verify). Same dictionary /
    hashes / banding as minhash_oracle_sql."""
    r = n_hashes // n_bands
    coeffs = minhash_coeffs(n_hashes, seed)
    hash_exprs = ",\n               ".join(
        f"min((tid * {a} + {b}) % {_MERSENNE_P}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n            UNION ALL ".join(
        "SELECT doc_id, {band} AS band, concat_ws('_', {cols}) AS key FROM sig".format(
            band=i, cols=", ".join(f"h{i * r + j}" for j in range(r))
        )
        for i in range(n_bands)
    )
    return f"""
        WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), vocab AS (
            SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS tid
            FROM (SELECT DISTINCT token FROM tok)
        ), tids AS (
            SELECT doc_id, tid FROM tok JOIN vocab USING (token)
        ), sig AS (
            SELECT doc_id,
               {hash_exprs}
            FROM tids GROUP BY doc_id
        ), bands AS (
            {band_selects}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ), sizes AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id
        ), all_common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), truth AS (
            SELECT c.doc_a, c.doc_b
            FROM all_common c
            JOIN sizes sa ON c.doc_a = sa.doc_id
            JOIN sizes sb ON c.doc_b = sb.doc_id
            WHERE c.n_common * 1.0 / (sa.n + sb.n - c.n_common) >= {threshold}
        ), counts AS (
            SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
                (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
                (SELECT CAST(count(*) AS BIGINT)
                 FROM cand JOIN truth USING (doc_a, doc_b)) AS n_hits
        )
        SELECT n_true_pairs, n_candidates, n_hits,
               -- integer half-away 1e-4 units (r14 audit): pair counts
               -- are bounded small integers that reach the 2^5*5^b
               -- half-boundary grid (160, 800, ...) under perturbation
               ((2 * n_hits * 10000 + n_candidates)
                // (2 * n_candidates)) / 10000.0 AS precision,
               ((2 * n_hits * 10000 + n_true_pairs)
                // (2 * n_true_pairs)) / 10000.0 AS recall
        FROM counts
    """
