"""Deduplication operators over document tables.

Scale design: every method here is expressed as shuffle-bounded DataFrame
ops — shingling and hashing are per-row (no shuffle), candidate
generation is a groupBy/join on bucket keys (one shuffle, bucket count ≫
skew), and exact verification only touches candidate pairs (never the
n² cross product). At 100 TB the all-pairs variants (`*_all_pairs`) are
for oracle testing only and say so.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myduckdb_spark.cacheutil import persist_tracked


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact text; adds group size.

    hash-groupBy on the full text — at scale, group on md5(text) instead
    of the text bytes to shrink shuffle width (same result, 16-byte keys).
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(
            F.min(id_col).alias(id_col),
            F.first(text_col).alias(text_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# Shingling / n-grams
# ---------------------------------------------------------------------------

def char_shingles_expr(text_col: str, k: int = 3, distinct: bool = True) -> Column:
    """Char k-gram shingling as one codegen'd regex pass (no UDF, no
    lambda): a lookahead capture at every code-point start yields the
    overlapping windows ``substring(text, i, k)`` gives, and ``(?s)`` lets
    ``.`` match line terminators. Java's matcher steps one UTF-16 unit
    after a zero-width match, so the negative lookahead skips starts at a
    low surrogate (the second half of an emoji). Text shorter than k has
    no shingle; NULL text gives NULL."""
    pattern = r"(?s)(?![\x{DC00}-\x{DFFF}])(?=(.{%d}))" % k
    sh = F.regexp_extract_all(F.expr(text_col), F.lit(pattern), F.lit(1))
    return F.array_distinct(sh) if distinct else sh


def word_ngrams_expr(text_col: str, n: int = 3) -> Column:
    """Word n-grams via split + slice (JVM-side); none for text of fewer
    than n words, as in DuckDB's generate_series: Spark's sequence(1, 0)
    counts down to [1, 0]."""
    words = f"split({text_col}, ' ')"
    return F.expr(
        f"CASE WHEN size({words}) < {n} THEN CAST(array() AS array<string>)"
        f" ELSE transform(sequence(1, size({words}) - {n - 1}),"
        f" i -> array_join(slice({words}, i, {n}), ' ')) END"
    )


# ---------------------------------------------------------------------------
# Jaccard on shingle sets
# ---------------------------------------------------------------------------

def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two (distinct-element) arrays, JVM-side."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    partition_col: str | None = None,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard ≥ threshold (id_a < id_b).

    ORACLE/TEST PATH: O(n²) within partition_col groups. At scale use
    ``minhash_lsh_pairs`` (candidates via LSH, verify with this metric).
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh = docs.repartition(par).select(
        F.col(id_col), *([partition_col] if partition_col else []),
        char_shingles_expr(text_col, k).alias("sh"),
    )
    a = sh.select(
        *([F.col(partition_col).alias("p")] if partition_col else []),
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
    )
    b = sh.select(
        *([F.col(partition_col).alias("p")] if partition_col else []),
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
    )
    cond = F.col("id_a") < F.col("id_b")
    pairs = a.join(b, cond if not partition_col else (a["p"] == b["p"]) & cond)
    out = pairs.select(
        "id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("__j")
    )
    # threshold on the raw value, round only for output (boundary-safe)
    return out.filter(F.col("__j") >= threshold).select(
        "id_a", "id_b", F.round(F.col("__j"), 6).alias("jacc")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Max distinct-shingle vocabulary (in bits) for the bitmap verification
# path: 4096 bits = 64 LONG columns per doc. Above this, fall back to
# hashed-shingle array intersection.
_BITMAP_VOCAB_MAX = 4096

# Narrow-vocab policy (the reference's AM_US idea — prefer brute force
# below a cost threshold, src/execution/physical_plan/
# plan_comparison_join.cpp:158-170): when the bitmap path is active the
# vocabulary is ≤ _BITMAP_VOCAB_MAX shingles, i.e. template-generated
# text where MOST pairs are mid-similarity. Banding cannot prune such a
# corpus — nearly every pair collides in some band, so the LSH path pays
# the quadratic candidate volume PLUS band-join/dedup shuffles on top.
# All-pairs bitmap Jaccard is a broadcast nested-loop of codegen bit-ops
# (zero shuffle, zero miss probability) and stays cheaper until the
# broadcast side (n docs × (vocab/64 + 2) longs) outgrows the budget:
# measured at 50k docs / 431-shingle vocab, all-pairs = 59s where LSH
# took 1031s. Beyond this bound on a narrow-vocab corpus no pair-listing
# algorithm helps — the ANSWER SET itself is Θ(n²); dedup at that scale
# should cluster (representative per group), not enumerate pairs.
# Wide-vocab corpora (real web text) never enter the bitmap path and
# always take LSH, whose candidates are sparse there.
_ALLPAIRS_MAX_DOCS = 200_000
# docs above which LSH pair-verification stops broadcasting the per-doc
# payload lookup sides and falls back to shuffle joins (scale path)
_VERIFY_BROADCAST_MAX_DOCS = 200_000


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash+LSH, verified with exact Jaccard.

    Signature computation is Spark-first: explode shingles to rows, hash
    each shingle ONCE (codegen'd xxhash64), then groupBy(id) with
    ``min(xxhash64(h, seed_i))`` per hash function — whole-stage codegen
    end-to-end, with map-side partial aggregation so the shuffle carries
    only ``num_hashes`` longs per document. (A nested higher-order-
    function formulation [transform(seq, s -> array_min(transform(...)))]
    runs on Catalyst's interpreted eval path and gets re-inlined into
    every band-key expression by projection collapse — measured 100×
    slower; do not regress to it.)

    Pipeline: repartition docs (single-file inputs otherwise put all
    per-row work in one task) → per-doc shingle arrays (regex pass,
    cached: one row per doc) → explode+hash → sig (one narrow shuffle)
    → band keys → self-join on (band, key) → distinct candidate pairs →
    signature-estimate prefilter → exact-Jaccard verify ≥ threshold.
    With b bands × r rows the catch probability at s=threshold is
    1-(1-s^r)^b (≈0.9997 for 16×4 at 0.8), so the verified output
    matches the exact all-pairs result with near-certainty — at
    O(candidates) cost instead of O(n²).

    Exact verification is representation-adaptive. Candidate counts are
    corpus-dependent: a narrow shingle vocabulary (template-generated
    text) makes most pairs mid-similarity, so band collisions — and thus
    candidate pairs — go quadratic and per-pair verification dominates.
    When the corpus's distinct shingle count V fits a bitmap budget
    (≤ ``_BITMAP_VOCAB_MAX`` bits), each doc's shingle set becomes
    ceil(V/64) plain LONG columns and Jaccard is
    Σ bit_count(a&b) / Σ bit_count(a|b) — pure whole-stage codegen,
    no arrays materialized per pair (measured at sf0.1 on the driver
    corpus: 283s → seconds, identical output). A large vocabulary (real
    web-scale corpora) means random pairs are dissimilar and band
    collisions are rare, so the fallback — one array_intersect on
    per-doc hashed-shingle LONG arrays per candidate pair — touches few
    pairs, and longs compare far cheaper than strings.

    Small-input policy (mirrors the reference's AM_US join threshold,
    ``plan_comparison_join.cpp:158-170``): when the bitmap path is
    active and the corpus has ≤ ``_ALLPAIRS_MAX_DOCS`` docs, signatures
    and banding are skipped entirely and ALL pairs are bitmap-verified
    (broadcast nested-loop of bit-ops) — cheaper than candidate
    generation on dense corpora and exactly equal to the all-pairs
    oracle. LSH remains the plan for everything larger.
    """
    r = num_hashes // bands
    par = docs.sparkSession.sparkContext.defaultParallelism
    # n_docs drives POLICY only (all-pairs vs banded LSH; verify-hint
    # broadcast gate). The raw doc-row count upper-bounds the shingled-doc
    # count, so the thresholds see the same corpus scale WITHOUT a
    # count_distinct pass over every (id, shingle) row (was: an Expand×2
    # aggregation job over the whole exploded set, ~0.6s of the sf0.1
    # query). Callers that scan a catalog table pass the exact count from
    # the parquet footers (catalog.table_row_count — no Spark job at all);
    # the fallback for arbitrary DataFrames is a metadata-cheap count job
    # (column-pruned, parquet row-group stats when docs is a bare scan).
    if n_docs is None:
        n_docs = docs.count()
    # Only the per-document shingle ARRAYS are cached (one row per doc);
    # every downstream branch (vocab probe, bitmap build, signatures,
    # hashed-array verify) explodes from that one cache. The explode is a
    # cheap codegen'd generator; caching the exploded (id, shingle) rows
    # instead (712,778 rows against 5,000 at sf0.1) measured slower, and
    # so did no cache at all.
    shingled = persist_tracked(
        docs.repartition(par).select(
            F.col(id_col).alias("id"), char_shingles_expr(text_col, k).alias("sh")
        )
    )
    exploded = shingled.select("id", F.explode("sh").alias("s"))
    # pair verification re-attaches per-doc payloads to the candidate
    # list; the lookup side is |docs| rows, broadcastable only while the
    # corpus is small. Above budget use plain shuffle joins — at 100 TB
    # an unconditional broadcast hint would OOM the driver building an
    # un-broadcastable build side (AQE can't override an explicit hint).
    _verify_hint = (
        F.broadcast if n_docs <= _VERIFY_BROADCAST_MAX_DOCS
        else (lambda d: d)
    )
    hashed = exploded.select("id", F.xxhash64("s").alias("h"))

    # ONE probe job answers the bitmap-budget question and (when it fits)
    # returns the vocabulary itself with its xxhash64 values: distinct
    # shingles capped at budget+1 — a row count of budget+1 proves the
    # vocabulary exceeds the bitmap budget without enumerating it.
    vocab_rows = (
        exploded.select("s").distinct()
        .limit(_BITMAP_VOCAB_MAX + 1)
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    n_vocab = len(vocab_rows)
    if n_vocab == 0:  # no doc has a shingle → no pair can exist
        return docs.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("jacc"),
        ).limit(0)
    bitmap_ok = n_vocab <= _BITMAP_VOCAB_MAX
    if bitmap_ok:
        sorted_vocab = sorted(r["s"] for r in vocab_rows)
        nwords = (n_vocab + 63) // 64
        # shingle -> bit index. element_at on a plan-literal map is a
        # LINEAR scan of the keys per probed row; with ≤4096 STRING keys
        # that scan dominated the r8 bitmap build (~V/2 UTF8 compares ×
        # every exploded row). Key the literal map by xxhash64(s) instead:
        # the probe stays a linear scan but over 8-byte longs (one codegen
        # comparison each), measured far cheaper, and the map constant
        # ships inside the plan with no broadcast-exchange job. Hash
        # collisions inside a ≤4096-string vocabulary are ~2⁻⁴⁰-probable;
        # the collected hashes prove injectivity, with the string-keyed
        # map as the (never-expected) fallback.
        hash_by_s = {r["s"]: r["h"] for r in vocab_rows}
        if len(set(hash_by_s.values())) == n_vocab:
            # ONE parsed expression instead of 2·V F.lit() py4j calls:
            # each lit round-trip costs ~0.5 ms, so at V=4096 the Python
            # loop alone burned ~4 s of driver time (guide §4 — shrink
            # the JVM↔Python boundary). Identical MAP<BIGINT,INT> literal.
            entries = ",".join(
                f"{hash_by_s[s]}L,{i}" for i, s in enumerate(sorted_vocab)
            )
            idxed = exploded.select(
                "id",
                F.element_at(F.expr(f"map({entries})"), F.xxhash64("s")).alias("idx"),
            )
        else:  # pragma: no cover - astronomically unlikely
            kv = []
            for i, s in enumerate(sorted_vocab):
                kv += [F.lit(s), F.lit(i)]
            idxed = exploded.select(
                "id", F.element_at(F.create_map(*kv), F.col("s")).alias("idx")
            )
        setsize_w = sum(F.bit_count(F.col(f"w{w}")) for w in range(nwords))
        bm = persist_tracked(
            idxed.groupBy("id")
            .agg(
                *[
                    F.bit_or(
                        F.expr(
                            f"CASE WHEN idx DIV 64 = {w}"
                            " THEN shiftleft(1L, CAST(idx % 64 AS INT))"
                            " ELSE 0L END"
                        )
                    ).alias(f"w{w}")
                    for w in range(nwords)
                ]
            )
            .withColumn("n", setsize_w)
            # BOTH join sides read the per-doc bitmaps; without a cache
            # the whole index-lookup + groupBy subtree runs twice (the r8
            # plan had two full HashAggregate trees — no exchange reuse
            # across a BroadcastExchange). |docs| rows × (nwords+2) longs.
        )
        av = bm.select(
            F.col("id").alias("id_a"),
            F.col("n").alias("n_a"),
            *[F.col(f"w{w}").alias(f"a{w}") for w in range(nwords)],
        )
        bv = bm.select(
            F.col("id").alias("id_b"),
            F.col("n").alias("n_b"),
            *[F.col(f"w{w}").alias(f"b{w}") for w in range(nwords)],
        )
        inter = sum(F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}"))) for w in range(nwords))
        union = sum(F.bit_count(F.col(f"a{w}").bitwiseOR(F.col(f"b{w}"))) for w in range(nwords))
        # J >= t requires min(|A|,|B|)/max(|A|,|B|) >= t (|A∩B| ≤ min,
        # |A∪B| ≥ max): a 2-comparison size-ratio prefilter IN the join
        # condition prunes pairs (41% on the driver corpus) before the
        # nwords-long bit-op projection ever runs.
        ratio_ok = (F.col("n_a") >= F.lit(threshold) * F.col("n_b")) & (
            F.col("n_b") >= F.lit(threshold) * F.col("n_a")
        )
        # small-input policy: a narrow vocabulary means candidates would
        # be ~n² anyway (most pairs are mid-similarity), so below the doc
        # threshold skip signatures+banding and bitmap-verify ALL pairs —
        # a broadcast nested-loop join of pure bit-ops, with exact output
        # (no LSH miss probability at all)
        if n_docs <= _ALLPAIRS_MAX_DOCS:
            # conjunct ORDER matters: the BNLJ evaluates the condition
            # left-to-right per candidate pair, so the 1-comparison
            # id ordering and 2-comparison size-ratio prefilters must
            # run BEFORE the 4·nwords-bit-op Jaccard. The threshold
            # check lives IN the join condition — a post-join .filter()
            # gets pushed in FRONT of the cheap conjuncts (the r8 plan
            # paid the full Jaccard on all n² ordered pairs).
            cond = (
                (F.col("id_a") < F.col("id_b"))
                & ratio_ok
                & ((inter / union) >= threshold)
            )
            return (
                av.join(F.broadcast(bv), cond)
                .select("id_a", "id_b", F.round(inter / union, 6).alias("jacc"))
            )

    sig = hashed.groupBy("id").agg(
        *[F.min(F.xxhash64("h", F.lit(i))).alias(f"m{i}") for i in range(num_hashes)]
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"m{b * r + j}") for j in range(r)]).alias("key"),
        )
        for b in range(bands)
    ]
    banded = sig.select("id", F.explode(F.array(*band_structs)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # candidate pairs carry ONLY ids through the band self-join (keeping
    # verification payloads here would multiply the shuffle ×bands);
    # verification data is re-attached to the deduped pair list —
    # broadcast while |docs| fits the budget, shuffle joins above it
    # (_VERIFY_BROADCAST_MAX_DOCS gate computed on n_docs above).
    a = banded.select("band", "key", F.col("id").alias("id_a"))
    b = banded.select("band", "key", F.col("id").alias("id_b"))
    cands = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if bitmap_ok:
        verified = (
            cands.join(_verify_hint(av), "id_a")
            .join(_verify_hint(bv), "id_b")
            .select("id_a", "id_b", (inter / union).alias("__j"))
        )
    else:
        hv = hashed.groupBy("id").agg(
            F.collect_list("h").alias("hs"), F.count("h").alias("n")
        )
        av = hv.select(F.col("id").alias("id_a"), F.col("hs").alias("ha"), F.col("n").alias("na"))
        bv = hv.select(F.col("id").alias("id_b"), F.col("hs").alias("hb"), F.col("n").alias("nb"))
        inter = F.size(F.array_intersect("ha", "hb"))
        verified = (
            cands.join(_verify_hint(av), "id_a")
            .join(_verify_hint(bv), "id_b")
            .select(
                "id_a", "id_b",
                (inter / (F.col("na") + F.col("nb") - inter)).alias("__j"),
            )
        )
    return (
        verified.filter(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round(F.col("__j"), 6).alias("jacc"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_expr(tokens_sql: str, bits: int = 64) -> Column:
    """SimHash fingerprint as one SQL expression (whole-stage codegen):
    counts[i] = Σ over tokens of ±1 by bit i of xxhash64(token); the
    fingerprint packs sign(counts[i]) bits into a BIGINT. ``tokens_sql``
    is a SQL fragment producing an array<string>. (Python F.shiftleft
    requires literal shift amounts; the SQL form accepts expressions.)"""
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate({tokens_sql}, array_repeat(0, {bits}),
              (acc, t) -> zip_with(acc,
                transform(sequence(0, {bits - 1}),
                  i -> IF((shiftright(xxhash64(t), i) & 1) = 1, 1, -1)),
                (a, b) -> a + b)),
            sequence(0, {bits - 1}),
            (c, i) -> IF(c > 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
          CAST(0 AS BIGINT), (acc, v) -> acc | v)
        """
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    block_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, blocked join on
    16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ some 16-bit block equal),
    verify with bit_count(xor) ≤ max_hamming. One shuffle on block keys."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    fp = docs.repartition(par).select(
        F.col(id_col).alias("id"),
        simhash_expr(f"array_distinct(split({text_col}, ' '))").alias("fp"),
    )
    nblocks = 64 // block_bits
    mask = (1 << block_bits) - 1
    blocked = fp.select(
        "id", "fp",
        F.explode(
            F.expr(
                f"transform(sequence(0, {nblocks - 1}), b -> named_struct("
                f"'blk', b, 'key', shiftrightunsigned(fp, b * {block_bits}) & {mask}))"
            )
        ).alias("bk"),
    ).select("id", "fp", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    a = blocked.select("blk", "key", F.col("id").alias("id_a"), F.col("fp").alias("fp_a"))
    b = blocked.select("blk", "key", F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    return (
        a.join(b, ["blk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def dot_dec_expr(a: str, b: str, scale: int = 15) -> Column:
    """Decimal-exact dot product of two float-array columns (order-
    independent → engine-reproducible).

    DECIMAL(18,15) keeps every intermediate in 64-bit long arithmetic
    (precision ≤18) instead of int128 — ~5× faster, exact for unit-scale
    embeddings up to ~900 dims (|sum| < 1000). Per-element products are
    identical doubles in any engine; their decimal roundings and the
    exact decimal sum are therefore identical too.

    NOTE: higher-order-function aggregation is interpreted (no codegen)
    — ~ms per 256-dim eval. Fine per-vector; per-PAIR hot paths use the
    scaled-BIGINT dot (similarity.dot_scaled_long_expr) or its numpy
    kernel (similarity.brute_force_topk)."""
    p = 18
    return F.expr(
        f"CAST(aggregate(zip_with({a}, {b}, (x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL({p},{scale}))),"
        f" CAST(0 AS DECIMAL({p},{scale})), (acc, v) -> CAST(acc + v AS DECIMAL({p},{scale}))) AS DOUBLE)"
    )


def norm_sq_dec_expr(v: str, scale: int = 15) -> Column:
    """Decimal-exact squared L2 norm of a float-array column (see
    dot_dec_expr for the numeric-reproducibility argument)."""
    p = 18
    return F.expr(
        f"CAST(aggregate(transform({v}, x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL({p},{scale}))),"
        f" CAST(0 AS DECIMAL({p},{scale})), (acc, v) -> CAST(acc + v AS DECIMAL({p},{scale}))) AS DOUBLE)"
    )


def cosine_sim_expr(a: str, b: str, scale: int = 15) -> Column:
    """Cosine similarity of two float-array columns, decimal-exact.
    Per-pair use recomputes both norms every pair — precompute norms
    per vector when pairs ≫ vectors."""
    return dot_dec_expr(a, b, scale) / (
        F.sqrt(norm_sq_dec_expr(a, scale)) * F.sqrt(norm_sq_dec_expr(b, scale))
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All-pairs cosine ≥ threshold (test scale). The scale path is
    similarity.lsh_bucketed_topk (random-hyperplane buckets)."""
    par = emb.sparkSession.sparkContext.defaultParallelism
    # norms decimal-computed once per vector; only the dot is per-pair
    a = emb.repartition(par).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.sqrt(norm_sq_dec_expr(vec_col)).alias("na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.sqrt(norm_sq_dec_expr(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (dot_dec_expr("va", "vb") / (F.col("na") * F.col("nb"))).alias("__c"),
        )
        .filter(F.col("__c") >= threshold)
        .select("id_a", "id_b", F.round(F.col("__c"), 6).alias("cos_sim"))
    )
