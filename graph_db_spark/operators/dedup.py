"""Deduplication operators for LLM training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle→minhash→band→bucket-join),
SimHash, and n-gram Jaccard — each designed so the shuffle volume is
signatures/buckets, never all-pairs text.

Scale design:
- exact: one shuffle on a 128-bit content hash — linear.
- minhash-lsh: per-doc signature (narrow), explode to `bands` rows/doc,
  shuffle on (band, band-signature); candidate pairs only within buckets —
  the all-pairs O(n²) never materializes. Verification joins texts back
  only for candidate pairs.
- simhash: 64-bit signature per doc; near-dup = signatures within Hamming
  distance d, found by the standard block-rotation trick (split into d+1
  blocks; exact-match on one block is necessary for distance ≤ d).
- n-gram jaccard: token-set explode → inverted index on shingle → pair
  counts (posting-list self-join), again never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graph_db_spark.operators.text import normalize_text, tokens, word_ngrams
from graph_db_spark.util import spread

# MinHash-LSH settings the dedup queries share with their DuckDB oracles
# (q03's `_minhash_band_sql`): 32 minhashes in 8 bands over word
# 3-shingles; SimHash: 64-bit signatures, near-dup at Hamming distance <= 3
_MINHASH_HASHES, _MINHASH_BANDS, _SHINGLE_K = 32, 8, 3
_SIMHASH_BITS, _SIMHASH_MAX_HAMMING = 64, 3
# Per-task pair bound of the bucket joins: a bucket with more pairs is
# split into a cell grid (_guarded_bucket_self_join)
_MAX_TASK_PAIRS = 25_000_000
# jaccard_pairs: the largest block it will pair, and the kept similarity
_MAX_BLOCK_PAIRS, _JACCARD_THRESHOLD = 25_000_000, 0.8
# near_dup_clusters keeps candidates at token Jaccard >= this
_NEAR_DUP_THRESHOLD = 0.6
# prefix_filter_jaccard: Jaccard >= num/den over word n-gram shingles
_PPJ_NUM, _PPJ_DEN, _PPJ_SHINGLE_N = 7, 10, 3


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized content hash; keeps the minimum id per
    group (deterministic canonical representative). Returns
    ``(content_hash, canonical_id, n_dups)``."""
    h = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(h.alias("content_hash"), F.col(id_col).alias("id"))
        .groupBy("content_hash")
        .agg(F.min("id").alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingles(text: Column | str) -> Column:
    """Word ``_SHINGLE_K``-shingles (distinct) from normalized text — the
    MinHash input universe. Uses a transform over a token-index sequence:
    JVM-side, no UDF."""
    k = _SHINGLE_K
    toks = tokens(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return F.when(n >= k, F.array_distinct(sh)).otherwise(F.array(F.concat_ws(" ", toks)))


_MINHASH_P = 2147483647  # 2^31 - 1: keeps a*h + b within int64 in any engine


def minhash_params(num_hashes: int, seed: int = 9) -> list[tuple[int, int]]:
    """Deterministic (a, b) affine-hash parameters from a portable LCG —
    reproducible as integer literals in oracle SQL (same trick as the ANN
    plane matrices, similarity.py)."""
    state = seed
    out = []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = state % (_MINHASH_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % _MINHASH_P
        out.append((a, b))
    return out


_MD5_WINDOW = {31: 1, 131: 9}  # legacy variant selector → 1-based hex offset


def _md5_window(hex_col: Column, off: int) -> Column:
    """Parse an 8-hex-digit window of an md5 hex string to [0, 2^31-1)."""
    return F.conv(F.substring(hex_col, off, 8), 16, 10).cast("long") % _MINHASH_P


def portable_hash(col: Column, mult: int = 31) -> Column:
    """Engine-portable string hash: an 8-hex-digit window of
    ``md5(utf8(s))`` parsed as an integer, mod 2^31-1. ``mult`` selects
    the window (31 → hex chars 1-8, 131 → chars 9-16) — kept as the
    historical parameter name so the two independent variants keep their
    call sites. One JVM-codegen'd md5 per string; the round-3 char-fold
    polynomial ran as an interpreted per-character ``aggregate`` and
    taxed the dedup signature path ~4× at bench scale. DuckDB reproduces
    this hash exactly by parsing the same md5 hex window (``_poly_sql``,
    plans/families/q00_base.py) — verified identical including multibyte
    code points, which is what keeps MinHash-LSH / SimHash / CMS / KMV /
    HLL on EXACT hash-matched oracles; xxhash64 has no DuckDB
    counterpart."""
    return _md5_window(F.md5(col), _MD5_WINDOW[mult])


def minhash_signature_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """MinHash signatures as ``(id, sig array<bigint>)``: min over
    shingles of ``(aᵢ·h(s) + bᵢ) mod p``.

    Spark-first shape: explode shingles → one hash column →
    ``_MINHASH_HASHES`` ``min`` aggregates, all inside whole-stage codegen
    with map-side partial aggregation (the shuffle carries one
    signature-wide row per doc per partition). The round-3 version computed the same signature
    as an interpreted higher-order ``aggregate`` with an array
    accumulator — no codegen, ~32 interpreted ops per shingle — and was
    the dominant cost of the dedup path at bench scale.
    """
    num_hashes = _MINHASH_HASHES
    sh = spread(df).select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col))).alias("s")
    )
    # hash projected ONCE into a column; the 32 min-aggs below reference
    # the materialized value, not the md5 subtree
    h = sh.select("id", portable_hash(F.col("s")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % _MINHASH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    wide = h.groupBy("id").agg(*aggs)
    return wide.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def _blocked_cells(
    rows: DataFrame, g: "F.Column", own_axis: str, other_axis: str
) -> DataFrame:
    """2-D block decomposition, one side: each row gets a deterministic
    cell coordinate on its OWN axis (hash(id) mod g) and replicates
    across all g coordinates of the OTHER axis, so a pair (x, y) meets
    in exactly one cell — (i(x), j(y)). Per-cell work is
    (n_left/g)·(n_right/g); replication factor is g."""
    return rows.withColumn(own_axis, F.pmod(F.xxhash64("id"), F.col("_g"))).withColumn(
        other_axis, F.explode(F.sequence(F.lit(0).cast("long"), F.col("_g") - 1))
    )


def _guarded_bucket_self_join(
    blocked: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    max_task_pairs: int,
) -> DataFrame:
    """Self-join ``blocked`` on ``key_cols`` emitting each unordered pair
    (``id_a < id_b``) exactly once, with oversized buckets decomposed so
    no single task ever does a whole bucket's quadratic work.

    The LSH skew-bomb: on a real corpus, boilerplate/empty/templated docs
    collapse into one signature bucket and that bucket's pair count is
    quadratic — one straggler task at 100 TB. Exactness forbids dropping
    pairs, so buckets whose n² exceeds ``max_task_pairs`` are split into
    a g×g cell grid (g = ⌈n/√max_task_pairs⌉): every row takes one hashed
    coordinate per axis and replicates across the other axis, the join
    runs on (keys, i, j), and each unordered pair meets in exactly one
    cell — per-task work is ≤ max_task_pairs by construction, on BOTH
    axes (a one-sided anchor/probe salt still left one task doing
    n·chunk work). Total work is unchanged — it is spread, which is the
    only sound option for an exact operator.

    The bucket-size probe is one narrow count aggregation; the oversized
    list is bucket keys only and broadcasts. ``blocked`` is
    localCheckpointed so signatures compute once across the probe and
    both join branches.
    """
    blocked = blocked.localCheckpoint()
    sizes = blocked.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_n"))
    big = sizes.filter(F.col("_n") * F.col("_n") > max_task_pairs)

    def pairs_of(aa: DataFrame, bb: DataFrame, join_keys: list[str]) -> DataFrame:
        a, b = aa.alias("a"), bb.alias("b")
        cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in join_keys] + [
            F.col("a.id") < F.col("b.id")
        ]
        return a.join(b, on=cond).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{p}").alias(f"{p}_a") for p in payload_cols],
            *[F.col(f"b.{p}").alias(f"{p}_b") for p in payload_cols],
        )

    normal = blocked.join(
        F.broadcast(big.select(*key_cols)), on=key_cols, how="left_anti"
    )
    out = pairs_of(normal, normal, key_cols)
    oversized = blocked.join(
        F.broadcast(
            big.select(
                *key_cols,
                F.ceil(F.col("_n") / F.sqrt(F.lit(float(max_task_pairs))))
                .cast("long")
                .alias("_g"),
            )
        ),
        on=key_cols,
    )
    lb = _blocked_cells(oversized, F.col("_g"), "_ci", "_cj").drop("_g")
    rb = _blocked_cells(oversized, F.col("_g"), "_cj", "_ci").drop("_g")
    return out.unionByName(pairs_of(lb, rb, key_cols + ["_ci", "_cj"]))


def _guarded_bucket_cross_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    max_task_pairs: int,
) -> DataFrame:
    """Equi-join ``left`` × ``right`` on ``key_cols`` emitting
    ``(id_a, id_b)`` (left id, right id), with the 2-D skew-join
    decomposition for oversized buckets ON EITHER SIDE: buckets whose
    n_left·n_right exceeds ``max_task_pairs`` split into a g×g cell grid
    (g = ⌈√(n_l·n_r / max_task_pairs)⌉) — each side's rows take one
    hashed cell coordinate and replicate across the other axis, so a
    50-row batch hitting a 10M-row index bucket is produced by g² tasks
    of ≤ max_task_pairs pairs each, not one straggler (a left-only salt
    would never split that shape). Exact — nothing is dropped; the
    probes are two narrow count aggregations."""
    left = left.localCheckpoint()
    right = right.localCheckpoint()
    lsz = left.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_nl"))
    rsz = right.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_nr"))
    big = (
        lsz.join(rsz, on=key_cols)  # a bucket pairs only if present on both sides
        .filter(F.col("_nl") * F.col("_nr") > max_task_pairs)
        .select(
            *key_cols,
            F.ceil(F.sqrt(F.col("_nl") * F.col("_nr") / F.lit(float(max_task_pairs))))
            .cast("long")
            .alias("_g"),
        )
    )

    def pairs_of(aa: DataFrame, bb: DataFrame, join_keys: list[str]) -> DataFrame:
        a, b = aa.alias("a"), bb.alias("b")
        cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in join_keys]
        return a.join(b, on=cond).select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )

    normal_l = left.join(F.broadcast(big.select(*key_cols)), on=key_cols, how="left_anti")
    out = pairs_of(normal_l, right, key_cols)
    lb = _blocked_cells(left.join(F.broadcast(big), on=key_cols), F.col("_g"), "_ci", "_cj").drop("_g")
    rb = _blocked_cells(right.join(F.broadcast(big), on=key_cols), F.col("_g"), "_cj", "_ci").drop("_g")
    return out.unionByName(pairs_of(lb, rb, key_cols + ["_ci", "_cj"]))


def minhash_banded(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Banded MinHash index rows ``(id, band, band_sig)`` — the persisted
    LSH index of a corpus. Building this once and storing it (partitioned
    by band) is what makes INCREMENTAL dedup linear in the batch size:
    each new crawl batch joins its own banded rows against the index
    instead of re-signing the corpus."""
    bands = _MINHASH_BANDS
    rows_per_band = _MINHASH_HASHES // bands
    sig = minhash_signature_table(df, text_col, id_col)
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    return sig.select("id", band_idx, "sig").select(
        "id",
        "band",
        F.concat_ws(",", F.slice("sig", F.col("band") * rows_per_band + 1, rows_per_band).cast("array<string>")).alias(
            "band_sig"
        ),
    )


def minhash_lsh_candidates_against(
    new_df: DataFrame, index_banded: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Incremental LSH dedup: candidate pairs between a NEW batch and an
    existing banded index (:func:`minhash_banded`). Returns
    ``(new_id, corpus_id)`` distinct. The corpus never self-joins and is
    never re-signed — shuffle volume is O(batch·bands) plus the index
    rows the join touches; oversized new-side buckets split via the
    skew-join decomposition (:func:`_guarded_bucket_cross_join`). The
    at-rest full-corpus sweep (:func:`minhash_lsh_candidates`) and this
    ingest-time path share signature code, so their candidates agree."""
    new_banded = minhash_banded(new_df, text_col, id_col)
    return (
        _guarded_bucket_cross_join(
            new_banded, index_banded, ["band", "band_sig"], _MAX_TASK_PAIRS
        )
        .select(F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"))
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame, text_col: str, id_col: str, max_task_pairs: int = _MAX_TASK_PAIRS
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band of the MinHash
    signature. Returns ``(id_a, id_b)`` with id_a < id_b, distinct.

    rows/doc after explode = ``_MINHASH_BANDS``, so shuffle volume is
    O(n·bands), and pairs emerge per-bucket — never a cross join. Buckets
    larger than ``max_task_pairs`` are salt-and-split so degenerate
    signature collisions (the templated-doc skew-bomb) can't produce a
    straggler task — see :func:`_guarded_bucket_self_join`.
    """
    banded = minhash_banded(df, text_col, id_col)
    return (
        _guarded_bucket_self_join(banded, ["band", "band_sig"], [], max_task_pairs)
        .select("id_a", "id_b")
        .distinct()
    )


def guard_block_pairs(
    blocked: DataFrame, block_col: str, max_block_pairs: int
) -> None:
    """Refuse to run a blocked all-pairs self-join whose largest block
    exceeds ``max_block_pairs`` candidate pairs. The exact Jaccard join is
    O(pairs-within-block): fine for verifying LSH candidates or small
    blocks, quadratic blow-up on a 100 TB corpus with few blocks. The
    probe is one narrow count-by-block aggregation (O(#blocks) rows on the
    driver — bounded by construction)."""
    worst = (
        blocked.groupBy(block_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max((F.col("n") * (F.col("n") - 1) / 2).cast("double")).alias("p"))
        .collect()[0]["p"]
    )
    if worst is not None and worst > max_block_pairs:
        raise ValueError(
            f"largest block implies {int(worst):,} candidate pairs "
            f"(> max_block_pairs={max_block_pairs:,}); the exact Jaccard "
            "self-join is quadratic per block — propose candidates with "
            "minhash_lsh_candidates / near_dup_clusters and keep this join "
            "for verification only, or raise the caller's pair bound"
        )


def jaccard_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """n-gram (word-set) Jaccard similarity for document pairs at or above
    ``_JACCARD_THRESHOLD``, blocked by the ``lang`` column so the pair
    space stays bounded. Returns ``(id_a, id_b, jaccard)``.

    Implementation is a blocked self-join on distinct token sets —
    ``array_intersect``/``array_union`` sizes, all JVM-side. At scale,
    prefer :func:`minhash_lsh_candidates` to propose pairs and use this
    only to verify them — enforced by :func:`guard_block_pairs`, which
    raises when any block's pair count exceeds ``_MAX_BLOCK_PAIRS``.

    The filter reads the raw value: a caller that rounds ``jaccard``
    must round after this filter, or raw values just under the threshold
    would round up into the result.
    """
    threshold = _JACCARD_THRESHOLD
    toks = df.select(
        F.col(id_col).alias("id"),
        F.col("lang").alias("blk"),
        F.array_distinct(tokens(F.col(text_col))).alias("toks"),
    ).withColumn("sz", F.size("toks"))
    guard_block_pairs(toks, "blk", _MAX_BLOCK_PAIRS)
    # blocks are few, so a join keyed on blk alone runs ~serially: bucket
    # side a by id-hash and replicate side b across the buckets so the join
    # key (blk, bkt) has enough distinct values to parallelize.
    nb = 32
    a = (
        toks.withColumn("bkt", F.pmod(F.xxhash64("id"), F.lit(nb)))
        .repartition(nb, "blk", "bkt")  # a small source is one task;
        .alias("a")                     # spread the probe side explicitly
    )
    b = toks.withColumn(
        "bkt", F.explode(F.sequence(F.lit(0), F.lit(nb - 1)).cast("array<bigint>"))
    ).alias("b")
    # exact length prefilter: jaccard <= min(|A|,|B|)/max(|A|,|B|), so a
    # threshold t admits only pairs with |A| >= t*|B| and |B| >= t*|A| —
    # pruned inside the join, before any array_intersect evaluates.
    cond = [
        F.col("a.blk") == F.col("b.blk"),
        F.col("a.bkt") == F.col("b.bkt"),
        F.col("a.id") < F.col("b.id"),
        F.col("a.sz").cast("double") >= threshold * F.col("b.sz"),
        F.col("b.sz").cast("double") >= threshold * F.col("a.sz"),
    ]
    pairs = a.join(b, on=cond).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks"))).cast("double").alias("inter"),
        (F.col("a.sz") + F.col("b.sz")).alias("szsum"),
    )
    # every token array has >= 1 element, so the union is never 0; a NULL
    # text's NULL size propagates and its pairs fail the filter
    jac = F.col("inter") / (F.col("szsum") - F.col("inter"))
    return pairs.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _token_words(t: Column) -> tuple[Column, Column]:
    """Two 32-bit pseudo-random words per token — the 64 SimHash bit
    decisions: hex windows 1-8 / 9-16 of one md5 (DuckDB parses the
    identical windows, keeping the oracle exact)."""
    hexc = F.md5(t)
    w1 = F.conv(F.substring(hexc, 1, 8), 16, 10).cast("long")
    w2 = F.conv(F.substring(hexc, 9, 8), 16, 10).cast("long")
    return w1, w2


def _pack_sign_bits(count_at, bits: int) -> Column:
    """Pack ``bits`` sign decisions (count > 0 → bit set) into a bigint.
    The top bit's mask is min-long via shiftleft wraparound — adding it
    LAST keeps every partial sum inside int64 (same order the DuckDB
    replica uses)."""
    packed = F.lit(0).cast("bigint")
    for i in range(bits):
        mask = F.shiftleft(F.lit(1).cast("bigint"), i)
        packed = packed + F.when(count_at(i) > 0, mask).otherwise(F.lit(0).cast("bigint"))
    return packed


def simhash_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """SimHash signatures as ``(id, sig bigint)``: bit i of the
    ``_SIMHASH_BITS``-bit signature
    is the sign of Σ_tokens (±1), +1 iff bit i of the token's 64
    pseudo-random bits is set. Near-dup docs differ in few bits.

    Spark-first shape: explode distinct tokens → project the two 32-bit
    hash words once → 64 ``sum`` aggregates of ±1 (bit i reads word
    i//32 with a literal shift — plain codegen'd expressions), then pack
    signs. Map-side partial aggregation keeps the shuffle at one
    64-counter row per doc per partition. Replaces the round-3
    interpreted higher-order ``aggregate`` (64-wide array accumulator,
    no codegen) that dominated the dedup path's cost.
    """
    # NULL text coalesces to "" so its token list is [""] — explode would
    # otherwise emit NO rows and silently drop the document from the
    # signature table (identical empty/NULL docs are exactly the ones a
    # dedup pass must pair up, and the inline Column form keeps them)
    tok = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(tokens(F.coalesce(F.col(text_col), F.lit(""))))
        ).alias("t"),
    )
    w1, w2 = _token_words(F.col("t"))
    words = tok.select("id", w1.alias("w1"), w2.alias("w2"))
    # The 64 per-bit aggregates and the 64-term sign pack are generated
    # as SQL TEXT and parsed once per expression: building them Column-
    # op-by-Column-op cost ~11.5k py4j round-trips / several seconds of
    # DRIVER time per query build (cProfile, r13) — the expression trees
    # the JVM parser produces are identical, so the plan and the values
    # are unchanged (equivalence pinned by test_simhash_column_equals_table
    # and the exact DuckDB oracles).
    bits = _SIMHASH_BITS
    aggs = []
    for i in range(bits):
        w, sh = ("w1", i) if i < 32 else ("w2", i - 32)
        aggs.append(
            F.expr(
                f"sum((shiftright({w}, {sh}) & CAST(1 AS BIGINT)) * 2 - 1)"
            ).alias(f"c{i}")
        )
    counts = words.groupBy("id").agg(*aggs)
    pack = " + ".join(
        f"IF(c{i} > 0, shiftleft(CAST(1 AS BIGINT), {i}), CAST(0 AS BIGINT))"
        for i in range(bits)
    )
    return counts.select("id", F.expr(f"CAST(0 AS BIGINT) + {pack}").alias("sig"))


def simhash(text: Column | str) -> Column:
    """Column-expression SimHash — identical values to
    :func:`simhash_table` (equivalence is unit-tested), for contexts that
    need the signature inline without a groupBy. Interpreted HOF per
    token — prefer ``simhash_table`` on the hot path."""
    bits = _SIMHASH_BITS
    c = F.col(text) if isinstance(text, str) else text
    toks = F.array_distinct(tokens(F.coalesce(c, F.lit(""))))
    words = F.transform(
        toks,
        lambda t: F.struct(
            *(w.alias(n) for w, n in zip(_token_words(t), ("w1", "w2")))
        ),
    )
    positions = F.sequence(F.lit(0), F.lit(bits - 1))
    # bit i from word i//32: division by 2^sh is exact in doubles (both
    # operands < 2^53, power-of-two divisor), so floor() is the integer
    # shift — the Python shiftright wrapper only takes int literals.
    counts = F.aggregate(
        words,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            positions,
            lambda c, i: c
            + F.when(
                F.floor(
                    F.when(i < 32, h["w1"] / F.pow(F.lit(2.0), i.cast("double"))).otherwise(
                        h["w2"] / F.pow(F.lit(2.0), (i - 32).cast("double"))
                    )
                )
                .cast("long")
                .bitwiseAND(F.lit(1).cast("long"))
                == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
    )
    return _pack_sign_bits(lambda i: F.element_at(counts, i + 1), bits)


def simhash_near_dups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ d =
    ``_SIMHASH_MAX_HAMMING`` using the block-rotation trick: split the
    signature into d+1 blocks; any pair within distance d must agree
    exactly on ≥1 block → bucket-join on (block_idx, block_value), verify
    with bit_count.
    Returns ``(id_a, id_b, hamming)``. Oversized (blk, blk_val) buckets
    are salt-and-split — see :func:`_guarded_bucket_self_join`."""
    max_hamming = _SIMHASH_MAX_HAMMING
    nblocks = max_hamming + 1
    block_bits = _SIMHASH_BITS // nblocks
    sig = simhash_table(df, text_col, id_col)
    blk_idx = F.explode(F.sequence(F.lit(0), F.lit(nblocks - 1))).alias("blk")
    mask = F.shiftleft(F.lit(1).cast("bigint"), block_bits) - 1
    blocked = sig.select("id", "sig", blk_idx).select(
        "id",
        "sig",
        "blk",
        # shiftright with a Column bit count needs the SQL form (the Python
        # wrapper only accepts int literals)
        F.expr(f"shiftright(sig, blk * {block_bits})").bitwiseAND(mask).alias("blk_val"),
    )
    pairs = _guarded_bucket_self_join(blocked, ["blk", "blk_val"], ["sig"], _MAX_TASK_PAIRS)
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def near_dup_clusters(
    df: DataFrame, text_col: str, id_col: str, max_task_pairs: int = _MAX_TASK_PAIRS
) -> DataFrame:
    """End-to-end near-duplicate clustering — the training-data dedup
    pipeline composed from the engine's own operators:

    1. MinHash-LSH proposes candidate pairs (O(n·bands) shuffle, no
       cross join);
    2. exact n-gram Jaccard verifies each candidate against
       ``_NEAR_DUP_THRESHOLD``
       (computed ONLY for candidates — the verifier never sees raw n²);
    3. connected components over the verified pairs transitively closes
       duplicate groups (A~B, B~C ⇒ one cluster even if A,C never shared
       a bucket);
    4. the minimum id in each cluster is the kept canonical.

    Returns ``(id, canonical_id, is_canonical)`` covering only docs that
    belong to some near-dup cluster; everything else is implicitly unique.
    ``keep = df.join(out.filter(~is_canonical), on=id, how='left_anti')``
    is the filtered corpus.
    """
    cands = minhash_lsh_candidates(df, text_col, id_col, max_task_pairs)
    toks = df.select(
        F.col(id_col).alias("id"), F.array_distinct(tokens(F.col(text_col))).alias("toks")
    )
    a = toks.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = (F.size("toks_a") + F.size("toks_b")).cast("double") - inter
    verified = (
        cands.join(a, on="id_a")
        .join(b, on="id_b")
        .select(
            "id_a", "id_b",
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _NEAR_DUP_THRESHOLD)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    from graph_db_spark.graph.algorithms import connected_components

    # The verified-pair graph is usually orders of magnitude smaller than
    # the corpus (near-dup clusters only), but HOW MUCH smaller is
    # threshold- and corpus-dependent — so probe it instead of hardcoding.
    # The checkpoint is needed anyway (every CC round re-reads the edge
    # frame; without it each round would replay LSH + the Jaccard verify),
    # which makes the count() probe a near-free scan of cached blocks.
    # ~2M pairs (~32MB of (src,dst) longs) per CC-round task: a handful of
    # partitions at fixture scale, thousands on a 100 TB corpus.
    verified = verified.localCheckpoint(eager=True)
    n_pairs = verified.count()
    comp = connected_components(
        verified, n_partitions=max(4, -(-n_pairs // 2_000_000))
    )
    return comp.select(
        "id",
        F.col("component").alias("canonical_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def prefix_filter_jaccard(docs: DataFrame) -> DataFrame:
    """Exact set-similarity self-join with PREFIX FILTERING (PPJoin /
    AllPairs, Xiao et al. WWW'08): all ``docs`` pairs whose element-set
    Jaccard >= num/den (``_PPJ_NUM``/``_PPJ_DEN``), found without the
    all-pairs product AND without indexing full element sets.

    Elements are the distinct word ``_PPJ_SHINGLE_N``-grams of ``text``
    — the choice is a SCALE decision, not cosmetics: prefix
    filtering prunes by indexing each doc's globally RAREST elements,
    so element cardinality must be large enough that rare means rare.
    On this fixture's small word vocabulary the unigram form degrades
    to ~132M candidate pairs at sf0.1 while 3-gram shingles yield ~500k
    (measured) — the same reason MinHash shingles n-grams, not words.

    Three classic filters, all completeness-preserving theorems:
    prefix (index only the first m - ceil(t*m) + 1 df-ordered elements;
    pigeonhole on the >= t/(1+t)*(ma+mb) overlap), length
    (t*max <= min), and positional (shared tokens before the current
    positions + this one + the shorter remainder bound the overlap).
    The exact Jaccard verify then keeps true pairs only. The threshold
    is the rational num/den and every comparison is INTEGER arithmetic
    — no float boundary anywhere. Returns (doc_a, doc_b, inter, uni)
    over ``doc_id`` with doc_a < doc_b."""
    num, den = _PPJ_NUM, _PPJ_DEN
    elems = word_ngrams(F.col("text"), _PPJ_SHINGLE_N)
    toks = (
        docs.select(F.col("doc_id").alias("id"), elems.alias("toks"))
        .filter(F.size("toks") > 0)
        .localCheckpoint(eager=True)
    )
    ex = toks.select("id", F.size("toks").alias("m"), F.explode("toks").alias("tok"))
    dfreq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "tok")
    # prefix length m - ceil(t*m) + 1; integer ceil via (a + den - 1)/den
    plen = (
        F.col("m")
        - F.floor((F.lit(num) * F.col("m") + F.lit(den - 1)) / F.lit(den))
        + 1
    )
    prefix = (
        ex.join(dfreq, on="tok")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= plen)
        .select("id", "tok", "pos", "m")
    )
    a = prefix.select(
        F.col("tok"), F.col("id").alias("doc_a"), F.col("pos").alias("pa"),
        F.col("m").alias("ma"),
    )
    b = prefix.select(
        F.col("tok"), F.col("id").alias("doc_b"), F.col("pos").alias("pb"),
        F.col("m").alias("mb"),
    )
    # overlap needed: alpha = ceil(t/(1+t) * (ma+mb))
    alpha = F.floor(
        (F.lit(num) * (F.col("ma") + F.col("mb")) + F.lit(num + den - 1))
        / F.lit(num + den)
    )
    # upper bound on overlap through THIS shared token: tokens strictly
    # before both positions + this token + the shorter remainder
    ubound = (
        F.least(F.col("pa"), F.col("pb")) - 1
        + 1
        + F.least(F.col("ma") - F.col("pa"), F.col("mb") - F.col("pb"))
    )
    cand = (
        a.join(b, on="tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: t * max <= min
        .filter(
            F.least(F.col("ma"), F.col("mb")) * den
            >= F.greatest(F.col("ma"), F.col("mb")) * num
        )
        .filter(ubound >= alpha)
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = toks.select(F.col("id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = toks.select(F.col("id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    uni = F.size("ta") + F.size("tb") - inter
    return (
        cand.join(ta, on="doc_a")
        .join(tb, on="doc_b")
        .select("doc_a", "doc_b", inter.alias("inter"), uni.alias("uni"))
        .filter(F.col("inter") * den >= F.col("uni") * num)
    )
