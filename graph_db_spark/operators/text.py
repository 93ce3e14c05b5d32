"""Text-analysis operators for LLM training-data pipelines.

All native Column expressions over the ``documents`` table — language ID
(stopword-overlap heuristic), quality scoring (length/punct/stopword
ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting. Everything stays JVM-side (whole-stage codegen); no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal deterministic stopword sets for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "por"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "ein", "eine", "mit"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (lowercased)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: count of word/number/punctuation chunks —
    a `\\w+|[^\\w\\s]` segmentation, the standard pre-tokenizer shape."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(r"\w+|[^\w\s]"), 0))


def word_ngrams(text: Column | str, n: int) -> Column:
    """Distinct word n-grams (space-joined, lowercased) — the collision
    unit for benchmark decontamination (the 13-gram overlap test of the
    GPT-3/PaLM data papers, with n sized to the corpus). Pure Column
    expression: ``transform`` over a ``sequence`` of start offsets +
    ``slice``; stays in whole-stage codegen."""
    t = tokens(text)
    # sliding form: n full-array slices + n-1 zip_with concats — O(n·len)
    # total. The earlier per-offset form (transform over a sequence of
    # starts, slice(t, i, n) per element) re-sliced per gram and measured
    # 4-7x slower at bench scale; output (order and content) is identical.
    sz = F.size(t) - F.lit(n - 1)
    parts = [F.slice(t, i + 1, sz) for i in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda x, y: F.concat_ws(" ", x, y))
    # guard: slice length sz < 1 is invalid; docs shorter than n tokens
    # have no grams
    return F.when(F.size(t) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def punct_ratio(text: Column | str) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    c = F.col(text) if isinstance(text, str) else text
    total = F.length(c)
    alnum = F.length(F.regexp_replace(c, r"[^a-zA-Z0-9 ]", ""))
    return F.when(total > 0, (total - alnum) / total).otherwise(F.lit(0.0))


def stopword_hits(text: Column | str, lang: str) -> Column:
    """Number of DISTINCT stopwords of ``lang`` present in the text."""
    return F.size(F.array_intersect(tokens(text), F.lit(STOPWORDS[lang])))


def quality_score(text: Column | str) -> Column:
    """Deterministic quality score in [0,1]: rewards reasonable length,
    low punctuation density, and stopword presence — the standard cheap
    pre-filter shape for pretraining corpora."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    sw = (stopword_hits(c, "en") + stopword_hits(c, "es") + stopword_hits(c, "de")).cast("double")
    sw_score = F.least(sw / F.lit(5.0), F.lit(1.0))
    return (len_score + punct_score + sw_score) / F.lit(3.0)


def lang_id(text: Column | str) -> Column:
    """Language-ID heuristic: argmax of distinct-stopword overlap across
    the known sets; 'und' (undetermined) when no stopwords hit."""
    c = F.col(text) if isinstance(text, str) else text
    scores = {lang: stopword_hits(c, lang) for lang in STOPWORDS}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # deterministic priority order on ties: de < es < en (later wins)
    for lang in ["de", "es", "en"]:
        out = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
    return out


def normalize_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (md5 is identical
    in Spark and DuckDB, so oracles can reproduce it bit-for-bit)."""
    return F.md5(normalize_text(text))


def positional_ngrams(text: Column | str, n: int) -> Column:
    """ALL word n-grams in order, repeats included — unlike
    :func:`word_ngrams` (distinct), this keeps every occurrence so span
    frequencies can be counted (exact-substring dedup, Lee et al. 2022).
    Pure Column expression: transform over start offsets + slice."""
    t = tokens(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    # sequence(1, k) with k < 1 counts DOWN — docs shorter than n tokens
    # have no spans
    return F.when(F.size(t) >= n, grams).otherwise(F.array().cast("array<string>"))


def chunk_tokens(text: Column | str, size: int, stride: int) -> Column:
    """Overlapping token-window chunks — the RAG / context-window packing
    primitive: ``array<struct<chunk_idx, start_tok, n_tokens, chunk>>``
    with windows of ``size`` tokens every ``stride`` (overlap =
    size − stride); the final window crops at the document tail so every
    token lands in ≥1 chunk. Pure Column expression (sequence + slice),
    stays in codegen — chunking 100 TB is a narrow map over the scan."""
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    if stride > size:
        raise ValueError(
            f"stride ({stride}) > size ({size}) would skip tokens between "
            "windows — every token must land in at least one chunk"
        )
    t = tokens(text)
    starts = F.sequence(F.lit(1), F.greatest(F.size(t), F.lit(1)), F.lit(stride))
    return F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            s.alias("start_tok"),
            F.size(F.slice(t, s, size)).alias("n_tokens"),
            F.concat_ws(" ", F.slice(t, s, size)).alias("chunk"),
        ),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (the distributed half of a tokenizer pipeline)
# ---------------------------------------------------------------------------


def word_freq_table(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus → ``(w, wf)`` word-frequency table — the collapse that makes
    BPE training tractable at 100 TB: every subsequent merge round runs
    on the VOCABULARY (10⁵-10⁷ rows), never the corpus. One shuffle on
    the word; map-side combine carries partial counts."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
    )


def _adjacent_pairs(syms: Column) -> Column:
    """Adjacent symbol pairs of a symbol array, each as 'left right'.
    Guarded: single-symbol words have no pairs (sequence(1, 0) would
    count DOWN, the same trap as ngram spans above)."""
    n = F.size(syms)
    pairs = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(syms, i), F.element_at(syms, i + 1)),
    )
    return F.when(n >= 2, pairs).otherwise(F.array().cast("array<string>"))


def pair_stats(vocab: DataFrame, k: int | None = None) -> DataFrame:
    """Frequency-weighted adjacent-pair counts over a ``(w, wf, syms)``
    vocabulary — ONE BPE round's heavy step: explode pairs, sum word
    frequencies, optionally keep the top ``k``. Vocabulary-sized shuffle
    with partial aggregation; the corpus is never touched."""
    pc = (
        vocab.select("wf", F.explode(_adjacent_pairs(F.col("syms"))).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("wf").cast("bigint").alias("freq"))
    )
    if k is not None:
        pc = pc.orderBy(F.desc("freq"), "pair").limit(k)
    return pc


def _merge_pair(syms: Column, p1: str, p2: str) -> Column:
    """Greedy left-to-right merge of one learned pair in a symbol array —
    the canonical BPE application order (a run of identical candidates
    merges at even offsets). Non-overlap is automatic: the merged symbol
    p1+p2 can never equal p1 (p2 is non-empty), so a fresh merge can't
    immediately re-merge with the next symbol unless it legitimately
    forms the pair. Fold over a tiny vocabulary-row array — interpreted
    HOF, but the input is vocab-sized, not corpus-sized."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda out, x: F.when(
            (F.size(out) > 0)
            & (F.element_at(out, -1) == F.lit(p1))
            & (x == F.lit(p2)),
            F.concat(
                F.slice(out, 1, F.size(out) - 1), F.array(F.lit(p1 + p2))
            ),
        ).otherwise(F.concat(out, F.array(x))),
    )


# bpe_learn's merge-rule count
_BPE_MERGES = 8


def bpe_learn(df: DataFrame, text_col: str) -> list[tuple[int, str, int]]:
    """Distributed BPE tokenizer training: learn ``_BPE_MERGES`` merge rules
    from a corpus. Returns ``[(merge_idx, 'left right', freq), ...]`` in
    learned order (deterministic: frequency desc, pair asc tie-break).

    Scale shape: one corpus-wide shuffle builds the word-frequency
    vocabulary; every merge round then runs :func:`pair_stats` (a
    vocabulary-sized aggregation) + a narrow map applying the winning
    merge — the standard word-frequency formulation of BPE (Sennrich et
    al. 2016), where corpus size only ever affects round one. Each round
    collects exactly ONE row (the argmax pair); the vocabulary is
    localCheckpointed per round so lineage stays flat across rounds."""
    vocab = (
        word_freq_table(df, text_col)
        .select("w", "wf", F.split("w", "").alias("syms"))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, int]] = []
    for r in range(_BPE_MERGES):
        top = pair_stats(vocab, k=1).collect()
        if not top or top[0]["freq"] <= 0:
            break
        pair, freq = top[0]["pair"], int(top[0]["freq"])
        p1, p2 = pair.split(" ", 1)
        merges.append((r + 1, pair, freq))
        vocab = vocab.select(
            "w", "wf", _merge_pair(F.col("syms"), p1, p2).alias("syms")
        ).localCheckpoint()
    return merges


# WordPiece vocabulary: the top _WP_VOCAB pieces of at most _WP_MAX_LEN
# characters; the wordpiece_tokenize oracle replays both
_WP_MAX_LEN, _WP_VOCAB = 4, 200


def wordpiece_vocab_segment(docs: DataFrame) -> DataFrame:
    """WordPiece-style subword pipeline over ``docs.text``: induce a
    subword vocabulary (top ``_WP_VOCAB`` substrings of length <=
    ``_WP_MAX_LEN`` by
    corpus-frequency-weighted occurrence count, ties to the
    lexicographically smaller piece), then segment every distinct word
    by GREEDY LONGEST-MATCH-FIRST (the WordPiece inference rule) —
    unmatched positions emit ``<unk>`` and advance one char. Fully
    deterministic and integer-only, so the oracle replays it exactly
    (vs the likelihood-driven trainers whose float argmax would be
    fragile cross-engine; the BPE trainer above covers the merge-rule
    family).

    Scale: candidate counting is one explode + groupBy over DISTINCT
    words (corpus multiplicity arrives as a pre-aggregated freq weight,
    the same collapse the BPE trainer uses); the vocab is a
    _WP_VOCAB-row driver list (the sanctioned k-sized collect);
    segmentation is mapInPandas over distinct words — zero shuffles,
    vocab broadcast in the closure. Returns one row per (word, piece)
    occurrence in segmentation order multiplicity."""
    import pandas as pd

    max_piece_len = _WP_MAX_LEN
    wf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    pieces = (
        wf.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("s"),
        )
        .select(
            "word",
            "freq",
            "s",
            F.explode(F.sequence(F.lit(1), F.lit(max_piece_len))).alias("L"),
        )
        .filter(F.col("s") + F.col("L") - 1 <= F.length("word"))
        .select(F.col("word").substr(F.col("s"), F.col("L")).alias("piece"), "freq")
    )
    vocab_rows = (
        pieces.groupBy("piece")
        .agg(F.sum("freq").alias("weight"))
        .orderBy(F.desc("weight"), "piece")
        .limit(_WP_VOCAB)
        .collect()
    )
    vocab = {r["piece"] for r in vocab_rows}

    def seg(batches):
        for pdf in batches:
            out_w, out_p = [], []
            for w in pdf["word"]:
                pos, n = 0, len(w)
                while pos < n:
                    hit = None
                    for L in range(max_piece_len, 0, -1):
                        cand = w[pos : pos + L]
                        if cand in vocab:
                            hit = (cand, L)
                            break
                    if hit is None:
                        out_w.append(w)
                        out_p.append("<unk>")
                        pos += 1
                    else:
                        out_w.append(w)
                        out_p.append(hit[0])
                        pos += hit[1]
            yield pd.DataFrame({"word": out_w, "piece": out_p})

    segmented = wf.select("word").mapInPandas(seg, schema="word string, piece string")
    return segmented.join(wf, on="word")
