"""Text analysis operators for training-data pipelines.

Token counting (whitespace), quality scoring (type-token ratio, avg
word length, stopword ratio), language-ID (word-profile scoring), and
document fingerprinting (min-hash over character 8-grams, a winnowing-
style rolling fingerprint) — every operator is a pure Catalyst
expression (no UDFs), so it runs inside whole-stage codegen and its
filters push down to the scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import IntegerType

from tokens_ts import config as C


def _words():
    # built lazily: Column construction needs an active SparkContext
    return F.split(F.trim(F.col("text")), r"\s+")


def with_token_count(docs: DataFrame) -> DataFrame:
    """Whitespace token count (the cheapest budget-planning proxy)."""
    return docs.withColumn("n_words", F.size(_words()).cast("bigint"))


# BPE-ish pre-tokenizer: word chunks, numbers, and each punctuation
# mark as its own token — the GPT-2-style pre-split shape (the real
# BPE merge table then only shrinks counts within chunks, so this
# upper-bounds true BPE token counts far tighter than whitespace).
BPE_SPLIT_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def with_token_count_bpe(docs: DataFrame) -> DataFrame:
    """BPE-ish regex token count + a chars/4 subword estimate.

    Pattern passed as a lit() column, NOT interpolated into F.expr —
    SQL string literals eat single backslashes, so an expr-embedded
    '\\s' silently becomes 's' and whitespace starts matching."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_SPLIT_RE), F.lit(0))
    return docs.withColumn(
        "n_bpe_tokens", F.size(toks).cast("bigint")
    ).withColumn(
        "n_subword_est",
        F.ceil(F.length(F.col("text")) / F.lit(4.0)).cast("bigint"),
    )


# ---------------------------------------------------------------------------
# REAL merge-table BPE (not the chars/4 estimate above, which remains the
# cheap path). Classic byte-pair-encoding over the regex pre-split chunks:
# a fixture-built merge table (trained once, deterministically, on the
# embedded seed corpus) applied greedily in priority order. Token counts
# from REAL merges drive packing and cost accounting in a training-data
# pipeline; the estimate only upper-bounds them.
# ---------------------------------------------------------------------------

# deterministic seed corpus for the fixture merge table — generic
# English + data-engineering jargon matching the synthetic documents
# corpus. NO apoststrophes/quotes (merge pairs are interpolated into the
# DuckDB oracle SQL as literals).
BPE_SEED_CORPUS = """
the quick brown fox jumps over the lazy dog and then the dog jumps back
spark reads the table and scans the parquet data then shuffles the rows
a query plan pushes the filter down to the scan and prunes the columns
the value of the data in the table depends on the quality of the scan
distributed systems partition the data and replicate the partitions
the tokenizer encodes the words into tokens and counts the tokens
streaming windows aggregate the events into partial states that merge
the cluster schedules the tasks and the executors process the batches
training data pipelines deduplicate the documents and score the text
the rollup cascades from minutes to hours to days with exact state
"""
_N_MERGES = 48


def _merge_word(toks: tuple, a: str, b: str) -> tuple:
    """One left-to-right non-overlapping merge pass — which IS the
    fixpoint for a single pair (no (a,b) adjacency survives a pass)."""
    out = []
    i = 0
    n = len(toks)
    while i < n:
        if i + 1 < n and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return tuple(out)


def _train_bpe(corpus: str, n_merges: int) -> list[tuple[str, str]]:
    """Classic BPE training: repeatedly merge the most frequent adjacent
    pair (ties broken lexicographically — fully deterministic)."""
    import re
    from collections import Counter

    words = Counter(re.findall(BPE_SPLIT_RE, corpus))
    vocab: dict[tuple, int] = {}
    for w, c in words.items():
        key = tuple(w)
        vocab[key] = vocab.get(key, 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, c in vocab.items():
            for a, b in zip(w, w[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))[0]
        merges.append(best)
        vocab2: dict[tuple, int] = {}
        for w, c in vocab.items():
            w2 = _merge_word(w, *best)
            vocab2[w2] = vocab2.get(w2, 0) + c
        vocab = vocab2
    return merges


_BPE_MERGES: tuple[tuple[str, str], ...] | None = None


def bpe_merges() -> tuple[tuple[str, str], ...]:
    """The fixture merge table (trained once per process, cached)."""
    global _BPE_MERGES
    if _BPE_MERGES is None:
        _BPE_MERGES = tuple(_train_bpe(BPE_SEED_CORPUS, _N_MERGES))
    return _BPE_MERGES


def bpe_encode_word(word: str, merges) -> list[str]:
    """Greedy merge-table encode of one pre-split chunk.

    Applies merges in PRIORITY (training) order, each to fixpoint —
    provably equivalent to the rank-priority-queue encode real
    tokenizers use, because a merge's inputs are always tokens created
    by earlier merges: a later merge can never create a new occurrence
    of an earlier pair (pinned by the faithful-encoder equivalence
    fuzz test)."""
    toks: tuple = tuple(word)
    for a, b in merges:
        if len(toks) < 2:
            break
        toks = _merge_word(toks, a, b)
    return list(toks)


def with_bpe_encode(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, n_bpe_real, bpe_md5): REAL merge-table
    BPE token count plus an md5 over the space-joined token stream —
    full-fidelity evidence of the exact token sequence, cross-engine
    checkable (the DuckDB oracle re-derives the same stream from the
    same merge table via chained replace()).

    Arrow mapInPandas stage (the sanctioned Python path, like the
    codecs): per-batch distinct-chunk memoization — web corpora repeat
    words heavily, so each distinct chunk is encoded once per batch,
    not once per occurrence."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    merges = bpe_merges()
    pat = re.compile(BPE_SPLIT_RE)

    def batches(it):
        cache: dict[str, list[str]] = {}
        for pdf in it:
            n_out, md5_out = [], []
            for text in pdf["text"]:
                toks: list[str] = []
                for ch in pat.findall(text or ""):
                    enc = cache.get(ch)
                    if enc is None:
                        enc = bpe_encode_word(ch, merges)
                        cache[ch] = enc
                    toks.extend(enc)
                n_out.append(len(toks))
                md5_out.append(
                    hashlib.md5(" ".join(toks).encode("utf-8")).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bpe_real": np.asarray(n_out, dtype=np.int64),
                    "bpe_md5": md5_out,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        batches, "doc_id long, n_bpe_real long, bpe_md5 string"
    )


BPE_UNK_ID = 0
_BPE_ID_BASE = 96  # merge j → id _BPE_ID_BASE + j


def bpe_vocab() -> dict[str, int]:
    """Deterministic token-string → id vocabulary (merge index = id).

    ids: 0 = UNK (any non-printable-ASCII base char), 1..95 = printable
    ASCII codepoints 32..126 (id = cp − 31), 96+j = the output string
    of merge j in training order (first occurrence wins should two
    merges ever produce the same string). The whole table is a pure
    function of the merge table, so the DuckDB oracle interpolates the
    identical mapping — and every id fits the 17-bit token codec with
    15 bits to spare."""
    vocab = {chr(cp): cp - 31 for cp in range(32, 127)}
    for j, (a, b) in enumerate(bpe_merges()):
        vocab.setdefault(a + b, _BPE_ID_BASE + j)
    return vocab


def with_bpe_ids(docs: DataFrame) -> DataFrame:
    """(doc_id, source, text) → sequences-shaped
    (doc_id, source, tokens array<int>, n_tok): REAL BPE token IDS
    under bpe_vocab — the bridge from raw text to the packing +
    token-codec path, so text → ids → pack → 17-bit codec runs
    end-to-end on genuine tokenizer output (verdict-r4 item 9).

    Same Arrow mapInPandas + distinct-chunk memoization as
    with_bpe_encode; the chunk cache stores id lists directly."""
    import re

    import pandas as pd

    merges = bpe_merges()
    vocab = bpe_vocab()
    pat = re.compile(BPE_SPLIT_RE)

    def batches(it):
        cache: dict[str, list[int]] = {}
        for pdf in it:
            toks_out = []
            for text in pdf["text"]:
                ids: list[int] = []
                for ch in pat.findall(text or ""):
                    enc = cache.get(ch)
                    if enc is None:
                        enc = [
                            vocab.get(t, BPE_UNK_ID)
                            for t in bpe_encode_word(ch, merges)
                        ]
                        cache[ch] = enc
                    ids.extend(enc)
                toks_out.append(ids)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "tokens": toks_out,
                    "n_tok": [len(x) for x in toks_out],
                }
            )

    return docs.select("doc_id", "source", "text").mapInPandas(
        batches, "doc_id long, source string, tokens array<int>, n_tok int"
    )


def with_quality(docs: DataFrame) -> DataFrame:
    """Quality features: type-token ratio, mean word length, stopword
    ratio — the standard cheap filters for web-scale corpus curation."""
    w = _words()
    n = F.size(w).cast("double")
    distinct_n = F.size(F.array_distinct(w)).cast("double")
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    ).cast("double")
    stop_n = F.size(F.filter(w, lambda x: x.isin("a", "the"))).cast("double")
    return (
        docs.withColumn("n_words", n.cast("bigint"))
        .withColumn("ttr", distinct_n / n)
        .withColumn("avg_word_len", sum_len / n)
        .withColumn("stopword_ratio", stop_n / n)
    )


# deterministic word profiles for language-ID scoring. The sandbox
# corpus is synthetic English-ish jargon for every `lang` label, so the
# profiles are synthetic too — the operator shape (profile scoring +
# argmax) is what matters and is exactly how an n-gram langid works.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "p_en": ("the", "a"),
    "p_sql": ("value", "table"),
    "p_q": ("query", "scan"),
    "p_data": ("spark", "data"),
}


def with_langid(docs: DataFrame) -> DataFrame:
    w = _words()
    scored = docs
    for name, prof in LANG_PROFILES.items():
        scored = scored.withColumn(
            name, F.size(F.filter(w, lambda x: x.isin(*prof)))
        )
    names = list(LANG_PROFILES)
    pred = F.lit(None).cast("string")
    best = F.greatest(*[F.col(n) for n in names])
    # first profile (declaration order) wins ties — mirrored in SQL
    for name in reversed(names):
        pred = F.when(F.col(name) == best, F.lit(name)).otherwise(pred)
    return scored.withColumn("pred", pred)


def with_repetition(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition score (the Gopher-style repetition
    quality rule): the fraction of 3-gram word-shingle OCCURRENCES that
    repeat an earlier occurrence. Boilerplate/spam pages score high and
    get filtered before training. Non-distinct shingles here (unlike
    dedup.word_shingles) — repetition IS the signal. Pure expressions,
    whole-stage codegen."""
    # r6: zip_with chain splits the text once (the old transform
    # re-split it per position — O(words²); see dedup.word_shingles)
    _w = F.split(F.trim(F.col(text_col)), r"\s+")
    _nw = F.size(_w)
    _m = _nw - 2
    _acc = F.slice(_w, 1, _m)
    for _j in (1, 2):
        _acc = F.zip_with(
            _acc, F.slice(_w, 1 + _j, _m), lambda x, y: F.concat_ws(" ", x, y)
        )
    sh_all = F.when(_nw >= 3, _acc).otherwise(
        F.array(F.array_join(_w, " "))
    )
    n = F.size(sh_all)
    return docs.withColumn("n_3grams", n.cast("bigint")).withColumn(
        "dup3_frac",
        (n - F.size(F.array_distinct(sh_all))).cast("double") / n.cast("double"),
    )


# ---------------------------------------------------------------------------
# Honest language-ID: character-trigram profiles for five real languages.
# The trigrams are public knowledge — high-frequency function-word
# fragments every n-gram langid textbook lists (Cavnar & Trenkle-style
# profile matching, truncated to a compact hand-picked profile). Unlike
# LANG_PROFILES above (which mirrors the synthetic corpus labels), these
# work on real multilingual text; the operator remains a pure Catalyst
# expression (per-trigram occurrence counts via length-difference).
# ---------------------------------------------------------------------------

TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", " th", "he ", "ing", "nd ", " an", " of", "of ",
           " to", "is ", " is", "ed "),
    "de": ("der", "die", "und", "ein", "ich", "sch", "ber", "cht",
           "den", "ten", " ge", "ung"),
    "fr": (" le", "le ", " de", "de ", "ent", "que", " qu", "es ",
           "ais", "eur", "aut", "par"),
    "es": (" el", "el ", " la", "la ", "os ", "ado", " es", "ión",
           "ar ", " pe", "rro", "bre"),
    "it": (" il", "il ", "lla", "to ", "ano", "che", " ch", "gli",
           "re ", " so", "pra", "ane"),
}


def with_langid_trigram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Real char-trigram language-ID: per-language score = total
    occurrences of that language's profile trigrams in the lowercased,
    space-padded text (occurrence count = (len − len(after removing
    the trigram)) / 3 — pure string expressions, no UDF). pred =
    argmax, ties → profile declaration order."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    scored = docs
    names = []
    for lang, tris in TRIGRAM_PROFILES.items():
        col = f"s_{lang}"
        names.append(col)
        score = None
        for tri in tris:
            c = (
                (F.length(padded) - F.length(F.replace(padded, F.lit(tri), F.lit(""))))
                / F.lit(3)
            )
            score = c if score is None else score + c
        scored = scored.withColumn(col, score.cast("bigint"))
    best = F.greatest(*[F.col(n) for n in names])
    pred = F.lit(None).cast("string")
    for name in reversed(names):
        pred = F.when(F.col(name) == best, F.lit(name[2:])).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


def with_fingerprint(docs: DataFrame, gram: int = 8, stride: int = 4) -> DataFrame:
    """Rolling-hash fingerprint: min md5 over char k-grams at a stride.

    Collapses near-identical boilerplate to one fingerprint (winnowing
    with window = whole doc); group-by fingerprint ≈ cheap near-dedup."""
    return docs.withColumn(
        "fingerprint",
        F.expr(
            f"array_min(transform(sequence(1, greatest(length(text) - {gram - 1}, 1), {stride}),"
            f" i -> md5(substring(text, i, {gram}))))"
        ),
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """Corpus-LM quality scoring: per-document mean log-probability
    under the corpus's own unigram MLE — the cheap statistical proxy
    for model-based quality filtering (a doc of globally-rare words
    scores low; boilerplate scores high). Two shuffles:

      1. word counts: explode → groupBy(word)   (vocab-sized result)
      2. score: words ⋈ counts on word → groupBy(doc)

    The corpus total rides along as a broadcast 1-row frame (control
    plane, no driver collect in the lineage). At 100 TB the word join
    is the skew risk — stop-words are hot keys — but the counts side
    is one row per word, so AQE's skew-join split handles the fact
    side; the counts frame itself is broadcast-eligible for any vocab
    under ~100M words. Empty tokens from repeated whitespace are
    dropped in BOTH engines."""
    words = docs.select(
        id_col, F.explode(F.split(F.col(text_col), r"\s+")).alias("w")
    ).where(F.col("w") != "")
    counts = words.groupBy("w").agg(F.count("*").alias("wc"))
    total = counts.agg(F.sum("wc").cast("double").alias("t"))
    scored = (
        words.join(counts, "w")
        .crossJoin(F.broadcast(total))
        .withColumn("_lp", F.log(F.col("wc") / F.col("t")))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.avg("_lp").alias("mean_logprob"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k TF-IDF terms per document: tf = in-doc count, idf =
    ln(N/df) (raw, unsmoothed — pinned), score = tf·idf.

    Ranking happens on the E6-ROUNDED score, not the raw double:
    mathematically-equal scores can be computed via different
    expressions (2·ln4 vs 4·ln2) that differ by an ulp, and an
    ulp-level rank flip would silently reorder top-k between engines.
    Rounding to 1e-6 before ranking makes every genuine tie an exact
    tie, then term ASC breaks it deterministically.

    Shapes: word-keyed df-count (vocab-sized, broadcast-eligible
    ≲100M words), corpus N as a broadcast 1-row frame, and a per-doc
    rank-filter window — no global sort. Stop-word skew on the word
    join is AQE-splittable (counts side is 1 row/word)."""
    words = docs.select(
        id_col, F.explode(F.split(F.col(text_col), r"\s+")).alias("w")
    ).where(F.col("w") != "")
    tf = words.groupBy(id_col, "w").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(dfc, "w")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_e6",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * 1e6
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_e6").desc(), F.col("w").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, F.col("w").alias("term"), "tf", "score_e6", "rank")
    )


# ---------------------------------------------------------------------------
# Token-domain corpus statistics (over pre-tokenized sequences)
# ---------------------------------------------------------------------------


def zipf_slope(
    seq: DataFrame,
    by: str = "source",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    max_rank: int = 256,
) -> DataFrame:
    """Zipf-law slope per group: OLS fit of ln(freq) vs ln(rank) over
    the top `max_rank` non-PAD tokens — the one-number summary of how
    natural a token distribution is (English text ≈ −1; uniform
    synthetic junk ≈ 0; degenerate boilerplate ≪ −1), used to flag
    sources whose token mix drifted.

    Shapes: explode → map-side-combined (group, token) count — the
    only corpus-sized shuffle; the ranking window partitions by group
    over AT MOST vocab-size rows per group (bounded by V, never by
    corpus rows), and the final normal-equation agg is ≤ max_rank
    rows per group. Slope is computed from the five OLS sums, so the
    whole fit is one more tiny agg — no second pass over data."""
    counts = (
        seq.select(by, F.explode(tokens_col).alias("t"))
        .where(F.col("t") != pad_id)
        .groupBy(by, "t")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy(by).orderBy(F.desc("cnt"), F.asc("t"))
    ranked = counts.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= max_rank
    )
    xy = ranked.select(
        by,
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    agg = xy.groupBy(by).agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # n=1 (a single distinct token) degenerates the fit: sxx = sx = 0
    # and the denominator is exactly 0 — under ANSI mode a plain
    # divide would FAIL THE JOB, so the slope is null there.
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        den != 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
    )
    return agg.select(
        by,
        F.col("n").cast("bigint").alias("n_ranked"),
        slope.alias("zipf_slope"),
    )


def bigram_pmi_topk(
    seq: DataFrame,
    tokens_col: str = "tokens",
    pad_id: int = 0,
    k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Corpus-wide top-k adjacent-token bigrams by pointwise mutual
    information — the phrase-mining / collocation detector (merge-rule
    candidates for tokenizer growth; memorized-boilerplate flags).

    pmi(a,b) = ln(c_ab) − ln(T_bi) − ln(c_a) − ln(c_b) + 2·ln(T_uni)
    with unigram stats over the full non-PAD stream and bigram total
    T_bi counted BEFORE the min_count support filter (pinned rule).

    Ranking is on the E6-ROUNDED pmi (the tfidf_top_terms ulp rule),
    ties broken (a ASC, b ASC). Shapes: the bigram stream is built
    row-locally (transform over 0..n−2, no posexplode self-join);
    unigram and bigram count frames are vocab-/vocab²-bounded; the
    two totals ride as one broadcast 1-row frame; top-k plans as
    TakeOrderedAndProject — no global sort, no corpus-sized join."""
    toks = F.col(tokens_col)
    pairs = seq.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.get(toks, i).alias("a"), F.get(toks, i + 1).alias("b")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:int,b:int>>"))
        ).alias("bg")
    ).select("bg.a", "bg.b").where(
        (F.col("a") != pad_id) & (F.col("b") != pad_id)
    )
    # the unigram frame feeds three subtrees (both join dims + the
    # totals) and the bigram stream two (totals + the support-filtered
    # counts); exchange reuse plans each count frame's shuffle once,
    # so the corpus is exploded once per stream without a cache
    uni = (
        seq.select(F.explode(tokens_col).alias("t"))
        .where(F.col("t") != pad_id)
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    bgc_all = pairs.groupBy("a", "b").agg(F.count("*").alias("cnt"))
    # one keyless agg for both totals; T_bi is counted BEFORE the
    # min_count filter (pinned rule) = the pair stream's length
    totals = uni.select(F.col("c").alias("tu")).unionByName(
        bgc_all.select(F.col("cnt").alias("tb")), allowMissingColumns=True
    ).agg(*(F.sum(c).cast("double").alias(c) for c in ("tu", "tb")))
    bgc = bgc_all.where(F.col("cnt") >= min_count)
    ua = uni.select(F.col("t").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("t").alias("b"), F.col("c").alias("cb"))
    scored = (
        bgc.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi_e6",
            F.round(
                (
                    F.log("cnt")
                    - F.log("tb")
                    - F.log("ca")
                    - F.log("cb")
                    + 2 * F.log("tu")
                )
                * 1e6
            ).cast("bigint"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi_e6"), F.asc("a"), F.asc("b"))
        .limit(k)
        .select(
            F.col("a").cast("bigint").alias("a"),
            F.col("b").cast("bigint").alias("b"),
            F.col("cnt").cast("bigint").alias("cnt"),
            "pmi_e6",
        )
    )


def token_histogram(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    trunc: str = "hour",
) -> DataFrame:
    """The token-histogram TIER: non-PAD token counts per (group,
    `trunc` bucket, token) — `(by, ep, t, c)`. This is the ONE
    corpus-sized computation (explode → map-side-combined count)
    behind every head-of-distribution monitor in this module;
    `dist_drift` / `topk_turnover` / `token_burst` / `vocab_growth`
    all accept it pre-built via their `counts=` parameter.

    At 100 TB this is what you materialize: counts are ADDITIVE, so
    the tier updates per increment by unioning the new batch's
    histogram and re-summing only touched (group, bucket) partitions
    — the same partial-state contract as the value tiers
    (tiers.rollup) — and every drift query then reads
    vocab×buckets-bounded rows instead of re-exploding the corpus.

    r6 layout: the tier is emitted CLUSTERED BY (group, token) —
    guide §6 partitioning-on-write: the per-token monitors
    (token_burst, decay_topk, vocab_growth, token_novelty) all
    aggregate the tier by (group, token), and Spark's subset-
    clustering rule lets those aggs reuse this partitioning with NO
    further tier-sized exchange. Map-side combine on (group, bucket,
    token) still runs before the clustering exchange, so the
    re-layout ships tier-sized (not explode-sized) rows once at
    build, amortized over every token-major read of the materialized
    tier."""
    return (
        seq.select(
            by,
            F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias("ep"),
            F.explode(tokens_col).alias("t"),
        )
        .where(F.col("t") != pad_id)
        .groupBy(by, "ep", "t")
        .agg(F.count("*").alias("c"))
        .repartition(by, "t")
    )


def dist_drift(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    trunc: str = "hour",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Jensen-Shannon divergence between each time bucket's token
    distribution and the IMMEDIATELY PRECEDING bucket's, per group —
    the data-mix drift monitor (a source whose token histogram jumps
    hour-over-hour changed upstream: new scrape, new dedup config,
    poisoning). Natural-log JSD ∈ [0, ln 2].

    Pinned rules: a bucket is scored only if the bucket exactly one
    `trunc` step earlier has ≥1 non-PAD token (gaps break the chain —
    drift across a gap is not adjacent drift); missing tokens
    contribute p·ln(2) one-sidedly (q=0 ⇒ p·ln(2p/p) = p·ln 2, the
    JSD limit).

    Shapes (r6): the cur↔prev pairing is a DOUBLE-EMIT re-agg — each
    token occurrence enters the count agg once at its own bucket (as
    cur) and once shifted one step forward (as prev) — aggs only, no
    full-outer sort-merge join, no windows. When building from the
    corpus the emission fuses INTO the one corpus-sized explode
    (2 structs per token, ONE (group, bucket, token) agg — no
    separate tier build, no second tier-sized shuffle; the r5 shape
    re-derived the histogram in four subtrees). When serving from a
    materialized tier (`counts=`), the tier rows take the same
    two-struct explode (c per row instead of 1) into the same single
    re-agg; the caller's frame is never cached. Per-bucket totals
    ride the paired frame (cached, read twice) and join back
    broadcast — buckets-bounded either way."""
    step = C.TRUNC_S[trunc]
    if counts is None:
        counts = seq.select(
            by,
            F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias("ep"),
            F.explode(tokens_col).alias("t"),
            F.lit(1).alias("c"),
        ).where(F.col("t") != pad_id)
    c = F.col("c").cast("bigint")
    zero = F.lit(0).cast("bigint")
    em = counts.select(
        by,
        "t",
        F.explode(
            F.array(
                F.struct(F.col("ep").alias("ep"), c.alias("cc"), zero.alias("cp")),
                F.struct(
                    (F.col("ep") + step).alias("ep"), zero.alias("cc"), c.alias("cp")
                ),
            )
        ).alias("e"),
    ).select(by, F.col("e.ep").alias("ep"), "t", "e.cc", "e.cp")
    joined = em.groupBy(by, "ep", "t").agg(
        F.sum("cc").cast("bigint").alias("cc"),
        F.sum("cp").cast("bigint").alias("cp"),
    ).cache()
    totals = joined.groupBy(by, "ep").agg(
        F.sum("cc").alias("tot_c"), F.sum("cp").alias("tot_p")
    ).where((F.col("tot_c") > 0) & (F.col("tot_p") > 0))
    scored = joined.join(F.broadcast(totals), [by, "ep"])
    p = F.col("cc") / F.col("tot_c")
    qq = F.col("cp") / F.col("tot_p")
    m = (p + qq) / 2
    term = (
        F.when(F.col("cc") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("cp") > 0, qq * F.log(qq / m)).otherwise(F.lit(0.0))
    ) / 2
    return (
        scored.groupBy(by, "ep")
        .agg(F.sum(term).alias("jsd"), F.count("*").alias("n_union"))
        .select(
            by,
            F.timestamp_seconds(F.col("ep")).alias("bucket_ts"),
            "jsd",
            F.col("n_union").cast("bigint").alias("n_union"),
        )
    )


def vocab_growth(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    trunc: str = "hour",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Heaps'-law vocabulary growth curve per group: for every time
    bucket with data, how many NEVER-BEFORE-SEEN tokens appear, and
    the cumulative distinct vocabulary up to that bucket — the
    saturation monitor (a source whose cum_vocab flatlines is
    recycling content; one that grows linearly is still novel).

    Cumulative-distinct without a distinct-per-window pass: each
    token's contribution is pinned to its FIRST bucket (min-agg over
    the vocab-bounded (group, token, bucket) frame), then a running
    sum over the buckets-per-group frame — control-plane sized —
    yields the cumulative curve exactly.

    Shapes: explode → map-side-combined min-agg is the only
    corpus-sized op; the bucket spine (distinct buckets per group) and
    the cumulative window are buckets-bounded. No distinct-count
    shuffle per bucket, no growing state. Pass `counts=` (a
    token_histogram frame) to serve from the materialized tier —
    first-seen minima and the bucket spine derive from the tier
    exactly (every (group, bucket, token) present in raw is present
    in the tier)."""
    if counts is None:
        counts = token_histogram(seq, by, ts_col, tokens_col, pad_id, trunc)
    # tier feeds two subtrees (first-seen minima + bucket spine):
    # cache so the corpus explode runs once (r6 single-scan rule)
    counts = counts.cache()
    first_seen = counts.groupBy(by, "t").agg(F.min("ep").alias("ep"))
    new_per_bucket = first_seen.groupBy(by, "ep").agg(
        F.count("*").alias("new_tokens")
    )
    spine = counts.select(by, "ep").distinct()
    w = (
        Window.partitionBy(by)
        .orderBy("ep")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(new_per_bucket, [by, "ep"], "left")
        .select(by, "ep", F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"))
        .withColumn("cum_vocab", F.sum("new_tokens").over(w))
        .select(
            by,
            F.timestamp_seconds(F.col("ep")).alias("bucket_ts"),
            F.col("new_tokens").cast("bigint").alias("new_tokens"),
            F.col("cum_vocab").cast("bigint").alias("cum_vocab"),
        )
    )


def topk_turnover(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    trunc: str = "hour",
    k: int = 16,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Hour-over-hour turnover of each group's top-k token SET:
    Jaccard between the current bucket's top-k tokens and the
    immediately preceding bucket's — the head-of-distribution drift
    monitor (JSD integrates the whole histogram; turnover answers the
    sharper operational question "did the dominant tokens change?").

    Pinned rules: top-k ranked by (count DESC, token ASC) row_number —
    count ties cannot reorder between engines; a bucket is scored only
    when the bucket exactly one `trunc` step earlier exists (gaps
    break the chain); buckets with < k distinct tokens use their full
    set. Jaccard is e6-rounded.

    Shapes: explode → map-side-combined (group, bucket, token) count
    is the only corpus-sized op; the ranking window partitions by
    (group, bucket) over ≤ vocab rows per partition; everything after
    is k×buckets-bounded. Pass `counts=` (a token_histogram frame) to
    serve from the materialized tier."""
    step = C.TRUNC_S[trunc]
    if counts is None:
        counts = token_histogram(seq, by, ts_col, tokens_col, pad_id, trunc)
    w = Window.partitionBy(by, "ep").orderBy(F.desc("c"), F.asc("t"))
    # the ranked head is read three times (sizes + both sides of the
    # intersection join): cache the k×buckets-bounded frame so the
    # corpus explode + ranking window run once (r6 single-scan rule)
    topk = counts.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    ).cache()
    sz = topk.groupBy(by, "ep").agg(F.count("*").alias("n"))
    scored = sz.join(
        sz.select(by, (F.col("ep") + step).alias("ep"), F.col("n").alias("n_prev")),
        [by, "ep"],
    )
    inter = topk.join(
        topk.select(by, (F.col("ep") + step).alias("ep"), "t"),
        [by, "ep", "t"],
    ).groupBy(by, "ep").agg(F.count("*").alias("n_inter"))
    out = scored.join(inter, [by, "ep"], "left").select(
        by,
        "ep",
        F.col("n").alias("n_cur"),
        "n_prev",
        F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
    )
    jac = F.col("n_inter") / (
        F.col("n_cur") + F.col("n_prev") - F.col("n_inter")
    )
    return out.select(
        by,
        F.timestamp_seconds(F.col("ep")).alias("bucket_ts"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.col("n_prev").cast("bigint").alias("n_prev"),
        F.col("n_inter").cast("bigint").alias("n_inter"),
        jac.alias("jaccard"),
    )


def token_burst(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    trunc: str = "hour",
    k: int = 10,
    min_count: int = 4,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Top-k BURSTY tokens per group: burstiness = a token's peak
    per-bucket share divided by its mean share over ALL of the
    group's data buckets (absent buckets contribute 0 to the mean) —
    a steady token scores ~1, a token concentrated in one bucket out
    of B scores ~B. The spam/event-spike detector on token streams.

    Pinned rules: shares are count/bucket_total; the mean divides by
    the group's TOTAL bucket count (a broadcast-scale dim), not the
    token's present-bucket count; tokens below `min_count` total
    occurrences are dropped BEFORE ranking; ranking is on the
    e6-rounded burst score (tfidf rule — an ulp cannot flip a rank),
    token ASC tie-break.

    Shapes: one corpus-sized explode+count; per-bucket totals and
    per-group bucket counts are bounded aggs joined back; the ranking
    window partitions by group over ≤ vocab rows. Pass `counts=` (a
    token_histogram frame) to serve from the materialized tier."""
    if counts is None:
        counts = token_histogram(seq, by, ts_col, tokens_col, pad_id, trunc)
    # tier feeds the totals agg AND the shares join: cache (one
    # corpus explode), and broadcast the buckets-bounded totals so
    # the tier-sized side is never shuffled for the join (r6,
    # guide §3.1)
    counts = counts.cache()
    totals = counts.groupBy(by, "ep").agg(F.sum("c").alias("tot"))
    nb = totals.groupBy(by).agg(F.count("*").alias("n_buckets"))
    shares = counts.join(F.broadcast(totals), [by, "ep"]).select(
        by, "t", "c", (F.col("c") / F.col("tot")).alias("share")
    )
    per_tok = shares.groupBy(by, "t").agg(
        F.sum("c").cast("bigint").alias("total_c"),
        F.max("share").alias("max_share"),
        F.sum("share").alias("sum_share"),
        F.count("*").cast("bigint").alias("n_present"),
    )
    scored = (
        per_tok.where(F.col("total_c") >= min_count)
        .join(F.broadcast(nb), by)
        .withColumn(
            "burst_e6",
            F.round(
                F.col("max_share")
                / (F.col("sum_share") / F.col("n_buckets"))
                * 1e6
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy(by).orderBy(F.desc("burst_e6"), F.asc("t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            by,
            F.col("t").cast("bigint").alias("token"),
            "total_c",
            "n_present",
            "burst_e6",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def decay_topk(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    trunc: str = "hour",
    decay: float = 0.5,
    k: int = 10,
    counts: DataFrame | None = None,
) -> DataFrame:
    """'Trending now' tokens per group: each token's per-bucket counts
    are weighted by decay^age (age = buckets before the group's most
    recent bucket) and summed — recency-weighted frequency, the
    streaming-dashboard ranking a plain total-count top-k can't give
    (a token dominant last week but dead today still tops total
    counts; here its weight is decay^168).

    decay defaults to 0.5 (half-life = one bucket) which makes every
    weight an exact power of two, so both engines compute IDENTICAL
    products c·2^-age and cross-engine e6 rounding is ulp-safe by
    construction, not by luck.

    Shapes: serve from the token-histogram tier (`counts=`) or build
    it (the one corpus-sized op); the per-group max-bucket frame is
    groups-bounded and broadcast back; scoring + ranking are
    vocab-bounded. Rank ties → smaller token id."""
    step = C.TRUNC_S[trunc]
    if counts is None:
        counts = token_histogram(seq, by, ts_col, tokens_col, pad_id, trunc)
    # tier feeds the latest-bucket agg AND the aged scoring join:
    # cache so the corpus explode runs once (r6 single-scan rule)
    counts = counts.cache()
    latest = counts.groupBy(by).agg(F.max("ep").alias("max_ep"))
    aged = counts.join(F.broadcast(latest), by).withColumn(
        "age", ((F.col("max_ep") - F.col("ep")) / step).cast("bigint")
    )
    scored = aged.groupBy(by, "t").agg(
        F.sum(F.col("c") * F.pow(F.lit(decay), F.col("age"))).alias("score"),
        F.sum("c").cast("bigint").alias("total_c"),
    )
    w = Window.partitionBy(by).orderBy(
        F.desc(F.round(F.col("score") * 1e6)), F.asc("t")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            by,
            F.col("t").cast("bigint").alias("token"),
            "total_c",
            F.round(F.col("score") * 1e6).cast("bigint").alias("score_e6"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def token_novelty(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    trunc: str = "hour",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Occurrence-weighted novelty rate per (group, bucket): the
    fraction of this bucket's token OCCURRENCES whose token type was
    never seen in ANY earlier bucket of the group. vocab_growth counts
    new TYPES; this weights them by how much of the bucket's volume
    they carry — the 'how much of this hour is genuinely new text'
    monitor (a spam flood of one novel token shows novelty≈1 here but
    only +1 type there). First bucket is 1.0 by definition.

    Shapes: first-seen minima and per-bucket totals both derive from
    the token-histogram tier (vocab- and buckets-bounded); the novel
    join is an equi-join between two tier-bounded frames."""
    if counts is None:
        counts = token_histogram(seq, by, ts_col, tokens_col, pad_id, trunc)
    # tier feeds three subtrees (first-seen, novel join, totals):
    # cache so the corpus explode runs once (r6 single-scan rule)
    counts = counts.cache()
    first_seen = counts.groupBy(by, "t").agg(F.min("ep").alias("fep"))
    novel = (
        counts.join(
            first_seen.withColumnRenamed("fep", "ep"), [by, "t", "ep"]
        )
        .groupBy(by, "ep")
        .agg(F.sum("c").cast("bigint").alias("novel_c"))
    )
    totals = counts.groupBy(by, "ep").agg(
        F.sum("c").cast("bigint").alias("total_c")
    )
    return (
        totals.join(novel, [by, "ep"], "left")
        .withColumn("novel_c", F.coalesce("novel_c", F.lit(0)))
        .select(
            by,
            F.col("ep").alias("bucket_ep"),
            "novel_c",
            "total_c",
            F.round(F.col("novel_c") / F.col("total_c") * 1e6)
            .cast("bigint")
            .alias("novelty_e6"),
        )
    )


def dist_entropy(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    trunc: str = "hour",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Shannon entropy of each (group, bucket)'s token distribution,
    plus the distinct-token count and the normalized entropy
    H/ln(n_distinct) in [0,1] — the mode-collapse / repetition-flood
    monitor (entropy dropping while volume holds = the corpus is
    degenerating). Uses H = ln(tot) − Σ c·ln(c)/tot so the whole
    computation is two tier-bounded aggregations with no per-token
    probability join. Normalized entropy is null for single-token
    buckets (0/0)."""
    if counts is None:
        counts = token_histogram(seq, by, ts_col, tokens_col, pad_id, trunc)
    agg = counts.groupBy(by, "ep").agg(
        F.sum("c").alias("tot"),
        F.sum(F.col("c") * F.log("c")).alias("clogc"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    ent = F.log("tot") - F.col("clogc") / F.col("tot")
    return agg.select(
        by,
        F.col("ep").alias("bucket_ep"),
        F.col("tot").cast("bigint").alias("total_c"),
        "n_distinct",
        F.round(ent * 1e6).cast("bigint").alias("entropy_e6"),
        F.when(
            F.col("n_distinct") > 1,
            F.round(ent / F.log("n_distinct") * 1e6).cast("bigint"),
        ).alias("norm_entropy_e6"),
    )


def source_similarity(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Pairwise cosine similarity between groups' token-count vectors
    — the corpus-mix monitor ('did source A start emitting source B's
    distribution?') and the mixture-dedup screen at source granularity.
    Emits each unordered pair once (a < b) with the integer dot
    product (exact — counts are integers, so cross-engine equality is
    exact pre-rounding) and cos_e6.

    Shapes: per-group vectors are vocab-bounded aggregations of the
    token-histogram tier; the pair join is an equi-join ON TOKEN
    between two vocab-bounded frames (never groups² × vocab
    materialized — only tokens shared by a pair contribute rows);
    norms are groups-bounded and broadcast."""
    if counts is None:
        counts = token_histogram(seq, by, ts_col, tokens_col, pad_id, "hour")
    vec = counts.groupBy(by, "t").agg(F.sum("c").alias("c"))
    norms = vec.groupBy(by).agg(
        F.sum(F.col("c") * F.col("c")).alias("sq")
    )
    a = vec.select(F.col(by).alias("src_a"), "t", F.col("c").alias("ca"))
    bb = vec.select(F.col(by).alias("src_b"), "t", F.col("c").alias("cb"))
    dots = (
        a.join(bb, "t")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot"))
    )
    na = norms.select(F.col(by).alias("src_a"), F.col("sq").alias("sqa"))
    nb = norms.select(F.col(by).alias("src_b"), F.col("sq").alias("sqb"))
    return (
        dots.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "dot",
            F.round(
                F.col("dot") / (F.sqrt("sqa") * F.sqrt("sqb")) * 1e6
            )
            .cast("bigint")
            .alias("cos_e6"),
        )
    )


def token_gini(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    trunc: str = "hour",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Gini coefficient of each (group, bucket)'s token-count
    distribution — the concentration monitor complementing entropy
    (entropy asks 'how many effective tokens'; Gini asks 'how unequal
    are the shares' and moves earlier when a handful of tokens start
    swallowing the bucket). G = (2*sum_i(i*c_i) - (n+1)*sum(c)) /
    (n*sum(c)) over counts ranked ascending — every sum is INTEGER,
    so the score is cross-engine exact before rounding (ties in c
    permute equal values between adjacent ranks, leaving sum i*c_i
    unchanged). Single-token buckets emit G = 0.

    Shapes: the ranking window partitions on (group, bucket) over
    <= vocab rows; the final agg is tier-bounded. `counts=` serves
    from the materialized token-histogram tier."""
    if counts is None:
        counts = token_histogram(seq, by, ts_col, tokens_col, pad_id, trunc)
    w = Window.partitionBy(by, "ep").orderBy(F.asc("c"), F.asc("t"))
    ranked = counts.withColumn("i", F.row_number().over(w))
    agg = ranked.groupBy(by, "ep").agg(
        F.sum(F.col("i").cast("bigint") * F.col("c")).alias("ic"),
        F.sum("c").alias("tot"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    g = (
        2 * F.col("ic") - (F.col("n_distinct") + 1) * F.col("tot")
    ) / (F.col("n_distinct") * F.col("tot"))
    return agg.select(
        by,
        F.col("ep").alias("bucket_ep"),
        F.col("tot").cast("bigint").alias("total_c"),
        "n_distinct",
        F.round(g * 1e6).cast("bigint").alias("gini_e6"),
    )


def hapax_rate(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    trunc: str = "hour",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Hapax legomena rate per (group, bucket): the share of token
    TYPES occurring exactly once in the bucket — the
    generated-vs-natural text discriminator (natural language holds
    ~40-60% hapax under Zipf; templated or looping output collapses
    it) and Heaps-law's bucket-local companion.

    One tier-bounded aggregation; `counts=` serves from the
    materialized token-histogram tier."""
    if counts is None:
        counts = token_histogram(seq, by, ts_col, tokens_col, pad_id, trunc)
    agg = counts.groupBy(by, "ep").agg(
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.sum("c").cast("bigint").alias("total_c"),
    )
    return agg.select(
        by,
        F.col("ep").alias("bucket_ep"),
        "n_distinct",
        "n_hapax",
        "total_c",
        F.round(F.col("n_hapax") / F.col("n_distinct") * 1e6)
        .cast("bigint")
        .alias("hapax_e6"),
    )


def mixture_sample(
    docs: DataFrame,
    rates: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: str = "mix",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-source mixture sampling — the data-mixing
    step of a training pipeline ("20% of crawl, 80% of curated"):
    keep a doc iff u(doc) < rate(source), where u = md5_60(seed#id) /
    2^60 is a content-free uniform in [0, 1) that both engines (and
    any re-run) compute identically — no RNG state, no sampleBy
    nondeterminism, and membership is STABLE under corpus growth: a
    doc's fate never depends on what else is in the batch.

    `rates` is a (source, rate) dim — broadcast-joined, so the whole
    op is a single scan with a map-side filter at any corpus size;
    sources missing from the dim fall back to default_rate (0.0 =
    drop unknown sources, the safe curation default). Subset
    monotonicity holds by construction: raising a rate only ADDS
    docs (u is rate-independent).

    Emits the kept rows plus the sampling variate `u` for audit."""
    from tokens_ts.dedup import md5_60

    u = md5_60(
        F.concat_ws("#", F.lit(seed), F.col(id_col).cast("string"))
    ) / F.lit(float(2**60))
    r = F.coalesce(F.col("_mix_rate"), F.lit(float(default_rate)))
    dim = rates.select(
        F.col(source_col).alias("_mix_src"),
        F.col("rate").cast("double").alias("_mix_rate"),
    )
    return (
        docs.withColumn("u", u)
        .join(
            F.broadcast(dim),
            F.col(source_col) == F.col("_mix_src"),
            "left",
        )
        .where(F.col("u") < r)
        .drop("_mix_src", "_mix_rate")
    )


def with_dup_ngram(
    seq: DataFrame, tokens_col: str = "tokens", n: int = 4
) -> DataFrame:
    """Token-level duplicate n-gram fraction per sequence — the
    Gopher repetition rule applied to token IDS instead of text
    (with_repetition's twin for pre-tokenized corpora): of the
    len−n+1 sliding n-grams in the token array, what fraction are
    repeats of an earlier one. Row-local Catalyst throughout
    (transform/slice/array_distinct) — zero shuffles, zero Python;
    sequences shorter than n emit nulls."""
    toks = F.col(tokens_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            ",",
            F.transform(
                F.slice(toks, i + 1, n), lambda x: x.cast("string")
            ),
        ),
    )
    n_grams = F.size(toks) - n + 1
    guarded = F.when(F.size(toks) >= n, grams)
    return (
        seq.withColumn("_dg", guarded)
        .withColumn("n_grams", F.when(F.size(toks) >= n, n_grams))
        .withColumn(
            "n_distinct_grams",
            F.size(F.array_distinct(F.col("_dg"))),
        )
        .withColumn(
            "dup_frac",
            F.lit(1.0)
            - F.col("n_distinct_grams") / F.col("n_grams"),
        )
        .drop("_dg")
    )


def good_turing(
    seq: DataFrame,
    by: str = "source",
    tokens_col: str = "tokens",
    pad_id: int = 0,
) -> DataFrame:
    """Good-Turing frequency-of-frequencies table per group: for each
    observed count r, how many distinct tokens occur exactly r times
    (N_r), and the Turing-smoothed estimate r* = (r+1)·N_{r+1}/N_r —
    the standard unseen-mass / rare-token calibration for corpus LMs
    (r* NULL where N_{r+1} = 0: no smoothing evidence at that rank).

    One corpus-sized explode → map-side-combined (group, token)
    counts; everything after is vocab-bounded, and the N_{r+1} lookup
    is a self-equi-join of the counts-of-counts frame against itself
    shifted by one — a frame bounded by #distinct COUNT VALUES, i.e.
    tiny at any corpus scale. r* is one integer ratio: IEEE-exact
    cross-engine."""
    cnt = (
        seq.select(by, F.explode(tokens_col).alias("t"))
        .where(F.col("t") != pad_id)
        .groupBy(by, "t")
        .agg(F.count("*").alias("c"))
    )
    coc = cnt.groupBy(by, F.col("c").alias("r")).agg(
        F.count("*").alias("n_r")
    )
    nxt = coc.select(
        by, (F.col("r") - 1).alias("r"), F.col("n_r").alias("_n_next")
    )
    out = coc.join(nxt, [by, "r"], "left")
    return out.select(
        by,
        F.col("r").cast("bigint").alias("r"),
        F.col("n_r").cast("bigint").alias("n_r"),
        (
            (F.col("r") + 1).cast("double") * F.col("_n_next") / F.col("n_r")
        ).alias("r_star"),
    )


def bigram_logprob(
    seq: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    pad_id: int = 0,
    k: float = 0.5,
) -> DataFrame:
    """Per-document log-likelihood under the corpus's own add-k
    bigram LM — the fluency/quality scorer one level above
    unigram_logprob (catches shuffled-token and wrong-order junk that
    unigram stats cannot): lp = Σ ln((C(ab)+k) / (C(a·)+k·V)) over the
    doc's adjacent non-PAD bigrams, V = distinct non-PAD tokens.

    Pinned rules: a bigram is kept iff BOTH sides are non-PAD (PAD
    breaks adjacency — same rule as bigram_pmi); C(a·) counts a as the
    LEFT element of kept bigrams, so the smoothed conditionals
    normalize exactly; docs with zero kept bigrams are dropped.

    Shapes: the bigram stream is row-local (transform over positions,
    no posexplode self-join); the corpus count frames are vocab²- and
    vocab-bounded; the one corpus-sized join is doc-bigrams ⋈ bigram
    counts on (a, b) — an equi-join AQE can broadcast when the
    observed-bigram set is small. avg_nll = −lp/n rides along as the
    filterable quality score."""
    toks = F.col(tokens_col)
    pairs = seq.select(
        id_col,
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.get(toks, i).alias("a"), F.get(toks, i + 1).alias("b")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:int,b:int>>"))
        ).alias("bg"),
    ).select(id_col, "bg.a", "bg.b").where(
        (F.col("a") != pad_id) & (F.col("b") != pad_id)
    )
    bgc = pairs.groupBy("a", "b").agg(F.count("*").alias("cab"))
    ua = bgc.groupBy("a").agg(F.sum("cab").alias("ca"))
    v = (
        seq.select(F.explode(tokens_col).alias("t"))
        .where(F.col("t") != pad_id)
        .agg(F.countDistinct("t").cast("double").alias("v"))
    )
    term = F.log(
        (F.col("cab") + F.lit(k)) / (F.col("ca") + F.lit(k) * F.col("v"))
    )
    scored = (
        pairs.join(bgc, ["a", "b"])
        .join(F.broadcast(ua), "a")
        .crossJoin(F.broadcast(v))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum(term).alias("logprob"),
        (-F.sum(term) / F.count("*")).alias("avg_nll"),
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval: top-k documents for a fixed query-term set —
    the lexical-search baseline every RAG/retrieval pipeline needs
    next to the ANN path (simsearch scores embeddings; this scores
    exact lexical evidence with the Lucene idf
    ln(1 + (N − df + 0.5)/(df + 0.5)) and k1/b length normalization).

    Zero corpus-sized exploded frames: per-doc term frequencies are
    ROW-LOCAL array expressions (the query-term set is a literal list,
    so tf-per-term is a filter over the doc's own words — no
    vocab-keyed shuffle at all, unlike tfidf_top_terms); df and the
    corpus (N, avgdl) stats are query-terms- and 1-row-bounded
    broadcast frames; top-k plans as TakeOrderedAndProject. avgdl is
    over ALL docs (pinned), dl = non-empty whitespace tokens.

    Ranking is on the E6-ROUNDED score (the tfidf ulp rule), ties
    broken doc_id ASC."""
    if not terms:
        raise ValueError("bm25_topk: empty query-term list")
    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != ""
    )
    base = docs.select(
        id_col,
        F.size(words).alias("dl"),
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("term"),
                    F.size(
                        # one-param lambda ONLY: a second parameter —
                        # even defaulted — makes F.filter pass the
                        # array INDEX as that argument
                        F.filter(words, lambda x: x == F.lit(t))
                    ).alias("tf"),
                )
                for t in terms
            ]
        ).alias("_tfs"),
    )
    st = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tfl = (
        base.select(id_col, "dl", F.explode("_tfs").alias("e"))
        .select(id_col, "dl", "e.term", "e.tf")
        .where(F.col("tf") > 0)
    )
    dfc = tfl.groupBy("term").agg(F.count("*").alias("df"))
    scored = tfl.join(F.broadcast(dfc), "term").crossJoin(F.broadcast(st))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    doc_scores = scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.round(F.sum(idf * tfn) * 1e6).cast("bigint").alias("score_e6"),
    )
    return doc_scores.orderBy(
        F.desc("score_e6"), F.asc(id_col)
    ).limit(k)


def run_length_stats(
    seq: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Run-length degeneracy stats per sequence: number of maximal
    equal-token runs, longest run, and mean run length — the
    stuck-generation / repetition-collapse detector (a sampler stuck
    on one token shows max_run ≈ n; healthy text stays near 1).
    Computed over the RAW token array, PAD included (pad runs are
    exactly the padding pathology this flags; pinned).

    Entirely row-local Catalyst: run starts are the positions where
    t[i] ≠ t[i−1], run lengths are adjacent-start differences — two
    array expressions, no explode, no shuffle, whole-stage codegen.
    mean_run = n / n_runs is one integer ratio (IEEE-exact)."""
    toks = F.col(tokens_col)
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: (i == 0) | (F.get(toks, i) != F.get(toks, i - 1)),
    )
    n_runs = F.size(starts)
    lens = F.zip_with(
        starts,
        F.concat(F.slice(starts, 2, n_runs - 1), F.array(n)),
        lambda s, nxt: nxt - s,
    )
    return seq.where(n > 0).select(
        id_col,
        n.cast("bigint").alias("n_tok"),
        n_runs.cast("bigint").alias("n_runs"),
        F.array_max(lens).cast("bigint").alias("max_run"),
        (n.cast("double") / n_runs).alias("mean_run"),
    )


def cond_entropy(
    seq: DataFrame,
    by: str = "source",
    tokens_col: str = "tokens",
    pad_id: int = 0,
) -> DataFrame:
    """Conditional bigram entropy H(next | prev) per group, in nats —
    the sequence-predictability gauge one level above unigram entropy
    (boilerplate-heavy or template-generated token streams collapse
    here long before their unigram mix looks degenerate):
    H = Σ_ab c_ab·(ln c_a − ln c_ab) / T over kept adjacent bigrams
    (both sides non-PAD — the bigram_pmi adjacency rule), c_a = count
    of a as LEFT element so the conditionals normalize exactly.

    One row-local bigram stream → vocab²-bounded counts; everything
    downstream is counts-frame-sized. ln of INTEGER counts keeps the
    cross-engine error at libm-ulp level, far under the e6 grain."""
    toks = F.col(tokens_col)
    pairs = seq.select(
        by,
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.get(toks, i).alias("a"), F.get(toks, i + 1).alias("b")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:int,b:int>>"))
        ).alias("bg"),
    ).select(by, "bg.a", "bg.b").where(
        (F.col("a") != pad_id) & (F.col("b") != pad_id)
    )
    bgc = pairs.groupBy(by, "a", "b").agg(F.count("*").alias("cab"))
    ua = bgc.groupBy(by, "a").agg(F.sum("cab").alias("ca"))
    j = bgc.join(ua, [by, "a"])
    out = j.groupBy(by).agg(
        F.sum("cab").cast("bigint").alias("n_bigrams"),
        F.countDistinct("a").cast("bigint").alias("v_left"),
        (
            F.sum(
                F.col("cab") * (F.log("ca") - F.log("cab"))
            )
            / F.sum("cab")
        ).alias("h_cond"),
    )
    return out


def nll_drift(
    seq: DataFrame,
    by: str = "source",
    ts_col: str = "event_ts",
    tokens_col: str = "tokens",
    pad_id: int = 0,
    k: float = 0.5,
    trunc: str = "day",
) -> DataFrame:
    """Token-distribution drift in MODEL space: each bucket's mean
    bigram negative log-likelihood under the PREVIOUS bucket's add-k
    bigram LM, per group — the fusion of bigram_logprob with the
    day-over-day drift pattern (ks_drift/psi_drift watch values; this
    watches sequence structure: a new scrape or tokenizer change moves
    NLL even when the unigram mix holds still).

    Pinned rules: bigrams kept iff both sides non-PAD; the LM for
    bucket t is trained on bucket t−1 only (counts c_ab, left totals
    c_a·, vocab V = distinct non-PAD tokens of t−1); unseen bigrams
    smooth to k/(c_a·+k·V) with c_a· = 0 when the left token is
    itself unseen; buckets with no predecessor bigrams are unscored;
    oov_rate = share of scored bigrams unseen in t−1.

    Shapes: ONE row-local bigram stream; per-bucket count frames are
    vocab²×buckets-bounded; the scoring join is cur-bigrams ⋈ shifted
    prev-counts on (group, a, b, epoch arithmetic) — the ks_drift
    epoch-shift equi-join, no windows, no corpus self-join."""
    step = C.TRUNC_S[trunc]
    toks = F.col(tokens_col)
    pairs = seq.select(
        by,
        F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias("ep"),
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.get(toks, i).alias("a"), F.get(toks, i + 1).alias("b")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:int,b:int>>"))
        ).alias("bg"),
    ).select(by, "ep", "bg.a", "bg.b").where(
        (F.col("a") != pad_id) & (F.col("b") != pad_id)
    )
    bgc = pairs.groupBy(by, "ep", "a", "b").agg(F.count("*").alias("cab"))
    ua = bgc.groupBy(by, "ep", "a").agg(F.sum("cab").alias("ca"))
    vv = (
        seq.select(
            by,
            F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias("ep"),
            F.explode(tokens_col).alias("t"),
        )
        .where(F.col("t") != pad_id)
        .groupBy(by, "ep")
        .agg(F.countDistinct("t").cast("double").alias("v"))
    )
    prev_bg = bgc.select(
        by, (F.col("ep") + step).alias("ep"), "a", "b",
        F.col("cab").alias("p_cab"),
    )
    prev_ua = ua.select(
        by, (F.col("ep") + step).alias("ep"), "a", F.col("ca").alias("p_ca")
    )
    prev_v = vv.select(
        by, (F.col("ep") + step).alias("ep"), F.col("v").alias("p_v")
    )
    scored = (
        pairs.join(prev_v, [by, "ep"])  # inner: gates on predecessor
        .join(prev_ua, [by, "ep", "a"], "left")
        .join(prev_bg, [by, "ep", "a", "b"], "left")
    )
    nll = -F.log(
        (F.coalesce("p_cab", F.lit(0)) + F.lit(k))
        / (F.coalesce("p_ca", F.lit(0)) + F.lit(k) * F.col("p_v"))
    )
    return scored.groupBy(by, "ep").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        (F.sum(nll) / F.count("*")).alias("avg_nll"),
        (
            F.sum(F.when(F.col("p_cab").isNull(), 1).otherwise(0))
            / F.count("*")
        ).alias("oov_rate"),
    )


def keyness_g2(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 10,
) -> DataFrame:
    """Dunning log-likelihood (G²) keyness: the top-k words most
    DISTINCTIVE of each group vs the rest of the corpus — the
    corpus-linguistics standard for "what does this source talk about
    that the others don't" (raw frequency ranks stopwords; tf-idf is
    per-doc; G² compares a group against its complement with a proper
    likelihood-ratio statistic).

    For word w in group g: a = count in g, b = count elsewhere,
    c = total words in g, d = total words elsewhere, T = c + d,
    G² = 2·(a·ln(aT/(c(a+b))) + b·ln(bT/(d(a+b)))), zero-count terms
    dropped (their limit is 0). `overused` = a·d > b·c — an INTEGER
    cross-product, so the direction flag is cross-engine exact; only
    words occurring in g (a ≥ 1) are candidates. Ranking: e6-rounded
    G² desc, word asc — deterministic ties.

    Shapes: one explode → (group, word) count (groups×vocab-bounded
    from there on); word totals re-aggregated from those counts (NOT a
    second corpus pass); group totals broadcast; rank window over
    groups×vocab rows. No corpus-sized join anywhere."""
    words = docs.select(
        F.col(group_col).alias("g"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
    ).where(F.col("w") != "")
    # gw feeds four consumers (totals, word totals, grand total, the
    # join); WITHOUT materialization Catalyst re-derives it per
    # consumer and the CORPUS is rescanned 5x (caught by
    # test_plans.py::test_keyness_no_second_corpus_pass). The frame is
    # groups*vocab-bounded - safe executor state at any corpus size.
    gw = words.groupBy("g", "w").agg(F.count("*").cast("bigint").alias("a")).cache()
    gtot = gw.groupBy("g").agg(F.sum("a").cast("bigint").alias("c"))
    wtot = gw.groupBy("w").agg(F.sum("a").cast("bigint").alias("ab"))
    tot = gtot.agg(F.sum("c").cast("bigint").alias("t"))
    j = (
        gw.join(wtot, "w")
        .join(F.broadcast(gtot), "g")
        .crossJoin(F.broadcast(tot))
        .withColumn("b", F.col("ab") - F.col("a"))
        .withColumn("d", F.col("t") - F.col("c"))
    )
    a, b, c, d, t, ab = (F.col(x).cast("double") for x in ("a", "b", "c", "d", "t", "ab"))
    term1 = F.when(F.col("a") > 0, a * F.log(a * t / (c * ab))).otherwise(F.lit(0.0))
    term2 = F.when(F.col("b") > 0, b * F.log(b * t / (d * ab))).otherwise(F.lit(0.0))
    scored = j.select(
        F.col("g").alias(group_col),
        "w",
        "a",
        "b",
        (F.lit(2.0) * (term1 + term2)).alias("g2"),
        (F.col("a") * F.col("d") > F.col("b") * F.col("c")).alias("overused"),
    )
    rk = F.row_number().over(
        Window.partitionBy(group_col).orderBy(
            F.round(F.col("g2") * 1e6).cast("bigint").desc(), F.col("w").asc()
        )
    )
    return (
        scored.withColumn("rank", rk.cast("bigint"))
        .where(F.col("rank") <= top_k)
    )


def mattr(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 10,
) -> DataFrame:
    """Moving-average type-token ratio (MATTR, Covington & McFall):
    the length-robust lexical-diversity score — plain TTR shrinks
    mechanically with document length, so it can't be compared across
    docs; MATTR averages the TTR of every length-`window` sliding
    span, which is length-invariant.

    Pinned rules: words = whitespace split (empty dropped); docs with
    n < window fall back to plain TTR (distinct/n) with n_windows = 0
    — the standard short-text convention; zero-word docs are dropped.
    MATTR is computed as an INTEGER sum of per-span distinct counts
    divided by window·n_windows, so both engines round from the same
    rational.

    Shapes: everything is row-local array expressions (sequence →
    slice → array_distinct → size) inside whole-stage codegen — zero
    shuffles, O(n·window) work per doc, embarrassingly parallel at any
    corpus size."""
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != ""
    )
    d = docs.withColumn("_ws", words).withColumn(
        "n_words", F.size("_ws").cast("bigint")
    ).where(F.col("n_words") >= 1)
    n = F.col("n_words")
    w = F.lit(window)
    n_win = F.greatest(n - w + 1, F.lit(0)).cast("bigint")
    span_distinct = F.transform(
        F.sequence(F.lit(1), (n - w + 1).cast("int")),
        lambda p: F.size(F.array_distinct(F.slice(F.col("_ws"), p, w))),
    )
    sum_distinct = F.aggregate(
        span_distinct, F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    ttr = F.size(F.array_distinct(F.col("_ws"))).cast("double") / n
    mattr_col = F.when(
        n >= w,
        sum_distinct.cast("double") / (w.cast("double") * n_win.cast("double")),
    ).otherwise(ttr)
    return d.select(
        *[c for c in docs.columns],
        "n_words",
        F.when(n >= w, n_win).otherwise(F.lit(0).cast("bigint")).alias("n_windows"),
        ttr.alias("ttr"),
        mattr_col.alias("mattr"),
    )


def textrank_keywords(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    damping: float = 0.85,
    iters: int = 3,
    top_k: int = 10,
) -> DataFrame:
    """TextRank keyword extraction per group: PageRank over the word
    ADJACENCY graph (undirected, weight = corpus co-occurrence count
    of the word bigram, self-loops dropped), run as a fixed number of
    UNROLLED power-iteration rounds — the graph-centrality keyword
    ranker (frequency ranks stopwords; G² needs a contrast corpus;
    TextRank scores a word by the rank mass of its neighborhood).

    r ← (1−d) + d·Σ_{j∈N(i)} w_ji·r_j/deg_j, init r = 1, deg_j =
    Σ_k w_jk. `iters` is FIXED and unrolled (same design as
    pca_top_component: a deterministic, oracle-replayable recursion;
    the iteration is contractive so ulp noise damps, and outputs are
    e6-rounded). Candidates = words in ≥1 adjacency; ties broken by
    word asc on the e6-rounded rank.

    Shapes: bigram edges are ROW-LOCAL array expressions, then one
    (group, a, b) count — edge-set-bounded from there on; each
    iteration is ONE vocab-bounded join + agg (3 total), never a
    corpus rescan; degrees are attached once up front."""
    ws = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != ""
    )
    d = docs.select(F.col(group_col).alias("g"), ws.alias("_ws")).where(
        F.size("_ws") >= 2
    )
    bigr = d.select(
        "g",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), (F.size("_ws") - 1).cast("int")),
                lambda i: F.struct(
                    F.get(F.col("_ws"), i - 1).alias("a"),
                    F.get(F.col("_ws"), i).alias("b"),
                ),
            )
        ).alias("e"),
    ).select("g", F.col("e.a").alias("a"), F.col("e.b").alias("b")).where(
        F.col("a") != F.col("b")
    )
    sym = bigr.union(bigr.select("g", F.col("b").alias("a"), F.col("a").alias("b")))
    edges = sym.groupBy("g", "a", "b").agg(
        F.count("*").cast("double").alias("w")
    )
    deg = edges.groupBy("g", "a").agg(F.sum("w").alias("deg"))
    # each unrolled round joins onto ew; without materialization every
    # round re-derives edges from the CORPUS (iters+1 scans). Edge-set
    # bounded - safe to cache at any corpus size.
    ew = edges.join(deg, ["g", "a"]).cache()
    r = deg.select("g", F.col("a").alias("node"), F.lit(1.0).alias("r"))
    dmp = F.lit(float(damping))
    for _ in range(iters):
        contrib = ew.join(
            r.select("g", F.col("node").alias("a"), "r"), ["g", "a"]
        ).groupBy("g", F.col("b").alias("node")).agg(
            F.sum(F.col("w") * F.col("r") / F.col("deg")).alias("_m")
        )
        r = contrib.select(
            "g", "node", (F.lit(1.0) - dmp + dmp * F.col("_m")).alias("r")
        )
    rk = F.row_number().over(
        Window.partitionBy("g").orderBy(
            F.round(F.col("r") * 1e6).cast("bigint").desc(), F.col("node").asc()
        )
    )
    return (
        r.withColumn("rank", rk.cast("bigint"))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("g").alias(group_col),
            F.col("node").alias("w"),
            F.col("r").alias("textrank"),
            "rank",
        )
    )


def ngram_uniqueness(
    seq: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
    pad_id: int = 0,
    max_n: int = 4,
) -> DataFrame:
    """Unique-n-gram ratio curve per group for n = 1..max_n: distinct
    n-grams / total n-grams over the token streams — the corpus-level
    dedup-health / memorization monitor (a source whose 4-gram
    uniqueness sags is template-spam or duplicate-laden even when
    whole-doc dedup finds nothing; the CURVE localizes the repetition
    scale). Complements the per-doc dup_ngram fraction with the
    cross-doc aggregate view.

    Pinned rules: an n-gram is kept iff ALL n positions are non-PAD
    (PAD breaks adjacency — the bigram_pmi rule generalized); a gram's
    key is (n, k1, k2), its int32 tokens packed pairwise into two
    bigints (k1 = t0<<32 | t1, k2 = t2<<32 | t3, absent positions 0) —
    injective for n ≤ 4, so max_n > 4 raises ValueError instead of
    silently colliding 5-grams that share their first four tokens, and
    so does a token column whose elements are not int (wider ids would
    collide in the 32-bit halves);
    groups with zero kept n-grams at some n emit no row for that n.

    Shapes: the n-gram streams are ROW-LOCAL array expressions flattened
    into one explode; ONE (group, n, gram-key) count agg (map-side
    combined) then a groups×n-bounded finish. The gram key is the
    PACKED FIXED-WIDTH form (n ≤ 4 int32 tokens → two bigints via
    shift/or — injective per n, so distinct keys ↔ distinct grams
    exactly): r5 measured the original string-serialized grams
    explode-volume-bound, but the "volume" cost was the per-gram
    expression work (two array slices + a per-element string cast +
    a join per gram); packing replaces that with ~n array gets and
    two shift/ors, and the agg hashes 20-byte fixed-width keys
    instead of variable strings (r6, guide §2.3 narrower types —
    before/after in OPTIMIZATION_r06.md). At 10^12 scale this op
    rides the per-(source, day) wave bound like every tier job,
    never one corpus-wide agg."""
    if max_n > 4:
        raise ValueError(
            f"ngram_uniqueness: max_n={max_n} > 4; the packed gram key "
            "holds at most 4 tokens"
        )
    elem = seq.schema[tokens_col].dataType.elementType
    if not isinstance(elem, IntegerType):
        raise ValueError(
            f"ngram_uniqueness: {tokens_col} holds {elem.simpleString()} "
            "tokens; the packed gram key needs int (32-bit) ids"
        )
    toks = F.col(tokens_col)

    def _pack2(a, b):
        # injective int32-pair → int64: (a << 32) | (b & 0xFFFFFFFF)
        return F.shiftleft(a.cast("bigint"), 32).bitwiseOR(
            b.cast("bigint").bitwiseAND(F.lit(0xFFFFFFFF))
        )

    _zero = F.lit(0).cast("bigint")

    def grams(n: int):
        def tok(p, j):
            return F.get(toks, p + j) if j else F.get(toks, p)

        def ok(p):
            c = tok(p, 0) != pad_id
            for j in range(1, n):
                c = c & (tok(p, j) != pad_id)
            return c

        def key(p):
            k1 = _pack2(tok(p, 0), tok(p, 1) if n >= 2 else F.lit(0))
            k2 = (
                _pack2(tok(p, 2), tok(p, 3) if n >= 4 else F.lit(0))
                if n >= 3
                else _zero
            )
            return F.struct(
                F.lit(n).alias("n"), k1.alias("k1"), k2.alias("k2")
            )

        kept = F.transform(
            F.filter(
                F.sequence(F.lit(0), (F.size(toks) - n).cast("int")), ok
            ),
            key,
        )
        return F.when(F.size(toks) >= n, kept).otherwise(
            F.array().cast("array<struct<n:int,k1:bigint,k2:bigint>>")
        )

    combined = F.flatten(F.array(*[grams(n) for n in range(1, max_n + 1)]))
    rows = seq.select(
        F.col(group_col).alias("g"), F.explode(combined).alias("e")
    ).select("g", F.col("e.n").alias("n"), F.col("e.k1").alias("k1"), F.col("e.k2").alias("k2"))
    counts = rows.groupBy("g", "n", "k1", "k2").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    return counts.groupBy("g", "n").agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("distinct_grams"),
        (F.count("*") / F.sum("cnt")).alias("uniq_ratio"),
    ).select(
        F.col("g").alias(group_col), "n", "total", "distinct_grams", "uniq_ratio"
    )


def burrows_delta(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_m: int = 30,
) -> DataFrame:
    """Burrows' Delta stylometric distance between every pair of
    groups: z-score the per-group RELATIVE frequencies of the corpus's
    top-M words (mean/σ over groups, ddof = 0), then
    Δ(a,b) = mean_w |z_a,w − z_b,w| — the standard authorship /
    register-shift detector (keyness finds WHAT differs; Delta says
    HOW FAR two sources' word-usage profiles sit apart, comparable
    across corpora because of the z-normalization).

    Pinned rules: the word panel is the corpus top-M by (count desc,
    word asc) — integer-exact selection; every (group, word) cell
    exists (absent = frequency 0, via the groups×M spine); words with
    σ = 0 across groups carry no signal and are DROPPED from the mean
    (n_words reports the kept panel size); single-group corpora emit
    nothing.

    Shapes: one explode → (group, word) count; the panel, spine, z
    matrix and pair join are all groups×M / groups²×M bounded — the
    corpus is scanned once."""
    words = docs.select(
        F.col(group_col).alias("g"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
    ).where(F.col("w") != "")
    # groups*vocab-bounded and reused 3x (panel, totals, cells) -
    # cached for the same single-corpus-scan guarantee as keyness_g2
    gw = words.groupBy("g", "w").agg(F.count("*").cast("bigint").alias("cnt")).cache()
    panel = (
        gw.groupBy("w")
        .agg(F.sum("cnt").alias("tot"))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.orderBy(F.desc("tot"), F.asc("w"))
            ),
        )
        .where(F.col("_rk") <= top_m)
        .select("w")
    )
    gtot = gw.groupBy("g").agg(F.sum("cnt").alias("gt"))
    spine = gtot.crossJoin(F.broadcast(panel))
    cells = (
        spine.join(gw, ["g", "w"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .select("g", "w", (F.col("cnt") / F.col("gt")).alias("f"))
    )
    stats = cells.groupBy("w").agg(
        F.avg("f").alias("mu"), F.stddev_pop("f").alias("sd")
    ).where(F.col("sd") > 0)
    z = cells.join(F.broadcast(stats), "w").select(
        "g", "w", ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z")
    )
    za = z.select(F.col("g").alias("ga"), "w", F.col("z").alias("za"))
    zb = z.select(F.col("g").alias("gb"), "w", F.col("z").alias("zb"))
    pairs = za.join(zb, "w").where(F.col("ga") < F.col("gb"))
    return pairs.groupBy("ga", "gb").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.avg(F.abs(F.col("za") - F.col("zb"))).alias("delta"),
    )


def positional_entropy(
    seq: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
    pad_id: int = 0,
    bucket: int = 8,
) -> DataFrame:
    """Token entropy BY SEQUENCE POSITION per group: Shannon entropy
    of the token distribution inside each `bucket`-wide position band
    — the templated-prefix/suffix detector (a source whose positions
    0–7 carry near-zero entropy starts every sequence with the same
    boilerplate header; corpus-level entropy, which dist_entropy
    already gives, averages that signal away).

    H = ln n − Σ c·ln c / n over integer counts (the exact ln-form
    every entropy op in this engine uses — both engines evaluate ln on
    integers, no probability division before the fold). PAD tokens are
    excluded (they are structure, not content); single-token bands
    emit H = 0 via c = n.

    Shapes: one posexplode → (group, band, token) count (map-side
    combined, vocab×bands-bounded after it), one bands-bounded finish.
    No joins."""
    g = F.col(group_col).alias("g")
    ex = seq.select(
        g, F.posexplode(F.col(tokens_col)).alias("pos", "t")
    ).where(F.col("t") != pad_id)
    banded = ex.select(
        "g", F.floor(F.col("pos") / bucket).cast("bigint").alias("band"), "t"
    )
    counts = banded.groupBy("g", "band", "t").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return counts.groupBy("g", "band").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("distinct_tokens"),
        (
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / F.sum("c")
        ).alias("entropy"),
    ).select(
        F.col("g").alias(group_col), "band", "n", "distinct_tokens", "entropy"
    )


def readability(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Flesch Reading Ease per doc with a DETERMINISTIC syllable
    estimator: syllables(word) = max(1, count of [aeiouy]+ vowel
    groups, case-folded) — the standard public approximation; FRE =
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words). The
    classic complexity/quality feature for curation mixes (too-low =
    legalese/generated sludge, implausibly-high = word-salad).

    Pinned rules: sentences = non-empty [.!?]+ segments, floored at 1
    (headline-style docs); words = whitespace split; zero-word docs
    dropped. All three counts are INTEGERS, so both engines derive FRE
    from the same rationals.

    Shapes: entirely row-local regexp/array expressions in whole-stage
    codegen — zero shuffles, zero joins."""
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != ""
    )
    sents = F.greatest(
        F.size(
            F.filter(
                F.split(F.col(text_col), r"[.!?]+"),
                lambda s: F.trim(s) != "",
            )
        ),
        F.lit(1),
    )
    syl = F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc
        + F.greatest(
            F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), F.lit(0))),
            F.lit(1),
        ),
    )
    d = docs.withColumn("n_words", F.size(words).cast("bigint")).where(
        F.col("n_words") >= 1
    )
    d = d.withColumn("n_sentences", sents.cast("bigint")).withColumn(
        "n_syllables", syl
    )
    fre = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables") / F.col("n_words"))
    )
    return d.withColumn("flesch", fre)


# PII patterns: the conservative ASCII subset whose semantics are
# identical in Java regex (Spark) and RE2 (DuckDB) — no lookaround, no
# backrefs, \b and {m,n} mean the same thing in both. Replacement
# ORDER is part of the contract: emails first (so the digits inside
# user123@... are consumed as part of the email, not double-counted
# as a number run), then IPv4, then long digit runs.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_NUM = r"\d{9,}"


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrub: count and redact emails / IPv4s / long digit runs —
    the standard pre-release curation pass for a training corpus.

    Emits per doc: pii_email_n / pii_ip_n / pii_num_n (match counts
    on the ORIGINAL text for email, post-email text for ip/num — each
    count is "what the corresponding replace actually redacted") and
    `redacted` (chained regexp_replace with <EMAIL>/<IP>/<NUM>).

    Pure row-local regexp expressions — whole-stage codegen, zero
    shuffles, zero Python; patterns are the Java∩RE2-portable subset
    so a DuckDB oracle replays them byte-for-byte."""
    t0 = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t0, F.lit(PII_EMAIL), 0))
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    n_ip = F.size(F.regexp_extract_all(t1, F.lit(PII_IPV4), 0))
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    n_num = F.size(F.regexp_extract_all(t2, F.lit(PII_NUM), 0))
    t3 = F.regexp_replace(t2, PII_NUM, "<NUM>")
    return docs.select(
        "*",
        n_email.cast("bigint").alias("pii_email_n"),
        n_ip.cast("bigint").alias("pii_ip_n"),
        n_num.cast("bigint").alias("pii_num_n"),
        t3.alias("redacted"),
    )


def kneser_ney_logprob(
    seq: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    pad_id: int = 0,
    d: float = 0.75,
) -> DataFrame:
    """Per-document log-likelihood under the corpus's interpolated
    Kneser-Ney bigram LM — the classic smoothing that scores a word
    by how many CONTEXTS it completes, not how often it occurs
    (add-k over-rewards high-frequency tokens glued to the wrong
    neighbors; KN's continuation probability is the standard fix):

        p(b|a) = (C(ab) − d)/C(a·) + d·N1+(a·)/C(a·) · N1+(·b)/T

    with N1+(a·)/N1+(·b) the distinct right/left-neighbor counts, T
    the distinct-bigram-type total, d the absolute discount. C(ab)≥1
    > d for every OBSERVED bigram (the only ones a doc can contain),
    so the max(·,0) clamp is vacuous here and omitted — pinned.

    Exactness: every LM input is an integer count and d is dyadic,
    so both engines evaluate the IDENTICAL IEEE expression tree per
    bigram (the croston/kalman precedent); per-doc sums are rounded
    to e6 after summation. PAD breaks adjacency (bigram kept iff
    both sides non-PAD, as bigram_logprob); docs with zero kept
    bigrams are dropped.

    Shapes: row-local bigram stream; count frames vocab²/vocab-
    bounded; neighbor-count dims broadcast; ONE corpus-sized
    equi-join on (a, b)."""
    toks = F.col(tokens_col)
    pairs = seq.select(
        id_col,
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.get(toks, i).alias("a"), F.get(toks, i + 1).alias("b")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:int,b:int>>"))
        ).alias("bg"),
    ).select(id_col, "bg.a", "bg.b").where(
        (F.col("a") != pad_id) & (F.col("b") != pad_id)
    )
    bgc = pairs.groupBy("a", "b").agg(F.count("*").alias("cab"))
    ua = bgc.groupBy("a").agg(
        F.sum("cab").alias("ca"), F.count("*").alias("n1pa")
    )
    ub = bgc.groupBy("b").agg(F.count("*").alias("n1pb"))
    t = bgc.agg(F.count("*").cast("double").alias("t"))
    term = F.log(
        (F.col("cab") - F.lit(d)) / F.col("ca")
        + F.lit(d) * F.col("n1pa") / F.col("ca")
        * (F.col("n1pb") / F.col("t"))
    )
    scored = (
        pairs.join(bgc, ["a", "b"])
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(t))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum(term).alias("logprob"),
        (-F.sum(term) / F.count("*")).alias("avg_nll"),
    )


def chunk_sliding(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 32,
    stride: int = 24,
) -> DataFrame:
    """RAG-style sliding-window chunker: cut each doc's word stream
    into width-`width` chunks every `stride` words (overlap =
    width − stride), the per-document retrieval-chunking op that
    packing's corpus-wide concat-and-chunk deliberately is not
    (packing crosses doc boundaries; a retrieval index must never).

    Chunk rule, pinned: n_chunks = 1 + ⌈max(n_words − width, 0) /
    stride⌉ (integer form, no float ceil), chunk i starts at word
    i·stride; the LAST chunk may be shorter than `width` but always
    reaches the final word, and with stride ≤ width every word is in
    ≥1 chunk (reassembly test pins stride-prefix concatenation
    reproducing the doc). A doc of ≤ width words yields exactly one
    chunk — never zero, so no doc silently vanishes from the index.

    Scale: pure row-local split/sequence/slice expressions + one
    posexplode — zero shuffles, zero Python, output rows bounded by
    n_words/stride per doc. 100-TB shape: embarrassingly parallel,
    whole-stage codegen end to end."""
    if stride <= 0 or width <= 0 or stride > width:
        raise ValueError("need 0 < stride <= width")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    n_chunks = (
        F.lit(1)
        + F.floor(
            (F.greatest(n - width, F.lit(0)) + F.lit(stride - 1))
            / F.lit(stride)
        ).cast("int")
    )
    ex = docs.select(
        id_col,
        words.alias("_w"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
            "chunk_idx", "_ci"
        ),
    )
    chunk = F.slice(F.col("_w"), F.col("_ci") * stride + 1, width)
    return ex.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("_ci") * stride).cast("bigint").alias("start_word"),
        F.size(chunk).cast("bigint").alias("n_words"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def split_assign(
    docs: DataFrame,
    text_col: str = "text",
    train_pct: int = 96,
    val_pct: int = 2,
) -> DataFrame:
    """Deterministic leakage-aware train/val/test assignment: the
    split key is a CONTENT hash (md5 of the text), so byte-identical
    duplicates land in the SAME split by construction — the standard
    guard against a duplicated document straddling train and eval
    (id- or random-keyed splits leak exactly this way; content-keyed
    splits cannot). Re-ingesting a doc under a new id, a new source,
    or at a different corpus scale never moves it across splits.

    bucket = first-4-bytes-of-md5(text) mod 100 (big-endian hex→int:
    the one md5-derived integer both engines express natively —
    Spark conv(hex,16,10), oracle CAST('0x'||hex)); split = train if
    bucket < train_pct, val if bucket < train_pct+val_pct, else test.

    Scale: one row-local hash expression, no shuffle; downstream
    consumers filter on the `split` column and the filter pushes to
    the scan."""
    if not (0 < train_pct and 0 <= val_pct and train_pct + val_pct < 100):
        raise ValueError("need 0 < train_pct, train_pct + val_pct < 100")
    bucket = (
        F.conv(F.substring(F.md5(F.col(text_col)), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(
        "*", bucket.alias("split_bucket"), split.alias("split")
    )


def blocklist_tag(
    docs: DataFrame,
    phrases: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Multi-phrase blocklist tagger: per-doc occurrence counts for a
    small list of banned words/phrases (profanity, boilerplate, eval
    markers) with word-boundary matching — the curation filter every
    corpus release runs.

    Counting rule, pinned: the doc is single-spaced and space-padded
    (' '+text+' '), each phrase matched as ' phrase ' via the
    length-difference-after-replace identity, so 'slow' never matches
    inside 'slowly'. replace() consumes matches LEFT-TO-RIGHT
    NON-OVERLAPPING in both engines, so immediately-adjacent repeats
    (' slow slow ') count once per consumed pad space — the shared
    greedy semantics, not a float or engine quirk (same rule the
    trigram langid counter rides).

    Scale: pure row-local string expressions per phrase (blocklists
    are O(10-10^3) phrases: compiled into the projection, never a
    join); zero shuffles, whole-stage codegen."""
    if not phrases:
        raise ValueError("empty blocklist")
    padded = F.concat(
        F.lit(" "),
        F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "),
        F.lit(" "),
    )
    out = docs
    hit_cols = []
    for p in phrases:
        needle = f" {p.strip()} "
        c = f"hits_{p.strip().replace(' ', '_')}"
        cnt = (
            (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
            / F.lit(len(needle))
        ).cast("bigint")
        out = out.withColumn(c, cnt)
        hit_cols.append(c)
    total = None
    for c in hit_cols:
        total = F.col(c) if total is None else total + F.col(c)
    return out.withColumn("blocklist_hits", total.cast("bigint")).withColumn(
        "blocked", F.col("blocklist_hits") > 0
    )


def span_corruption_plan(
    seq: DataFrame,
    mult: int = 31,
    mod: int = 7,
    pad_id: int = 0,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """T5-style span-corruption planning stats per sequence: which
    positions a denoising objective would mask, merged into spans,
    and the resulting encoder/decoder lengths — the batch-shape
    planner a seq2seq pretraining pipeline runs BEFORE packing (input
    and target lengths, not the raw n_tok, are what the packer must
    budget).

    The mask rule is deterministic and content-addressed so any
    engine can rebuild it from the array alone: 1-based position i of
    a non-PAD token is noised iff (t_i·mult + i) % mod == 0 (≈1/mod
    noise rate); PAD positions are never noised (pinned). Adjacent
    noised positions merge into one span; each span costs one
    sentinel, so input_len = n_tok − n_noised + n_spans and
    target_len = n_noised + n_spans + 1 (the +1 is the final EOS,
    pinned). noise_rate = n_noised / n_nonpad, null for all-PAD rows.

    Entirely row-local Catalyst (two transform/filter passes over the
    array, no explode, no shuffle, whole-stage codegen) — at corpus
    scale this is a map-only stage like the other per-doc token ops."""
    toks = F.col(tokens_col)
    n = F.size(toks)
    m = F.transform(
        toks,
        lambda x, i: F.when(
            (x != pad_id) & ((x * mult + i + 1) % mod == 0), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    seq = seq.where(n > 0).withColumn("_m", m)
    mc = F.col("_m")
    n_noised = F.aggregate(mc, F.lit(0), lambda a, x: a + x)
    n_spans = F.size(
        F.filter(
            F.sequence(F.lit(0), F.size(mc) - 1),
            lambda i: (F.get(mc, i) == 1)
            & ((i == 0) | (F.get(mc, i - 1) == 0)),
        )
    )
    n_nonpad = F.size(F.filter(toks, lambda x: x != pad_id))
    return seq.select(
        id_col,
        F.size(toks).cast("bigint").alias("n_tok"),
        n_noised.cast("bigint").alias("n_noised"),
        n_spans.cast("bigint").alias("n_spans"),
        (F.size(toks) - n_noised + n_spans).cast("bigint").alias("input_len"),
        (n_noised + n_spans + 1).cast("bigint").alias("target_len"),
        F.when(
            n_nonpad > 0,
            F.round(n_noised.cast("double") / n_nonpad * 1e6).cast("bigint"),
        ).alias("noise_rate_e6"),
    )


def mixture_weights(
    docs: DataFrame,
    token_budget: int = 50_000,
    min_words: int = 5,
    source_col: str = "source",
) -> DataFrame:
    """Curation mixture planning: per-source sampling weights that hit
    a global token budget with an equal split across sources — the
    step between "filtered corpus" and "training mix" (every released
    data recipe publishes exactly this table: source, available
    tokens, weight, sampled tokens).

    Quality gate (pinned, integer-exact): a doc counts iff
    n_words ≥ min_words AND 10·|distinct words| > 3·|words| (TTR > 0.3
    without a float compare). Only sources with ≥1 passing doc get a
    row AND share the budget: target = budget // n_sources (integer
    floor). weight = min(1, target/avail) — an under-supplied source
    is taken whole (weight 1e6), an over-supplied one is downsampled;
    sampled_tokens = min(avail, target) so Σ sampled never exceeds the
    budget.

    Scale shape: one corpus scan → map-side-combined groupBy(source)
    to a sources-bounded frame; n_sources joins back as a broadcast
    1-row aggregate (control plane). The weights then drive a
    row-local hash filter (mixture_sample) — planning and sampling
    stay two cheap passes."""
    w = F.split(F.trim(F.col("text")), r"\s+")
    nw = F.size(w)
    passes = (nw >= min_words) & (
        F.size(F.array_distinct(w)) * 10 > nw * 3
    )
    per_src = (
        docs.where(passes)
        .groupBy(source_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(nw.cast("bigint")).alias("avail_tokens"),
        )
    )
    n_src = per_src.agg(F.count("*").cast("bigint").alias("_ns"))
    j = per_src.crossJoin(F.broadcast(n_src))
    target = (F.lit(token_budget).cast("bigint") / F.col("_ns")).cast(
        "bigint"
    )
    return j.select(
        source_col,
        "n_docs",
        "avail_tokens",
        target.alias("target_tokens"),
        F.least(
            F.lit(1_000_000).cast("bigint"),
            F.round(
                target.cast("double") / F.col("avail_tokens") * 1e6
            ).cast("bigint"),
        ).alias("weight_e6"),
        F.least(F.col("avail_tokens"), target).alias("sampled_tokens"),
    )


def lang_mix(docs: DataFrame, source_col: str = "source") -> DataFrame:
    """Language-mix diagnostics per source: how many languages, which
    dominates and by how much, and the Shannon entropy of the mix —
    the data-mixture monitor that catches a "multilingual" source
    quietly collapsing to one language (entropy → 0) or an English
    source picking up crawl contamination (n_langs and entropy rise).

    Pins: dominant ties break to the lexicographically smallest lang
    (row_number over (c desc, lang asc) — cross-engine stable);
    entropy uses the exact integer-count ln-form H = ln N − (Σ c·ln c)/N
    shared by the other entropy ops. Scale shape: one map-side-combined
    (source, lang) count agg; the window and the finishing agg both run
    on that sources×langs-bounded frame — the corpus is scanned once."""
    c = docs.groupBy(source_col, "lang").agg(
        F.count("*").cast("bigint").alias("c")
    )
    n = F.sum("c")
    ent = F.log(n.cast("double")) - F.sum(
        F.col("c").cast("double") * F.log(F.col("c").cast("double"))
    ) / n
    agg = c.groupBy(source_col).agg(
        n.cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_langs"),
        F.round(ent * 1e6).cast("bigint").alias("entropy_e6"),
    )
    w = Window.partitionBy(source_col).orderBy(
        F.desc("c"), F.asc("lang")
    )
    top = (
        c.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            source_col,
            F.col("lang").alias("top_lang"),
            F.col("c").alias("top_n"),
        )
    )
    return agg.join(top, source_col).select(
        source_col,
        "n_docs",
        "n_langs",
        "top_lang",
        "top_n",
        F.round(F.col("top_n").cast("double") / F.col("n_docs") * 1e6)
        .cast("bigint")
        .alias("top_share_e6"),
        "entropy_e6",
    )


def cdc_chunks(
    seq: DataFrame,
    window: int = 4,
    mult: int = 31,
    prime: int = 1_000_003,
    mask_mod: int = 64,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking over the token stream: cut after
    1-based position i (window ≤ i < n) iff the rolling polynomial
    hash of the last `window` tokens, H_i = (Σ_j t_{i−j}·mult^j) mod
    prime, satisfies H_i mod mask_mod == 0 (expected chunk ≈ mask_mod
    tokens). Content-defined boundaries are what make chunk-level
    dedup survive INSERTIONS: a fixed-stride chunker shifts every
    boundary after an edit, CDC re-synchronizes within one window —
    the storage/dedup counterpart of the RAG sliding chunker. The
    boundary md5 forces both engines to cut the IDENTICAL positions.

    Pins: the hash runs over the RAW array (PAD included — chunking is
    a storage decision, not a linguistic one); position n is never a
    boundary (no empty tail chunk); docs shorter than `window` are one
    chunk with no boundaries (md5 of the empty string); mean_chunk =
    n / n_chunks exact. All arithmetic is integer (max term
    131071·31³ ≈ 3.9e9, sums inside int64).

    Scale shape: one filter over a per-row index sequence + slice
    arithmetic — row-local, no explode, no shuffle."""
    toks = F.col(tokens_col)
    n = F.size(toks)
    pw = [mult**j for j in range(window)]
    h = lambda i: sum(  # noqa: E731
        (F.get(toks, i - 1 - j).cast("bigint") * F.lit(pw[j]))
        for j in range(window)
    ) % prime
    b = F.filter(
        F.sequence(F.lit(window), n - 1),
        lambda i: h(i) % mask_mod == 0,
    )
    seq = seq.where(n > 0).withColumn("_b", b)
    bc = F.col("_b")
    starts = F.concat(F.array(F.lit(1)), F.transform(bc, lambda x: x + 1))
    ends = F.concat(bc, F.array(n))
    lens = F.zip_with(starts, ends, lambda s, e: e - s + 1)
    n_chunks = F.size(bc) + 1
    return seq.select(
        id_col,
        n.cast("bigint").alias("n_tok"),
        n_chunks.cast("bigint").alias("n_chunks"),
        F.array_max(lens).cast("bigint").alias("max_chunk"),
        F.round(n.cast("double") / n_chunks * 1e6)
        .cast("bigint")
        .alias("mean_chunk_e6"),
        F.md5(
            F.array_join(F.transform(bc, lambda x: x.cast("string")), ",")
        ).alias("boundaries_md5"),
    )


def neg_sampling_table(
    seq: DataFrame,
    k: int = 64,
    pad_id: int = 0,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Word2vec-style negative-sampling table head: corpus unigram
    counts raised to the 3/4 power — the standard flattening that
    keeps frequent tokens from dominating sampled negatives — for the
    top-k tokens by count. Emits the exact count, the exact count
    share, and the unnormalized 3/4-power weight; the consumer
    normalizes over its own shard (normalizing HERE would mean a
    131k-term float sum whose accumulation order no two engines
    share — the one non-deterministic step, deliberately left out).

    Exactness pins: c^0.75 is computed as sqrt(c)·sqrt(sqrt(c)) —
    sqrt is IEEE-correctly-rounded everywhere, so two correctly-
    rounded sqrts of an exact integer give the identical double in
    any engine, where pow(c, 0.75) is libm-dependent (measured: 1 ulp
    apart on this box). Ranking is on (count desc, token asc) —
    integers only. PAD is excluded (it is a structural token, never a
    negative).

    Scale shape: one posexplode + map-side-combined count agg to a
    vocab-bounded frame; the total joins back as a broadcast 1-row
    agg; top-k is an orderBy+limit (TakeOrderedAndProject)."""
    ex = seq.select(F.explode(tokens_col).alias("t")).where(
        F.col("t") != pad_id
    )
    c = ex.groupBy("t").agg(F.count("*").cast("bigint").alias("c"))
    tot = c.agg(F.sum("c").cast("bigint").alias("_tot"))
    j = c.crossJoin(F.broadcast(tot))
    cd = F.col("c").cast("double")
    w = F.sqrt(cd) * F.sqrt(F.sqrt(cd))
    return (
        j.orderBy(F.desc("c"), F.asc("t"))
        .limit(k)
        .select(
            F.col("t").cast("bigint").alias("token"),
            "c",
            F.round(cd / F.col("_tot") * 1e6).cast("bigint").alias(
                "share_e6"
            ),
            F.round(w * 1e6).cast("bigint").alias("w34_e6"),
        )
    )


def prefix_compression(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Prefix-compression estimator per source: sort the source's
    texts, measure each text's longest common prefix with its
    predecessor, and report the byte share a front-coded (prefix-
    compressed) encoding would save — the layout probe for string-
    keyed storage (sorted dictionary pages, SSTable-style key blocks:
    savings near 0 say the column should be hashed, high savings say
    sorted front-coding pays).

    Pins: order is (text, doc_id) so duplicate texts are adjacent and
    deterministic (their lcp = full length — the degenerate best
    case); the first text of each source contributes lcp 0; savings =
    Σ lcp / Σ len from exact bigints; lcp is the first mismatching
    character position minus one (char-array compare, length-bounded).

    Scale shape: one window sort per source key (the same shuffle a
    sorted write performs anyway) + a row-local char-array scan + one
    map-side-combined agg to a sources-bounded frame."""
    w = Window.partitionBy(source_col).orderBy(
        F.asc(text_col), F.asc(id_col)
    )
    prev = F.lag(text_col).over(w)
    d = docs.select(
        source_col,
        F.col(text_col).alias("_t"),
        prev.alias("_p"),
    )
    ca, cb = F.split("_t", ""), F.split("_p", "")
    la, lb = F.length("_t"), F.length("_p")
    mn = F.least(la, lb)
    mism = F.filter(
        F.sequence(F.lit(1), mn),
        lambda i: F.get(ca, i - 1) != F.get(cb, i - 1),
    )
    lcp = F.when(F.col("_p").isNull(), F.lit(0)).otherwise(
        F.coalesce(F.get(mism, 0) - 1, mn)
    )
    e = d.select(
        source_col,
        la.cast("bigint").alias("_len"),
        lcp.cast("bigint").alias("_lcp"),
    )
    return e.groupBy(source_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_len").alias("total_chars"),
        F.sum("_lcp").alias("total_lcp"),
        F.max("_lcp").alias("max_lcp"),
        F.round(
            F.sum("_lcp").cast("double") / F.sum("_len") * 1e6
        ).cast("bigint").alias("savings_e6"),
    )


def token_cube(docs: DataFrame, source_col: str = "source") -> DataFrame:
    """Token-accounting CUBE over (source, lang): doc and whitespace-
    token counts at every aggregation level at once — per cell, per
    source, per lang, and grand total — with the grouping id
    disambiguating levels. The one-query answer to the four questions
    every mixture review asks, computed in a single pass (CUBE's
    partial aggregates share the scan; four separate groupBys would
    read the corpus four times).

    Scale shape: Spark expands CUBE into grouping sets inside ONE
    map-side-combined aggregation — corpus scanned once, output
    bounded by Π(cardinalities+1)."""
    nw = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    return (
        docs.withColumn("_nw", nw)
        .cube(source_col, "lang")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_nw").cast("bigint").alias("n_tokens"),
        )
        .select(
            F.col("gid").cast("bigint").alias("gid"),
            source_col,
            "lang",
            "n_docs",
            "n_tokens",
        )
    )


def pad_profile(
    seq: DataFrame,
    pad_id: int = 0,
    tokens_col: str = "tokens",
    source_col: str = "source",
) -> DataFrame:
    """PAD-structure QA per source: where padding sits inside the
    sequences — the truncation/corruption detector (a tokenizer bug
    that truncates writes trailing-PAD runs; an alignment bug writes
    LEADING pads; a healthy packed corpus has interior pads only at
    the documented rate). Reports: sequence share ending in PAD,
    share starting with PAD, mean trailing-run length, mean first-PAD
    position among sequences that contain any (1-based; null when no
    sequence has a pad), and the overall PAD token rate.

    All row-local array expressions (trailing run = n − last
    non-PAD position, first-PAD via array_position) + one map-side-
    combined agg to a sources-bounded frame; every emitted number is
    a ratio of exact bigints."""
    toks = F.col(tokens_col)
    n = F.size(toks)
    # last non-pad 1-based position (0 if all pad) via max over indices
    nonpad_pos = F.filter(
        F.sequence(F.lit(1), n), lambda i: F.get(toks, i - 1) != pad_id
    )
    last_np = F.coalesce(F.array_max(nonpad_pos), F.lit(0))
    trail = (n - last_np).cast("bigint")
    first_pad = F.array_position(toks, pad_id).cast("bigint")  # 0 if none
    d = seq.where(n > 0).select(
        source_col,
        n.cast("bigint").alias("_n"),
        trail.alias("_trail"),
        first_pad.alias("_fp"),
        F.size(F.filter(toks, lambda x: x == pad_id))
        .cast("bigint")
        .alias("_np"),
        (F.get(toks, 0) == pad_id).cast("bigint").alias("_lead"),
    )
    return d.groupBy(source_col).agg(
        F.count("*").cast("bigint").alias("n_seqs"),
        F.round(
            F.sum((F.col("_trail") > 0).cast("bigint")).cast("double")
            / F.count("*")
            * 1e6
        ).cast("bigint").alias("trailing_pad_e6"),
        F.round(F.sum("_lead").cast("double") / F.count("*") * 1e6)
        .cast("bigint")
        .alias("leading_pad_e6"),
        F.round(F.sum("_trail").cast("double") / F.count("*") * 1e6)
        .cast("bigint")
        .alias("mean_trail_run_e6"),
        F.when(
            F.sum((F.col("_fp") > 0).cast("bigint")) > 0,
            F.round(
                F.sum(F.when(F.col("_fp") > 0, F.col("_fp")).otherwise(0))
                .cast("double")
                / F.sum((F.col("_fp") > 0).cast("bigint"))
                * 1e6
            ).cast("bigint"),
        ).alias("mean_first_pad_e6"),
        F.round(F.sum("_np").cast("double") / F.sum("_n") * 1e6)
        .cast("bigint")
        .alias("pad_rate_e6"),
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional-index phrase search: count exact phrase occurrences
    per document by intersecting per-word posting lists on adjacent
    positions — the index-side retrieval primitive BM25 (bag-of-words)
    cannot express ("hash table" ≠ "table hash"). Overlapping starts
    all count (distinct-word phrases cannot overlap themselves;
    pinned).

    Scale shape: the posting build filters the exploded words to the
    phrase's vocabulary BEFORE any shuffle — the per-word lists that
    join are phrase-term-frequency sized, never corpus sized; the
    k−1 adjacency joins are equi-joins on (doc, position+offset). On
    a real deployment the posting lists are the stored index and the
    build is amortized; here both build and query are measured
    together."""
    words = [w for w in phrase.strip().split() if w]
    if len(words) < 2:
        raise ValueError("phrase_search needs a multi-word phrase")
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    post = (
        docs.select(id_col, F.posexplode(ws).alias("pos", "w"))
        .where(F.col("w").isin(words))
    )
    out = post.where(F.col("w") == words[0]).select(
        id_col, F.col("pos").alias("p0")
    )
    for k, w in enumerate(words[1:], start=1):
        nxt = post.where(F.col("w") == w).select(
            id_col, (F.col("pos") - k).alias("p0")
        )
        out = out.join(nxt, [id_col, "p0"])
    return out.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_matches")
    )


def fim_plan(
    seq: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fill-in-the-middle (FIM) split planning per sequence: the
    PSM transformation an infilling pretraining objective applies —
    cut the token array into prefix|middle|suffix and emit it
    reordered as [prefix][suffix][middle], so the model learns to
    generate the middle conditioned on both sides. This op plans the
    byte movement (cuts, lengths, and the md5 of the reordered
    array); sentinel insertion is the consumer's job, pinned.

    Cuts are deterministic and content-addressed so any engine
    rebuilds them from the array alone (the span_corruption
    convention): with 1-based positions,
        h1 = Σ i·t_i        h2 = Σ i²·t_i          (exact bigints)
        c1 = h1 mod (n+1)                         ∈ [0, n]
        c2 = c1 + (h2 mod (n − c1 + 1))           ∈ [c1, n]
    prefix = t[1..c1], middle = t[c1+1..c2], suffix = t[c2+1..n];
    empty segments are legal (c1 = 0, c2 = c1, or c2 = n). PAD
    tokens are ordinary content here — the split is positional, not
    semantic. The md5 is over the comma-joined decimal tokens of the
    PSM concatenation, forcing both engines to cut identical
    boundaries AND move identical bytes.

    Entirely row-local Catalyst (two indexed folds + three slices, no
    explode, no shuffle) — a map-only stage at any corpus scale."""
    toks = F.col(tokens_col)
    n = F.size(toks)
    h1 = F.aggregate(
        F.transform(toks, lambda x, i: (i + 1).cast("long") * x.cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    h2 = F.aggregate(
        F.transform(
            toks,
            lambda x, i: (i + 1).cast("long") * (i + 1).cast("long")
            * x.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    d = seq.where(n > 0).select(
        F.col(id_col),
        n.cast("bigint").alias("n_tok"),
        (h1 % (n + 1).cast("long")).alias("_c1"),
        h2.alias("_h2"),
        toks.alias("_t"),
    )
    c1 = F.col("_c1")
    c2 = c1 + F.col("_h2") % (F.col("n_tok") - c1 + 1)
    d = d.withColumn("_c2", c2)
    pre = F.slice(F.col("_t"), F.lit(1), c1.cast("int"))
    mid = F.slice(
        F.col("_t"), (c1 + 1).cast("int"), (F.col("_c2") - c1).cast("int")
    )
    suf = F.slice(
        F.col("_t"),
        (F.col("_c2") + 1).cast("int"),
        (F.col("n_tok") - F.col("_c2")).cast("int"),
    )
    psm = F.concat(pre, suf, mid)
    return d.select(
        id_col,
        "n_tok",
        c1.cast("bigint").alias("prefix_len"),
        (F.col("_c2") - c1).cast("bigint").alias("middle_len"),
        (F.col("n_tok") - F.col("_c2")).cast("bigint").alias("suffix_len"),
        F.md5(
            F.concat_ws(",", F.transform(psm, lambda x: x.cast("string")))
        ).alias("psm_md5"),
    )


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverted-index build statistics per term: document frequency,
    collection frequency, the champion document (highest tf, ties →
    smallest doc_id — the entry a WAND/champion-list optimizer keeps
    hot), and the BM25 idf ln(1 + (N − df + ½)/(df + ½)) — the
    materialized-index artifact the transient posting lists of
    phrase_search / bm25 are rebuilt from. df < cf separates
    burstiness (one doc repeating a term) from spread (many docs).

    Terms are raw whitespace tokens (the phrase_search convention —
    no lowercasing or stemming, pinned); empty docs contribute
    nothing. idf is one ln over exact bigint inputs through an
    identical IEEE tree, e6-rounded; N (corpus size) is a 1-row
    control-plane scalar.

    Scale shape: one explode → map-side-combined (doc, term) tf agg
    (one shuffle on the term-doc key) → per-term agg with a struct-
    comparator champion (min_by over (−tf, doc)) to the
    vocabulary-bounded frame. No joins, no windows."""
    n_docs = docs.where(
        F.trim(F.col(text_col)) != ""
    ).count()
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    tf = words.groupBy("term", id_col).agg(
        F.count("*").cast("bigint").alias("tf")
    )
    N = F.lit(n_docs).cast("double")
    df_ = F.col("df").cast("double")
    idf = F.log(
        F.lit(1.0) + (N - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("cf"),
            F.min_by(
                id_col,
                F.struct((-F.col("tf")).alias("neg"), F.col(id_col).alias("d")),
            ).alias("champion_doc"),
            F.max("tf").cast("bigint").alias("champion_tf"),
        )
        .select(
            "term",
            "df",
            "cf",
            "champion_doc",
            "champion_tf",
            F.round(idf * 1e6).cast("bigint").alias("idf_e6"),
        )
    )


def retrieval_eval(
    docs: DataFrame,
    queries: list[tuple[str, list[str]]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Offline retrieval-quality evaluation: for each query, rank the
    corpus by BM25 (the bm25_topk arithmetic, verbatim) and score the
    top-k ranking against a DETERMINISTIC binary relevance label —
    a document is relevant iff it contains ALL the query's terms (AND
    semantics, so both engines derive identical ground truth from the
    text alone). Emits, per query: n_rel (corpus-wide relevant count),
    hits (relevant in top-k), mrr_e6, precision_e6, recall_e6,
    ndcg_e6 — the eval harness that turns ranking changes into
    numbers, next to the ranking ops themselves (bm25_topk,
    hybrid_rrf) the way emb_ann_recall audits the ANN path.

    Metric pins: ranking order is (score_e6 DESC, doc_id ASC) — the
    e6-rounded-score tie rule of bm25_topk; MRR is measured AT k
    (1/rank of the first relevant in the top-k, exact integer ratio;
    0 if none made the cut — even when relevant docs exist further
    down); precision@k divides by k always; recall and nDCG are null
    when n_rel = 0 (undefined, not 0); DCG gain weights enter as
    PRE-QUANTIZED bigint literals w(i) = round(1e12/log2(i+1)) so the
    per-query DCG sum is an order-free exact integer (the session_nll
    quantize-before-sum trick), and IDCG is the literal prefix sum at
    min(n_rel, k) — ndcg_e6 is one bigint ratio. A query matching
    zero documents still emits its row (hits 0, null recall/ndcg).

    Scale shape: ONE corpus scan with row-local per-term tf over the
    UNION query vocabulary (array-of-struct filter — no vocab-keyed
    shuffle), exploded only to the matched (doc, term) rows; df /
    corpus stats / query dims are all broadcast-bounded; the rank
    window partitions by qid over the matched-docs frame; every
    subsequent agg is queries-bounded."""
    import math as _math

    if not queries or any(not ts for _, ts in queries):
        raise ValueError("retrieval_eval: empty query set or query")
    vocab = sorted({t for _, ts in queries for t in ts})
    spark = docs.sparkSession
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    base = docs.select(
        id_col,
        F.size(words).alias("dl"),
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("term"),
                    F.size(
                        F.filter(words, lambda x: x == F.lit(t))
                    ).alias("tf"),
                )
                for t in vocab
            ]
        ).alias("_tfs"),
    )
    st = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tfl = (
        base.select(id_col, "dl", F.explode("_tfs").alias("e"))
        .select(id_col, "dl", "e.term", "e.tf")
        .where(F.col("tf") > 0)
    )
    dfc = tfl.groupBy("term").agg(F.count("*").alias("df"))
    qdim = spark.createDataFrame(
        [(qid, len(ts)) for qid, ts in queries], "qid string, nq int"
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in queries for t in ts],
        "qid string, term string",
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    qd = (
        tfl.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(st))
        .join(F.broadcast(qterms), "term")
        .groupBy("qid", id_col)
        .agg(
            F.count("*").alias("_nm"),
            F.round(F.sum(idf * tfn) * 1e6).cast("bigint").alias("score_e6"),
        )
        .join(F.broadcast(qdim), "qid")
        .withColumn("_rel", (F.col("_nm") == F.col("nq")).cast("bigint"))
    )
    nrel = qd.groupBy("qid").agg(F.sum("_rel").alias("n_rel"))
    wq = Window.partitionBy("qid").orderBy(
        F.desc("score_e6"), F.asc(id_col)
    )
    topk = qd.select(
        "qid", "_rel", F.row_number().over(wq).alias("_rank")
    ).where(F.col("_rank") <= k)
    ws = [round(1e12 / _math.log2(i + 1)) for i in range(1, k + 1)]
    cumw = [sum(ws[: i + 1]) for i in range(k)]
    warr = F.array(*[F.lit(w).cast("bigint") for w in ws])
    carr = F.array(*[F.lit(c).cast("bigint") for c in cumw])
    ktop = topk.groupBy("qid").agg(
        F.sum("_rel").cast("bigint").alias("hits"),
        F.min(F.when(F.col("_rel") == 1, F.col("_rank"))).alias("_fr"),
        F.sum(
            F.when(
                F.col("_rel") == 1, F.element_at(warr, F.col("_rank"))
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("_dcg"),
    )
    out = (
        qdim.join(nrel, "qid", "left")
        .join(ktop, "qid", "left")
        .na.fill({"n_rel": 0, "hits": 0, "_dcg": 0})
    )
    # greatest(..., 1) keeps the unevaluated-branch index legal under
    # ANSI when n_rel = 0 (the n_rel > 0 guard discards the value).
    idcg = F.element_at(
        carr,
        F.greatest(F.least(F.col("n_rel"), F.lit(k)), F.lit(1)).cast("int"),
    )
    return out.select(
        "qid",
        F.col("n_rel").cast("bigint").alias("n_rel"),
        F.col("hits").cast("bigint").alias("hits"),
        F.coalesce(
            F.round(F.lit(1e6) / F.col("_fr")).cast("bigint"), F.lit(0)
        ).alias("mrr_e6"),
        F.round(F.lit(1e6) * F.col("hits") / F.lit(k))
        .cast("bigint")
        .alias("precision_e6"),
        F.when(
            F.col("n_rel") > 0,
            F.round(F.lit(1e6) * F.col("hits") / F.col("n_rel")).cast(
                "bigint"
            ),
        ).alias("recall_e6"),
        F.when(
            F.col("n_rel") > 0,
            F.round(
                F.lit(1e6)
                * F.col("_dcg").cast("double")
                / idcg.cast("double")
            ).cast("bigint"),
        ).alias("ndcg_e6"),
    )


CHAR_ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz 0123456789"


def char_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alphabet: str = CHAR_ENTROPY_ALPHABET,
) -> DataFrame:
    """Character-distribution Shannon entropy per document (bits):
    H = −Σ_c p_c·log₂(p_c) over a FIXED alphabet, p_c = count_c / Σ
    counted chars. Near-zero = degenerate repetition ('aaaa…'), near
    log₂|alphabet| = uniform noise; natural text sits in a band —
    the third quality lens next to doc_quality's ratio rules and
    doc_repetition's n-gram fraction, and the classic cheap filter
    for binary-junk-pasted-as-text.

    Zero shuffles, zero explodes: every per-char count is the
    length-difference expression length(t) − length(replace(t, c))
    (the langid trick), so the whole operator is one row-local
    Catalyst projection in whole-stage codegen. The entropy fold adds
    the |alphabet| CASE terms in fixed alphabet order — the identical
    left-to-right IEEE tree in both engines. Characters outside the
    alphabet are ignored (denominator = counted chars only, so
    probabilities always sum to 1). Docs whose text contains no
    alphabet character emit n_counted = 0 with null entropy."""
    t = F.trim(F.col(text_col))
    cnts = [
        (F.length(t) - F.length(F.replace(t, F.lit(c)))).cast("bigint")
        for c in alphabet
    ]
    total = cnts[0]
    for c in cnts[1:]:
        total = total + c
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        *[c.alias(f"_c{i}") for i, c in enumerate(cnts)],
        total.alias("n_counted"),
    )
    ld = F.col("n_counted").cast("double")
    terms = [
        F.when(
            F.col(f"_c{i}") > 0,
            -(F.col(f"_c{i}").cast("double") / ld)
            * F.log2(F.col(f"_c{i}").cast("double") / ld),
        ).otherwise(F.lit(0.0))
        for i in range(len(alphabet))
    ]
    h = terms[0]
    for tm in terms[1:]:
        h = h + tm
    ndis = [
        F.when(F.col(f"_c{i}") > 0, 1).otherwise(0)
        for i in range(len(alphabet))
    ]
    nd = ndis[0]
    for x in ndis[1:]:
        nd = nd + x
    return d.select(
        "doc_id",
        "n_counted",
        nd.cast("bigint").alias("n_distinct_chars"),
        F.when(F.col("n_counted") > 0, F.round(h * 1e6))
        .cast("bigint")
        .alias("entropy_e6"),
    )


def gopher_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The published Gopher quality rules (Rae et al. 2021, table A1)
    as one row-local pass/fail vector per document — the curation
    gate every web-scale training corpus runs before tokenization.
    with_quality reports the raw ratios; this applies the NAMED
    thresholds, and every comparison is INTEGER cross-multiplication
    (3·n ≤ Σlen ≤ 10·n, 10·sym ≤ n, …) so no float exists anywhere
    and the two engines cannot disagree by an ulp.

    Rules: (1) 50 ≤ word count ≤ 100 000; (2) mean word length in
    [3, 10]; (3) symbol-to-word ratio (# or …) ≤ 0.1; (4) ≤ 90% of
    lines starting with a bullet; (5) ≤ 30% of lines ending with an
    ellipsis; (6) ≥ 80% of words contain an alphabetic char;
    (7) ≥ 2 distinct members of the 8-word stop list present.

    The whole operator is ONE whole-stage-codegen projection — no
    shuffle, no explode, no UDF; at 100 TB it is a map-only scan."""
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    lines = F.split(F.col(text_col), r"\n")
    n = F.size(w).cast("bigint")
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    ).cast("bigint")
    n_sym = F.size(
        F.filter(
            w,
            lambda x: x.contains("#") | x.contains("...") | x.contains("…"),
        )
    ).cast("bigint")
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda x: F.trim(x).startswith("•")
            | F.trim(x).startswith("-")
            | F.trim(x).startswith("*"),
        )
    ).cast("bigint")
    n_ellipsis = F.size(
        F.filter(
            lines, lambda x: x.endswith("...") | x.endswith("…")
        )
    ).cast("bigint")
    n_alpha = F.size(
        F.filter(w, lambda x: x.rlike("[A-Za-z]"))
    ).cast("bigint")
    stops = ("the", "be", "to", "of", "and", "that", "have", "with")
    n_stop = F.size(
        F.array_distinct(F.filter(w, lambda x: x.isin(*stops)))
    ).cast("bigint")
    r1 = (n >= 50) & (n <= 100_000)
    r2 = (3 * n <= sum_len) & (sum_len <= 10 * n)
    r3 = 10 * n_sym <= n
    r4 = 10 * n_bullet <= 9 * n_lines
    r5 = 10 * n_ellipsis <= 3 * n_lines
    r6 = 5 * n_alpha >= 4 * n
    r7 = n_stop >= 2
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        sum_len.alias("sum_word_len"),
        n_sym.alias("n_symbol_words"),
        n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet_lines"),
        n_ellipsis.alias("n_ellipsis_lines"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stopwords"),
        r1.alias("ok_word_count"),
        r2.alias("ok_word_len"),
        r3.alias("ok_symbol_ratio"),
        r4.alias("ok_bullets"),
        r5.alias("ok_ellipsis"),
        r6.alias("ok_alpha"),
        r7.alias("ok_stopwords"),
        (r1 & r2 & r3 & r4 & r5 & r6 & r7).alias("gopher_pass"),
    )


def c4_filters(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The published C4 cleaning heuristics (Raffel et al. 2020,
    §2.2) as a per-document audit: line-level keep counts (a line
    survives iff it ends in terminal punctuation AND has ≥ 5 words),
    sentence count (≥ 3 to keep the page), and the page-level
    discard triggers ("lorem ipsum", a curly brace). kept_frac is
    the only non-integer — a ratio of two exact ints rounded at e6
    identically in both engines.

    Like gopher_rules: ONE codegen projection, map-only at any
    scale. The three-sentence-span dedup leg of C4 lives in
    doc_dup_span_coverage — corpus-level, not row-local."""
    lines = F.split(F.col(text_col), r"\n")
    kept = F.filter(
        lines,
        lambda x: (
            F.trim(x).endswith(".")
            | F.trim(x).endswith("!")
            | F.trim(x).endswith("?")
            | F.trim(x).endswith('"')
        )
        & (F.size(F.split(F.trim(x), r"\s+")) >= 5),
    )
    n_lines = F.size(lines).cast("bigint")
    n_kept = F.size(kept).cast("bigint")
    low = F.lower(F.col(text_col))
    n_sent = (
        F.size(F.split(F.col(text_col), r"[.!?]")) - 1
    ).cast("bigint")
    has_lorem = low.contains("lorem ipsum")
    has_brace = F.col(text_col).contains("{")
    c4_pass = (
        (n_kept >= 1) & (n_sent >= 3) & ~has_lorem & ~has_brace
    )
    return docs.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        n_sent.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        F.round(
            n_kept.cast("double") / n_lines.cast("double") * 1e6
        )
        .cast("bigint")
        .alias("kept_frac_e6"),
        c4_pass.alias("c4_pass"),
    )


def dsir_weights(
    docs: DataFrame,
    is_target,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling") over hashed bigrams.

    Every doc gets log p_target(doc)/p_raw(doc) under two bag-of-
    hashed-ngram unigram models: the target distribution is fit on the
    docs where `is_target` holds (canonically: the high-quality /
    in-domain slice), the raw distribution on the WHOLE corpus, both
    add-1 smoothed over the n_buckets hashed feature space. Selecting
    top-weight docs importance-resamples the corpus toward the target
    domain — the published recipe for pretraining-data selection.

    Scale shape: ONE corpus-sized bigram explode feeds (a) the two
    bucket-count aggregations (output ≤ n_buckets rows — control
    plane) and (b) the per-(doc,bucket) regroup; the log-ratio dim
    joins back as a broadcast. No corpus self-join, no global window;
    per-gram hashing is md5_60 so both engines address identical
    buckets.
    """
    from tokens_ts import dedup

    # r6: the old transform-over-positions re-evaluated
    # split(trim(text)) INSIDE the lambda — interpreted HOF lambdas
    # have no cross-element CSE, so every position re-split the whole
    # text: O(words²) per doc. zip_with over two pre-sliced views
    # splits once (arguments are evaluated once; the lambda touches
    # only its elements). Identical gram strings: adjacent-pair
    # concat, 1-word docs contribute their single word.
    _w = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.when(
        F.size(_w) >= 2,
        F.zip_with(
            F.slice(_w, 1, F.size(_w) - 1),
            F.slice(_w, 2, F.size(_w) - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.slice(_w, 1, 1))
    g = docs.select(
        F.col(id_col),
        is_target.alias("_t"),
        F.explode(grams).alias("_g"),
    ).select(
        id_col,
        "_t",
        F.pmod(dedup.md5_60(F.col("_g")), F.lit(n_buckets)).alias("_b"),
    )
    # bucket-count dim (≤ n_buckets rows) feeds the totals AND the
    # log-ratio projection: cache so the corpus bigram explode backs
    # it once (r6 single-scan rule)
    bc = g.groupBy("_b").agg(
        F.count("*").alias("_cr"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).cast("long").alias("_ct"),
    ).cache()
    tot = bc.agg(
        F.sum("_cr").alias("_nr"), F.sum("_ct").alias("_nt")
    )
    lr = (
        bc.crossJoin(F.broadcast(tot))
        .select(
            "_b",
            (
                F.log(
                    (F.col("_ct").cast("double") + F.lit(1.0))
                    / (F.col("_nt").cast("double") + F.lit(float(n_buckets)))
                )
                - F.log(
                    (F.col("_cr").cast("double") + F.lit(1.0))
                    / (F.col("_nr").cast("double") + F.lit(float(n_buckets)))
                )
            ).alias("_lr"),
        )
    )
    per_doc = g.groupBy(id_col, "_b").agg(F.count("*").alias("_c"))
    return (
        per_doc.join(F.broadcast(lr), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").cast("long").alias("n_bigrams"),
            F.sum(F.col("_c").cast("double") * F.col("_lr")).alias("dsir"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    group_cols: list[str],
    k: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sample without replacement per group — sequential
    Poisson sampling (Ohlsson 1998): rank rows by priority
    u_i / w_i and keep the k smallest, giving inclusion probability
    approximately proportional to weight. Here u_i is the row's
    md5_60(id) and the priority is the INTEGER quotient
    hash DIV weight: no libm anywhere, so the sample itself — not
    just its size — is deterministic and cross-engine hashable,
    which no u^(1/w) floating-point scheme can promise (pow/ln differ
    by ulps across engines and an ulp at the rank boundary flips the
    selection). Ties (same quotient) break on id ascending.

    The token-budget use: weight = n_tok/n_chars samples documents
    proportional to their token mass, the pick-probability a mixture
    schedule actually wants. Non-positive weights are excluded — they
    have no sampling interpretation. Shape: row-local hash + one
    rank-filter window per group partition; no global sort."""
    from tokens_ts.dedup import md5_60

    w = Window.partitionBy(*group_cols).orderBy(
        F.col("pri").asc(), F.col(id_col).asc()
    )
    return (
        docs.where(F.col(weight_col) > 0)
        .withColumn("_h", md5_60(F.col(id_col).cast("string")))
        .withColumn(
            "pri", F.expr(f"_h DIV CAST({weight_col} AS BIGINT)")
        )
        .drop("_h")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def bigram_pred_acc(
    seq: DataFrame,
    tokens_col: str = "tokens",
    source_col: str = "source",
    pad_id: int = 0,
) -> DataFrame:
    """Top-1 bigram self-prediction accuracy per source — the
    speculative-decoding planning number: if a draft model were just
    the corpus's own bigram table, what fraction of next tokens would
    it guess right? High accuracy = the source is n-gram-predictable
    (templated/boilerplate-ish — cheap to speculate, low training
    surprise); low = high-entropy text. The DECISION-accuracy
    companion to bigram_logprob's likelihood: NLL averages the whole
    distribution, this scores only the argmax — two sources with equal
    NLL can differ sharply here.

    Pinned rules: bigrams keep the bigram_logprob contract (both sides
    non-PAD, row-local position transform); the predictor for context
    a is the highest-count continuation with ties broken to the
    SMALLEST token id (row_number over (count desc, b asc) — exact
    cross-engine); every kept bigram position scores 1 iff its b is
    the context's argmax. Sources with no kept bigrams are absent.

    Scale shape: one row-local bigram explode, a vocab²-bounded count
    frame, the argmax as a rank window on the vocab²-bounded frame,
    and ONE corpus-sized equi-join (position stream ⋈ per-context
    argmax on a — broadcastable when the observed-context set is
    small). All counts exact; accuracy is one double division."""
    toks = F.col(tokens_col)
    pairs = seq.select(
        source_col,
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.get(toks, i).alias("a"), F.get(toks, i + 1).alias("b")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:int,b:int>>"))
        ).alias("bg"),
    ).select(source_col, "bg.a", "bg.b").where(
        (F.col("a") != pad_id) & (F.col("b") != pad_id)
    )
    bgc = pairs.groupBy("a", "b").agg(F.count("*").alias("cab"))
    w = Window.partitionBy("a").orderBy(F.desc("cab"), F.asc("b"))
    pred = (
        bgc.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("a", F.col("b").alias("b_hat"))
    )
    scored = pairs.join(pred, "a")
    return (
        scored.groupBy(source_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(
                F.when(F.col("b") == F.col("b_hat"), 1).otherwise(0)
            ).cast("bigint").alias("n_correct"),
        )
        .select(
            source_col,
            "n_bigrams",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double")
                / F.col("n_bigrams").cast("double")
                * 1e6
            ).cast("bigint").alias("acc_e6"),
        )
    )


def mlm_plan(
    seq: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    pad_id: int = 0,
    vocab: int = 131072,
) -> DataFrame:
    """BERT-style masked-language-model corruption plan per sequence —
    the fourth pretraining objective next to CLM packing, FIM, and T5
    span corruption: select ~15% of non-PAD positions, then 80/10/10
    replace-with-[MASK] / replace-with-random / keep-unchanged. The
    plan is content-addressed (the span_corruption convention) so any
    engine rebuilds it from the array alone — with 1-based position i
    and token t:

        selected  ⇔  t ≠ PAD ∧ (31t + i) mod 20 < 3        (15%)
        action    =  (17t + i) mod 10 → <8 mask, =8 random, =9 keep
        random id =  1 + (13t + 7i) mod (V−1)   ∈ [1, V−1]

    [MASK] is the id V (one past the vocab — never collides with
    content); the random draw is never PAD and never [MASK], pinned.
    Two md5s force full agreement: plan_md5 over the ordered
    "i:action" entries (identical positions AND actions) and
    corrupted_md5 over the corrupted token stream itself (identical
    bytes a training loader would emit). All arithmetic is exact
    int64 (t ≤ V, so 31t + i ≲ 4e6).

    Entirely row-local Catalyst (indexed transforms + filters, no
    explode, no shuffle) — a map-only stage at any corpus scale."""
    toks = F.col(tokens_col)

    def action(x, i):
        t = x.cast("long")
        pos = (i + 1).cast("long")
        sel = (x != F.lit(pad_id)) & ((t * 31 + pos) % 20 < 3)
        u = (t * 17 + pos) % 10
        return (
            F.when(~sel, F.lit(-1))
            .when(u < 8, F.lit(0))
            .when(u == 8, F.lit(1))
            .otherwise(F.lit(2))
        )

    def corrupt(x, i):
        t = x.cast("long")
        pos = (i + 1).cast("long")
        a = action(x, i)
        return (
            F.when(a == 0, F.lit(vocab).cast("long"))
            .when(a == 1, 1 + (t * 13 + pos * 7) % (vocab - 1))
            .otherwise(t)
        )

    d = seq.where(F.size(toks) > 0).select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tok"),
        F.size(F.filter(toks, lambda x: x != F.lit(pad_id)))
        .cast("bigint")
        .alias("n_nonpad"),
        F.transform(toks, action).alias("_a"),
        F.transform(toks, corrupt).alias("_c"),
    )
    a = F.col("_a")
    n_cls = lambda k: F.size(  # noqa: E731
        F.filter(a, lambda x: x == F.lit(k))
    ).cast("bigint")
    entries = F.filter(
        F.transform(
            a,
            lambda x, i: F.when(
                x >= 0,
                F.concat_ws(
                    ":", (i + 1).cast("string"), x.cast("string")
                ),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    n_sel = n_cls(0) + n_cls(1) + n_cls(2)
    return d.select(
        id_col,
        "n_tok",
        "n_nonpad",
        n_sel.alias("n_sel"),
        n_cls(0).alias("n_mask"),
        n_cls(1).alias("n_random"),
        n_cls(2).alias("n_keep"),
        F.when(
            F.col("n_nonpad") > 0,
            F.round(
                n_sel.cast("double")
                / F.col("n_nonpad").cast("double")
                * 1e6
            ).cast("bigint"),
        ).alias("sel_rate_e6"),
        F.md5(F.concat_ws(",", entries)).alias("plan_md5"),
        F.md5(
            F.concat_ws(
                ",", F.transform(F.col("_c"), lambda x: x.cast("string"))
            )
        ).alias("corrupted_md5"),
    )


def ccnet_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """CCNet-style perplexity bucketing per source: rank each source's
    documents by their corpus-unigram mean log-probability and split
    into head / middle / tail THIRDS — the classic LM-filtering
    decision table (CCNet keeps head+middle and drops tail; the
    report's per-bucket doc/word mass IS the data-budget cost of that
    policy, and the bucket score ranges say how sharp the cut is).

    Determinism: scores enter as the e4-quantized mean logprob (the
    doc_unigram_logprob grain — ranking a raw double would let an ulp
    flip bucket membership at the boundary), ranking ties break by
    doc_id ASC, and bucket edges are the pure integer inequalities
    rn·3 ≤ n (head) / rn·3 ≤ 2n (middle) — no percentile call, no
    floating boundary. Unscorable docs (no words) carry no row, by
    the unigram contract.

    Scale shape: unigram_logprob's two shuffles + one doc_id join to
    recover the source + ONE rank window per source (each source's
    docs sort independently — never a global sort) + a sources×3
    bounded agg."""
    lp = unigram_logprob(docs, text_col=text_col, id_col=id_col)
    src = docs.select(id_col, source_col)
    scored = lp.join(src, id_col).select(
        id_col,
        source_col,
        "n_words",
        F.round(F.col("mean_logprob") * 1e4).cast("bigint").alias("lp_e4"),
    )
    w = Window.partitionBy(source_col).orderBy(
        F.col("lp_e4").desc(), F.col(id_col).asc()
    )
    n = F.count("*").over(Window.partitionBy(source_col))
    rn = F.row_number().over(w)
    b = scored.select(
        source_col,
        "n_words",
        "lp_e4",
        F.when(rn * 3 <= n, F.lit("head"))
        .when(rn * 3 <= 2 * n, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return b.groupBy(source_col, "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.max("lp_e4").alias("lp_max_e4"),
        F.min("lp_e4").alias("lp_min_e4"),
    )


def heldout_nll(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    train_pct: int = 96,
    val_pct: int = 2,
) -> DataFrame:
    """Held-out NLL per source under the corpus's own add-1 unigram
    LM — the generalization twin of unigram_logprob: that operator
    scores every doc under an LM trained on EVERYTHING (so dupes and
    boilerplate score as likely *because they trained on themselves*),
    while this one trains on the content-hash train split only and
    evaluates on val+test, which is the shape of every real LM-filter
    decision (CCNet's wiki-LM perplexity, quality classifiers) and a
    per-source drift detector with train/eval hygiene built in: a
    source whose held-out docs read high NLL is out-of-distribution
    w.r.t. the corpus — novel or garbage, the triage the number
    exists to start.

    Add-1 smoothing with a single OOV class: p(w) = (cnt_train(w)+1)
    / (T+V+1) — unseen words share the 1/(T+V+1) mass, so the score
    is finite for any eval token. Exactness: each token's logprob
    enters PRE-QUANTIZED lp_e6 = round(ln((cnt+1)/(T+V+1))·1e6) —
    one IEEE tree over exact integers (T, V broadcast as a 1-row
    frame), so per-source sums are exact order-free bigints; the
    mean NLL is one final division. OOV rate rides along from the
    same joined frame (null train count = OOV).

    Shapes: train word counts (vocab-sized, one shuffle), T/V as a
    broadcast scalar frame, eval tokens left-join counts on word
    (AQE-splittable stop-word skew, counts side broadcast-eligible),
    sources-bounded final agg. Split assignment is the row-local
    split_assign hash — leakage-proof by construction (an exact dupe
    can never straddle train/eval)."""
    d = split_assign(docs, text_col, train_pct, val_pct)
    words = d.select(
        id_col,
        source_col,
        "split",
        F.explode(F.split(F.col(text_col), r"\s+")).alias("w"),
    ).where(F.col("w") != "")
    train_counts = (
        words.where(F.col("split") == "train")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("wc"))
    )
    tv = train_counts.agg(
        F.sum("wc").cast("bigint").alias("_t"),
        F.count("*").cast("bigint").alias("_v"),
    )
    ev = (
        words.where(F.col("split") != "train")
        .join(train_counts, "w", "left")
        .crossJoin(F.broadcast(tv))
    )
    lp = F.round(
        F.log(
            (F.coalesce(F.col("wc"), F.lit(0)) + 1).cast("double")
            / (F.col("_t") + F.col("_v") + 1).cast("double")
        )
        * 1e6
    ).cast("bigint")
    g = ev.select(
        source_col,
        id_col,
        lp.alias("_lp"),
        F.col("wc").isNull().cast("bigint").alias("_oov"),
    ).groupBy(source_col)
    return g.agg(
        F.countDistinct(id_col).cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("_oov").alias("n_oov"),
        F.sum("_lp").alias("lp_sum_e6"),
        F.round(
            -F.sum("_lp").cast("double") / F.count("*").cast("double")
        )
        .cast("bigint")
        .alias("mean_nll_e6"),
    )
