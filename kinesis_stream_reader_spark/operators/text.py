"""Text-analysis operators over the `documents` table: token counting,
quality scoring, language-ID, and document fingerprinting.

Extension surface (north-star mandate): the building blocks of an LLM
training-data pipeline. All pure built-in column expressions — whole
document sets stream through whole-stage codegen with no UDF, no
shuffle (except the trivially small aggregations), and full column
pruning (only `text` + keys are read from parquet).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import seqdp, tiny_df
from .rowmap import map_rows
from ..session import env_int

# Word-boundary-ish regex for a BPE-style pre-tokenizer: word pieces,
# numbers, or single non-space symbols (public GPT-2 pre-tokenizer
# spirit, simplified to what Spark/DuckDB regex engines share).
BPE_ISH_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword marker lists for the n-gram-free heuristic
# language ID. On real corpora these are the classic discriminative
# function words; on the driver's synthetic shared-vocabulary documents
# they mostly exercise the scoring plumbing deterministically.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "y"),
    "fr": ("le", "la", "les", "et"),
    "zh": ("的", "了", "是", "我"),
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization (split drops nothing; empty-string guard)."""
    return F.split(F.trim(col), r"\s+")


def text_token_count(documents: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count per document."""
    return documents.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_REGEX), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def text_quality(documents: DataFrame) -> DataFrame:
    """Quality-score features: length, token stats, punctuation and
    stopword ratios — the standard cheap pre-filters before expensive
    dedup/model scoring."""
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0)).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))).cast("long")
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars / n_tokens, 4).alias("avg_token_len"),
        F.round(n_punct / n_chars, 4).alias("punct_ratio"),
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
    )


def text_lang_id(documents: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax over per-language marker-token
    counts, deterministic lexicographic tie-break. Expressed as a
    greatest-of-structs max so the whole thing is one codegen stage."""
    toks = tokens(F.col("text"))

    def marker_pred(markers):
        # factory, not a default-arg lambda: PySpark counts default args
        # as lambda parameters and would mis-bind the HOF arity
        return lambda t: t.isin(*markers)

    scored = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, marker_pred(markers)))
                .cast("long")
                .alias("score"),
                # negate lexicographic order into the sort key so
                # array_max's (score, key) comparison tie-breaks to the
                # alphabetically-first language deterministically
                F.lit(-i).alias("order"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, markers) in enumerate(sorted(LANG_MARKERS.items()))
        ]
    )  # noqa: E501
    best = F.array_max(scored)
    return documents.select(
        "doc_id",
        "lang",
        best.getField("lang").alias("lang_pred"),
        best.getField("score").alias("marker_hits"),
    )


def token_frequencies(documents: DataFrame, min_total: int = 100) -> DataFrame:
    """Corpus token-frequency table: explode tokens (the lateral-view /
    1->N row surface) and count totals + document frequency per token.

    Scale shape: posexplode-free plain explode (order irrelevant), one
    shuffle on the token; document frequency via count_distinct rides
    the same shuffle. min_total keeps the result analytic-sized — the
    HAVING pushes nothing into the scan but bounds the output."""
    toks = documents.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_total") >= min_total)
    )


# Shared with the DuckDB oracle: POSIX-class-free patterns both regex
# engines (Java util.regex / RE2-ish DuckDB) interpret identically.
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_REGEX = r"\b555-[0-9]{4}\b"


def pii_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction: replace email addresses and (toy NANP test-prefix)
    phone numbers with typed placeholder tags. Pure regexp_replace —
    codegen, no UDF, map-only at any scale."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_REGEX, "<EMAIL>"),
        PHONE_REGEX,
        "<PHONE>",
    )
    return documents.withColumn(text_col, scrubbed)


def text_fingerprint(documents: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 over the normalized text
    (lowercase, collapsed whitespace) — the exact-dedup key."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return documents.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
    )


def doc_frequency(documents: DataFrame, k: int = 20) -> DataFrame:
    """Corpus document frequency: for each normalized token, the number
    of documents containing it; top-k by df. The per-document distinct
    (array_distinct BEFORE explode) bounds the exploded row count by
    vocabulary-per-doc, and partial aggregation makes the shuffle
    O(vocab) — at 100 TB this is the standard first pass of tf-idf /
    tokenizer-vocabulary builds."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", "")
    toks = documents.select(
        F.explode(F.array_distinct(F.split(normalized, " "))).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("tok"))
        .limit(k)
    )


def extract_long_words(documents: DataFrame, min_len: int = 5) -> DataFrame:
    """regexp_extract_all surface: pull every >=min_len-letter token
    and count occurrences + distinct forms per document — the
    match-all-extraction primitive behind pattern mining / vocabulary
    filters. Pure codegen (no UDF, no shuffle beyond the trivial
    per-row arrays)."""
    pat = f"[a-z]{{{min_len},}}"
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit(pat), 0)
    return documents.select(
        "doc_id",
        F.size(words).cast("long").alias("n_long_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct_long_words"),
    )


def histogram_doc_lengths(documents: DataFrame, bucket_width: int = 100) -> DataFrame:
    """Fixed-width histogram of document lengths — the profiling query
    every corpus-curation pass starts with (cut points for the
    text_quality length gates).

    Plan shape: bucket assignment is a codegen'd integer divide, so
    the single shuffle carries one partial row per (partition, bucket)
    — at 100 TB the result is ~max_len/width rows regardless of
    corpus size."""
    bucket_lo = (F.floor(F.col("n_chars") / bucket_width) * bucket_width).alias(
        "bucket_lo"
    )
    return (
        documents.groupBy(bucket_lo)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("bucket_lo")
    )


def pack_sequences(documents: DataFrame, bin_tokens: int = 512) -> DataFrame:
    """Deterministic sequence packing: concatenate documents (in
    doc_id order within each source) into ~bin_tokens training
    sequences; a document starts a new bin when the running token
    count crosses a bin boundary. Returns per (source, bin_id) doc
    and token counts — the batch-shaping step between curation and
    tokenizer sharding in a training-data pipeline.

    Plan shape: one shuffle on source for the running-sum window
    (the downstream groupBy reuses the clustering); token counts are
    codegen'd split+size, no UDF. At 100 TB, source is the natural
    write-partition key and each bin maps to one training shard."""
    from pyspark.sql.window import Window

    n_toks = F.size(tokens(F.col("text")))
    w = Window.partitionBy("source").orderBy("doc_id")
    cum_before = F.sum(n_toks).over(w) - n_toks
    binned = documents.select(
        "source",
        "doc_id",
        n_toks.alias("n_toks"),
        F.floor(cum_before / bin_tokens).alias("bin_id"),
    )
    return (
        binned.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .orderBy("source", "bin_id")
    )


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 64, stride: int = 48
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    overlapping token windows (`chunk_tokens` wide, advancing by
    `stride`), the 1->N shaping step that turns long documents into
    fixed-budget training samples with cross-boundary context kept.

    A doc with n tokens yields 1 + ceil(max(0, n - chunk) / stride)
    chunks; the last one may be short. All codegen: split + sequence +
    posexplode + slice + array_join, no UDF and no shuffle — at 100 TB
    this is a map-only pass whose output partitioning follows the
    input files."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    n_chunks = 1 + F.ceil(
        F.greatest(n - chunk_tokens, F.lit(0)) / F.lit(stride)
    ).cast("int")
    return (
        documents.select(
            "doc_id",
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.slice(
                F.col("toks"), F.col("chunk_id") * stride + 1, chunk_tokens
            ).alias("chunk_toks"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk_toks").alias("n_tokens"),
            F.array_join("chunk_toks", " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def ngram_top_k(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k bigrams per language by document-corpus frequency — the
    n-gram census used for contamination screens, boilerplate
    detection, and tokenizer diagnostics.

    Bigrams are built in place with a transform-over-slice (no self
    join): element i of the slice pairs with element i+1 of the full
    array. One explode, one (lang, bigram) count with map-side
    partials, then a per-lang row_number over a |langs|-partition
    window on the already-tiny counts table. Ties break on bigram
    text so the result is deterministic."""
    from pyspark.sql.window import Window

    bigrams = F.expr(
        "transform(slice(toks, 1, size(toks) - 1),"
        " (x, i) -> concat(x, ' ', toks[i + 1]))"
    )
    counts = (
        documents.select("lang", tokens(F.col("text")).alias("toks"))
        .select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("lang", "rank")
    )


def text_repetition(documents: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition metrics: the fraction of
    token mass held by words occurring more than once (dup_mass_ratio),
    the share of the single most frequent word (top_token_share), and
    the distinct/total token ratio. High dup-mass documents are
    boilerplate/spam — this is the standard cheap repetition gate run
    before near-dup (Rae et al., Gopher §A1.1; public heuristic).

    Plan shape: explode -> (doc, token) count -> per-doc aggregate.
    Both aggregations are map-side partial, keyed by doc_id(+token), so
    the shuffle carries per-doc histograms, not raw tokens; doc_id is
    dense and unskewed, the natural 100 TB partition key. No Python in
    the plan — codegen end to end."""
    per_word = (
        documents.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per_word.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_mass"),
            F.max("cnt").alias("top_cnt"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("dup_mass") / F.col("n_tokens"), 4).alias("dup_mass_ratio"),
            F.round(F.col("top_cnt") / F.col("n_tokens"), 4).alias("top_token_share"),
            F.round(F.col("n_distinct") / F.col("n_tokens"), 4).alias("distinct_ratio"),
        )
    )


def text_char_entropy(documents: DataFrame) -> DataFrame:
    """Per-document Shannon entropy (bits) of the character
    distribution — the cheap gibberish/encoding-noise gate: natural
    text sits in a narrow entropy band, base64 blobs and key-mash
    score high, repeated filler scores low.

    Plan shape: split to chars -> explode -> (doc, char) counts ->
    per-doc fold of H = log2(N) - sum(c*log2 c)/N. The char histogram
    is at most |alphabet| rows per doc after the map-side partial agg —
    the explosion never crosses the wire unaggregated."""
    per_char = (
        documents.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").cast("double").alias("cnt"))
    )
    n = F.sum("cnt")
    return (
        per_char.groupBy("doc_id")
        .agg(
            F.round(
                F.log2(n) - F.sum(F.col("cnt") * F.log2("cnt")) / n, 4
            ).alias("char_entropy"),
            n.cast("long").alias("n_chars_counted"),
        )
    )


def vocab_coverage(documents: DataFrame, vocab_size: int = 50) -> DataFrame:
    """Word-level vocabulary construction with corpus coverage: the
    top-`vocab_size` tokens by frequency, each with its corpus share
    and the cumulative share of the vocabulary up to that rank — the
    first step of tokenizer training (what fraction of the corpus a
    V-entry vocab covers).

    Plan shape: one (token) count aggregation over the exploded corpus
    — partial-agg makes the shuffle O(|vocab|) per task; the global
    total and running share are windows over the tiny top-V frame after
    a TakeOrdered(V), never over the corpus."""
    from pyspark.sql.window import Window

    counts = (
        documents.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        # both the top-V and the global total derive from this frame;
        # persisting it keeps the corpus explode+agg to ONE scan
        # (|vocab| rows — kilobytes per million distinct tokens)
        .persist()
    )
    top = (
        counts.orderBy(F.desc("cnt"), "tok")
        .limit(vocab_size)
        .withColumn("rank", F.row_number().over(Window.orderBy(F.desc("cnt"), "tok")))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    running = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.join(F.broadcast(total))
        .withColumn("share", F.col("cnt") / F.col("total"))
        .select(
            "rank",
            "tok",
            "cnt",
            F.round("share", 6).alias("share"),
            F.round(F.sum("share").over(running), 6).alias("cum_share"),
        )
        .orderBy("rank")
    )


def quality_gate_report(documents: DataFrame) -> DataFrame:
    """One-row corpus observability report: how many documents pass
    each cheap quality gate (length floor, stopword floor, punctuation
    ceiling, mean-token-length band) and the joint retention rate —
    the numbers a curation run publishes per batch so mixture drift
    and filter regressions surface immediately.

    Plan shape: single scan, conditional aggregation — every gate is
    a codegen'd boolean over the same row, so the report costs one
    pass and a 1-row shuffle regardless of corpus size."""
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks).cast("double")
    n_chars = F.length("text").cast("double")
    n_punct = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0)
    ).cast("double")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
    ).cast("double")
    avg_tok = n_chars / n_tokens
    pass_len = F.col("n_chars") >= 100
    pass_stop = (n_stop / n_tokens) >= 0.01
    pass_punct = (n_punct / n_chars) <= 0.2
    pass_tok_len = avg_tok.between(3.0, 12.0)
    as_cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    return documents.agg(
        F.count("*").alias("n_docs"),
        as_cnt(pass_len).alias("pass_len"),
        as_cnt(pass_stop).alias("pass_stopword"),
        as_cnt(pass_punct).alias("pass_punct"),
        as_cnt(pass_tok_len).alias("pass_token_len"),
        as_cnt(pass_len & pass_stop & pass_punct & pass_tok_len).alias("pass_all"),
        F.round(
            as_cnt(pass_len & pass_stop & pass_punct & pass_tok_len)
            / F.count("*"),
            4,
        ).alias("retention"),
    )


def rolling_hash_fingerprint(documents: DataFrame) -> DataFrame:
    """Polynomial (Rabin-Karp) rolling-hash fingerprint over the
    normalized text: h = fold(h*31 + code(ch)) mod 2^31-1 — the
    incremental-hash primitive behind shingling and content-defined
    chunking, here as a whole-document fingerprint twin to the md5
    one (text_fingerprint).

    Plan shape: a higher-order F.aggregate fold over the char array —
    pure codegen, map-only, zero shuffle at any scale. The modulus
    keeps the accumulator in 36 bits so the long arithmetic is exact
    (and engine-portable: DuckDB's list_reduce computes the same
    fold bit-for-bit)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    codes = F.transform(
        F.filter(F.split(normalized, ""), lambda c: c != ""),
        lambda c: F.ascii(c).cast("long"),
    )
    return documents.select(
        "doc_id",
        F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * 31 + x) % F.lit(2147483647),
        ).alias("rolling_hash"),
    )


def text_search_boolean(
    documents: DataFrame,
    must: tuple[str, ...] = ("spark", "join"),
    must_not: tuple[str, ...] = ("slow",),
) -> DataFrame:
    """Boolean full-text retrieval over an inverted index: documents
    whose token set contains ALL `must` terms and NONE of `must_not`.
    Built search-engine-style — a postings frame (term -> doc) with
    one semi join per required term and an anti join for exclusions —
    rather than per-document array scans, because at 100 TB the
    postings are built once (explode + distinct, the text_doc_frequency
    frame) and each query touches only its terms' lists; AQE turns
    every probe into a broadcast when the posting list is small.

    Plan shape: N_must semi joins + 1 anti join, all on doc_id after
    term-filtered posting scans; no full-corpus pass per term."""
    postings = documents.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    )
    out = documents.select("doc_id", "lang", "source")
    for term in must:
        hits = postings.filter(F.col("tok") == term).select("doc_id")
        out = out.join(hits, "doc_id", "left_semi")
    banned = postings.filter(F.col("tok").isin(*must_not)).select("doc_id")
    return out.join(banned, "doc_id", "left_anti").orderBy("doc_id")


# Signature character bigrams per language for the n-gram heuristic
# language ID (public langid-style approach, tiny profile). On real
# corpora these come from trained frequency profiles; the fixed lists
# keep the operator deterministic and oracle-checkable.
LANG_BIGRAMS = {
    "en": ("th", "he", "an", "nd"),
    "de": ("ei", "ch", "de", "un"),
    "es": ("de", "la", "os", "el"),
    "fr": ("le", "es", "en", "re"),
    "zh": ("的", "了", "是", "我"),
}


def _bigram_count(text, gram: str):
    # non-overlapping occurrence count via replace-and-measure: pure
    # codegen, identical semantics in DuckDB's replace()
    return (F.length(text) - F.length(F.replace(text, F.lit(gram), F.lit("")))) / len(
        gram
    )


def text_lang_id_ngram(documents: DataFrame) -> DataFrame:
    """Character-n-gram language ID: score each language by total
    occurrences of its signature bigrams in the lowercased text,
    argmax with deterministic alphabetical tie-break — the langid-
    profile heuristic, complementing text_lang_id's marker-word vote
    (bigrams survive missing word boundaries; markers are sharper on
    clean prose).

    Plan shape: every score is a replace+length expression — one
    codegen stage, map-only, no tokenization, no shuffle; the argmax
    is the same greatest-of-structs trick as text_lang_id."""
    low = F.lower(F.col("text"))
    scored = F.array(
        *[
            F.struct(
                sum(
                    (_bigram_count(low, g) for g in grams), F.lit(0.0)
                ).cast("long").alias("score"),
                F.lit(-i).alias("order"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, grams) in enumerate(sorted(LANG_BIGRAMS.items()))
        ]
    )
    best = F.array_max(scored)
    return documents.select(
        "doc_id",
        "lang",
        best.getField("lang").alias("lang_pred"),
        best.getField("score").alias("ngram_hits"),
    )


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Corpus-level unigram language model scored back onto every
    document: avg per-token ln P(token) — the cheap perplexity proxy
    used to rank/filter pretraining documents (low avg log-prob = rare
    or garbled vocabulary).

    Plan shape: two passes over the SAME exploded token relation —
    (1) token -> count aggregation (shuffle carries the vocabulary,
    not the corpus), with the scalar corpus total reduced from the
    counts and broadcast; (2) tokens join the counts table on token.
    The vocabulary is Zipf-bounded (millions of rows at 100 TB, far
    smaller than the corpus), so AQE turns the score-back join into a
    broadcast; nothing ever shuffles the full corpus twice."""
    toks = documents.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    scored = toks.join(counts, "tok").join(F.broadcast(total))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("cnt") / F.col("total"))), 6).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


def bpe_pair_counts(documents: DataFrame, k: int = 50) -> DataFrame:
    """One BPE-training merge step: count adjacent symbol pairs inside
    whitespace words across the corpus and return the top-k pairs — the
    inner loop of byte-pair-encoding tokenizer training, whose scale
    problem (count pairs over 100 TB of text) is exactly a partial-agg
    groupBy.

    Plan shape: split -> explode words -> per-word adjacent char pairs
    via sequence+transform (all codegen, no UDF) -> explode pairs ->
    count. Map-side partial aggregation collapses each task's pair
    counts before the shuffle, so the exchange carries the pair
    vocabulary (bounded: |alphabet|^2), not the corpus."""
    words = documents.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(k)
    )


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k terms by tf-idf — the retrieval/keyword
    extraction pass over a curated corpus (completes the tf-idf
    pipeline whose document-frequency half is doc_frequency).

    Plan shape: one exploded token relation feeds BOTH the per-doc tf
    aggregation and the df aggregation (distinct doc per term); idf
    joins back on term (vocabulary-sized, broadcast under AQE) and the
    per-doc top-k is a window over the (doc, term) aggregate — ranking
    runs on scored terms, never raw tokens."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", "")
    toks = documents.select(
        "doc_id", F.explode(F.split(normalized, " ")).alias("term")
    ).filter(F.col("term") != "")
    n_docs = documents.select(F.count_distinct("doc_id").alias("n_docs"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", F.round("score", 6).alias("tfidf"), "rnk")
        .orderBy("doc_id", "rnk")
    )


def source_quality_report(documents: DataFrame) -> DataFrame:
    """Per-source corpus health report: document counts, language
    spread, length-gate retention, exact-duplicate rate and token
    volume — the one table a 100 TB curation run publishes per source
    so mixture drift, scraper regressions, and duplicate explosions
    surface before training does.

    Plan shape: the duplicate flag is a count-over-fingerprint window
    (one shuffle on the fingerprint), then everything aggregates per
    source in a single conditional-agg pass — no joins, no second scan
    of the text."""
    fingerprint = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    flagged = documents.select(
        "source",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (F.count("*").over(Window.partitionBy(fingerprint)) > 1).alias("is_dup"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(
                F.avg((F.col("n_chars") >= 100).cast("double")), 4
            ).alias("len_retention"),
            F.round(F.avg(F.col("is_dup").cast("double")), 4).alias("dup_rate"),
        )
        .orderBy("source")
    )


def quality_model_score(documents: DataFrame) -> DataFrame:
    """Model-BASED quality filtering (the fastText-classifier stage of
    CCNet/RefinedWeb-style pipelines) as pure column algebra: a linear
    model over cheap text features, scored per document in one codegen
    pass — no Python, no shuffle, linear at any corpus size.

    Engine-stable inference: weights are md5-derived (the lsh_planes
    convention, bit-identical in the oracle), features are exact
    integer ratios (no transcendentals — JVM and DuckDB libm last-ulp
    behavior differs for log/exp, so the model emits the LOGIT and a
    sign decision instead of a sigmoid probability), and the dot
    product is a fixed left-associative sum. In production the weights
    come from a trained classifier; swapping them in changes one
    broadcast row, not the plan."""

    import hashlib

    def w(i: int) -> float:
        h = int(hashlib.md5(f"qw:{i}".encode()).hexdigest()[:15], 16)
        return 2.0 * (h / float(1 << 60)) - 1.0

    toks = tokens(F.col("text"))
    n_tokens = F.size(toks).cast("double")
    n_chars = F.length(F.col("text")).cast("double")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
    ).cast("double")
    n_dots = (n_chars - F.length(F.expr("replace(text, '.', '')"))).cast("double")
    f0 = n_tokens / F.lit(100.0)
    f1 = n_stop / (n_tokens + F.lit(1.0))
    f2 = n_chars / (n_tokens + F.lit(1.0))
    f3 = n_dots / (n_chars + F.lit(1.0))
    z = (
        F.lit(w(0)) * f0
        + F.lit(w(1)) * f1
        + F.lit(w(2)) * f2
        + F.lit(w(3)) * f3
        + F.lit(w(4))
    )
    return documents.select(
        "doc_id",
        (F.floor(z * 1e4 + F.lit(0.5)) / 1e4).alias("logit"),
        (z > 0).alias("keep"),
    ).orderBy("doc_id")


def dsir_importance(
    documents: DataFrame, buckets: int = 256, k: int = 50
) -> DataFrame:
    """DSIR-style data selection via hashed-n-gram importance weights
    (Xie et al. 2023): score every raw-pool document by how much its
    hashed unigram distribution resembles a target domain (here the
    `lang='en'` slice stands in for "looks like Wikipedia"), then keep
    the top-k — the domain-targeted selection stage that sits between
    quality gates and dedup in a pretraining pipeline.

    Plan shape: one exploded token relation feeds BOTH bucket censuses
    (target and raw) as partial-agg shuffles bounded by `buckets`
    cells — the shuffle carries the feature table, never the corpus —
    and the per-doc score-back join broadcasts the tiny bucket->ratio
    table. Linear in corpus size at any scale; fan-in is the classic
    two-pass tf-idf shape.

    Engine-stable scoring (quality_model_score convention): bucket
    ids are md5-derived, the importance ratio per bucket is the exact
    integer ((n_target+1) * 1e6) DIV (n_raw+1) — add-1-smoothed, no
    transcendentals (DSIR's log-ratio sum is replaced by a ratio sum:
    same "more target-like mass scores higher" ordering contract,
    bit-identical across engines) — and the doc score is the floor
    average of its tokens' ratios."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("tok"))), 1, 15), 16, 10)
        .cast("long"),
        F.lit(buckets),
    )
    # referenced twice (bucket census + ratio join-back): checkpoint so
    # the corpus explode + per-token md5 bucketing runs once
    toks = documents.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "").select(
        "doc_id", "lang", bucket.alias("b")
    ).localCheckpoint(eager=False)
    census = toks.groupBy("b").agg(
        F.count("*").alias("n_raw"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_target"),
    )
    ratios = census.select(
        "b", F.expr("(n_target + 1) * 1000000 DIV (n_raw + 1)").alias("ratio_u")
    )
    return (
        toks.join(F.broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.expr("SUM(ratio_u) DIV COUNT(*)").alias("score_u"),
        )
        .orderBy(F.col("score_u").desc(), "doc_id")
        .limit(k)
        .select("doc_id", "n_tokens", "score_u")
    )


def model_eval_auc(documents: DataFrame) -> DataFrame:
    """Exact Mann-Whitney AUC of the quality classifier
    (quality_model_score's logit) against a pseudo-ground-truth label
    (lang == 'en') — the evaluation loop that closes the model-based
    filtering story: train elsewhere, score in-engine
    (quality_model_score), MEASURE in-engine before trusting the gate.

    AUC computes from midrank sums, not pairwise comparisons: with
    ties averaged, 2U = sum over positives of (2*min_rank + ties - 1)
    minus n_pos*(n_pos+1), so the statistic is an exact bigint — the
    quadratic "compare every positive with every negative" definition
    collapses into a rank pass. The only float op is the final
    division (IEEE-exact), floor-rounded half-up on both engines.

    Plan shape — VALUE CENSUS, not a global row rank: the logit is
    already quantized to 1e-4 (quality_model_score), so the midrank
    of every row at value v is determined by the per-value counts
    alone: min_rank(v) = 1 + sum of counts below v, ties(v) = c(v).
    The corpus-sized relation therefore flows through ONE partial-agg
    shuffle bounded by the DISTINCT QUANTIZED VALUES (the counting-
    sort construction quantile_normalize / drift_ks use); the only
    unpartitioned window — the prefix sum — runs over that bounded
    census relation, never over rows. At 100 TB the shuffle carries
    |distinct logits| cells, not documents. Output: one row —
    n_pos, n_neg, u2, auc."""
    scored = quality_model_score(documents).join(
        documents.select(
            "doc_id", (F.col("lang") == "en").alias("is_pos")
        ),
        "doc_id",
    )
    # exact integer key: logit was floor(z*1e4+0.5)/1e4, so *1e4 is
    # integral up to float rounding — re-floor to recover the bigint
    census = scored.groupBy(
        F.floor(F.col("logit") * 1e4 + F.lit(0.5)).cast("long").alias("lv")
    ).agg(
        F.count("*").alias("c"),
        F.count(F.when(F.col("is_pos"), 1)).alias("p"),
    )
    w_prefix = (
        Window.orderBy("lv")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = census.select(
        "c",
        "p",
        (F.coalesce(F.sum("c").over(w_prefix), F.lit(0)) + 1).alias("min_rank"),
    )
    return ranked.agg(
        F.sum("p").alias("n_pos"),
        (F.sum("c") - F.sum("p")).alias("n_neg"),
        (
            F.sum(F.col("p") * (2 * F.col("min_rank") + F.col("c") - 1))
            - F.sum("p") * (F.sum("p") + 1)
        ).alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "u2",
        (
            F.floor(
                F.col("u2")
                / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("auc"),
    )


# The BPE trainers' word relation: each distinct word, its corpus
# frequency and its current symbol sequence.
_SYMS_DDL = "w STRING, freq LONG, syms ARRAY<STRING>"


def _pair_census_rows(df: DataFrame) -> list:
    """Freq-weighted adjacent-pair census of a (w, freq, syms) word
    relation, collected: [(a, b, c)] rows. One map-side explode +
    pair-keyed partial agg; single-symbol words contribute nothing
    (filtered BEFORE the transform so sequence(1, size-1) never runs
    descending on them)."""
    return (
        df.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms)-1),"
                    " i -> struct(syms[i-1] AS a, syms[i] AS b))"
                )
            ).alias("p"),
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").alias("c"))
        .collect()
    )


def _has_adjacent_pair(a: str, b: str):
    """Row predicate: does this word's symbol sequence contain the
    (a, b) adjacency? Column-built (no SQL splicing — symbols can
    contain any character), guarded by a CASE so single-symbol words
    never index element 0."""
    idx = F.sequence(F.lit(1), F.size("syms") - 1)
    return F.when(
        F.size("syms") >= 2,
        F.exists(
            idx,
            lambda i: (F.element_at(F.col("syms"), i) == F.lit(a))
            & (F.element_at(F.col("syms"), i + 1) == F.lit(b)),
        ),
    ).otherwise(F.lit(False))


def _bpe_driver_vocab_max() -> int:
    """Vocabulary cutoff for the driver-side training fast path (read
    per call so deployments/tests can re-tune without re-import). BPE
    training state is the DISTINCT-WORD relation — bounded by the
    vocabulary, not the corpus — and the pair census is already a
    driver-held dict, so when the whole word relation fits comfortably
    on the driver the per-round Spark machinery (two predicate passes,
    an Arrow merge kernel, a delta-census collect, a checkpoint swap)
    is pure fixed overhead: the same merges fall out of a plain Python
    loop over the collected rows. Production corpora with vocabularies
    above the cutoff keep the distributed incremental path."""
    return env_int("SPARK_GRAFT_BPE_DRIVER_VOCAB_MAX", 65536, minimum=0)


def _bpe_merge_greedy(syms: list, a: str, b: str) -> list:
    """Apply ONE merge greedily left-to-right over non-overlapping
    occurrences — the reference BPE application ('aaaa' under (a,a)
    becomes [aa][aa], not [aa]a[a]). The only copy of the walk: the
    driver trainer, the distributed trainer's Arrow rewrite and the
    byte-level encoder all call it."""
    res, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            res.append(a + b)
            i += 2
        else:
            res.append(syms[i])
            i += 1
    return res


def _bpe_train_driver(rows: list, rounds: int) -> "tuple[list, list]":
    """Driver-side twin of the distributed incremental trainer: same
    initial census, same argmax tie-break (count desc, then
    lexicographic — Python string order == Spark UTF8 binary order for
    valid strings), same greedy merge application, same signed delta
    maintenance. Takes the collected (w, freq, syms) rows; returns
    (merges as [(lhs, rhs, count)], final [w, freq, syms] rows)."""
    words = [[str(r["w"]), int(r["freq"]), list(r["syms"])] for r in rows]
    census: dict = {}
    for _w, freq, syms in words:
        for i in range(len(syms) - 1):
            k = (syms[i], syms[i + 1])
            census[k] = census.get(k, 0) + freq
    merges: list = []
    for _ in range(rounds):
        live = [(k, v) for k, v in census.items() if v > 0]
        if not live:
            break
        (a, b), cnt = min(live, key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((a, b, cnt))
        for rec in words:
            syms = rec[2]
            if not any(
                syms[i] == a and syms[i + 1] == b
                for i in range(len(syms) - 1)
            ):
                continue
            freq = rec[1]
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                census[k] = census.get(k, 0) - freq
            new = _bpe_merge_greedy(syms, a, b)
            for i in range(len(new) - 1):
                k = (new[i], new[i + 1])
                census[k] = census.get(k, 0) + freq
            rec[2] = new
        census = {k: v for k, v in census.items() if v > 0}
    return merges, words


def _bpe_train_incremental(
    df: DataFrame, rounds: int
) -> "tuple[list, DataFrame]":
    """The shared BPE merge-training loop with an INCREMENTALLY
    MAINTAINED pair census (round 13) — the fix for the one perf-weak
    item: the previous trainer recomputed the complete freq-weighted
    adjacent-pair census (a full shuffle over the word relation) and
    ran three window passes over EVERY word, every round; at a
    production 32k-64k-merge vocabulary that is tens of thousands of
    sequential corpus-shaped Spark jobs. A merge only changes pair
    counts for adjacencies inside the words that CONTAIN the merged
    pair, so each round now:

      1. picks the argmax from the driver-held census dict (count
         desc, then lexicographic (lhs, rhs) — Python string order ==
         Spark's UTF8 binary order for valid strings, so the
         tie-break is bit-compatible with the old ORDER BY);
      2. splits the cached word relation on the (a, b) adjacency
         predicate (map-only, no shuffle);
      3. rewrites ONLY the affected words with the greedy Arrow
         kernel and censuses their pairs before/after (two pair-keyed
         partial aggs bounded by the affected subset);
      4. applies the delta to the driver census and swaps the
         relation (localCheckpoint truncates lineage, the iterative-
         kernel convention).

    Per-round cost therefore tracks the words containing the merged
    pair — which shrinks as training proceeds — instead of the flat
    full-relation census + windows (SCALING.md round-13 probe). The
    census dict is bounded by the distinct adjacent pairs of the
    distinct-word relation (the same vocabulary bound every BPE
    trainer carries; SentencePiece's trainer holds exactly this state
    in one process).

    Input df: (w, freq, syms ARRAY<STRING>). Returns (merges as
    [(lhs, rhs, pair_count)], the final encoded word relation) —
    merge sequence and final symbols are IDENTICAL to the previous
    windowed implementation (same argmax, same greedy application;
    asserted in pytest and by the unchanged DuckDB oracles).

    Small-vocabulary fast path (optimization round 13, guide §1.2
    fixed overhead): when the distinct-word relation itself fits under
    the driver cutoff (take(N+1) returning <= N rows proves the WHOLE
    relation was collected), the merge loop runs entirely driver-side
    (_bpe_train_driver) — zero Spark jobs per round instead of a
    filter + Arrow kernel + delta collect + checkpoint swap, with the
    identical census/argmax/greedy-apply arithmetic (pytest-asserted
    against the distributed path). The distributed incremental path
    below remains the production route for vocabularies above the
    cutoff (SPARK_GRAFT_BPE_DRIVER_VOCAB_MAX)."""
    cutoff = _bpe_driver_vocab_max()
    if cutoff > 0:
        head = df.take(cutoff + 1)
        if len(head) <= cutoff:
            merges, words = _bpe_train_driver(head, rounds)
            final = tiny_df(
                df.sparkSession, [tuple(rec) for rec in words], _SYMS_DDL
            )
            return merges, final
    # LAZY localCheckpoint (guide §1.2): the first consumer of each
    # checkpoint is a full-relation job anyway (the initial census here,
    # the next round's delta census below), so materialization rides
    # THAT job instead of paying a separately scheduled job per round —
    # the dedup_components lesson applied to the trainer loop. Halves
    # the per-round job count with bit-identical merges.
    df = df.localCheckpoint(eager=False)
    census: dict = {
        (r["a"], r["b"]): int(r["c"]) for r in _pair_census_rows(df)
    }
    merges: list = []
    for _ in range(rounds):
        live = [(k, v) for k, v in census.items() if v > 0]
        if not live:
            break
        (a, b), cnt = min(
            live, key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, cnt))
        pred = _has_adjacent_pair(a, b)
        affected = df.filter(pred)
        rewritten = map_rows(
            affected,
            # a, b bound as defaults: this round's merge, not the loop's
            # latest when the lazy plan runs
            lambda w, freq, syms, a=a, b=b: [
                (w, freq, _bpe_merge_greedy(syms, a, b))
            ],
            _SYMS_DDL,
        )
        # Round-13 optimization (guide §1.2/§2.4): the before/after
        # censuses of the affected words collapse into ONE signed
        # delta job (old pairs weighted -freq, rewritten pairs +freq,
        # one pair-keyed partial agg over the union) — one Spark job
        # per round instead of two, same exact integer deltas. The
        # merge kernel runs again inside the checkpoint job below;
        # that recompute is bounded by the affected subset and is
        # cheaper than the cache()/unpersist round-trip it replaces.
        delta_rows = _pair_census_rows(
            affected.withColumn(
                "freq", (-F.col("freq")).cast("long")
            ).unionByName(rewritten)
        )
        new_df = (
            df.filter(~pred)
            .unionByName(rewritten)
            .localCheckpoint(eager=False)
        )
        for r in delta_rows:
            k = (r["a"], r["b"])
            census[k] = census.get(k, 0) + int(r["c"])
        census = {k: v for k, v in census.items() if v > 0}
        df = new_df
    return merges, df


def bpe_train_merges(documents: DataFrame, rounds: int = 3) -> DataFrame:
    """The actual BPE training loop (Sennrich et al. 2016), not just
    one pair census: `rounds` merge rounds over the WORD-FREQUENCY
    table — explode the corpus to (word, freq) once, then each round
    (1) counts adjacent symbol pairs weighted by freq, (2) picks the
    argmax pair (count desc, then lexicographic — the deterministic
    tie-break), (3) applies the merge greedily left-to-right and
    re-counts. Output is the artifact a tokenizer ships: the ordered
    merge table.

    Greedy non-overlapping application is the subtle part (a run
    'aaaa' under merge (a,a) must become [aa][aa], not [aa]a[a]):
    candidates (sym_i, sym_i+1) = (a, b) form gaps-and-islands over
    the sequence index, and within an island every second candidate
    (even offset from the island head) merges — exactly the rescan
    semantics of the reference implementation, but as three window
    passes over ONE (word, seq) clustering instead of a sequential
    scan. DuckDB mirrors every window, so the full loop including the
    data-dependent argmax is oracle-checked.

    Scale shape (round 13): all state is bounded by the VOCABULARY
    (distinct words), not the corpus — the standard trick that makes
    BPE training tractable — and the pair census is maintained
    INCREMENTALLY (_bpe_train_incremental): the full census runs
    once, then each round touches only the words containing the
    merged pair, so per-round cost shrinks as training proceeds
    instead of paying a flat relation-wide shuffle for every one of a
    production vocabulary's tens of thousands of merges."""
    spark = documents.sparkSession
    words = (
        documents.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    sdf = words.select(
        "w",
        "freq",
        F.filter(F.split(F.col("w"), ""), lambda c: c != "").alias("syms"),
    )
    merges, _ = _bpe_train_incremental(sdf, rounds)
    return tiny_df(
        spark,
        [
            (rnd, a, b, int(c))
            for rnd, (a, b, c) in enumerate(merges, start=1)
        ],
        "round INT, lhs STRING, rhs STRING, pair_count BIGINT",
    )


def bpe_encoded_vocab(documents: DataFrame, rounds: int = 3, k: int = 20) -> DataFrame:
    """The APPLY side of BPE training: re-run the bpe_train_merges
    loop (same censuses, same argmax merges, same greedy application)
    and report the resulting symbol vocabulary — the freq-weighted
    top-k symbols of the encoded corpus. Train -> encode is the full
    tokenizer lifecycle; in production the merge table ships and this
    transform runs per-batch with broadcast merges instead of
    re-training.

    Same vocabulary-bounded scale shape as the trainer (round 13:
    incremental pair census, _bpe_train_incremental); the output
    ranking has the deterministic (count desc, symbol) tie-break."""
    words = (
        documents.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    sdf = words.select(
        "w",
        "freq",
        F.filter(F.split(F.col("w"), ""), lambda c: c != "").alias("syms"),
    )
    _, final = _bpe_train_incremental(sdf, rounds)
    return (
        final.select("freq", F.explode("syms").alias("sym"))
        .groupBy("sym")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "sym")
        .limit(k)
    )


def _bytes_to_unicode() -> dict:
    """GPT-2's byte -> unicode table (public: Radford et al. 2019,
    encoder.py bytes_to_unicode): the 188 printable-ish latin-1 bytes
    map to themselves; the other 68 bytes map to chr(256 + offset) so
    every byte is a VISIBLE character — merges never have to reason
    about control bytes or whitespace, and any UTF-8 input round-trips
    losslessly through the tokenizer."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(0xA1, 0xAD))
        + list(range(0xAE, 0x100))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


# Printable-ASCII pre-token domain marker: on these words the GPT-2
# byte map is the identity (bytes 33..126 map to themselves), which is
# what lets the DuckDB oracle replay the byte-level walk with plain
# character splits. The byte table itself is exercised on arbitrary
# UTF-8 in pytest.
_ASCII_PRINTABLE = "^[!-~]+$"


def bytelevel_bpe_pretokens(documents: DataFrame) -> DataFrame:
    """(word, freq) census of GPT-2-style pre-tokens: the BPE_ISH
    regex over the RAW text (byte-level BPE does not lowercase),
    restricted to the printable-ASCII domain the oracle shares."""
    return (
        documents.select(
            F.explode(
                F.regexp_extract_all(
                    F.col("text"), F.lit(BPE_ISH_REGEX), 0
                )
            ).alias("w")
        )
        .filter(F.col("w").rlike(_ASCII_PRINTABLE))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _bytelevel_seed(words: DataFrame) -> DataFrame:
    """Seed symbol relation (w, freq, syms) for the byte-level
    trainer: syms holds one bytes_to_unicode character per UTF-8 BYTE
    of the word. Arrow pass over the distinct-word census only (never
    the corpus)."""
    table = _bytes_to_unicode()
    return map_rows(
        words,
        lambda w, freq: [(w, freq, [table[b] for b in w.encode("utf-8")])],
        _SYMS_DDL,
    )


def bytelevel_bpe_train(words: DataFrame, rounds: int = 6) -> list:
    """Byte-level BPE training: the bpe_train_merges loop (pair census
    -> deterministic argmax -> greedy left-to-right merge) over the
    byte-mapped symbol relation. Returns the rank-ordered merge list
    [(lhs, rhs), ...] — the artifact a tokenizer ships. Same
    vocabulary-bounded scale shape as the character trainer, and the
    same round-13 incremental pair census (_bpe_train_incremental):
    one full census, then per-round work bounded by the words
    containing the merged pair — the fix that makes a production
    32k-64k-merge vocabulary's training loop tractable."""
    merges, _ = _bpe_train_incremental(_bytelevel_seed(words), rounds)
    return [(a, b) for a, b, _c in merges]


def _bytelevel_encode_word(w: str, table: dict, merges: list) -> tuple[str, int]:
    """Encode ONE word: map its UTF-8 bytes through ``table``, then apply
    the FROZEN merges in rank order, each greedily left-to-right over
    non-overlapping occurrences — the reference BPE apply (Sennrich
    apply_bpe; GPT-2's lowest-rank-bigram loop is an optimization of
    exactly this order). Returns (space-joined pieces, piece count)."""
    syms = [table[b] for b in w.encode("utf-8")]
    for a, b in merges:
        syms = _bpe_merge_greedy(syms, a, b)
    return " ".join(syms), len(syms)


def bytelevel_encode_words(
    words: DataFrame, table: dict, merges: list
) -> DataFrame:
    """Byte-level encode of a (w, freq) relation in one Arrow pass:
    (w, freq, pieces, n_pieces), one row per input row. Shared by the
    batch encode (a distinct-word census) and the streaming encode (one
    row per occurrence).

    The memo lives in the kernel's closure, so every task unpickles its
    own empty copy: encoding each distinct word once per task and
    mapping occurrences through the memo is bit-identical (the merge
    walk is a pure function of the word) and turns the streaming
    per-occurrence cost into a dict lookup. Bounded by the task's
    distinct-word count — the same vocabulary bound the batch census
    carries — and gone with the task."""
    memo: dict = {}

    def encode(w, freq):
        got = memo.get(w)
        if got is None:
            got = memo[w] = _bytelevel_encode_word(w, table, merges)
        return [(w, freq, *got)]

    return map_rows(
        words.select("w", "freq"),
        encode,
        "w STRING, freq LONG, pieces STRING, n_pieces INT",
    )


def bytelevel_bpe_encode(
    documents: DataFrame, rounds: int = 6, merges: "list | None" = None
) -> DataFrame:
    """Byte-level (GPT-2-style) BPE ENCODE — the third tokenizer leg
    beside WordPiece and Unigram-LM: bytes_to_unicode seeding, merges
    trained with the shared greedy loop, then ONE Arrow pass over the
    distinct pre-token census applying the frozen broadcast merges in
    rank order. Output: one row per distinct pre-token with its piece
    sequence and fertility (the wordpiece_encode contract).

    Plan shape / 100 TB: the pre-token census is ONE partial-agg'd
    shuffle of the corpus; training shuffles are bounded by the
    distinct-word vocabulary; the merge table is the driver-held model
    artifact (rank-ordered pairs) broadcast into the encode kernel.
    The corpus is never scanned twice.

    ``merges``: optionally a PRE-TRAINED rank-ordered merge list (the
    frozen model artifact) so a caller that persists the trainer
    output — e.g. the registry's fingerprint-keyed scratch cache —
    skips the driver-loop rounds and pays only the encode pass."""
    words = bytelevel_bpe_pretokens(documents)
    if merges is None:
        merges = bytelevel_bpe_train(words, rounds)
    return (
        bytelevel_encode_words(words, _bytes_to_unicode(), merges)
        .select(
            F.col("w").alias("word"),
            F.col("freq").cast("long").alias("n_occurrences"),
            "pieces",
            F.col("n_pieces").cast("int").alias("n_pieces"),
        )
        .orderBy("word")
    )


def _bytelevel_decode_word(pieces: str, inv: dict) -> str:
    """Inverse of the byte-level walk for ONE encoded word: each
    piece's characters map back through the inverted bytes_to_unicode
    table to raw bytes, the byte runs concatenate, and the result
    decodes as UTF-8. Exact inverse by construction — the byte table
    is a bijection and merges only ever concatenate symbols."""
    return bytes(
        inv[ch] for piece in pieces.split(" ") for ch in piece
    ).decode("utf-8")


def bytelevel_bpe_roundtrip(
    documents: DataFrame, rounds: int = 6, merges: "list | None" = None
) -> DataFrame:
    """Byte-level BPE DECODE leg + losslessness proof (round 12): the
    property that justifies byte-level tokenization — ANY input
    round-trips exactly, no unknown-token loss, no normalization drift
    (contrast WordPiece's [UNK] and Unigram's lowercase fold). Encodes
    the pre-token census, then decodes every piece sequence back
    through the INVERTED byte table and compares against the original
    word. Output: one row per distinct pre-token with its piece count,
    the decoded string, and the lossless verdict (all-true on a
    correct tokenizer — the oracle asserts it row by row).

    Plan shape / 100 TB: the encode pass's census shuffle is the only
    shuffle; decode rides the SAME Arrow pass (one kernel, no second
    corpus scan). The non-ASCII byte-table legs (multi-byte UTF-8,
    control bytes) are exercised directly in pytest — the shared
    oracle domain pins printable ASCII."""
    words = bytelevel_bpe_pretokens(documents)
    if merges is None:
        merges = bytelevel_bpe_train(words, rounds)
    table = _bytes_to_unicode()
    inv = {ch: b for b, ch in table.items()}

    def roundtrip(w, _freq):
        pieces, n_pieces = _bytelevel_encode_word(w, table, merges)
        decoded = _bytelevel_decode_word(pieces, inv)
        return [(w, n_pieces, decoded, decoded == w)]

    return (
        map_rows(
            words,
            roundtrip,
            "w STRING, n_pieces INT, decoded STRING, lossless BOOLEAN",
        )
        .select(
            F.col("w").alias("word"),
            F.col("n_pieces").cast("int").alias("n_pieces"),
            "decoded",
            "lossless",
        )
        .orderBy("word")
    )


def bigram_logprob(documents: DataFrame) -> DataFrame:
    """Bigram-LM document scoring — the conditional upgrade of
    text_unigram_logprob: avg per-transition ln P(w_i | w_{i-1}) under
    corpus MLE counts (every document bigram contributed to the
    counts, so no zero-probability smoothing is needed for in-corpus
    scoring). Lower = rarer transitions = garbled or boilerplate-free
    text; the pair of (unigram, bigram) scores is the standard cheap
    perplexity-proxy duo for pretraining quality ranking.

    Plan shape: ONE exploded token relation (with lead() for the
    successor over the same (doc, pos) clustering) feeds the bigram
    census AND the score-back join; both count relations are
    vocabulary-bounded (bigram vocab is Zipf-bounded like the unigram
    one), so the corpus shuffles once and the joins broadcast under
    AQE at any scale."""
    toks = documents.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "pos", "tok"
        ),
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # referenced three times (pair census, history census, score-back):
    # checkpoint so the corpus explode + window runs once
    bigrams = toks.withColumn("nxt", F.lead("tok").over(w)).filter(
        F.col("nxt").isNotNull()
    ).localCheckpoint(eager=False)
    pair_counts = bigrams.groupBy("tok", "nxt").agg(F.count("*").alias("c2"))
    head_counts = bigrams.groupBy("tok").agg(F.count("*").alias("c1"))
    scored = bigrams.join(pair_counts, ["tok", "nxt"]).join(head_counts, "tok")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("c2") / F.col("c1"))), 6).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


def html_extract_text(documents: DataFrame) -> DataFrame:
    """The web-extraction stage of a crawl pipeline (the
    trafilatura/CCNet "strip the chrome, keep the article" step) with
    the whole transform in codegen regex: deterministic HTML chrome
    (head/nav/ad/footer) wraps each document's text — the
    formula-derived-payload convention of the multimodal codecs, so
    the oracle rebuilds identical pages — then extraction removes the
    chrome blocks (non-greedy, RE2-compatible — no lookaround, so the
    same patterns run on Java regex and DuckDB RE2), strips remaining
    tags, and normalizes whitespace. The round-trip contract IS the
    correctness check: extracted text equals the original document
    body, verified by md5 per row.

    Map-only, no shuffle; linear in page bytes at any scale."""
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><meta charset=\"utf-8\"></head><body>"),
        F.lit("<nav>home | about | contact</nav>"),
        F.lit('<div class="ad">SPONSORED: buy now</div><p>'),
        F.col("text"),
        F.lit("</p><footer>(c) 2026 example.com</footer></body></html>"),
    )
    extracted = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(html, "<head>.*?</head>", " "),
                        "<nav>.*?</nav>",
                        " ",
                    ),
                    '<div class="ad">.*?</div>',
                    " ",
                ),
                "<footer>.*?</footer>",
                " ",
            ),
            "<[^>]+>",
            " ",
        )
    )
    normalized = F.regexp_replace(extracted, r"\s+", " ")
    return documents.select(
        "doc_id",
        F.length(html).alias("n_chars_html"),
        F.length(normalized).alias("n_chars_extracted"),
        (normalized == F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")).alias(
            "roundtrip_ok"
        ),
        F.md5(normalized).alias("fingerprint"),
    ).orderBy("doc_id")


def _bm25_tf(documents: DataFrame) -> DataFrame:
    """(doc_id, term, tf) over BM25's normalization — the single
    corpus-explode aggregate every BM25-family consumer derives from."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", "")
    toks = documents.select(
        "doc_id", F.explode(F.split(normalized, " ")).alias("term")
    ).filter(F.col("term") != "")
    return toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def bm25_retrieval(
    documents: DataFrame,
    query_terms: list[tuple[int, str]] | None = None,
    k: int = 3,
    tf: DataFrame | None = None,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Sparck-Jones, Lucene idf form)
    over the corpus — the classic-IR counterpart of rag_retrieval's
    dense scoring and the ranked upgrade of text_search_boolean
    (completes the retrieval ladder: boolean -> tf-idf keywords ->
    BM25 ranking -> dense RAG).

    Engine-stable arithmetic: every per-(doc,term) partial score runs
    ONE fixed IEEE float sequence (idf -> length norm -> saturation ->
    product), is quantized half-up to integer micro-units, and the
    per-(query,doc) combination is an EXACT bigint sum — so float
    summation order never enters, and ranking ties break on the
    quantized score then doc_id. The only transcendental is ln(),
    <=1 ulp on both engines, buried under the 1e-6 grid.

    Plan shape at 100 TB: one exploded token relation feeds tf and dl;
    the df and query relations are vocabulary-/query-sized broadcasts;
    ranking is a per-query top-k window over the scored aggregate —
    TakeOrdered semantics on queries x docs-with-hits, never a global
    sort of the corpus."""
    if query_terms is None:
        query_terms = [
            (1, "hash"),
            (1, "join"),
            (2, "sort"),
            (2, "merge"),
            (3, "customer"),
            (3, "value"),
        ]
    spark = documents.sparkSession
    queries = tiny_df(spark, query_terms, "query_id int, term string")
    # ONE pass over the exploded tokens: dl, df and the corpus totals
    # all derive from the (doc, term) tf aggregate, so the explode is
    # scanned once, not four times. The lazy checkpoint matters for the
    # same reason: tf feeds three consumers (dl, df, scored) and an
    # un-checkpointed subtree re-plans and re-executes the corpus
    # explode + shuffle once per consumer.
    if tf is None:
        tf = _bm25_tf(documents).localCheckpoint(eager=False)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    totals = dl.agg(
        F.sum("dl").alias("s_tokens"), F.count("*").alias("n_docs")
    )
    # fixed float sequence, mirrored verbatim in the oracle SQL
    avgdl = F.col("s_tokens") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.lit(0.25) + F.lit(0.75) * (F.col("dl") / avgdl)
    part = idf * (F.col("tf") * F.lit(2.2)) / (F.col("tf") + F.lit(1.2) * norm)
    scored = (
        tf.join(F.broadcast(queries), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .join(F.broadcast(totals))
        .select(
            "query_id",
            "doc_id",
            F.floor(part * 1e6 + F.lit(0.5)).cast("long").alias("su"),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(F.sum("su").alias("su"))
    w = Window.partitionBy("query_id").orderBy(F.desc("su"), "doc_id")
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            (F.col("su") / F.lit(1e6)).alias("bm25"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def phrase_search(
    documents: DataFrame, phrases: list[tuple[int, str, str]] | None = None
) -> DataFrame:
    """Positional phrase search: a positional inverted index (term,
    doc, position postings) answers "w0 immediately followed by w1" by
    joining the w0 postings against the w1 postings at position+1 —
    the standard phrase-query plan (Manning IR ch.2), and the
    position-aware upgrade of text_search_boolean's term-level
    semi-joins.

    Plan shape: the postings relation is built once (posexplode, all
    codegen); each phrase's two legs are term-filtered SLICES of it
    (predicate pushdown on the broadcast phrase table), and the
    adjacency join keys on (doc_id, pos) — co-partitioned, no
    quadratic blowup: cost is |postings(w0)| x matches, never
    |docs|^2. At 100 TB the postings relation is the thing a search
    index materializes anyway; bucketing it by term turns every
    phrase query into a pruned scan."""
    if phrases is None:
        phrases = [(1, "hash", "join"), (2, "table", "scan")]
    spark = documents.sparkSession
    ph = tiny_df(spark, phrases, "phrase_id int, w0 string, w1 string")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", "")
    posting = documents.select(
        "doc_id", F.posexplode(F.split(normalized, " ")).alias("pos", "term")
    ).filter(F.col("term") != "")
    p0 = posting.alias("p0")
    p1 = posting.alias("p1")
    hits = (
        p0.join(F.broadcast(ph), F.col("p0.term") == F.col("w0"))
        .join(
            p1,
            (F.col("p1.doc_id") == F.col("p0.doc_id"))
            & (F.col("p1.pos") == F.col("p0.pos") + 1)
            & (F.col("p1.term") == F.col("w1")),
        )
    )
    return (
        hits.groupBy("phrase_id", F.col("p0.doc_id").alias("doc_id"))
        .agg(F.count("*").alias("n_hits"))
        .orderBy("phrase_id", "doc_id")
    )


def calibration_report(documents: DataFrame, bin_width_u: float = 2500.0) -> DataFrame:
    """Model-calibration (reliability-diagram) report for the
    quality_model_score classifier against the lang='en' pseudo-label
    — the score->measure loop's second leg next to model_eval_auc
    (AUC measures ranking; calibration measures whether the scores
    MEAN anything, the check run before using scores as sampling
    weights).

    Bins are fixed-width slices of the quantized logit (floor of
    lu/2500 — quarter-logit bins), so binning is deterministic; per
    bin, confidence is the exact integer logit sum over n (one float
    division) and accuracy is the exact positive rate — both half-up
    1e-6. No sigmoid anywhere: calibration on the logit scale avoids
    the libm exp() divergence the scorer's docstring documents.

    Plan shape: scoring is the same single codegen pass as
    quality_model_score; the report is one partial-agg shuffle bounded
    by the bin domain. Linear forever."""
    scored = quality_model_score(documents)
    labeled = scored.join(
        documents.select("doc_id", (F.col("lang") == "en").alias("pos")), "doc_id"
    )
    lu = F.floor(F.col("logit") * 1e4 + F.lit(0.5)).cast("long")
    binned = labeled.select(
        F.floor(lu / F.lit(bin_width_u)).cast("long").alias("bin"),
        lu.alias("lu"),
        F.col("pos").cast("int").alias("pos"),
    )
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("pos").alias("n_pos"),
            F.sum("lu").alias("slu"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            q(
                F.col("slu").cast("double") / F.col("n").cast("double") / F.lit(1e4)
            ).alias("mean_logit"),
            q(F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
                "pos_rate"
            ),
        )
        .orderBy("bin")
    )


def ndcg_eval(documents: DataFrame, k: int = 10) -> DataFrame:
    """NDCG@k of the BM25 ranking against a term-coverage pseudo-label
    (relevance = number of distinct query terms a document contains) —
    the ranking-quality measurement loop for the retrieval ladder
    (ann_recall_report measures the dense index; this measures the
    sparse ranker; model_eval_auc measures the classifier).

    Engine-stable: per-position gains rel/log2(pos+1) are quantized
    half-up at 1e-9 and summed exactly; ideal gains come from the
    corpus-wide relevance censuses via the same quantization; the
    final NDCG is one float division.

    Plan shape: rides bm25_retrieval's plan (exploded tokens ->
    broadcast-joined query terms -> per-query top-k window) plus one
    relevance aggregation bounded by queries x docs-with-hits, and the
    ideal ranking is a per-query top-k over the RELEVANCE relation —
    all TakeOrdered-scale, never a corpus sort."""
    # ONE checkpointed (doc, term, tf) aggregate serves the BM25 leg and
    # the relevance census (its distinct (doc, term) set is exactly tf's
    # key set) — previously two corpus explodes.
    tf = _bm25_tf(documents).localCheckpoint(eager=False)
    ranked = bm25_retrieval(documents, k=k, tf=tf)
    toks = tf.select("doc_id", "term")
    spark = documents.sparkSession
    qterms = tiny_df(
        spark,
        [
            (1, "hash"),
            (1, "join"),
            (2, "sort"),
            (2, "merge"),
            (3, "customer"),
            (3, "value"),
        ],
        "query_id int, term string",
    )
    rel = (
        toks.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("rel"))
    )
    gain = lambda pos: F.floor(  # noqa: E731
        F.col("rel").cast("double") / F.log2(pos.cast("double") + 1) * 1e9
        + F.lit(0.5)
    ).cast("long")
    dcg = (
        ranked.join(rel, ["query_id", "doc_id"], "left")
        .fillna(0, subset=["rel"])
        .select("query_id", gain(F.col("rank")).alias("g"))
        .groupBy("query_id")
        .agg(F.sum("g").alias("dcg_u"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), "doc_id")
    ideal = (
        rel.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
        .select("query_id", "rel", gain(F.col("pos")).alias("g"))
        .groupBy("query_id")
        .agg(F.sum("g").alias("idcg_u"), F.count("*").alias("n_relevant"))
    )
    return (
        dcg.join(ideal, "query_id")
        .select(
            "query_id",
            (F.col("dcg_u") / F.lit(1e9)).alias("dcg"),
            (F.col("idcg_u") / F.lit(1e9)).alias("idcg"),
            (
                F.floor(
                    F.col("dcg_u").cast("double")
                    / F.col("idcg_u").cast("double")
                    * 1e6
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("ndcg"),
            "n_relevant",
        )
        .orderBy("query_id")
    )


def pmi_collocations(documents: DataFrame, min_count: int = 20, k: int = 30) -> DataFrame:
    """Pointwise-mutual-information collocation extraction: the
    adjacent word pairs whose co-occurrence beats their unigram
    independence baseline — the phrase-discovery pass (Church & Hanks
    1990) that feeds tokenizer vocabularies and phrase tables
    (bigram_logprob scores documents with this relation; this ranks
    the pairs themselves).

    Engine-stable: counts are exact; the probability ratio is computed
    in a fixed overflow-proof float sequence ((c_ab/B) / ((c_a/T) *
    (c_b/T)) — no bigint product can overflow at any corpus size), and
    ln() is quantized half-up at 1e-6; ranking ties break on the pair.

    Plan shape: one positional postings relation feeds the unigram
    census AND the adjacency pairing (self-join on doc, pos+1 — linear,
    co-partitioned); both censuses are vocabulary-bounded partial
    aggs; scoring joins are broadcast-sized. The min_count gate is the
    classic noise floor."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", "")
    # referenced four times (unigram census, totals, both sides of the
    # adjacency self-join): checkpoint so the corpus explode runs once
    posting = documents.select(
        "doc_id", F.posexplode(F.split(normalized, " ")).alias("pos", "term")
    ).filter(F.col("term") != "").localCheckpoint(eager=False)
    uni = posting.groupBy("term").agg(F.count("*").alias("c"))
    totals = posting.agg(F.count("*").alias("t"))
    p0 = posting.alias("p0")
    p1 = posting.alias("p1")
    bigrams = (
        p0.join(
            p1,
            (F.col("p1.doc_id") == F.col("p0.doc_id"))
            & (F.col("p1.pos") == F.col("p0.pos") + 1),
        )
        .groupBy(
            F.col("p0.term").alias("w0"), F.col("p1.term").alias("w1")
        )
        .agg(F.count("*").alias("c_ab"))
    )
    # referenced twice (total + scored output): census is vocab-bounded
    bigrams = bigrams.localCheckpoint(eager=False)
    btot = bigrams.agg(F.sum("c_ab").alias("b"))
    ratio = (F.col("c_ab").cast("double") / F.col("b").cast("double")) / (
        (F.col("ca").cast("double") / F.col("t").cast("double"))
        * (F.col("cb").cast("double") / F.col("t").cast("double"))
    )
    return (
        bigrams.filter(F.col("c_ab") >= min_count)
        .join(
            F.broadcast(uni.select(F.col("term").alias("w0"), F.col("c").alias("ca"))),
            "w0",
        )
        .join(
            F.broadcast(uni.select(F.col("term").alias("w1"), F.col("c").alias("cb"))),
            "w1",
        )
        .join(F.broadcast(totals))
        .join(F.broadcast(btot))
        .select(
            "w0",
            "w1",
            "c_ab",
            "ca",
            "cb",
            (F.floor(F.log(ratio) * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w0", "w1")
        .limit(k)
    )


def dataset_card(documents: DataFrame) -> DataFrame:
    """Dataset datasheet (the 'Datasheets for Datasets' / dataset-card
    summary a release ships with): per-source volume, token/char mass,
    language mix, corpus-wide exact-dup exposure, PII incidence, and
    mean document length — the fourth flagship composition (curation
    builds the corpus, training_batches packs it, rag_retrieval serves
    it, this documents it).

    PII fixture note: the synthetic corpus contains no PII, so a
    deterministic contact line is planted on every 7th document (the
    text_pii_scrub convention) and the card must count exactly those.

    Plan shape: ONE row-scale pass computes every per-doc feature
    (tokens, chars, fingerprint, lang flag, PII flag — all codegen);
    the dup exposure joins the doc relation against the
    fingerprint-census aggregate (fingerprint-keyed, broadcast under
    AQE at card scale); the card itself is a source-bounded partial
    agg. Nothing scans the corpus twice."""
    planted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    per_doc = documents.select(
        "doc_id",
        "source",
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5(normalized).alias("fp"),
        (
            planted.rlike(EMAIL_REGEX) | planted.rlike(PHONE_REGEX)
        ).cast("int").alias("pii"),
    )
    fp_census = per_doc.groupBy("fp").agg(F.count("*").alias("fp_n"))
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        per_doc.join(fp_census, "fp")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.count(F.when(F.col("lang") == "en", 1)).alias("n_en"),
            F.count(F.when(F.col("fp_n") > 1, 1)).alias("n_dup_docs"),
            F.sum("pii").cast("long").alias("n_pii_docs"),
            q(
                F.sum("n_tokens").cast("double") / F.count("*").cast("double")
            ).alias("mean_doc_tokens"),
        )
        .orderBy("source")
    )


def source_ablation_report(documents: DataFrame) -> DataFrame:
    """Leave-one-source-out ablation: for every source, the corpus
    statistics WITHOUT that source (doc count, mean tokens/doc,
    exact-dup doc count) — the data-valuation first pass ("which
    source is dragging the corpus?") computed by AGGREGATE ALGEBRA,
    not |sources| recomputation passes.

    The dup correction is the non-trivial part: removing source s can
    dissolve dup groups, so
    dup_rest(s) = A - sum over fps touched by s of
    (cnt*[cnt>=2] - (cnt-cnt_s)*[cnt-cnt_s>=2]), where A is the global
    dup-doc count — one (fp, source)-keyed aggregate joined against
    the fp census, all exact integers.

    Plan shape: one row-scale pass builds per-doc features; everything
    else is keyed by fp or source (census-scale). The oracle computes
    each source's rest-statistics by brute force, so the comparison
    PROVES the algebra."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    per_doc = documents.select(
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.md5(normalized).alias("fp"),
    )
    tot = per_doc.agg(
        F.count("*").alias("g_docs"), F.sum("n_tokens").alias("g_tokens")
    )
    per_source = per_doc.groupBy("source").agg(
        F.count("*").alias("s_docs"), F.sum("n_tokens").alias("s_tokens")
    )
    fp_tot = per_doc.groupBy("fp").agg(F.count("*").alias("cnt"))
    a_global = fp_tot.agg(
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0)).alias("a_dup")
    )
    fp_src = per_doc.groupBy("fp", "source").agg(F.count("*").alias("cnt_s"))
    correction = (
        fp_src.join(fp_tot, "fp")
        .select(
            "source",
            (
                F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0)
                - F.when(
                    F.col("cnt") - F.col("cnt_s") >= 2,
                    F.col("cnt") - F.col("cnt_s"),
                ).otherwise(0)
            ).alias("corr"),
        )
        .groupBy("source")
        .agg(F.sum("corr").alias("corr"))
    )
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    mean_rest = (F.col("g_tokens") - F.col("s_tokens")).cast("double") / (
        F.col("g_docs") - F.col("s_docs")
    ).cast("double")
    mean_global = F.col("g_tokens").cast("double") / F.col("g_docs").cast("double")
    return (
        per_source.join(F.broadcast(tot))
        .join(F.broadcast(a_global))
        .join(correction, "source")
        .select(
            "source",
            (F.col("g_docs") - F.col("s_docs")).alias("n_docs_rest"),
            q(mean_rest).alias("mean_tokens_rest"),
            q(mean_rest - mean_global).alias("delta_mean_tokens"),
            (F.col("a_dup") - F.col("corr")).alias("dup_docs_rest"),
        )
        .orderBy("source")
    )


def quality_model_contributions(documents: DataFrame) -> DataFrame:
    """Per-feature contribution decomposition of the linear quality
    model (for a linear model, SHAP values ARE w_i * (x_i - mean(x_i))
    around the corpus baseline) — the explainability pass that turns
    'this doc scored -0.3' into 'because it has no stopwords': the
    audit a human runs before trusting quality_model_score's gate.

    Exactness contract: contributions are quantized at 1e-6 and the
    engine must satisfy sum(contrib_i) == logit - baseline_logit
    within quantization error; the oracle recomputes every piece from
    the same md5 weights and integer-ratio features.

    Plan shape: feature means are one tiny aggregate broadcast back;
    scoring and decomposition stay one codegen pass. Output gated to a
    deterministic 1-in-29 doc sample."""

    import hashlib

    def w(i: int) -> float:
        h = int(hashlib.md5(f"qw:{i}".encode()).hexdigest()[:15], 16)
        return 2.0 * (h / float(1 << 60)) - 1.0

    toks = tokens(F.col("text"))
    n_tokens = F.size(toks).cast("double")
    n_chars = F.length(F.col("text")).cast("double")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
    ).cast("double")
    n_dots = (n_chars - F.length(F.expr("replace(text, '.', '')"))).cast("double")
    # features quantized to exact 1e-9 integers BEFORE the mean: a
    # plain AVG of doubles is float-sum-order dependent across engines;
    # exact integer sums + one float division are not
    fq = lambda c: F.floor(c * 1e9 + F.lit(0.5)).cast("long")  # noqa: E731
    feats = documents.select(
        "doc_id",
        fq(n_tokens / F.lit(100.0)).alias("f0"),
        fq(n_stop / (n_tokens + F.lit(1.0))).alias("f1"),
        fq(n_chars / (n_tokens + F.lit(1.0))).alias("f2"),
        fq(n_dots / (n_chars + F.lit(1.0))).alias("f3"),
    )
    means = feats.agg(
        *[F.sum(f"f{i}").alias(f"s{i}") for i in range(4)],
        F.count("*").alias("nd"),
    )
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    with_m = feats.join(F.broadcast(means))
    contribs = [
        (
            F.lit(w(i))
            * (
                F.col(f"f{i}").cast("double") / F.lit(1e9)
                - F.col(f"s{i}").cast("double")
                / F.col("nd").cast("double")
                / F.lit(1e9)
            )
        ).alias(f"raw_c{i}")
        for i in range(4)
    ]
    return (
        with_m.select("doc_id", *contribs)
        .filter(F.col("doc_id") % 29 == 0)
        .select(
            "doc_id",
            *[q(F.col(f"raw_c{i}")).alias(f"c{i}") for i in range(4)],
            q(
                F.col("raw_c0")
                + F.col("raw_c1")
                + F.col("raw_c2")
                + F.col("raw_c3")
            ).alias("total_contrib"),
        )
        .orderBy("doc_id")
    )


def gopher_repetition_rules(documents: DataFrame) -> DataFrame:
    """Gopher-style n-gram repetition gates (Rae et al. 2021, §A1.1 —
    public heuristic): per document, the fraction of TOKEN MASS covered
    by duplicate 2-grams and 3-grams, and the share of the single most
    frequent 2-gram, plus the boolean gates at the published thresholds
    (dup-2gram mass > 0.2, dup-3gram mass > 0.18, top-2gram share >
    0.2 — any trip fails the document). The word-level twin is
    text_repetition; this is the n-gram half of the rule set, the one
    that actually catches templated boilerplate word-level counts miss.

    Plan shape: tokens hash ONCE into a staged long-array column, then
    each n-gram relation combines the already-hashed neighbors with one
    xxhash64(a, b[, c]) per position (zip_with over shifted slices for
    2-grams) — no multi-word gram STRING is ever materialized, which is
    the whole cost at volume: higher-order-function lambdas run
    interpreted per element, so the round-3 form (n element_at string
    lookups + concat_ws + a string hash per gram) measured 9.2 s at
    sf0.1 vs 1.1 s for this hash-combine form (8x), bit-identical
    output. Gram-key equality matches string-gram equality absent
    64-bit collisions — the same caveat the oracle already carries.
    Each relation aggregates (doc_id, gram_hash) -> count map-side,
    then folds to one row per doc; shuffles carry per-doc gram
    histograms (8-byte keys), never raw text. Pure codegen."""
    toks = tokens(F.col("text"))
    staged = documents.select(
        "doc_id", F.transform(toks, lambda t: F.xxhash64(t)).alias("ht")
    )

    def gram_stats(n: int, out_prefix: str) -> DataFrame:
        sz = F.size("ht")
        if n == 2:
            keys = F.zip_with(
                F.slice(F.col("ht"), 1, sz - 1),
                F.slice(F.col("ht"), 2, sz - 1),
                lambda a, b: F.xxhash64(a, b),
            )
        else:
            # guard: sequence(0, -1) DESCENDS in Spark, so short docs
            # need an explicit empty array, not a negative upper bound
            keys = F.when(
                sz >= n,
                F.transform(
                    F.sequence(F.lit(0), sz - n),
                    lambda i: F.xxhash64(
                        *[
                            F.element_at(F.col("ht"), (i + j + 1).cast("int"))
                            for j in range(n)
                        ]
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        per_gram = (
            staged.select("doc_id", F.explode(keys).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("cnt"))
        )
        return per_gram.groupBy("doc_id").agg(
            F.sum("cnt").alias(f"{out_prefix}_total"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
                f"{out_prefix}_dup"
            ),
            F.max("cnt").alias(f"{out_prefix}_top"),
        )

    g2, g3 = gram_stats(2, "g2"), gram_stats(3, "g3")
    joined = g2.join(g3, "doc_id", "left")
    dup2 = F.round(F.col("g2_dup") / F.col("g2_total"), 4)
    dup3 = F.round(
        F.coalesce(F.col("g3_dup") / F.col("g3_total"), F.lit(0.0)), 4
    )
    top2 = F.round(F.col("g2_top") / F.col("g2_total"), 4)
    return joined.select(
        "doc_id",
        dup2.alias("dup_2gram_mass"),
        dup3.alias("dup_3gram_mass"),
        top2.alias("top_2gram_share"),
        (
            (dup2 > 0.2) | (dup3 > 0.18) | (top2 > 0.2)
        ).alias("fails_repetition"),
    ).orderBy("doc_id")


def c4_quality_filters(documents: DataFrame) -> DataFrame:
    """C4-style rule filters (Raffel et al. 2020, §2.2 — public
    heuristics), adapted to the fixture's token-stream documents (the
    sentence-punctuation rules need prose; the length/shape/blocklist
    rules below are the applicable subset): word count in [50, 10000],
    mean word length in [3, 10], no '{' (code/markup leak), no
    blocklisted token ('javascript', 'lorem'), and the conjunction as
    the keep flag. Output is one row per document with per-rule
    booleans — the shape a filter-ablation report consumes.

    Plan: single codegen projection over the scan (array stats computed
    inline, no explode, no shuffle except the final orderBy for the
    deterministic contract). Linear scan at any corpus size."""
    toks = tokens(F.col("text"))
    n_words = F.size(toks).cast("long")
    mean_len = (F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / n_words)
    has_brace = F.col("text").contains("{")
    has_blocked = F.arrays_overlap(
        F.transform(toks, lambda t: F.lower(t)),
        F.array(F.lit("javascript"), F.lit("lorem")),
    )
    ok_count = (n_words >= 50) & (n_words <= 10_000)
    ok_len = (mean_len >= 3.0) & (mean_len <= 10.0)
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        ok_count.alias("ok_word_count"),
        ok_len.alias("ok_mean_word_len"),
        (~has_brace).alias("ok_no_brace"),
        (~has_blocked).alias("ok_no_blocklist"),
        (ok_count & ok_len & ~has_brace & ~has_blocked).alias("keep"),
    ).orderBy("doc_id")


def curriculum_shards(documents: DataFrame, n_shards: int = 10) -> DataFrame:
    """Curriculum ordering for training: band documents into difficulty
    shards by the quality-model logit (decile 0 = easiest/highest
    quality first) and give each doc a deterministic position within
    its shard (md5 shuffle — the corpus_shuffle_shards convention), so
    a trainer can stream shard 0..9 in order with intra-shard
    randomness. Output: (doc_id, shard, position, n_in_shard).

    Scale shape: the decile edges come from the QUANTIZED-LOGIT VALUE
    CENSUS (the model_eval_auc construction) — a groupBy bounded by
    distinct logit values plus one tiny prefix-sum window, never a
    global row sort. Shard membership is then a broadcast range lookup,
    and the within-shard position is a window partitioned BY SHARD over
    the hash key — 10 partitions of ~N/10 docs each, the partition-
    parallel sort a 1000-executor cluster wants."""
    scored = quality_model_score(documents).select(
        "doc_id",
        F.floor(F.col("logit") * 1e4 + F.lit(0.5)).cast("long").alias("lv"),
    )
    census = scored.groupBy("lv").agg(F.count("*").alias("c"))
    w_prefix = Window.orderBy("lv").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("lv").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # rank of the FIRST row at each value (0-based); shard = which
    # decile that rank range falls in. Both the prefix-sum and the
    # total run on the bounded distinct-value census — no driver round
    # trip, no corpus-sized window.
    ranked = census.select(
        "lv",
        F.coalesce(F.sum("c").over(w_prefix), F.lit(0)).alias("first_rank"),
        F.sum("c").over(w_all).alias("total"),
    )
    # a value straddling a shard boundary is assigned by its first rank
    # (deterministic; identical in the oracle)
    shard_of = F.least(
        F.lit(n_shards - 1),
        F.floor(F.col("first_rank") * n_shards / F.col("total")).cast("int"),
    )
    # higher logit = higher quality = earlier shard: invert by ranking
    # descending. Window.orderBy above is ascending on lv, so flip.
    edges = ranked.select(
        "lv", (F.lit(n_shards - 1) - shard_of).cast("int").alias("shard")
    )
    with_shard = scored.join(F.broadcast(edges), "lv").select("doc_id", "shard")
    pos_key = F.md5(F.concat(F.lit("curriculum:"), F.col("doc_id").cast("string")))
    w_pos = Window.partitionBy("shard").orderBy(pos_key, "doc_id")
    w_cnt = Window.partitionBy("shard")
    return with_shard.select(
        "doc_id",
        "shard",
        (F.row_number().over(w_pos) - 1).alias("position"),
        F.count("*").over(w_cnt).alias("n_in_shard"),
    ).orderBy("shard", "position")


def ccnet_perplexity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 — public
    heuristic): score every document with the in-corpus bigram LM
    (avg ln P(w_i|w_{i-1}), the bigram_logprob construction), then
    split EACH LANGUAGE into head / middle / tail terciles by score —
    head = most-fluent third (highest avg logprob = lowest perplexity).
    CCNet keeps head+middle and drops tail; the bucket column is the
    contract a mixture policy consumes.

    Scale shape: the corpus shuffles once into the exploded bigram
    relation; both LM count relations are vocabulary-bounded; tercile
    edges come from a PER-LANG VALUE CENSUS over the 6-dp-rounded
    scores (groupBy bounded by distinct score values, prefix-sum
    window partitioned by lang) and broadcast back — no global row
    sort, no per-lang single-partition rank over documents."""
    toks = documents.select(
        "doc_id",
        "lang",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "pos", "tok"
        ),
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # referenced three times (pair census, history census, score-back):
    # checkpoint so the corpus explode + window runs once
    bigrams = toks.withColumn("nxt", F.lead("tok").over(w)).filter(
        F.col("nxt").isNotNull()
    ).localCheckpoint(eager=False)
    pair_counts = bigrams.groupBy("tok", "nxt").agg(F.count("*").alias("c2"))
    head_counts = bigrams.groupBy("tok").agg(F.count("*").alias("c1"))
    scored = (
        bigrams.join(pair_counts, ["tok", "nxt"])
        .join(head_counts, "tok")
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg(F.log(F.col("c2") / F.col("c1"))), 6).alias("score"))
    )
    census = scored.groupBy("lang", "score").agg(F.count("*").alias("c"))
    w_prefix = (
        Window.partitionBy("lang")
        .orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_lang = Window.partitionBy("lang")
    edges = census.select(
        "lang",
        "score",
        F.coalesce(F.sum("c").over(w_prefix), F.lit(0)).alias("first_rank"),
        F.sum("c").over(w_lang).alias("total"),
    ).select(
        "lang",
        "score",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            F.least(
                F.lit(2),
                F.floor(F.col("first_rank") * 3 / F.col("total")).cast("int"),
            )
            + 1,
        ).alias("bucket"),
    )
    return (
        scored.join(F.broadcast(edges), ["lang", "score"])
        .select("doc_id", "lang", "score", "bucket")
        .orderBy("doc_id")
    )


def tokenizer_fertility_report(documents: DataFrame, rounds: int = 3) -> DataFrame:
    """Tokenizer fertility by language — avg BPE tokens per word after
    the corpus-trained merge table is applied (the metric multilingual
    tokenizer work reports: high fertility = a language pays more
    sequence length per word). Trains the same `rounds` merges as
    bpe_train_merges (word table split per (lang, word); the composite
    key leaves the freq-weighted pair census — and therefore the
    learned merges — IDENTICAL to the corpus-level trainer, since
    merges apply within words), then reports per-lang occurrence-
    weighted fertility.

    Same vocabulary-bounded scale shape as the BPE trainer (round 13:
    incremental pair census, _bpe_train_incremental — every per-round
    pass is bounded by the words containing the merged pair), and the
    final report is a lang-bounded aggregate."""
    words = (
        documents.select(
            "lang",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "word"
            ),
        )
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").alias("freq"))
    )
    sdf = words.select(
        F.concat_ws("|", "lang", "word").alias("w"),
        "freq",
        F.filter(F.split(F.col("word"), ""), lambda c: c != "").alias(
            "syms"
        ),
    )
    _, final = _bpe_train_incremental(sdf, rounds)
    per_word = final.select(
        "w", "freq", F.size("syms").alias("n_sym")
    )
    return (
        per_word.select(
            F.substring_index(F.col("w"), "|", 1).alias("lang"),
            "freq",
            "n_sym",
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_distinct_words"),
            F.sum("freq").alias("word_occurrences"),
            F.sum(F.col("freq") * F.col("n_sym")).alias("token_occurrences"),
        )
        .select(
            "lang",
            "n_distinct_words",
            "word_occurrences",
            "token_occurrences",
            F.round(
                F.col("token_occurrences") / F.col("word_occurrences"), 4
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


def doremi_reweight_step(documents: DataFrame, eta: float = 1.0) -> DataFrame:
    """One DoReMi-style domain-reweighting step (Xie et al. 2023 —
    public method): starting from uniform domain weights, upweight
    sources whose documents score ABOVE the corpus average under the
    proxy model (quality_model_score's logit stands in for the excess
    loss between proxy and reference models) with a LINEARIZED
    multiplicative update w_i ∝ max(eps, 1 + eta * excess_i), then
    normalize. (The paper uses exp(eta*x); the first-order form keeps
    every value rational, so Spark and DuckDB agree bit-for-bit with
    no libm exp in the contract.)

    Engine-stable arithmetic: per-source averages come from the exact
    integer sums of the QUANTIZED logit (the model_eval_auc census
    convention), the excess is one IEEE double subtraction quantized
    half-up to 6 dp, and update factors become integer micro-units
    before the normalizing sum, so the only float ops are per-value
    divisions. Plan: one |sources|-bounded partial agg + one window
    over that tiny relation."""
    scored = quality_model_score(documents).select(
        "doc_id",
        F.floor(F.col("logit") * 1e4 + F.lit(0.5)).cast("long").alias("lv"),
    )
    src = documents.select("doc_id", "source").join(scored, "doc_id")
    per_source = src.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("lv").alias("lv_sum")
    )
    w = Window.partitionBy()
    # per-source and corpus means in LOGIT units (lv is logit * 1e4)
    mean_i = F.col("lv_sum") / F.col("n_docs") / 1e4
    mean_all = F.sum("lv_sum").over(w) / F.sum("n_docs").over(w) / 1e4
    excess_q = F.floor((mean_i - mean_all) * 1e6 + F.lit(0.5)) / 1e6
    factor_u = F.greatest(
        F.lit(1),
        F.floor((1.0 + eta * excess_q) * 1e6 + F.lit(0.5)).cast("long"),
    )
    return (
        per_source.select(
            "source",
            "n_docs",
            F.round(mean_i, 6).alias("avg_logit"),
            excess_q.alias("excess"),
            factor_u.alias("factor_u"),
            F.sum(factor_u).over(w).alias("factor_total"),
        )
        .select(
            "source",
            "n_docs",
            "avg_logit",
            "excess",
            F.round(F.col("factor_u") / F.col("factor_total"), 6).alias(
                "new_weight"
            ),
        )
        .orderBy("source")
    )


def lang_id_confusion(documents: DataFrame) -> DataFrame:
    """Confusion matrix for the n-gram language identifier: per
    (true lang, predicted lang) document counts and the row-normalized
    fraction — the eval artifact that decides whether the cheap
    lang-ID gate is trustworthy enough to route documents (CCNet runs
    exactly this audit against fastText labels before trusting its
    split). Composes text_lang_id_ngram; the matrix aggregate is
    bounded by |langs|^2 cells, the window by |langs| partitions."""
    pred = text_lang_id_ngram(documents)
    w = Window.partitionBy("lang")
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "lang",
            "lang_pred",
            "n_docs",
            F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias("frac"),
        )
        .orderBy("lang", "lang_pred")
    )


def source_token_kl(documents: DataFrame) -> DataFrame:
    """Per-source KL divergence of the unigram token distribution from
    the corpus distribution — the text-domain drift gauge (a source
    whose language shifts from the corpus mix lights up here long
    before quality metrics move; the domain-weighting companion to
    drift_report/drift_ks on events).

    Engine-stable: each term's contribution p_s(t) * ln(p_s/p) is
    computed in one fixed expression shape and quantized half-up to
    NANO units (the bm25 convention), so the per-source sum is an
    exact bigint. Plan: one exploded relation feeds the (source,
    token) census; the token census is vocabulary-bounded and joins
    broadcast under AQE; the corpus total rides a one-row broadcast.
    Shuffles carry the vocabulary, never the corpus."""
    toks = documents.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    c_st = toks.groupBy("source", "tok").agg(F.count("*").alias("c_st"))
    n_s = c_st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    c_t = c_st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    n_total = c_t.agg(F.sum("c_t").alias("n"))
    contrib = (
        c_st.join(F.broadcast(n_s), "source")
        .join(c_t, "tok")
        .join(F.broadcast(n_total))
        .select(
            "source",
            "n_s",
            F.floor(
                (F.col("c_st") / F.col("n_s"))
                * F.log(
                    (F.col("c_st") * F.col("n"))
                    / (F.col("n_s") * F.col("c_t"))
                )
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("u"),
        )
    )
    return (
        contrib.groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.sum("u").alias("kl_nano"),
        )
        .select(
            "source",
            "n_tokens",
            "kl_nano",
            F.round(F.col("kl_nano") / 1e9, 6).alias("kl"),
        )
        .orderBy("source")
    )


def ngram_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """Corpus-order n-gram NOVELTY: for each document (doc_id order =
    arrival/crawl order), the fraction of its DISTINCT n-grams never
    seen in any earlier document. The saturation diagnostic a crawl
    pipeline watches — novelty decaying toward zero means additional
    data is re-crawl, and the curve's knee sets the dedup budget.

    Plan: gram_postings builds the DISTINCT (doc_id, gram-hash) relation
    entirely inside whole-stage codegen (posexplode + lead window +
    xxhash64 composition — no array columns, no interpreted lambdas;
    measured ~5x over the transform/array form at sf0.1), ONE shuffle
    keyed on gram computes each gram's first owner (min doc_id), and
    the join back is gram-partitioned on both sides so it reuses the
    aggregation's exchange. Linear in corpus size; nothing is quadratic
    and no raw text ever shuffles. Documents shorter than n contribute
    their whole trimmed text as a single shingle (the minhash_band_keys
    fallback), so every document appears in the output."""
    from .dedup import gram_postings

    toks = tokens(F.col("text"))
    short = documents.filter(F.size(toks) < n).select(
        "doc_id", F.xxhash64(F.trim(F.col("text"))).alias("g")
    )
    # referenced twice (first-owner census + join-back): checkpoint so
    # the posexplode + window gram construction runs once
    doc_grams = gram_postings(documents, n).select(
        "doc_id", F.col("gram").alias("g")
    ).unionByName(short).localCheckpoint(eager=False)
    first_owner = doc_grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        doc_grams.join(first_owner, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (F.floor(F.col("n_novel") / F.col("n_grams") * 1e4 + F.lit(0.5)) / 1e4)
            .alias("novelty_frac"),
        )
        .orderBy("doc_id")
    )


def keyword_textrank(documents: DataFrame, top_n: int = 20) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004, public
    algorithm): rank words by a damped power iteration over the
    adjacent-word co-occurrence graph, two fixed iterations from
    uniform rank — the graph-centrality complement of tfidf_top_terms
    (frequency) and pmi_collocations (association).

    Arithmetic follows the pagerank_converged convention: ranks are
    exact integer micro-units, per-edge contributions are
    (rank * weight) DIV weighted-degree (floor division), inflows are
    exact bigint sums, and each damping update is one deterministic
    IEEE op — both engines replay the iterations bit-identically.

    Plan: the co-occurrence census reuses gram_postings' posexplode +
    lead window (codegen, no arrays); after it, every relation is
    vocabulary-bounded — iterations shuffle (word, rank) pairs, never
    corpus rows. Final top-n is a TakeOrdered."""
    from pyspark.sql.window import Window as W

    toks = documents.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "w")
    )
    nxt = F.lead("w").over(W.partitionBy("doc_id").orderBy("pos"))
    pairs = toks.select("w", nxt.alias("v")).filter(
        F.col("v").isNotNull() & (F.col("w") != F.col("v"))
    )
    und = pairs.select(
        F.least("w", "v").alias("a"), F.greatest("w", "v").alias("b")
    )
    # the corpus-pass census is embedded once per reference downstream
    # (two union arms x two power iterations + the degree census);
    # checkpoint it so the posexplode + window + groupBy runs once —
    # everything after is vocabulary-bounded
    wedges = und.groupBy("a", "b").agg(F.count("*").alias("wt")).localCheckpoint(
        eager=False
    )
    # Small-vocabulary fast path (optimization round 13, the BPE
    # driver-training pattern): the pair census is vocabulary-bounded,
    # so below the cutoff (take(N+1) returning <= N rows proves the
    # whole census was collected) the two power iterations run as a
    # plain Python loop — exact integer (rank * wt) DIV wdeg terms
    # (nonnegative, so Python // == Spark DIV), the same
    # base + floor(0.85 * double(inflow) + 0.5) damping op, and the
    # same (rank_u DESC, word) top-n. The distributed loop below stays
    # the route for vocabularies above the cutoff.
    cutoff = env_int("SPARK_GRAFT_TEXTRANK_DRIVER_EDGES_MAX", 262144, minimum=0)
    if cutoff > 0:
        head = wedges.take(cutoff + 1)
        if len(head) <= cutoff:
            import math

            wt: dict = {}
            wdeg_d: dict = {}
            for r in head:
                a, b, w = str(r["a"]), str(r["b"]), int(r["wt"])
                wt[(a, b)] = wt.get((a, b), 0) + w
                wt[(b, a)] = wt.get((b, a), 0) + w
                wdeg_d[a] = wdeg_d.get(a, 0) + w
                wdeg_d[b] = wdeg_d.get(b, 0) + w
            words = sorted(wdeg_d)
            rank = {w_: 1_000_000_000 for w_ in words}
            for _ in range(2):
                inflow: dict = {}
                for (a, b), w in wt.items():
                    inflow[b] = inflow.get(b, 0) + (rank[a] * w) // wdeg_d[a]
                rank = {
                    w_: 150_000_000
                    + int(math.floor(0.85 * float(inflow.get(w_, 0)) + 0.5))
                    for w_ in words
                }
            ordered = sorted(words, key=lambda w_: (-rank[w_], w_))[:top_n]
            return tiny_df(
                documents.sparkSession,
                [(w_, rank[w_] / 1e9) for w_ in ordered],
                "word STRING, textrank DOUBLE",
            )
    edges = wedges.select("a", "b", "wt").unionByName(
        wedges.select(F.col("b").alias("a"), F.col("a").alias("b"), "wt")
    ).localCheckpoint(eager=False)
    wdeg = edges.groupBy("a").agg(F.sum("wt").alias("wdeg"))
    nodes = wdeg.select(F.col("a").alias("word"))
    ranks = nodes.select("word", F.lit(1_000_000_000).cast("long").alias("rank_u"))
    base_u = 150_000_000  # (1 - 0.85) * 1e9
    for _ in range(2):
        contribs = (
            edges.join(wdeg, "a")
            .join(ranks.withColumnRenamed("word", "a"), "a")
            .select("b", F.expr("(rank_u * wt) DIV wdeg").alias("contrib_u"))
        )
        inflow = contribs.groupBy(F.col("b").alias("word")).agg(
            F.sum("contrib_u").alias("inflow_u")
        )
        ranks = nodes.join(inflow, "word", "left").select(
            "word",
            (
                F.lit(base_u).cast("long")
                + F.floor(
                    F.lit(0.85)
                    * F.coalesce(F.col("inflow_u"), F.lit(0)).cast("double")
                    + F.lit(0.5)
                ).cast("long")
            ).alias("rank_u"),
        )
    return (
        ranks.select("word", (F.col("rank_u") / 1e9).alias("textrank"))
        .orderBy(F.col("rank_u").desc(), "word")
        .limit(top_n)
    )


def rank_fusion_rrf(
    documents: DataFrame,
    query_terms: list[tuple[int, str]] | None = None,
    k_each: int = 10,
    k: int = 5,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-Rank Fusion (Cormack et al. 2009, public method) of
    two retrieval rankings: BM25 (term-weighted) and coverage (distinct
    query terms matched, shorter docs first) — the standard way a
    search pipeline combines rankers without score calibration, since
    RRF consumes only RANKS: rrf(d) = sum over rankers of 1/(60 + r).

    Determinism: both input rankings are integer-tie-broken; 1/(60+r)
    is one IEEE division per ranker and the two-term sum is a fixed
    sequence, so fused scores are bit-identical across engines; fused
    ties (symmetric rank pairs) break on doc_id.

    Plan: BM25's exploded-token relations (one corpus pass), a distinct
    (doc, term) semi-census for coverage, two per-query top-k windows,
    and a full-outer fuse on (query, doc) — the fuse input is at most
    2 * k_each rows per query, so fusion cost is query-bounded."""
    if query_terms is None:
        query_terms = [
            (1, "hash"),
            (1, "join"),
            (2, "sort"),
            (2, "merge"),
            (3, "customer"),
            (3, "value"),
        ]
    spark = documents.sparkSession
    queries = tiny_df(spark, query_terms, "query_id int, term string")
    # Both rankers normalize/tokenize identically, so ONE checkpointed
    # (doc, term, tf) aggregate serves the BM25 leg and the coverage
    # leg: dl is the per-doc tf sum (== raw token count) and the
    # distinct (doc, term) hit census is exactly the tf relation's key
    # set. Previously the corpus was exploded three times (BM25's tf +
    # this function's dl and hits).
    tf = _bm25_tf(documents).localCheckpoint(eager=False)
    a = bm25_retrieval(documents, query_terms, k=k_each, tf=tf).select(
        "query_id", "doc_id", F.col("rank").alias("rank_bm25")
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    hits = (
        tf.join(F.broadcast(queries), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    wb = Window.partitionBy("query_id").orderBy(
        F.col("n_hit").desc(), F.col("dl").asc(), F.col("doc_id")
    )
    b = (
        hits.join(dl, "doc_id")
        .withColumn("rank_cov", F.row_number().over(wb))
        .filter(F.col("rank_cov") <= k_each)
        .select("query_id", "doc_id", "rank_cov")
    )
    fused = a.join(b, ["query_id", "doc_id"], "full_outer")
    rrf = F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rank_bm25")), F.lit(0.0)) + F.coalesce(
        1.0 / (F.lit(rrf_k) + F.col("rank_cov")), F.lit(0.0)
    )
    wf = Window.partitionBy("query_id").orderBy(rrf.desc(), F.col("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= k)
        .select(
            "query_id",
            F.col("fused_rank").cast("int").alias("fused_rank"),
            "doc_id",
            (F.floor(rrf * 1e9 + F.lit(0.5)) / 1e9).alias("rrf"),
            "rank_bm25",
            "rank_cov",
        )
        .orderBy("query_id", "fused_rank")
    )


def pr_curve_points(documents: DataFrame) -> DataFrame:
    """Precision-recall curve of the quality classifier
    (quality_model_score's logit vs the lang=='en' pseudo-label),
    sampled at the first threshold crossing each 5%-recall step — the
    operating-point sweep a gating pipeline runs before picking the
    production cutoff (model_eval_auc gives the single-number summary;
    this gives the knee).

    Plan shape — the model_eval_auc value census: the corpus flows
    through ONE partial-agg shuffle keyed on the 1e-4-quantized logit;
    the descending prefix sums (cumulative predicted-positive and
    true-positive counts per threshold) and the recall-step picker run
    over the bounded distinct-value relation, never over rows. At
    100 TB the shuffle carries |distinct logits| cells, not documents.

    Determinism: counts are exact bigints; precision/recall are single
    IEEE divisions; the 5%-step bucket is ceil(recall*20) (exact IEEE
    multiply), and the picker keeps rows where the bucket first
    changes under the lv-descending order — bit-identical across
    engines."""
    scored = quality_model_score(documents).join(
        documents.select("doc_id", (F.col("lang") == "en").alias("is_pos")),
        "doc_id",
    )
    census = scored.groupBy(
        F.floor(F.col("logit") * 1e4 + F.lit(0.5)).cast("long").alias("lv")
    ).agg(
        F.count("*").alias("c"),
        F.count(F.when(F.col("is_pos"), 1)).alias("p"),
    )
    wd = Window.orderBy(F.col("lv").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = census.select(
        "lv",
        F.sum("c").over(wd).alias("n_pred"),
        F.sum("p").over(wd).alias("tp"),
        F.sum("p").over(Window.partitionBy()).alias("pos_total"),
    )
    rec = F.col("tp") / F.col("pos_total")
    wl = Window.orderBy(F.col("lv").desc())
    pts = (
        cum.withColumn("b", F.ceil(rec * 20))
        .withColumn("pb", F.lag("b").over(wl))
        .filter(F.col("pb").isNull() | (F.col("b") != F.col("pb")))
    )
    return pts.select(
        (F.col("lv") / 1e4).alias("threshold"),
        "n_pred",
        "tp",
        (F.floor(F.col("tp") / F.col("n_pred") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "precision"
        ),
        (F.floor(rec * 1e6 + F.lit(0.5)) / 1e6).alias("recall"),
    ).orderBy(F.col("threshold").desc())


def isotonic_calibration(
    documents: DataFrame, bin_width_u: float = 250.0
) -> DataFrame:
    """Isotonic (monotone) calibration of the quality classifier via
    the MINIMAX identity: the weighted isotonic L2 fit at bin t equals
    max_{i<=t} min_{j>=t} wavg(pos_rate over bins i..j) — exactly the
    pool-adjacent-violators solution (Barlow et al. 1972 — public
    method) without PAV's sequential stack, so it distributes: the
    classic sequential algorithm becomes census algebra.

    calibration_report shows WHERE the reliability curve inverts;
    this produces the monotone score->probability map a gate actually
    deploys.

    Plan shape: scoring is the quality_model_score codegen pass; the
    census is one partial-agg shuffle bounded by the bin domain
    (~25 cells); the minimax is a 3-way census self-join
    (O(bins^3/6) ~ 2.6k rows) grouped twice — all cell-bounded, never
    row-bounded. Determinism: prefix sums are exact ints; each
    weighted average is ONE IEEE division; min/max over exact doubles."""
    scored = quality_model_score(documents).join(
        documents.select("doc_id", (F.col("lang") == "en").alias("pos")), "doc_id"
    )
    lu = F.floor(F.col("logit") * 1e4 + F.lit(0.5)).cast("long")
    census = (
        scored.select(
            F.floor(lu / F.lit(bin_width_u)).cast("long").alias("bin"),
            F.col("pos").cast("int").alias("pos"),
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.sum("pos").alias("n_pos"))
    )
    wp = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = census.select(
        "bin",
        "n",
        "n_pos",
        F.row_number().over(Window.orderBy("bin")).alias("rn"),
        F.sum("n").over(wp).alias("cn"),
        F.sum("n_pos").over(wp).alias("cp"),
    )
    i = pre.select(
        F.col("rn").alias("i_rn"),
        (F.col("cn") - F.col("n")).alias("nprev"),
        (F.col("cp") - F.col("n_pos")).alias("pprev"),
    )
    j = pre.select(
        F.col("rn").alias("j_rn"),
        F.col("cn").alias("cnj"),
        F.col("cp").alias("cpj"),
    )
    t = pre.select("bin", "n", "n_pos", F.col("rn").alias("t_rn"))
    avg_ij = (F.col("cpj") - F.col("pprev")).cast("double") / (
        F.col("cnj") - F.col("nprev")
    ).cast("double")
    inner = (
        t.join(F.broadcast(i), F.col("i_rn") <= F.col("t_rn"))
        .join(
            F.broadcast(j),
            F.col("j_rn") >= F.col("t_rn"),
        )
        .select("bin", "n", "n_pos", "t_rn", "i_rn", avg_ij.alias("a"))
        .groupBy("bin", "n", "n_pos", "t_rn", "i_rn")
        .agg(F.min("a").alias("mn"))
    )
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        inner.groupBy("bin", "n", "n_pos")
        .agg(F.max("mn").alias("fit"))
        .select(
            "bin",
            "n",
            "n_pos",
            q(F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
                "pos_rate"
            ),
            q(F.col("fit")).alias("iso_fit"),
        )
        .orderBy("bin")
    )


def mrr_recall_eval(documents: DataFrame, k: int = 10) -> DataFrame:
    """MRR and recall@k of the BM25 ranking under BINARY relevance
    (a document is relevant iff it contains ALL the query's terms) —
    the two retrieval metrics ndcg_eval's graded measure doesn't
    capture: how soon the first fully-relevant hit appears, and what
    fraction of the relevant set the cutoff recovers.

    Plan shape: rides bm25_retrieval + the ndcg relevance census; the
    metric joins run on queries x top-k rows. Determinism: ranks and
    counts are exact ints; MRR/recall are single IEEE divisions."""
    # shared checkpointed tf aggregate — same rationale as ndcg_eval
    tf = _bm25_tf(documents).localCheckpoint(eager=False)
    ranked = bm25_retrieval(documents, k=k, tf=tf)
    toks = tf.select("doc_id", "term")
    spark = documents.sparkSession
    qterms = tiny_df(
        spark,
        [(1, "hash"), (1, "join"), (2, "sort"), (2, "merge"),
         (3, "customer"), (3, "value")],
        "query_id int, term string",
    )
    qsize = qterms.groupBy("query_id").agg(F.count("*").alias("n_terms"))
    fullrel = (
        toks.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("rel"))
        .join(F.broadcast(qsize), "query_id")
        .filter(F.col("rel") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    nrel = fullrel.groupBy("query_id").agg(F.count("*").alias("n_relevant"))
    hits = ranked.join(fullrel, ["query_id", "doc_id"]).groupBy("query_id").agg(
        F.min("rank").alias("first_rank"),
        F.count("*").alias("n_hits"),
    )
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        nrel.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("n_relevant").cast("long").alias("n_relevant"),
            F.coalesce(F.col("first_rank"), F.lit(0)).cast("long").alias(
                "first_rank"
            ),
            q(
                F.when(
                    F.col("first_rank").isNotNull(),
                    F.lit(1.0) / F.col("first_rank"),
                ).otherwise(F.lit(0.0))
            ).alias("mrr"),
            q(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_relevant").cast("double")
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def kneser_ney_logprob(documents: DataFrame, discount: float = 0.75) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen
    & Goodman 1998 — public methods) — the industrial-strength
    smoothing upgrade over bigram_logprob's raw MLE: mass is
    discounted from every seen bigram and re-allocated through the
    CONTINUATION unigram (how many distinct left-contexts a word
    follows), the fix for the "San Francisco" problem (frequent word,
    few contexts).

      P_kn(w|v) = (max(c(v,w) - D, 0) + D * N1+(v.) * P_cont(w)) / c(v.)
      P_cont(w) = N1+(.w) / |distinct bigram types|

    Determinism: all counts are exact ints; each probability is the
    SAME fixed IEEE expression tree on both engines; per-doc scores
    follow the bigram_logprob ROUND(AVG(LN(p)), 6) convention.

    Plan shape: the one exploded token relation feeds the bigram
    census; N1+ forward/backward and the type total are aggregates
    OVER the census (vocabulary-bounded, never row-bounded); score-back
    joins broadcast under AQE. Linear in corpus tokens at 100 TB."""
    toks = documents.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "pos", "tok"
        ),
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # bigrams feeds three consumers (pair census, history census, the
    # scored join-back) and the pair census pc feeds four (N1+ fw/bw,
    # type total, score join): checkpoints run the corpus explode +
    # window once and the census once
    bigrams = toks.withColumn("nxt", F.lead("tok").over(w)).filter(
        F.col("nxt").isNotNull()
    ).localCheckpoint(eager=False)
    pc = bigrams.groupBy("tok", "nxt").agg(
        F.count("*").alias("c2")
    ).localCheckpoint(eager=False)
    hc = bigrams.groupBy("tok").agg(F.count("*").alias("c1"))
    fw = pc.groupBy("tok").agg(F.count("*").alias("n1fw"))
    bw = pc.groupBy("nxt").agg(F.count("*").alias("n1bw"))
    btypes = pc.agg(F.count("*").alias("btypes"))
    d = F.lit(discount)
    p_kn = (
        F.greatest(F.col("c2") - d, F.lit(0.0))
        + d * F.col("n1fw") * F.col("n1bw") / F.col("btypes")
    ) / F.col("c1")
    scored = (
        bigrams.join(pc, ["tok", "nxt"])
        .join(hc, "tok")
        .join(fw, "tok")
        .join(bw, "nxt")
        .join(F.broadcast(btypes))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(F.log(p_kn)), 6).alias("avg_logprob"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 4).alias("ppl"),
    ).orderBy("doc_id")


def readability_report(documents: DataFrame) -> DataFrame:
    """Flesch Reading Ease (public formula: 206.835 - 1.015*(words/
    sentences) - 84.6*(syllables/word)) with deterministic proxies —
    words = \\S+ runs, sentences = [.!?]+ runs (min 1), syllables =
    [aeiouy]+ vowel groups — the classic readability gate a curation
    pipeline runs next to the Gopher/C4 rules. Pure codegen counts; one
    map-side projection, no shuffle beyond the ORDER BY."""
    w = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)).cast("long")
    s = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)).cast("long")
    syl = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0)
    ).cast("long")
    wg = F.greatest(w, F.lit(1))
    sg = F.greatest(s, F.lit(1))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (wg.cast("double") / sg.cast("double"))
        - F.lit(84.6) * (syl.cast("double") / wg.cast("double"))
    )
    q4 = F.floor(flesch * 1e4 + F.lit(0.5)) / 1e4
    grade = (
        F.when(q4 >= 90, "very_easy")
        .when(q4 >= 70, "easy")
        .when(q4 >= 50, "medium")
        .when(q4 >= 30, "hard")
        .otherwise("very_hard")
    )
    return documents.select(
        "doc_id",
        w.alias("n_words"),
        s.alias("n_sentences"),
        syl.alias("n_syllables"),
        q4.alias("flesch"),
        grade.alias("grade"),
    ).orderBy("doc_id")


def code_prose_report(documents: DataFrame) -> DataFrame:
    """Code-vs-prose detection (the curation step that routes source
    code out of a natural-language mixture): structural symbol density
    ([{}();=<>[]] per char), code-keyword hits (\\b-delimited def/
    return/import/class/function/var/const/if/for), and indented-line
    count; is_code = symbol_ratio >= 0.04 OR >= 3 keyword hits — a
    deterministic threshold rule, not a model, so the oracle replays it
    exactly. Map-side codegen counts; no shuffle beyond the ORDER BY."""
    n_chars = F.length("text").cast("long")
    n_sym = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[{}();=<>\[\]]"), 0)
    ).cast("long")
    n_kw = F.size(
        F.regexp_extract_all(
            F.col("text"),
            F.lit(r"\b(def|return|import|class|function|var|const|if|for)\b"),
            0,
        )
    ).cast("long")
    n_indent = F.size(
        F.filter(
            F.split(F.col("text"), "\n"),
            lambda ln: ln.rlike(r"^(  |\t)"),
        )
    ).cast("long")
    ratio = F.floor(
        n_sym.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double") * 1e6
        + F.lit(0.5)
    ) / 1e6
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_sym.alias("n_symbol_chars"),
        n_kw.alias("n_code_keywords"),
        n_indent.alias("n_indented_lines"),
        ratio.alias("symbol_ratio"),
        ((ratio >= 0.04) | (n_kw >= 3)).alias("is_code"),
    ).orderBy("doc_id")


def dpo_pair_builder(documents: DataFrame, pairs_per_group: int = 2) -> DataFrame:
    """Preference-pair construction (the DPO/RLHF data-prep stage,
    public method): within each (lang, source) prompt group, pair the
    top-`pairs_per_group` quality-ranked documents (chosen) with the
    bottom-ranked ones (rejected), i-th with i-th, keeping pairs with
    positive quality margin — the deterministic skeleton of
    best-vs-worst preference mining over a scored corpus.

    Ranking uses the QUANTIZED logit from quality_model_score (1e-4
    units, engine-stable weights) with doc_id tie-breaks, so both
    engines pick identical pairs. Plan shape: one codegen scoring
    pass, one group-keyed shuffle, two WindowGroupLimit-prunable
    rank windows, and a rank-equality join of two k-per-group
    relations (k*|groups| rows each) — never a pair explosion."""
    scored = quality_model_score(documents).select("doc_id", "logit")
    base = documents.select("doc_id", "lang", "source").join(scored, "doc_id")
    w_top = Window.partitionBy("lang", "source").orderBy(
        F.desc("logit"), F.asc("doc_id")
    )
    w_bot = Window.partitionBy("lang", "source").orderBy(
        F.asc("logit"), F.asc("doc_id")
    )
    chosen = (
        base.withColumn("pair_rank", F.row_number().over(w_top))
        .filter(F.col("pair_rank") <= pairs_per_group)
        .select(
            "lang", "source", "pair_rank",
            F.col("doc_id").alias("chosen_id"),
            F.col("logit").alias("logit_c"),
        )
    )
    rejected = (
        base.withColumn("pair_rank", F.row_number().over(w_bot))
        .filter(F.col("pair_rank") <= pairs_per_group)
        .select(
            "lang", "source", "pair_rank",
            F.col("doc_id").alias("rejected_id"),
            F.col("logit").alias("logit_r"),
        )
    )
    return (
        chosen.join(rejected, ["lang", "source", "pair_rank"])
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            "lang", "source",
            F.col("pair_rank").cast("long").alias("pair_rank"),
            "chosen_id", "rejected_id",
            (
                F.floor(
                    (F.col("logit_c") - F.col("logit_r")) * 1e4 + F.lit(0.5)
                )
                / 1e4
            ).alias("margin"),
        )
        .filter(F.col("margin") > 0)
        .orderBy("lang", "source", "pair_rank")
    )


EVAL_PAIRS_BLOCK_CAP = 64


def blocked_eval_pairs(
    pref: DataFrame, max_pairs_per_block: int = EVAL_PAIRS_BLOCK_CAP
) -> DataFrame:
    """Shared pair generator for the rewrite-eval kernels (BLEU / WER /
    ROUGE-L / chrF): 8-token-prefix fingerprint blocks pick each doc's
    reference (the block's min doc_id), with a DETERMINISTIC per-block
    candidate cap — the `dedup_minhash_pairs_capped` guard applied to
    the eval family. Input `pref` must carry (doc_id, fp).

    Why the cap: each pair costs an O(n*m) DP downstream, so total work
    is pair mass x doc length — correct but unguarded, a pathological
    dup fraction at 100 TB (one hot block with 10^6 members) turns the
    metric into a surprise bill. The cap keeps the first
    `max_pairs_per_block` candidates per block by doc_id (deterministic,
    engine-identical), and every emitted row carries
    `block_pairs_total` — the PRE-cap pair count of its block — so a
    capped block is visible in the report, never silently truncated.

    Plan shape: row_number + count share ONE fp-keyed window exchange;
    output is (doc_id, ref_id, block_pairs_total), linear in min(dup
    mass, blocks x cap)."""
    canon = pref.groupBy("fp").agg(F.min("doc_id").alias("ref_id"))
    wb = Window.partitionBy("fp").orderBy("doc_id")
    wc = Window.partitionBy("fp")
    # checkpointed: every eval kernel references the pair relation three
    # times (member census + candidate join + reference join); without it
    # the fingerprint census + window chain re-plans and re-executes per
    # reference
    return (
        pref.select("doc_id", "fp")
        .join(canon, "fp")
        .filter(F.col("doc_id") != F.col("ref_id"))
        .withColumn("prn", F.row_number().over(wb))
        .withColumn("block_pairs_total", F.count("*").over(wc))
        .filter(F.col("prn") <= max_pairs_per_block)
        .select("doc_id", "ref_id", "block_pairs_total")
        .localCheckpoint(eager=False)
    )


# The oracle twin of blocked_eval_pairs, spliced into each kernel's SQL
# after its `canon` CTE (DuckDB; `pref` must expose doc_id, fp). A
# FUNCTION of the cap so a caller passing a non-default
# max_pairs_per_block can build the matching oracle — the hardcoded
# constant and the engine parameter can no longer silently diverge.
def blocked_eval_pairs_sql(max_pairs_per_block: int = EVAL_PAIRS_BLOCK_CAP) -> str:
    return f"""pairs AS (
  SELECT doc_id, ref_id, block_pairs_total FROM (
    SELECT p.doc_id, c.ref_id,
           ROW_NUMBER() OVER (PARTITION BY p.fp ORDER BY p.doc_id) AS prn,
           COUNT(*) OVER (PARTITION BY p.fp) AS block_pairs_total
    FROM pref p JOIN canon c USING (fp)
    WHERE p.doc_id <> c.ref_id
  ) WHERE prn <= {int(max_pairs_per_block)}
)"""


BLOCKED_EVAL_PAIRS_SQL = blocked_eval_pairs_sql()


def wer_pairs_report(documents: DataFrame) -> DataFrame:
    """Word error rate (Levenshtein 1966 edit distance at TOKEN level,
    normalized by reference length — the standard ASR/translation
    error measure, public method) scored over the same blocked
    near-dup pairs as bleu_pairs_report: 8-token-prefix md5 blocking
    picks each doc's reference (the block's min doc_id), then
    WER = token_edit_distance(candidate, reference) / |reference|.
    BLEU measures n-gram PRECISION of a rewrite; WER measures its
    EDIT cost — an eval pipeline reports both.

    Determinism: tokens hash to the house md5-15-hex bigint (equality
    on 60-bit hashes == token equality up to ~1e-18 collision odds,
    the repo-wide convention); the DP is exact integer arithmetic.

    Plan shape / 100 TB: blocking is one fingerprint census; ONLY
    member docs of emitted pairs carry their hashed-token arrays into
    the pair join (dup-mass-bounded, never corpus^2). The DP is
    seqdp.edit_distance, a per-pair numpy kernel run through
    rowmap.map_rows (the codec pattern) — token-level edit distance is
    not expressible with built-in operators (Spark's levenshtein is char-level and
    chr() wraps at 256, so a char re-encoding cannot carry a realistic
    vocabulary); per-pair cost is O(n*m) with n,m = doc lengths, the
    inherent cost of the measure, bounded by pair mass — and pair mass
    itself is bounded by blocked_eval_pairs' deterministic per-block
    cap (pre-cap counts surfaced as block_pairs_total)."""

    ws = documents.select(
        "doc_id", F.filter(tokens(F.col("text")), lambda t: t != "").alias("w")
    )
    pref = ws.filter(F.size("w") >= 8).select(
        "doc_id", "w", F.md5(F.array_join(F.slice("w", 1, 8), " ")).alias("fp")
    )
    pairs = blocked_eval_pairs(pref)
    # hash token arrays ONLY for pair members (semi-join first): the
    # per-element md5 HOF is interpreted, so confine it to the
    # dup-mass-bounded member set, never the corpus
    members = (
        pairs.select(F.col("doc_id").alias("m"))
        .unionByName(pairs.select(F.col("ref_id").alias("m")))
        .distinct()
    )
    hcol = F.transform(
        "w",
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )
    hashed = (
        ws.join(members, ws.doc_id == members.m)
        .select("doc_id", hcol.alias("h"), F.size("w").cast("long").alias("n"))
        # referenced twice (candidate + reference side): one pass over
        # the interpreted per-element md5 HOF, not two
        .localCheckpoint(eager=False)
    )
    ha = hashed.select(
        F.col("doc_id").alias("a_id"), F.col("h").alias("ha")
    )
    hr = hashed.select(
        F.col("doc_id").alias("r_id"), F.col("h").alias("hr"), F.col("n").alias("n_ref")
    )
    joined = (
        pairs.join(ha, pairs.doc_id == ha.a_id)
        .join(hr, pairs.ref_id == hr.r_id)
        .select("doc_id", "ref_id", "block_pairs_total", "ha", "hr", "n_ref")
    )

    out = map_rows(
        joined,
        lambda doc_id, ref_id, total, ha, hr, n_ref: [
            (doc_id, ref_id, total, n_ref, seqdp.edit_distance(ha, hr))
        ],
        "doc_id long, ref_id long, block_pairs_total long, n_ref long, dist long",
    )
    return out.select(
        "doc_id",
        "ref_id",
        "block_pairs_total",
        "n_ref",
        "dist",
        (F.floor(F.col("dist") * 1e6 / F.col("n_ref") + F.lit(0.5)) / 1e6).alias("wer"),
    ).orderBy("doc_id", "ref_id")


def rouge_l_pairs_report(documents: DataFrame) -> DataFrame:
    """ROUGE-L (Lin 2004 — public measure): longest-common-subsequence
    recall/precision/F1 over the same blocked near-dup pairs as
    bleu_pairs_report and wer_pairs_report — LCS rewards in-order
    content overlap without requiring contiguity, completing the
    rewrite-eval triad (BLEU = n-gram precision, WER = edit cost,
    ROUGE-L = subsequence recall).

    Determinism: token equality via the house md5-15-hex bigints; the
    DP is exact integer arithmetic; R/P/F1 are fixed IEEE expressions
    floored at 1e-6.

    Plan shape / 100 TB: identical to wer_pairs_report — fingerprint
    blocking with blocked_eval_pairs' deterministic per-block cap,
    hashed-token arrays only for pair members (dup-mass-bounded), and
    a per-pair numpy DP kernel (seqdp.lcs_length) run through
    rowmap.map_rows."""

    ws = documents.select(
        "doc_id", F.filter(tokens(F.col("text")), lambda t: t != "").alias("w")
    )
    pref = ws.filter(F.size("w") >= 8).select(
        "doc_id", "w", F.md5(F.array_join(F.slice("w", 1, 8), " ")).alias("fp")
    )
    pairs = blocked_eval_pairs(pref)
    members = (
        pairs.select(F.col("doc_id").alias("m"))
        .unionByName(pairs.select(F.col("ref_id").alias("m")))
        .distinct()
    )
    hcol = F.transform(
        "w",
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )
    hashed = ws.join(members, ws.doc_id == members.m).select(
        "doc_id", hcol.alias("h"), F.size("w").cast("long").alias("n")
        # referenced twice (candidate + reference side): one pass over
        # the interpreted per-element md5 HOF, not two
    ).localCheckpoint(eager=False)
    ha = hashed.select(
        F.col("doc_id").alias("a_id"), F.col("h").alias("ha"), F.col("n").alias("n_cand")
    )
    hr = hashed.select(
        F.col("doc_id").alias("r_id"), F.col("h").alias("hr"), F.col("n").alias("n_ref")
    )
    joined = (
        pairs.join(ha, pairs.doc_id == ha.a_id)
        .join(hr, pairs.ref_id == hr.r_id)
        .select(
            "doc_id", "ref_id", "block_pairs_total", "ha", "hr", "n_cand", "n_ref"
        )
    )

    out = map_rows(
        joined,
        lambda doc_id, ref_id, total, ha, hr, n_cand, n_ref: [
            (doc_id, ref_id, total, n_cand, n_ref, seqdp.lcs_length(ha, hr))
        ],
        "doc_id long, ref_id long, block_pairs_total long, "
        "n_cand long, n_ref long, lcs long",
    )
    r = F.col("lcs").cast("double") / F.col("n_ref")
    p = F.col("lcs").cast("double") / F.col("n_cand")
    return out.select(
        "doc_id",
        "ref_id",
        "block_pairs_total",
        "n_ref",
        "lcs",
        (F.floor(r * 1e6 + F.lit(0.5)) / 1e6).alias("rouge_l_recall"),
        (F.floor(p * 1e6 + F.lit(0.5)) / 1e6).alias("rouge_l_precision"),
        F.when(
            F.col("lcs") > 0,
            F.floor(F.lit(2.0) * r * p / (r + p) * 1e6 + F.lit(0.5)) / 1e6,
        )
        .otherwise(F.lit(0.0))
        .alias("rouge_l_f1"),
    ).orderBy("doc_id", "ref_id")


def chrf_pairs_report(documents: DataFrame, beta: float = 2.0) -> DataFrame:
    """chrF (Popovic 2015 — public MT metric): character n-gram F-beta
    score over the same blocked near-dup pairs as bleu/wer/rouge —
    tokenization-free and robust to morphology, the fourth member of
    the rewrite-eval family. Whitespace is removed (the chrF
    convention), character n-grams run n = 1..3 (the chrF6 window
    shortened to the fixture's short texts, documented), and
    chrF = (1 + beta^2) * P * R / (beta^2 * P + R) with P/R macro-
    averaged over the n-gram orders from CLIPPED counts (the BLEU
    clip rule).

    Determinism: per-order clipped/total counts are exact bigints;
    the per-order precision/recall quantize to 1e-9 ints BEFORE the
    macro-average; the F-beta is one fixed IEEE expression.

    Plan shape / 100 TB: blocking is the shared fingerprint census;
    char-gram censuses are built ONLY for pair members
    (dup-mass-bounded) via one posexplode + lead-window pass per
    member (the staged winnowing shape — no interpreted substring
    HOF), and each clip pass joins gram censuses keyed by (pair,
    gram), linear in pair mass."""
    ws = documents.select(
        "doc_id", F.filter(tokens(F.col("text")), lambda t: t != "").alias("w")
    )
    pref = ws.filter(F.size("w") >= 8).select(
        "doc_id", F.md5(F.array_join(F.slice("w", 1, 8), " ")).alias("fp")
    )
    pairs = blocked_eval_pairs(pref)
    members = (
        pairs.select(F.col("doc_id").alias("m"))
        .unionByName(pairs.select(F.col("ref_id").alias("m")))
        .distinct()
    )
    # char stream without whitespace; posexplode + lead windows build
    # the 1/2/3-gram censuses without per-position interpreted HOFs
    chars = (
        documents.join(members, documents.doc_id == members.m)
        .select(
            "doc_id",
            F.posexplode(
                F.split(F.regexp_replace(F.col("text"), r"\s+", ""), "")
            ).alias("pos", "c0"),
        )
        .filter(F.col("c0") != "")
    )
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    grams = chars.select(
        "doc_id",
        "c0",
        F.lead("c0", 1).over(wspec).alias("c1"),
        F.lead("c0", 2).over(wspec).alias("c2"),
    )
    g1 = grams.groupBy("doc_id", F.col("c0").alias("g")).agg(
        F.count("*").alias("c")
    ).withColumn("n", F.lit(1))
    g2 = (
        grams.filter(F.col("c1").isNotNull())
        .groupBy("doc_id", F.concat("c0", "c1").alias("g"))
        .agg(F.count("*").alias("c"))
        .withColumn("n", F.lit(2))
    )
    g3 = (
        grams.filter(F.col("c2").isNotNull())
        .groupBy("doc_id", F.concat("c0", "c1", "c2").alias("g"))
        .agg(F.count("*").alias("c"))
        .withColumn("n", F.lit(3))
    )
    # referenced twice (candidate + reference side): checkpoint so the
    # posexplode + window + three gram aggregates run once
    census = g1.unionByName(g2).unionByName(g3).localCheckpoint(eager=False)
    cand = census.select(
        F.col("doc_id").alias("a_id"),
        F.col("n").alias("an"),
        F.col("g").alias("ag"),
        F.col("c").alias("ca"),
    )
    # reference side fully renamed: both sides now read the SAME
    # checkpointed census, and a self-join on shared column names is
    # ambiguous to the analyzer
    ref = census.select(
        F.col("doc_id").alias("r_id"),
        F.col("n").alias("rn"),
        F.col("g").alias("rg"),
        F.col("c").alias("cr"),
    )
    per_order = (
        pairs.join(cand, pairs.doc_id == cand.a_id)
        .join(
            ref,
            (pairs.ref_id == ref.r_id)
            & (F.col("an") == F.col("rn"))
            & (F.col("ag") == F.col("rg")),
            "left",
        )
        .groupBy("doc_id", "ref_id", F.col("an").alias("n"))
        .agg(
            F.sum(F.least(F.col("ca"), F.coalesce(F.col("cr"), F.lit(0)))).alias(
                "clipped"
            ),
            F.sum("ca").alias("t_cand"),
        )
    )
    # reference-side totals per order (recall denominators)
    ref_tot = (
        pairs.join(ref, pairs.ref_id == ref.r_id)
        .groupBy("doc_id", "ref_id", F.col("rn").alias("n"))
        .agg(F.sum("cr").alias("t_ref"))
    )
    # clipped counts vs the REFERENCE census bound recall too (chrF uses
    # the same clipped numerator for P and R)
    q = lambda col: F.floor(col * 1e9 + F.lit(0.5)).cast("long")  # noqa: E731
    per = (
        per_order.join(ref_tot, ["doc_id", "ref_id", "n"])
        .select(
            "doc_id",
            "ref_id",
            q(F.col("clipped").cast("double") / F.col("t_cand")).alias("pq"),
            q(F.col("clipped").cast("double") / F.col("t_ref")).alias("rq"),
        )
        .groupBy("doc_id", "ref_id")
        .agg(
            F.count("*").alias("k"),
            F.sum("pq").alias("psum"),
            F.sum("rq").alias("rsum"),
        )
    )
    p = F.col("psum").cast("double") / F.col("k") / 1e9
    r = F.col("rsum").cast("double") / F.col("k") / 1e9
    b2 = beta * beta
    # 1:1 join-back for the pre-cap block count (pairs is pair-mass-sized)
    per = per.join(pairs, ["doc_id", "ref_id"])
    return per.select(
        "doc_id",
        "ref_id",
        "block_pairs_total",
        (F.floor(p * 1e6 + F.lit(0.5)) / 1e6).alias("chrf_precision"),
        (F.floor(r * 1e6 + F.lit(0.5)) / 1e6).alias("chrf_recall"),
        F.when(
            (F.col("psum") > 0) & (F.col("rsum") > 0),
            F.floor(
                F.lit(1.0 + b2) * p * r / (F.lit(b2) * p + r) * 1e6 + F.lit(0.5)
            )
            / 1e6,
        )
        .otherwise(F.lit(0.0))
        .alias("chrf"),
    ).orderBy("doc_id", "ref_id")


def fim_transform(documents: DataFrame, fim_rate_hex: int = 8) -> DataFrame:
    """Fill-in-the-middle (FIM) training-data transform (Bavarian et
    al. 2022, "Efficient Training of Language Models to Fill in the
    Middle" — public method): a hash-gated fraction of documents is
    split at two deterministic cut points into (prefix, middle,
    suffix) and re-serialized PSM —
    ``<PRE>prefix<SUF>suffix<MID>middle`` — so the model learns
    infilling; ungated documents pass through verbatim (their "middle"
    is empty and the suffix is the whole text's tail, i.e. lens are
    (0, 0, n)).

    Determinism: the gate is the first md5 hex digit of
    ``doc_id || ':fim'`` (< fim_rate_hex of 16 → applied, default
    8/16 = the paper's 50% FIM rate), and each cut point is a 48-bit
    md5 prefix of ``doc_id || ':fim1'/':fim2'`` taken mod (n+1), so
    the transform is reproducible across engines — the DuckDB oracle
    mirrors the exact same md5 arithmetic. No RNG, no UDF: the whole
    transform is one codegen'd projection (md5, substr, concat), so
    at 100 TB it is a map-only pass with zero shuffles; the output
    here aggregates to one row per doc (cut points, segment lengths,
    md5 of the serialized PSM) so the oracle compares the full
    transformed text without shipping it."""
    did = F.col("doc_id").cast("string")
    h48 = lambda salt: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat(did, F.lit(salt))), 1, 12), 16, 10
    ).cast("long")
    n = F.length("text").cast("long")
    gate = F.substring(F.md5(F.concat(did, F.lit(":fim"))), 1, 1).isin(
        [format(x, "x") for x in range(fim_rate_hex)]
    )
    ca = h48(":fim1") % (n + 1)
    cb = h48(":fim2") % (n + 1)
    cut1 = F.when(gate, F.least(ca, cb)).otherwise(F.lit(0))
    cut2 = F.when(gate, F.greatest(ca, cb)).otherwise(F.lit(0))
    t = F.col("text")
    prefix = t.substr(F.lit(1), cut1)
    middle = t.substr(cut1 + 1, cut2 - cut1)
    suffix = t.substr(cut2 + 1, n - cut2)
    psm = F.when(
        gate,
        F.concat(
            F.lit("<PRE>"), prefix, F.lit("<SUF>"), suffix, F.lit("<MID>"), middle
        ),
    ).otherwise(t)
    return documents.select(
        "doc_id",
        gate.cast("int").alias("fim_applied"),
        cut1.alias("cut1"),
        cut2.alias("cut2"),
        cut1.alias("prefix_len"),
        (cut2 - cut1).alias("middle_len"),
        (n - cut2).alias("suffix_len"),
        F.md5(psm).alias("psm_md5"),
    ).orderBy("doc_id")


def ece_report(documents: DataFrame) -> DataFrame:
    """Expected Calibration Error (Naeini et al. 2015, public method):
    the one-number companion to calibration_report's reliability
    diagram and brier_decomposition's Murphy terms. Probabilities use
    the SAME exact-integer Platt-style linear squash as the Brier leg
    (p_u = clamp(lu + 2e4, 0, 4e4) * 25 — no libm exp, the
    calibration docstring's cross-engine rule), bucketed into the
    standard 10 equal-width probability bins.

    Exactness: n_b * |acc_b - conf_b| collapses to the exact bigint
    |1e6 * k_b - sum_pq_b| (the per-bin float divisions cancel), so
    ECE = SUM_b |1e6*k_b - sp_b| / (1e6 * N) is integer algebra until
    ONE final division; the per-bin max gap quantizes half-up 1e-6
    before the max. Plan shape: the scoring codegen pass, then a
    10-cell census — linear at any corpus size, no window, no join
    beyond the label attach."""
    scored = quality_model_score(documents)
    labeled = scored.join(
        documents.select(
            "doc_id", (F.col("lang") == "en").cast("int").alias("pos")
        ),
        "doc_id",
    )
    lu = F.floor(F.col("logit") * 1e4 + F.lit(0.5)).cast("long")
    pq = F.least(F.greatest(lu + 20000, F.lit(0)), F.lit(40000)) * 25
    binned = labeled.select(
        F.least(F.floor(pq / F.lit(100000)), F.lit(9)).cast("long").alias("bin"),
        pq.alias("pq"),
        "pos",
    )
    cells = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("pos").alias("k"),
        F.sum("pq").alias("sp"),
    )
    dev = F.abs(F.col("k") * 1000000 - F.col("sp"))  # exact bigint
    gap_u = F.floor(dev.cast("double") / F.col("n") + F.lit(0.5)).cast("long")
    out = cells.select("n", dev.alias("dev"), gap_u.alias("gap_u")).agg(
        F.sum("n").alias("nn"),
        F.count("*").alias("n_bins"),
        F.sum("dev").alias("sdev"),
        F.max("gap_u").alias("max_gap_u"),
    )
    return out.select(
        F.col("nn").cast("long").alias("n_docs"),
        F.col("n_bins").cast("long").alias("n_bins"),
        (
            F.floor(F.col("sdev").cast("double") / F.col("nn") + F.lit(0.5))
            / 1e6
        ).alias("ece"),
        (F.col("max_gap_u") / 1e6).alias("max_gap"),
    )


def wordpiece_encode(
    documents: DataFrame,
    max_piece: int = 6,
    min_count: int = 50,
    vocab_cap: int = 65536,
) -> DataFrame:
    """WordPiece tokenization (the BERT tokenizer's greedy
    longest-match-first algorithm — public method) with a corpus-
    derived vocabulary: head pieces are word PREFIXES (2..max_piece
    chars) whose summed word frequency reaches min_count, continuation
    pieces ('##'-marked) are word-internal substrings under the same
    threshold, and every single character is kept unconditionally (the
    fallback that makes greedy matching total). Multi-char pieces are
    additionally capped at the vocab_cap highest-weight entries
    (ties broken deterministically by is_head DESC, piece ASC) so the
    driver-held vocab broadcast is EXPLICITLY bounded — at 100 TB the
    min_count threshold alone does load-bearing memory work silently;
    the cap makes the bound visible and logs when it binds. Output:
    one row per distinct word with its piece sequence and fertility.

    Encode-row contract (relied on by consumers that posexplode the
    piece string, e.g. the fused tokenizer_compare_report stats):
    every output row has a NON-NULL space-joined `pieces` string and
    `n_pieces == size(split(pieces, ' '))` — greedy matching is total
    (single chars are always in-vocab), so no word encodes to an empty
    or null sequence. bytelevel_bpe_encode and unigram_lm_encode
    follow the same contract.

    Everything is exact integer counting, so the DuckDB oracle replays
    vocab construction and the greedy walk bit-identically (recursive
    CTE peeling the longest matching piece per step).

    Plan shape / 100 TB: the word census is ONE partial-agg'd shuffle
    of the corpus; prefix/substring censuses explode bounded factors
    (max_piece x word length) of the DISTINCT-word relation, not the
    corpus; the trained vocab is driver-held (the model artifact, like
    bpe_train_merges' merge table) and broadcast into a map-side Arrow
    pass that segments each distinct word. No step touches the corpus
    twice."""
    words = (
        documents.select(
            F.explode(tokens(F.col("text"))).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    vocab = wordpiece_vocab_from_census(words, max_piece, min_count, vocab_cap)
    return (
        wordpiece_encode_words(words, vocab, max_piece)
        .select(
            "word",
            F.col("n").cast("long").alias("n_occurrences"),
            "pieces",
            F.col("n_pieces").cast("int").alias("n_pieces"),
        )
        .orderBy("word")
    )


def wordpiece_vocab_from_census(
    words: DataFrame,
    max_piece: int = 6,
    min_count: int = 50,
    vocab_cap: int = 65536,
) -> set:
    """Vocabulary half of wordpiece_encode, split out (round 11) so a
    STREAMING encode can train offline and broadcast the frozen vocab
    into micro-batches. Input is the (word, n) census; returns the
    driver-held set of (is_head, piece) — single chars unconditional,
    multi-char pieces top-vocab_cap by weight (TakeOrderedAndProject,
    binding-cap warning)."""
    wl = words.select("word", "n", F.length("word").alias("wl"))
    heads = (
        wl.select(
            F.explode(
                F.sequence(F.lit(1), F.least(F.lit(max_piece), F.col("wl")))
            ).alias("l"),
            "word",
            "n",
        )
        .select(F.expr("substr(word, 1, l)").alias("piece"), "l", "n")
        .groupBy("piece", "l")
        .agg(F.sum("n").alias("wt"))
        .filter((F.col("l") == 1) | (F.col("wt") >= min_count))
    )
    conts = (
        # wl >= 2 guard: Spark's sequence(start, stop) defaults to step
        # -1 when start > stop, so sequence(2, 1) on a 1-char word would
        # generate DESCENDING [2, 1] — spurious j=1 "continuations" the
        # oracle's range(2, len+1) (empty for 1-char words) never
        # produces. The filter makes both inner sequences strictly
        # ascending (j in [2..wl] => wl - j + 1 >= 1).
        wl.filter(F.col("wl") >= 2)
        .select(
            F.explode(F.sequence(F.lit(2), F.col("wl"))).alias("j"),
            "word",
            "n",
            "wl",
        )
        .select(
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece), F.col("wl") - F.col("j") + 1),
                )
            ).alias("l"),
            "word",
            "n",
            "j",
        )
        .select(F.expr("substr(word, j, l)").alias("piece"), "l", "n")
        .groupBy("piece", "l")
        .agg(F.sum("n").alias("wt"))
        .filter((F.col("l") == 1) | (F.col("wt") >= min_count))
    )
    allp = heads.select(
        "piece", "l", "wt", F.lit(True).alias("is_head")
    ).unionByName(
        conts.select("piece", "l", "wt", F.lit(False).alias("is_head"))
    )
    # Single chars: unconditional (totality). Multi-char pieces: top
    # vocab_cap by (wt DESC, is_head DESC, piece ASC) — orderBy+limit
    # compiles to TakeOrderedAndProject (distributed top-K, no
    # single-partition sort), so the driver never sees more than
    # vocab_cap + 1 multi-char rows. limit(cap + 1) detects binding.
    singles = {
        (r["is_head"], r["piece"])
        for r in allp.filter(F.col("l") == 1)
        .select("is_head", "piece")
        .collect()
    }
    multi_rows = (
        allp.filter(F.col("l") > 1)
        .orderBy(F.col("wt").desc(), F.col("is_head").desc(), "piece")
        .limit(vocab_cap + 1)
        .select("is_head", "piece")
        .collect()
    )
    if len(multi_rows) > vocab_cap:
        multi_rows = multi_rows[:vocab_cap]
        logging.getLogger(__name__).warning(
            "wordpiece_encode: vocab_cap=%d binds — multi-char piece "
            "census truncated to the %d highest-weight pieces",
            vocab_cap,
            vocab_cap,
        )
    return singles | {(r["is_head"], r["piece"]) for r in multi_rows}


def _wordpiece_segment(word: str, vocab: set, max_piece: int) -> "list | None":
    """Greedy longest-match-first WordPiece segmentation of ONE word
    against the frozen (is_head, piece) vocab: its pieces, continuation
    pieces '##'-marked, or None when no vocab piece matches at some
    position."""
    pos, pieces = 0, []
    while pos < len(word):
        for ln in range(min(max_piece, len(word) - pos), 0, -1):
            cand = word[pos : pos + ln]
            if ((pos == 0), cand) in vocab:
                pieces.append(cand if pos == 0 else "##" + cand)
                pos += ln
                break
        else:
            # Unreachable while single chars are unconditional, but a
            # broken vocab invariant must not spin the executor
            # forever. Mirror the oracle's fixpoint CTE (WHERE pos >
            # length(word)): the word is DROPPED, not partially emitted.
            return None
    return pieces


def wordpiece_encode_words(
    words: DataFrame, vocab: set, max_piece: int
) -> DataFrame:
    """WordPiece encode of a (word, n) relation in one Arrow pass:
    (word, n, pieces, n_pieces), one row per input row whose word
    segments (a word the vocab cannot cover is dropped). Shared by the
    batch encode (a distinct-word census) and the streaming encode (one
    row per occurrence); the vocab is a frozen driver-held set in
    both."""

    def encode(word, n):
        pieces = _wordpiece_segment(word, vocab, max_piece)
        if pieces is None:
            return []
        return [(word, n, " ".join(pieces), len(pieces))]

    return map_rows(
        words.select("word", "n"),
        encode,
        "word STRING, n LONG, pieces STRING, n_pieces INT",
    )


def delong_auc_ci(documents: DataFrame) -> DataFrame:
    """DeLong variance and 95% CI for the quality classifier's AUC
    (DeLong, DeLong & Clarke-Pearson 1988, via the Sun & Xu 2014
    midrank formulation — public method): the structural components
    V10/V01 reduce, on tied data, to per-VALUE midrank differences, so
    the whole estimator computes from the same bounded value census
    model_eval_auc uses. For every positive at quantized logit v,
    2n*V10 = 2R(v) - 2R10(v) (combined vs within-positive midranks) —
    an exact integer `a(v)` shared by the whole cell; likewise b(v)
    for negatives. Then

      S10 = (m*SUM(p*a^2) - SUM(p*a)^2) / (4 n^2 m (m-1)),
      var(AUC) = S10/m + S01/n,

    all numerators exact bigints; the variance is two IEEE divisions
    and one add evaluated in fixed order, floor-quantized 1e-9, and
    the CI uses the QUANTIZED variance (sqrt is IEEE-correctly-rounded)
    so both engines agree bit-for-bit.

    Plan shape / 100 TB: identical to model_eval_auc — one partial-agg
    shuffle bounded by |distinct quantized logits|, prefix sums over
    that census, a single-row reduce. Output: one row with n_pos,
    n_neg, auc, var_delong, ci_lo, ci_hi."""
    scored = quality_model_score(documents).join(
        documents.select("doc_id", (F.col("lang") == "en").alias("is_pos")),
        "doc_id",
    )
    census = scored.groupBy(
        F.floor(F.col("logit") * 1e4 + F.lit(0.5)).cast("long").alias("lv")
    ).agg(
        F.count("*").alias("c"),
        F.count(F.when(F.col("is_pos"), 1)).alias("p"),
    )
    w_prefix = Window.orderBy("lv").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cells = census.select(
        "c",
        "p",
        (F.col("c") - F.col("p")).alias("q"),
        F.coalesce(F.sum("c").over(w_prefix), F.lit(0)).alias("cb"),
        F.coalesce(F.sum("p").over(w_prefix), F.lit(0)).alias("pb"),
        (
            F.coalesce(F.sum("c").over(w_prefix), F.lit(0))
            - F.coalesce(F.sum("p").over(w_prefix), F.lit(0))
        ).alias("qb"),
    ).select(
        "c",
        "p",
        "q",
        "cb",
        # 2 * midrank differences: a for positives, b for negatives
        (
            (2 * F.col("cb") + F.col("c") + 1)
            - (2 * F.col("pb") + F.col("p") + 1)
        ).alias("a"),
        (
            (2 * F.col("cb") + F.col("c") + 1)
            - (2 * F.col("qb") + F.col("q") + 1)
        ).alias("b"),
    )
    agg = cells.agg(
        F.sum("p").alias("m"),
        F.sum("q").alias("n"),
        F.sum(F.col("p") * F.col("a")).alias("sa"),
        F.sum(F.col("p") * F.col("a") * F.col("a")).alias("sa2"),
        F.sum(F.col("q") * F.col("b")).alias("sb"),
        F.sum(F.col("q") * F.col("b") * F.col("b")).alias("sb2"),
        # 2U from the midrank sum (the model_eval_auc identity)
        (
            F.sum(F.col("p") * (2 * (F.col("cb") + 1) + F.col("c") - 1))
        ).alias("rsum"),
    )
    var_expr = (
        "(m * sa2 - sa * sa) / (4.0 * n * n * m * m * (m - 1)) "
        "+ (n * sb2 - sb * sb) / (4.0 * m * m * n * n * (n - 1))"
    )
    return (
        agg.select(
            F.col("m").cast("long").alias("n_pos"),
            F.col("n").cast("long").alias("n_neg"),
            (F.col("rsum") - F.col("m") * (F.col("m") + 1))
            .cast("long")
            .alias("u2"),
            F.expr(f"FLOOR(({var_expr}) * 1e9 + 0.5) / 1e9").alias(
                "var_delong"
            ),
        )
        .select(
            "n_pos",
            "n_neg",
            (
                F.floor(
                    F.col("u2")
                    / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("auc"),
            "var_delong",
        )
        .select(
            "n_pos",
            "n_neg",
            "auc",
            "var_delong",
            F.expr(
                "FLOOR((auc - 1.96 * SQRT(var_delong)) * 1e6 + 0.5) / 1e6"
            ).alias("ci_lo"),
            F.expr(
                "FLOOR((auc + 1.96 * SQRT(var_delong)) * 1e6 + 0.5) / 1e6"
            ).alias("ci_hi"),
        )
    )


def _viterbi_segment(
    word: str, vocab: dict, max_piece: int
) -> "tuple[list, int] | None":
    """Viterbi segmentation of ONE word under the unigram LM ``vocab``
    (piece -> micro-nat log-prob): the piece sequence with the maximal
    exact integer score, and that score; None when no segmentation
    reaches the end of the word. Ties break to the LONGEST piece at
    each position (ascending-j >= update = the oracle backtrace's
    MAX(len) achiever)."""
    L = len(word)
    NEG = -(1 << 60)
    dp = [0] + [NEG] * L
    bp = [0] * (L + 1)
    for p in range(1, L + 1):
        for j in range(1, min(max_piece, p) + 1):
            lp = vocab.get(word[p - j : p])
            if lp is None:
                continue
            cand = dp[p - j] + lp
            if cand >= dp[p]:
                dp[p], bp[p] = cand, j
    # single chars are unconditional, so dp[p] is always reachable; a
    # broken vocab still terminates (dp stays NEG, bp=0 -> drop), and
    # the word is DROPPED like the oracle's, not partially emitted
    if dp[L] <= NEG:
        return None
    pieces, p = [], L
    while p > 0:
        pieces.append(word[p - bp[p] : p])
        p -= bp[p]
    pieces.reverse()
    return pieces, dp[L]


def unigram_lm_encode(
    documents: DataFrame,
    max_piece: int = 6,
    min_count: int = 50,
    em_iters: int = 1,
    seed_vocab_cap: int = 8192,
) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenization (Kudo 2018 —
    public method), the third tokenizer leg next to BPE and WordPiece:
    piece scores are log-likelihoods under a unigram LM over pieces,
    estimated by hard (Viterbi) EM on the distinct-word census, and
    encoding is the Viterbi segmentation — the GLOBALLY best piece
    sequence, not a greedy walk.

    Deterministic integer-exact variant so the DuckDB oracle replays
    it bit-identically:

      * seed inventory: every substring occurrence of length
        1..max_piece, weighted by word frequency; len>1 pieces need
        wt >= min_count, single chars are unconditional (totality);
      * scores are micro-nats: lp = floor(ln(wt / total) * 1e6 + 0.5)
        — the established ln-on-the-1e-6-grid convention (ln is the
        only transcendental, <= 1 ulp on both engines); Viterbi then
        MAXIMIZES an exact bigint sum;
      * hard-EM iteration: Viterbi-segment every distinct word, count
        piece usage weighted by word frequency, re-score from usage
        (zero-usage pieces drop; zero-usage single chars persist with
        usage 1 — SentencePiece's required-character rule);
      * Viterbi ties break to the LONGEST piece at each position
        (ascending-j >= update = the oracle backtrace's MAX(len)
        achiever).

    Output: one row per distinct word — occurrence count, piece
    sequence, fertility, and the exact total score in micro-nats.

    Plan shape / 100 TB: the word census is ONE partial-agg'd shuffle
    of the corpus; the substring census explodes bounded factors of
    the DISTINCT-word relation; EM usage counting is a piece-keyed
    partial agg of the segmented census; the vocab is the broadcast
    model artifact, same policy as wordpiece_encode/bpe_train_merges.
    Every driver collect is BOUNDED: the multi-char seed census is a
    distributed top-seed_vocab_cap (TakeOrderedAndProject, binding-cap
    warning — SentencePiece's own seed-vocab cap), single chars are
    alphabet-bounded, and the EM usage relation is a subset of the
    seed vocab so it inherits the cap. The corpus itself is touched
    exactly once."""
    import math

    words = (
        documents.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    wl = words.select("word", "n", F.length("word").alias("wl"))
    occ = (
        wl.select(
            F.explode(F.sequence(F.lit(1), F.col("wl"))).alias("j"),
            "word",
            "n",
            "wl",
        )
        .select(
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece), F.col("wl") - F.col("j") + 1),
                )
            ).alias("l"),
            "word",
            "n",
            "j",
        )
        .select(F.expr("substr(word, j, l)").alias("piece"), "l", "n")
        .groupBy("piece", "l")
        .agg(F.sum("n").alias("wt"))
        .filter((F.col("l") == 1) | (F.col("wt") >= min_count))
    )
    # BOUNDED driver collect (the wordpiece_encode cap pattern): single
    # chars are unconditional (totality — alphabet-bounded), multi-char
    # seed pieces truncate to the top seed_vocab_cap by (wt DESC,
    # piece ASC). orderBy+limit compiles to TakeOrderedAndProject
    # (distributed top-K, no single-partition sort), so the driver
    # never materializes more than cap + 1 multi-char rows even when
    # the distinct sub-word census above min_count is huge — the
    # SentencePiece trainer itself caps its seed vocab, so this is
    # fidelity, not a compromise. limit(cap + 1) detects binding.
    single_rows = occ.filter(F.col("l") == 1).select("piece", "wt").collect()
    multi_rows = (
        occ.filter(F.col("l") > 1)
        .orderBy(F.col("wt").desc(), "piece")
        .limit(seed_vocab_cap + 1)
        .select("piece", "wt")
        .collect()
    )
    if len(multi_rows) > seed_vocab_cap:
        multi_rows = multi_rows[:seed_vocab_cap]
        logging.getLogger(__name__).warning(
            "unigram_lm_encode: seed_vocab_cap=%d binds — multi-char "
            "seed census truncated to the %d highest-weight pieces",
            seed_vocab_cap,
            seed_vocab_cap,
        )
    rows = single_rows + multi_rows
    if not rows:
        return words.select(
            "word",
            F.col("n").cast("long").alias("n_occurrences"),
            F.lit("").alias("pieces"),
            F.lit(0).cast("int").alias("n_pieces"),
            F.lit(0).cast("long").alias("score_u"),
        )
    total = sum(int(r["wt"]) for r in rows)
    vocab = {
        r["piece"]: int(math.floor(math.log(int(r["wt"]) / total) * 1e6 + 0.5))
        for r in rows
    }
    singles = {p for p in vocab if len(p) == 1}

    def segment(vcb: dict) -> DataFrame:
        def viterbi(word, n):
            got = _viterbi_segment(word, vcb, max_piece)
            if got is None:
                return []
            pieces, score = got
            return [(word, n, " ".join(pieces), len(pieces), score)]

        return map_rows(
            words,
            viterbi,
            "word STRING, n LONG, pieces STRING, n_pieces INT, score_u LONG",
        )

    for _ in range(em_iters):
        seg = segment(vocab)
        usage = (
            seg.select(
                F.explode(F.split("pieces", " ")).alias("piece"), "n"
            )
            .groupBy("piece")
            .agg(F.sum("n").alias("u"))
        )
        urows = usage.collect()
        u = {r["piece"]: int(r["u"]) for r in urows}
        kept = {p: w for p, w in u.items() if w > 0}
        for c in singles:
            kept.setdefault(c, 1)
        totu = sum(kept.values())
        vocab = {
            p: int(math.floor(math.log(w / totu) * 1e6 + 0.5))
            for p, w in kept.items()
        }

    return (
        segment(vocab)
        .select(
            "word",
            F.col("n").cast("long").alias("n_occurrences"),
            "pieces",
            F.col("n_pieces").cast("int").alias("n_pieces"),
            F.col("score_u").cast("long").alias("score_u"),
        )
        .orderBy("word")
    )
