"""Text-analysis operators for training-data pipelines.

All four are pure built-in-function compositions (JVM-side, codegen'd,
zero Python in the hot path) so they scan-scale linearly: at 100 TB the
cost is one pass over the text column with no shuffle at all.

Parity discipline: every construct here has an exact DuckDB twin
(entry_queries.py) — splits use a literal ``' '`` separator, hashes are
md5, and ratios divide exact integer counts, so both engines produce
bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from .materialize import materialize

# Tiny per-language stopword sets for the n-gram/stopword heuristic.
# Order matters only for tie-breaking (lexicographic language code wins).
STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "es": ["el", "los", "las", "y", "es", "dos", "una", "en"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
}

# BPE-ish tokenizer: letter runs, digit runs, or single non-space symbols.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (literal single-space split — matches the
    oracle's ``string_split(x, ' ')``)."""
    return F.split(F.lower(text), " ")


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish regex token count (letter runs / digit runs / symbols)."""
    return F.regexp_count(text, F.lit(TOKEN_REGEX))


def stopword_hits(text: Column, lang: str) -> Column:
    """Occurrence count (not distinct) of ``lang``'s stopwords.

    Formulated as Σ_w (size(tokens) − size(array_remove(tokens, w))) —
    ``array_remove`` drops every occurrence, so the size delta is the
    occurrence count.  This keeps the whole expression in whole-stage
    codegen; the natural ``filter(tokens, t -> array_contains(...))`` is
    a higher-order function whose lambda Spark interprets per element
    (measured ~5× slower across language_id's four language sets)."""
    toks = tokens(text)
    n = F.size(toks)
    hits: Column | None = None
    for wrd in STOPWORDS[lang]:
        h = n - F.size(F.array_remove(toks, wrd))
        hits = h if hits is None else hits + h
    return hits


def language_id(text: Column) -> Column:
    """Heuristic language ID: argmax of stopword hit-rate across the
    known sets; ties broken by language code (deterministic); zero hits
    everywhere → ``'unknown'``."""
    best = None
    for lang in sorted(STOPWORDS):  # iterate in tie-break order
        hits = stopword_hits(text, lang)
        cand = F.struct(hits.alias("h"), F.lit(lang).alias("l"))
        best = cand if best is None else F.when(hits > best["h"], cand).otherwise(best)
    return F.when(best["h"] > 0, best["l"]).otherwise(F.lit("unknown"))


def quality_score(text: Column) -> Column:
    """Length/punctuation/stopword quality heuristic in [0, 1]:
    0.4·min(1, tokens/100) + 0.3·(1 − punct_ratio) + 0.3·min(1, 5·en_stopword_ratio),
    rounded to 6 dp.  Inputs are exact integer counts, so the float
    arithmetic is order-free and engine-portable."""
    n_tok = token_count_ws(text).cast("double")
    n_char = F.length(text).cast("double")
    n_clean = F.length(F.regexp_replace(text, r"[^A-Za-z0-9 ]", "")).cast("double")
    punct_ratio = F.when(n_char > 0, (n_char - n_clean) / n_char).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stopword_hits(text, "en").cast("double") / n_tok).otherwise(
        F.lit(0.0)
    )
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(5.0) * stop_ratio)
    )
    return F.round(score, 6)


def text_analysis_frame(df, id_col: str = "doc_id", text_col: str = "text"):
    """One-pass-per-token text analysis: language-ID, token counts,
    quality, fingerprint.

    Plan shape (the ``simhash`` shape, ``operators/dedup.py``): explode
    the whitespace tokens once, then ONE hash aggregate per document
    computes all four language hit counts as conditional sums — every
    expression stays inside whole-stage codegen (an ``In`` over 8
    literals per language), and map-side partial aggregation collapses
    each document back to a single row *before* the shuffle (a
    document's tokens never span input rows), so exactly one copy of
    each text crosses the wire.  The text rides along as a GROUP KEY
    (functionally dependent on doc_id): a ``first(text)`` aggregate
    would put a string in the aggregation buffer, which forces the
    SortAggregate fallback (HashAggregate needs mutable fixed-width
    buffers — keys may be strings, buffers may not) and with it a sort
    of the full token stream.  Round 2 shipped this as an interpreted
    ``F.aggregate`` struct-fold — per-token lambda interpretation plus
    a large expression tree made it the slowest bench query (22.5s
    driver-measured at sf0.1).  One shuffle on doc_id, scan-linear at
    100 TB."""
    t = F.col(text_col)
    langs = sorted(STOPWORDS)
    tok = df.select(
        F.col(id_col),
        t.alias("__text"),
        F.explode(tokens(t)).alias("__tok"),
    )
    staged = tok.groupBy(id_col, "__text").agg(
        F.count(F.lit(1)).alias("__n_tok"),
        *[
            F.sum(
                F.when(F.col("__tok").isin(STOPWORDS[lang]), 1).otherwise(0)
            ).alias(f"__h_{lang}")
            for lang in langs
        ],
    )
    t = F.col("__text")
    h = {lang: F.col(f"__h_{lang}") for lang in langs}
    top = F.greatest(*h.values())
    lang_case = F.when(top == 0, F.lit("unknown"))
    for lang in langs[:-1]:
        lang_case = lang_case.when(h[lang] == top, F.lit(lang))
    lang_case = lang_case.otherwise(F.lit(langs[-1]))

    n_tok = F.col("__n_tok").cast("double")
    n_char = F.length(t).cast("double")
    n_clean = F.length(F.regexp_replace(t, r"[^A-Za-z0-9 ]", "")).cast("double")
    punct_ratio = F.when(n_char > 0, (n_char - n_clean) / n_char).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, h["en"].cast("double") / n_tok).otherwise(F.lit(0.0))
    quality = F.round(
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(5.0) * stop_ratio),
        6,
    )
    return staged.select(
        id_col,
        lang_case.alias("lang_id"),
        F.col("__n_tok").alias("n_tokens_ws"),
        token_count_bpe(t).alias("n_tokens_bpe"),
        quality.alias("quality"),
        fingerprint(t).alias("fp"),
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the casefolded,
    whitespace-collapsed text — the exact-dedup key."""
    normalized = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(normalized)


EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_REGEX = r"https?://[^\s]+"


def scrub_text(text: Column) -> Column:
    """PII/noise redaction for training corpora: emails → ``<EMAIL>``,
    URLs → ``<URL>``.  Patterns restricted to syntax shared by Java
    regex (Spark) and RE2 (DuckDB) so the oracle matches exactly; order
    matters (emails first — a URL can't swallow an address's domain
    once it is already redacted)."""
    no_email = F.regexp_replace(text, EMAIL_REGEX, "<EMAIL>")
    return F.regexp_replace(no_email, URL_REGEX, "<URL>")


ROLLING_BASE = 31
ROLLING_MOD = 2147483647  # 2^31 − 1: acc·B + tokhash stays < 2^63


def rolling_fingerprint(text: Column) -> Column:
    """Rolling (polynomial) document fingerprint over word hashes:
    ``acc ← (acc·B + md5_60bit(token)) mod (2³¹−1)``, left-to-right.

    Order-sensitive (unlike the md5-of-normalized-text ``fingerprint``):
    permuted documents get different prints, shared prefixes diverge at
    the first differing token — the classic Rabin-Karp shape.  A single
    interpreted ``aggregate`` pass per row (cold path — fingerprints are
    computed once per document at ingest)."""
    tok_hash = lambda t: F.conv(  # noqa: E731
        F.substring(F.md5(t), 1, 15), 16, 10
    ).cast("long")
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLLING_BASE + tok_hash(t)) % ROLLING_MOD,
    )


def repetition_stats(df, id_col: str = "doc_id", text_col: str = "text", n: int = 2):
    """Boilerplate/repetition quality signal: the share of a document's
    word n-grams taken by its single most repeated n-gram (template
    pages, keyword stuffing, and decoding loops all spike it).

    Plan shape: ``shingle_rows`` (codegen posexplode+lead, one shuffle
    on doc_id) → count per (doc, gram) → one more groupBy(doc) for
    max/total — both aggregates hash-partition on doc_id, so Catalyst
    plans the second as a partial-only reuse of the first's exchange.
    Output: (doc_id, n_grams, max_gram_count, repetition_ratio)."""
    grams = shingle_rows(df, id_col, text_col, n)
    per_gram = grams.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("__c"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("__c").alias("n_grams"),
        F.max("__c").alias("max_gram_count"),
        F.round(F.max("__c").cast("double") / F.sum("__c").cast("double"), 6).alias(
            "repetition_ratio"
        ),
    )


def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    stride: int = 48,
):
    """Sliding-window document chunking (the RAG / long-context
    pretraining splitter): chunk c of a document covers word positions
    [c·stride, c·stride + chunk_size); stride < chunk_size gives
    overlapping chunks, the final chunk may be short, and a document
    shorter than chunk_size yields exactly one chunk.

    Plan shape: ONE split per document, chunk count by arithmetic,
    ``explode(sequence(...))`` over chunk indices, then ``slice`` +
    ``array_join`` per chunk — slice/array_join are ordinary codegen
    expressions (not interpreted higher-order lambdas), so the whole
    operator is a zero-shuffle scan: output rows stream straight out
    of whole-stage codegen.  Contrast with ``pack_sequences`` (global
    concat-and-cut): chunking is per-document, so no global prefix
    state and no exchange at any scale.
    Output: (id, chunk_id, n_words, chunk_text).
    """
    if not (0 < stride <= chunk_size):
        raise ValueError("need 0 < stride <= chunk_size")
    words = tokens(F.col(text_col))
    n = F.size(words)
    # with n words, last chunk start is the largest multiple of stride
    # still < n after the first full window: ceil(max(n - size, 0)/stride)
    n_chunks = (
        F.ceil(F.greatest(n - F.lit(chunk_size), F.lit(0)) / F.lit(stride)) + 1
    ).cast("int")
    chunked = df.select(
        F.col(id_col),
        words.alias("__w"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    sliced = F.slice(
        F.col("__w"), F.col("chunk_id") * stride + 1, chunk_size
    )
    return chunked.select(
        id_col,
        "chunk_id",
        F.size(sliced).alias("n_words"),
        F.array_join(sliced, " ").alias("chunk_text"),
    )


def unigram_logprob(df, id_col: str = "doc_id", text_col: str = "text"):
    """Corpus-statistics quality signal: each document's mean unigram
    negative log-probability under the corpus's own empirical unigram
    distribution (the cheap perplexity proxy data pipelines use to
    rank documents before an LM-based filter; outliers = gibberish or
    off-distribution text).

    Two aggregates over one token explode: (1) corpus token counts
    (groupBy token — uniform keys, map-side partials), (2) per-doc
    mean of −ln(count/total) after an equi-join of the token rows with
    the count table.  The vocabulary is Zipf-small relative to the
    corpus (≤ millions of rows at 100 TB) so Catalyst broadcasts it;
    the scalar total rides a 1-row broadcast like every uncorrelated
    scalar subquery here.  Output: (doc_id, n_tokens, avg_neg_logprob).
    """
    tok = df.select(F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("tc"))
    total = vocab.agg(F.sum("tc").alias("__total"))
    scored = (
        tok.join(vocab, "t")
        .join(F.broadcast(total))
        .select("doc_id", (-F.log(F.col("tc") / F.col("__total"))).alias("nlp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("nlp"), 6).alias("avg_neg_logprob"),
    )


def bigram_logprob(df, id_col: str = "doc_id", text_col: str = "text"):
    """Bigram-LM quality signal: each document's mean −ln p(w2|w1)
    under the corpus's own empirical bigram model with add-one
    smoothing over the unigram vocabulary — one step up the n-gram
    ladder from ``unigram_logprob`` (context-sensitive: word salad
    with a plausible unigram profile scores badly here).

    Same scale shape as the unigram scorer: the bigram rows are built
    by a codegen ``zip_with`` over the token array (zero shuffle), the
    context/bigram count tables are Zipf-small relative to the corpus
    and broadcast, and |V| rides a 1-row broadcast.  Documents with
    fewer than two tokens have no bigrams and drop out (same on the
    oracle side).  p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+|V|).
    """
    w = tokens(F.col(text_col))
    big = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.zip_with(
                F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("t"))
        .agg(F.count_distinct("t").alias("vs"))
    )
    scored = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            (-F.log((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("vs")))).alias("nlp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nlp"), 6).alias("avg_neg_logprob"),
    )


def vocab_coverage(
    df, vocab_size: int, id_col: str = "doc_id", text_col: str = "text"
):
    """Tokenizer-vocabulary coverage audit: build the top-``vocab_size``
    corpus vocabulary (frequency-ranked, ties by token — deterministic)
    and score every document's out-of-vocabulary token rate — the check
    run before committing to a fixed vocab/tokenizer, and the flag for
    documents a tokenizer will shred into bytes.

    Plan shape: token explode → corpus term counts (Zipf-small result),
    top-K via ONE rank window over the vocabulary-sized aggregate (not
    the corpus), broadcast the K-row vocab back onto a LEFT join of the
    token rows, one conditional sum per document.  The only data-sized
    exchanges are the term-count partial aggregate and the per-doc
    groupBy — both map-side-combinable.  Output: (doc_id, n_tokens,
    oov_tokens, oov_rate)."""
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("tc"))
    w = Window.orderBy(F.desc("tc"), F.asc("t"))
    vocab = (
        counts.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= vocab_size)
        .select("t", F.lit(1).alias("__in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias(
                "oov_tokens"
            ),
            F.round(
                F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


def bm25_scores(
    df,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 relevance of every document against a literal term list —
    the classic lexical retrieval scorer (the baseline half of hybrid
    search next to ``cosine_topk``).

    Plan shape: ONE corpus aggregate computes every global statistic
    the formula needs (N, Σdl for avgdl, and one document-frequency
    count per term as a conditional sum) — a single-row broadcast that
    joins back onto a second scan of the corpus where per-document term
    frequencies come from the codegen ``array_remove`` size-delta trick
    (``stopword_hits``).  No explode, no shuffle on the big side: two
    column-pruned scans + one 1-row broadcast at any scale.

    Determinism: tf/dl/df are exact integers; avgdl is an exact integer
    sum divided once; idf is ln of an exact rational; the per-term
    contributions sum in fixed literal order — bit-identical doubles on
    any engine.  Output: (id, n_tokens, bm25) for docs matching ≥1 term.
    """
    toks = tokens(F.col(text_col))
    dl = F.size(toks)
    tf = {t: dl - F.size(F.array_remove(toks, t)) for t in terms}
    stats = df.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dl).alias("__sumdl"),
        *[
            F.sum(F.when(tf[t] > 0, 1).otherwise(0)).alias(f"__df_{i}")
            for i, t in enumerate(terms)
        ],
    )
    n = F.col("__n").cast("double")
    avgdl = F.col("__sumdl").cast("double") / n
    score = None
    for i, t in enumerate(terms):
        df_t = F.col(f"__df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - df_t + F.lit(0.5)) / (df_t + F.lit(0.5)))
        tf_d = tf[t].cast("double")
        contrib = idf * (
            tf_d
            * F.lit(k1 + 1.0)
            / (tf_d + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl.cast("double") / avgdl))
        )
        score = contrib if score is None else score + contrib
    return (
        df.join(F.broadcast(stats))
        .select(
            F.col(id_col),
            dl.alias("n_tokens"),
            F.round(score, 6).alias("bm25"),
        )
        .filter(F.col("bm25") > 0)
    )


def duplicated_ngram_fraction(df, id_col: str = "doc_id", text_col: str = "text", n: int = 5):
    """Cross-document duplication score: the share of a document's
    DISTINCT word n-grams that also occur in at least one other
    document (the corpus-level boilerplate signal used to audit a
    dedup pass — near-1 documents are templated/copied even when no
    exact or near-dup rule fired).

    Plan shape: ``shingle_rows`` (codegen, one doc_id shuffle) →
    per-doc distinct grams → gram document-frequency (groupBy gram) →
    join back and one conditional sum per doc.  The gram-frequency
    table is vocabulary-sized (Zipf-bounded), the join key is the gram
    hash — both aggregates are map-side-partial friendly; no step is
    quadratic in corpus size.  Output: (doc_id, n_shingles,
    dup_shingles, dup_fraction)."""
    grams = shingle_rows(df, id_col, text_col, n).distinct()
    gram_df = grams.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    return (
        grams.join(gram_df, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0)).alias("dup_shingles"),
            F.round(
                F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )


def contamination_overlap(
    df,
    bench,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
):
    """Partial-contamination score: for each corpus document, the
    fraction of its distinct word n-grams that appear anywhere in a
    benchmark corpus — the graded complement to ``decontaminate``'s
    exact-fingerprint anti-join (catches documents that EMBED benchmark
    items inside other text, which no whole-document fingerprint can).

    Plan shape: shingle both sides (codegen), distinct the benchmark
    grams into a set that is vocabulary-sized (broadcastable in the
    common small-benchmark case — Catalyst decides from stats), LEFT
    join corpus grams against it, one conditional sum per document.
    Output: (doc_id, n_shingles, bench_hits, overlap_frac)."""
    corpus_grams = shingle_rows(df, id_col, text_col, n).distinct()
    # each benchmark row needs a DISTINCT id: shingle_rows windows by
    # (doc_id, pos), so a shared constant id would interleave words
    # from different benchmark texts into garbage n-grams
    bench_grams = (
        shingle_rows(
            bench.select(
                F.monotonically_increasing_id().alias("__bid"),
                F.col(bench_text_col).alias("__btext"),
            ),
            "__bid",
            "__btext",
            n,
        )
        .select(F.col("s"), F.lit(1).alias("__hit"))
        .distinct()
    )
    return (
        corpus_grams.join(bench_grams, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("bench_hits"),
            F.round(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("overlap_frac"),
        )
    )


# ``contamination_against_index`` scores word 5-grams of ``text`` per
# ``doc_id`` against an index whose ``first_wave`` runs 0..2.  An index
# up to _INDEX_BROADCAST_MAX_ROWS shingles is broadcast into the scoring
# join; a larger one joins by a plain shuffle on the shingle.
_CONTAMINATION_N = 5
_N_WAVES = 3
_INDEX_BROADCAST_MAX_ROWS = 2_000_000


def contamination_shingles(df, key_col: str):
    """(``key_col``, s) rows, one per word 5-gram of ``text`` (repeats
    kept): the shingles ``contamination_against_index`` scores, and the
    ones its index is built from.  Tokenizes each row once, into the
    column that ``word_shingles`` slices."""
    return df.select(key_col, tokens(F.col("text")).alias("__w")).select(
        key_col, F.explode(word_shingles(F.col("__w"), _CONTAMINATION_N)).alias("s")
    )


def contamination_against_index(docs, index):
    """Score a ``(doc_id, text)`` corpus against a wave-attributed eval
    n-gram index ``(s, first_wave)`` built from ``contamination_shingles``:
    per doc, distinct n-gram count, per-wave hit counts, and the overlap
    fraction — ``contamination_overlap`` with each hit attributed to the
    eval release that first contained it.

    A REAL eval-set index is dimension-sized (benchmarks are thousands
    of documents, not corpus-proportional) and broadcasting it removes
    the shingle shuffle — but the hint is GATED on the index's actual
    row count (ADVICE r9): ``contamination_wave_attribution_docs``
    builds its eval set as a fixed FRACTION of the corpus, so an
    unconditional broadcast would scale linearly with input.  The count
    is one scalar aggregate over the materialized, shingle-grained
    index; above ``_INDEX_BROADCAST_MAX_ROWS`` the join falls back to a
    plain shuffle join on the shingle key — uniform, one exchange per
    side.
    """
    dsh = contamination_shingles(docs, "doc_id").distinct()
    # Materialize the index so the sizing count and the join read ONE
    # materialization instead of rebuilding the index plan twice.
    index = materialize(index, "contamination_against_index.index")
    # 1-row scalar on the materialized index — not a data pull.
    small = index.count() <= _INDEX_BROADCAST_MAX_ROWS
    hit = dsh.join(F.broadcast(index) if small else index, "s", "left")
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        *[
            F.sum(F.when(F.col("first_wave") == w, 1).otherwise(0))
            .cast("bigint")
            .alias(f"hits_w{w}")
            for w in range(_N_WAVES)
        ],
        F.sum(F.when(F.col("first_wave").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("hits"),
    ]
    return (
        hit.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            "n_shingles",
            *[f"hits_w{w}" for w in range(_N_WAVES)],
            F.round(
                F.col("hits").cast("double") / F.col("n_shingles").cast("double"), 6
            ).alias("overlap_frac"),
        )
    )


def quality_logit_score(df, id_col: str = "doc_id", text_col: str = "text"):
    """Deployed-classifier quality gate: a fixed-weight logistic model
    over four engineered signals (token count, punctuation ratio,
    English stopword rate, top-bigram repetition ratio) — the shape a
    fasttext/linear quality filter takes when its scoring is pushed
    into the engine instead of a Python UDF.  Weights are literals in
    the plan; swapping in trained weights is a constant change.

    Plan shape: the three scan-local signals are codegen expressions;
    the repetition signal joins in from ``repetition_stats`` (one
    doc_id-partitioned aggregate pair).  sigmoid = 1/(1+exp(−z)) on
    exact-integer-derived doubles → engine-portable.
    Output: (doc_id, logit, quality_prob)."""
    rep = repetition_stats(df, id_col, text_col, n=2).select(
        "doc_id", "repetition_ratio"
    )
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks).cast("double")
    n_char = F.length(F.col(text_col)).cast("double")
    n_clean = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9 ]", "")).cast(
        "double"
    )
    punct_ratio = F.when(n_char > 0, (n_char - n_clean) / n_char).otherwise(F.lit(0.0))
    stop_rate = F.when(
        n_tok > 0, stopword_hits(F.col(text_col), "en").cast("double") / n_tok
    ).otherwise(F.lit(0.0))
    feats = df.select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("__ntok"),
        punct_ratio.alias("__punct"),
        stop_rate.alias("__stop"),
    )
    z = (
        F.lit(-1.0)
        + F.lit(0.02) * F.col("__ntok")
        - F.lit(3.0) * F.col("__punct")
        + F.lit(4.0) * F.col("__stop")
        - F.lit(2.0) * F.col("repetition_ratio")
    )
    return feats.join(rep, "doc_id").select(
        "doc_id",
        F.round(z, 6).alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("quality_prob"),
    )


def bpe_pair_counts(df, text_col: str = "text"):
    """The merge-candidate counting step of BPE tokenizer training,
    distributed: count adjacent character pairs across the corpus,
    weighted by word frequency.  (A full BPE trainer iterates this —
    count pairs → merge the argmax — with the vocabulary shrinking
    the working set each round; the count step is the only part that
    touches corpus-scale data.)

    Plan shape: token explode → word-frequency aggregate (the working
    set collapses to the Zipf-small vocabulary here — everything after
    is vocabulary-sized, not corpus-sized) → per-word position explode
    + ``substr(w, i, 2)`` (codegen; positional, no higher-order
    lambdas) → pair aggregate.  Output: (pair, cnt)."""
    words = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        wc.filter(F.length("w") >= 2)
        .select(
            F.col("w"),
            F.col("c"),
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(F.col("w").substr(F.col("i"), F.lit(2)).alias("pair"), "c")
    )
    return pairs.groupBy("pair").agg(F.sum("c").alias("cnt"))


def word_shingles(words: Column, n: int) -> Column:
    """Word n-gram shingles (array<string>) of a ``tokens`` array
    column; fewer than ``n`` words → one shingle of the whole text.

    ``words`` must be a column that already holds the tokens (as
    ``contamination_shingles`` passes it), not a ``tokens(...)``
    expression: the slice lambda would re-tokenize the text once per
    shingle.  ``transform``/``slice`` are higher-order functions —
    Spark evaluates their lambdas interpreted, outside whole-stage
    codegen.  Fine for array-valued use sites; the minhash hot path
    uses the row-based ``shingle_rows`` below instead (measured ~2× on
    the shingle stage at sf0.1)."""
    return F.when(
        F.size(words) < n, F.array(F.array_join(words, " "))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        )
    )


def shingle_rows(df, id_col: str, text_col: str, n: int = 3):
    """Same shingles as ``word_shingles`` but as (doc_id, s) ROWS built
    from ``posexplode`` + ``lead`` windows — every expression stays in
    whole-stage codegen, and the window's hash-shuffle on doc_id is
    exactly the partitioning the downstream minhash groupBy needs, so
    Catalyst plans ONE shuffle for the whole shingle→signature pipeline.
    Short documents (< n words) contribute their whole text as a single
    shingle via a cheap filtered side branch."""
    from pyspark.sql import Window

    words = tokens(F.col(text_col))
    short = df.filter(F.size(words) < n).select(
        F.col(id_col).alias("doc_id"), F.array_join(words, " ").alias("s")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    lead_cols = [F.lead("w0", k).over(w).alias(f"w{k}") for k in range(1, n)]
    long = (
        df.filter(F.size(words) >= n)
        .select(F.col(id_col).alias("doc_id"), F.posexplode(words).alias("pos", "w0"))
        .select("doc_id", "w0", *lead_cols)
        .filter(F.col(f"w{n - 1}").isNotNull())
        .select(
            "doc_id",
            F.concat_ws(" ", *[F.col(f"w{k}") for k in range(n)]).alias("s"),
        )
    )
    return short.unionByName(long)


def bpe_train_symbols(
    df, text_col: str = "text", merges: int = 2
) -> "DataFrame":
    """Iterative BPE tokenizer training, distributed: ``merges`` rounds
    of count-adjacent-pairs → merge the argmax pair across the corpus
    (``bpe_pair_counts`` is one count step; this is the loop).

    Scale shape — the corpus is touched ONCE (word-frequency
    aggregate); every round after operates on the Zipf-small
    vocabulary symbol table: pair counting is a per-word lead() window
    + a hash aggregate weighted by word frequency, the argmax pair is
    a 1-row broadcast, and the merge rewrite is two per-word windows
    (mark starts where (sym, next) equals the pair, drop the consumed
    tails).  Only pairs with left ≠ right are candidates: unequal
    pairs cannot self-overlap, so the simultaneous window marking IS
    the greedy left-to-right BPE merge — and the whole loop stays
    engine-replayable SQL (an equal pair like 'aa' over 'aaa' needs
    sequential semantics no window can express).

    Returns the post-merge symbol inventory (symbol, cnt) — merged
    symbols appear with their corpus frequencies, which validates both
    the pair selection and the rewrite.
    """
    sym = _bpe_merged_symbols(df, text_col, merges)
    return sym.groupBy(F.col("sym").alias("symbol")).agg(
        F.sum("c").alias("cnt")
    )


def bpe_word_token_counts(df, text_col: str = "text", merges: int = 2):
    """Per-word token counts under the trained merges — the ENCODE half
    of the tokenizer (train + apply on the same engine): after
    ``merges`` rounds, each word's token count is its surviving symbol
    count.  Vocabulary-sized output, built for a broadcast join back
    onto the corpus (see bpe_encode_docs).  Returns (w, n_sym)."""
    sym = _bpe_merged_symbols(df, text_col, merges)
    return sym.groupBy("w").agg(F.count(F.lit(1)).alias("n_sym"))


def _bpe_merged_symbols(df, text_col: str, merges: int):
    from pyspark.sql import Window

    words = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # the symbol table feeds pair counting AND the rewrite each round,
    # and the next round compounds the lineage — checkpoint per round
    # (vocabulary-sized, cheap), the iterative-loop discipline of
    # connected_components/pagerank
    sym = materialize(
        wc.filter(F.length("w") >= 1)
        .select(
            "w",
            "c",
            F.posexplode(F.split(F.col("w"), "")).alias("pos", "sym"),
        ),
        "_bpe_merged_symbols.sym",
    )
    w_seq = Window.partitionBy("w").orderBy("pos")
    for _ in range(merges):
        cand = (
            sym.withColumn("nxt", F.lead("sym").over(w_seq))
            .filter(F.col("nxt").isNotNull() & (F.col("sym") != F.col("nxt")))
            .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
            .agg(F.sum("c").alias("cnt"))
        )
        top = cand.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1)
        # LEFT join on TRUE, not crossJoin: with no mergeable pair left
        # (all-equal adjacencies), top is EMPTY and a cross join would
        # wipe the symbol table; NULL a/b just marks nothing
        marked = sym.join(
            F.broadcast(top.select("a", "b")), F.lit(True), "left"
        ).withColumn(
            "is_start",
            (F.col("sym") == F.col("a"))
            & (F.lead("sym").over(w_seq) == F.col("b")),
        )
        sym = materialize(
            marked.withColumn(
                "is_tail",
                F.coalesce(F.lag("is_start").over(w_seq), F.lit(False)),
            )
            .filter(~F.col("is_tail"))
            .select(
                "w",
                "c",
                "pos",
                F.when(
                    F.col("is_start"), F.concat(F.col("sym"), F.col("b"))
                )
                .otherwise(F.col("sym"))
                .alias("sym"),
            ),
            "_bpe_merged_symbols.sym",
        )
    return sym


def readability_score(text_col: str = "text"):
    """Flesch reading-ease over regexp surface counts — sentences are
    terminal-punctuation runs, words are non-space runs, syllables are
    approximated by vowel-group runs (the standard heuristic when no
    dictionary is on the cluster).  Pure codegen ``regexp_count``
    column arithmetic: zero shuffle, zero Python, identical regex
    semantics across engines for these character-class patterns.
    Returns (words, sentences, syllables, score) columns as a dict."""
    words = F.regexp_count(F.col(text_col), F.lit(r"\S+"))
    sentences = F.greatest(F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.regexp_count(F.lower(F.col(text_col)), F.lit(r"[aeiouy]+"))
    w = F.greatest(words, F.lit(1)).cast("double")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (w / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / w)
    )
    return {
        "n_words": words.cast("bigint"),
        "n_sentences": sentences.cast("bigint"),
        "n_syllables": syllables.cast("bigint"),
        "score": score,
    }


def winnow_fingerprints(df, id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, w: int = 4):
    """MOSS winnowing fingerprint selection (Schleimer, Wilkerson &
    Aiken, SIGMOD'03): hash every word ``n``-gram, then from each
    window of ``w`` consecutive hashes keep the minimum (rightmost on
    ties).  Guarantees: any shared substring of ≥ w+n−1 words yields at
    least one shared fingerprint, and ≥ 1 fingerprint is kept per w
    consecutive positions (density ~2/(w+1)).

    Rightmost-min tie rule folded into ONE integer key per position —
    hash·2²⁰ + (2²⁰−1−pos) — so min() IS (min hash, max pos); 40-bit
    hashes keep the key < 2⁶⁰ (docs assumed < 2²⁰ words; chunk longer
    docs upstream).  Windows partition by document (per-doc sequence
    length bounds the task — the shingle_rows discipline).  Returns
    distinct (doc_id, fph) rows.
    """
    from pyspark.sql import Window

    words = tokens(F.col(text_col))
    wo = Window.partitionBy("doc_id").orderBy("pos")
    lead_cols = [F.lead("w0", k).over(wo).alias(f"w{k}") for k in range(1, n)]
    sh = (
        df.filter(F.size(words) >= n)
        .select(F.col(id_col).alias("doc_id"),
                F.posexplode(words).alias("pos", "w0"))
        .select("doc_id", "pos", "w0", *lead_cols)
        .filter(F.col(f"w{n - 1}").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.conv(
                F.substring(
                    F.md5(F.concat(*[
                        c for k in range(n)
                        for c in ([F.lit(" ")] if k else []) + [F.col(f"w{k}")]
                    ])),
                    1, 10,
                ), 16, 10,
            ).cast("long").alias("h"),
        )
    )
    key = (F.col("h") * F.lit(1048576) + (F.lit(1048575) - F.col("pos"))).alias("key")
    k = sh.select(
        "doc_id", "pos", key,
        F.max("pos").over(Window.partitionBy("doc_id")).alias("max_pos"),
    )
    frame = wo.rowsBetween(Window.currentRow, w - 1)
    return (
        k.filter(F.col("pos") <= F.col("max_pos") - (w - 1))
        .select("doc_id", F.min("key").over(frame).alias("mk"))
        .select("doc_id", F.expr("mk div 1048576").alias("fph"))
        .distinct()
    )
