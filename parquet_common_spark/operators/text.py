"""Text-analysis operators: tokenization, token counting, quality scoring,
language ID, document fingerprinting.

All JVM-side Column expressions (no Python UDFs): higher-order functions
(transform/filter/aggregate) keep the hot path inside whole-stage codegen
and scale linearly with no shuffle — at 100 TB these are embarrassingly
parallel map stages.

Every function here is *cross-engine deterministic*: the same algorithm is
expressible in ANSI SQL (see pipeline_queries.py oracles), which is what
makes these operators oracle-checkable.  The string hash is a polynomial
rolling hash mod P — chosen over xxhash64 precisely because the oracle
engine can compute it too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HASH_P = 1_000_000_007
HASH_MULT = 131

# small per-language stopword lists (deterministic, ASCII)
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour"),
    "zh": ("de", "shi", "le", "zai", "he", "you", "wo", "ta"),
}
LANG_ORDER = ("en", "es", "de", "fr", "zh")  # deterministic tie-break


def tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-flavoured token count: letter runs, digit runs, and individual
    punctuation each count as one token (regex split, no model needed)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def char_poly_hash(col: Column) -> Column:
    """Polynomial rolling hash of a string, mod 1e9+7 (fits in long with
    no overflow: acc*131 + 255 < 2^63).  Identical in DuckDB via
    list_reduce(list_prepend(0, list_transform(string_split(s,''), ascii)))."""
    codes = F.transform(F.split(col, ""), lambda c: F.ascii(c))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * HASH_MULT + x) % HASH_P,
    )


def normalize_text(col: Column) -> Column:
    """lowercase, collapse runs of whitespace, trim — the canonical form
    used by fingerprinting and dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Deterministic 30-bit document fingerprint of normalized text."""
    return char_poly_hash(normalize_text(col))


def stopword_hits(col: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens that are in the given stopword list."""
    toks = tokens(F.lower(col))
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(col: Column) -> Column:
    """Heuristic language ID: argmax of stopword hits over LANG_ORDER,
    'und' when no list scores > 0.  Ties break in LANG_ORDER."""
    scores = {lang: stopword_hits(col, STOPWORDS[lang]) for lang in LANG_ORDER}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def tfidf_top_terms(
    docs, doc_col: str = "doc_id", text_col: str = "text", k: int = 3
):
    """Top-k TF-IDF terms per document (classic idf = ln(N/df)).

    Plan: explode normalized tokens (map-only) -> tf groupBy (doc, term)
    [shuffle 1, map-side combine] -> document frequency groupBy (term)
    [shuffle 2] -> equi-join tf x df on term -> scalar N via a broadcast
    1-row aggregate (lazy, no driver action) -> per-doc top-k window
    [shuffle 3].  At 100 TB the term dictionary join is the big one; it
    stays an equi-join on term (AQE picks broadcast vs shuffled by the
    dictionary's real size).
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(doc_col), F.explode(tokens(normalize_text(F.col(text_col)))).alias("term")
    )
    tf = toks.groupBy(doc_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    ndf = docs.agg(F.count_distinct(F.col(doc_col)).alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndf))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("_n").cast("double") / F.col("_df")))
    )
    w = Window.partitionBy(doc_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(doc_col, "term", F.round("tfidf", 6).alias("tfidf"), F.col("rank").cast("int"))
    )


def quality_score(col: Column) -> Column:
    """Deterministic 0..1 quality heuristic from length / alpha ratio /
    punctuation ratio / stopword ratio.  Integer-derived ratios only, so
    both engines produce bit-identical doubles."""
    n_chars = F.length(col)
    n_alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    n_tok = token_count(col)
    n_stop = stopword_hits(col, STOPWORDS["en"])
    safe = lambda num, den: F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))
    score = (
        0.25 * F.least(n_tok.cast("double") / 100.0, F.lit(1.0))
        + 0.25 * safe(n_alpha, n_chars)
        + 0.25 * (1.0 - safe(n_punct, n_chars))
        + 0.25 * F.least(4.0 * safe(n_stop, n_tok), F.lit(1.0))
    )
    return F.round(score, 6)


# ------------------------------------------------- repetition filters

def duplicate_token_fraction(toks: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token:
    1 - |distinct|/|all| (Gopher-rule family, Rae et al. 2021 §A1.1 —
    "duplicate word fraction").  0.0 for empty docs.  Map-only."""
    n = F.size(toks)
    return F.when(
        n > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n.cast("double"),
    ).otherwise(F.lit(0.0))


def word_bigrams(toks: Column) -> Column:
    """All (non-distinct) adjacent word 2-grams, space-joined.  Empty
    array below 2 tokens.  Built with slice+zip_with, not element_at in
    a lambda (see dedup.shingle_hashes_from_token_hashes for why)."""
    m = F.size(toks) - 1
    return F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, m),
            F.slice(toks, 2, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def top_bigram(grams: Column) -> Column:
    """The most frequent 2-gram as struct(c, g) — count-desc with the
    lexicographically LARGEST gram breaking count ties (both engines
    sort structs field-wise, so the oracle reproduces the tie-break).
    NULL elements are never counted; NULL when no non-NULL 2-gram is
    left.

    Per-doc cost is O(|grams| log |grams|): sort the array, then one
    run-length pass over the now-adjacent duplicates (r13 — the old
    count-per-distinct-gram form was O(|distinct| * |grams|) inside an
    interpreted HOF and dominated t6 at scale).  Still ONE map stage —
    no explode, no shuffle, no per-doc state beyond the arrays.  Equal
    counts resolve to the lexicographically largest gram for free:
    runs arrive in ascending gram order, so a later equal-count run
    overwrites the incumbent.  ``grams`` should be a materialized
    column reference (withColumn first) so the sort input is evaluated
    once."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best_c"),
        F.lit(None).cast("string").alias("best_g"),
    )

    def step(a, x):
        run = F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1))
        take = x.isNotNull() & (
            (run > a["best_c"]) | ((run == a["best_c"]) & (x > a["best_g"]))
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(take, run).otherwise(a["best_c"]).alias("best_c"),
            F.when(take, x).otherwise(a["best_g"]).alias("best_g"),
        )

    def finish(a):
        return F.when(
            a["best_c"] > 0, F.struct(a["best_c"].alias("c"), a["best_g"].alias("g"))
        )

    return F.aggregate(F.sort_array(grams), init, step, finish)


def top_bigram_char_fraction(
    grams: Column, toks: Column, top: Column | None = None
) -> Column:
    """Fraction of the document's (non-whitespace) characters contained
    in occurrences of its most frequent word 2-gram (Gopher repetition
    rule: "fraction of characters in most common 2-gram"; threshold
    0.20 in Rae et al. 2021 Table A1).  0.0 when no 2-grams exist.

    Computed as count(top) * chars(top) / total_chars — the standard
    open reimplementation of the rule.  For self-overlapping repeats
    ("spam spam spam ...") occurrences share characters and the ratio
    can exceed 1.0; that is fine for a threshold filter (more
    repetitive == larger), and exact interval-union coverage would cost
    a per-doc scan for no ranking change.

    Pass ``top`` when the caller has already materialized
    ``top_bigram(grams)`` in a column: HOFs are CodegenFallback
    expressions, so Catalyst does not common-subexpression-eliminate a
    repeated top_bigram tree — without this the scan pays it twice."""
    if top is None:
        top = top_bigram(grams)
    total_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    hit_chars = top["c"].cast("long") * F.length(
        F.regexp_replace(top["g"], " ", "")
    )
    return F.when(
        top.isNotNull() & (total_chars > 0),
        hit_chars.cast("double") / total_chars.cast("double"),
    ).otherwise(F.lit(0.0))


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Fixed-token-window document chunking — the standard pretraining
    prep step (context windows with overlap so no boundary text is lost
    to truncation).  One output row per chunk:

        (id_col, chunk_idx, n_chunk_tokens, chunk_text)

    Chunks start at multiples of ``stride = chunk_tokens - overlap``
    while the start is inside the document; the last chunk may be
    short.  100 TB shape: pure Column expressions end to end — tokens
    via split, starts via sequence, the window via slice + array_join,
    fan-out via posexplode (a generator, NOT a shuffle); the plan stays
    map-only at any corpus size."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.ceil(n.cast("double") / F.lit(float(stride))).cast("int")
    starts = F.sequence(
        F.lit(0), (F.greatest(n_chunks, F.lit(1)) - F.lit(1)) * F.lit(stride), F.lit(stride)
    )
    exploded = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_idx", "_start"),
    )
    window = F.slice(F.col("_toks"), F.col("_start") + F.lit(1), chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.size(window).alias("n_chunk_tokens"),
        F.array_join(window, " ").alias("chunk_text"),
    )


def adjacent_pairs(col: Column) -> Column:
    """Adjacent whitespace-token pairs of a document as ``"left right"``
    strings — the merge-candidate enumeration step of BPE tokenizer
    training (each merge iteration picks the most frequent adjacent
    pair).  Pure Column expression: sequence + element_at, no UDF."""
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.size(toks) - 1)
    pairs = F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1))
    )
    return F.when(F.size(toks) >= 2, pairs).otherwise(F.array().cast("array<string>"))


def bpe_pair_counts(df: DataFrame, text_col: str = "text", top_n: int = 100) -> DataFrame:
    """Global adjacent-pair frequency table — one BPE merge-selection
    round over the corpus.  Returns the ``top_n`` pairs by count
    (deterministic tie-break on the pair string).

    100 TB shape: the pair enumeration is a map-only generator
    (posexplode of a per-doc array, no shuffle); the count is ONE
    hash aggregation with map-side partial combine, and the key space
    is bounded by vocab² (tiny next to the corpus), so the shuffle
    moves only the partial count table.  An actual BPE trainer loops
    this plan, applying the winning merge between rounds."""
    pairs = df.select(F.explode(adjacent_pairs(F.col(text_col))).alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(top_n)
    )


def top_vocabulary(df: DataFrame, text_col: str = "text", size: int = 30000) -> DataFrame:
    """The ``size`` most frequent whitespace tokens in the corpus
    (deterministic tie-break on the token), as a one-column frame
    ``token`` — the fixed-vocabulary construction step."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(size)
        .select("token")
    )


def oov_stats(
    df: DataFrame, id_col: str, text_col: str, vocab: DataFrame
) -> DataFrame:
    """Per-document out-of-vocabulary statistics against a fixed
    vocabulary frame (one ``token`` column): token count, in-vocab
    count, and the OOV fraction (rounded to 6, the registry's ratio
    convention) — the coverage check run before committing to a
    tokenizer vocabulary.

    100 TB shape: the vocabulary is broadcast (vocab size is a model
    constant, ≤ a few hundred thousand strings), so the corpus-side
    token stream is a map-only broadcast left join followed by ONE
    groupBy on the document id — a single bounded shuffle.  The
    explode is a generator, not a shuffle."""
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    marked = tok.join(
        F.broadcast(vocab.select("token").withColumn("_known", F.lit(1))), "token", "left"
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.coalesce(F.col("_known"), F.lit(0))).cast("long").alias("n_known"),
        F.round(
            F.lit(1.0) - F.sum(F.coalesce(F.col("_known"), F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("oov_rate"),
    )


def unigram_model(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus unigram language model: ``(token, logprob)`` with
    p(token) = count/total — the model half of perplexity-based quality
    filtering (the CCNet/Wikipedia-LM approach, scaled down to
    unigrams so the oracle can replay it exactly).

    One shuffle (token groupBy, map-side combined); the total is an
    aggregation over the already-tiny vocabulary frame, not a second
    corpus scan."""
    tok = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "token", F.log(F.col("cnt") / F.col("_total")).alias("logprob")
    )


def doc_perplexity(
    df: DataFrame, id_col: str, text_col: str, model: DataFrame
) -> DataFrame:
    """Per-document pseudo-perplexity under a broadcast unigram model:
    ``ppl = exp(-mean(log p(token)))``.  Low-perplexity documents look
    like the corpus; high-perplexity ones are outliers — the standard
    LM-filter signal.

    100 TB shape: the model is a broadcast map-side join (vocab is a
    model constant); the corpus stream never shuffles until the ONE
    per-document groupBy.  Ratios rounded to 6 (registry convention)."""
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    j = tok.join(F.broadcast(model), "token")
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("logprob"), 6).alias("avg_logprob"),
        F.round(F.exp(-F.avg("logprob")), 6).alias("ppl"),
    )


def readability(col: Column) -> Column:
    """Flesch reading-ease score from three regexp counts — the classic
    readability signal used alongside perplexity in corpus quality
    filtering.  Heuristics (documented contract, identical in any
    regexp engine):

      - words      = whitespace token count (min 1)
      - sentences  = runs of sentence-ending punctuation ``[.!?]+``
                     (min 1)
      - syllables  = vowel-group runs ``[aeiouy]+`` over the lowercased
                     text (min 1) — the standard cheap approximation

    ``206.835 - 1.015 * words/sentences - 84.6 * syllables/words``,
    every operation a single pinned-order IEEE op.  Map-only: three
    JVM regexp scans per row, zero shuffles, zero Python."""
    words = F.greatest(F.size(tokens(col)), F.lit(1)).cast("double")
    sents = F.greatest(
        F.regexp_count(col, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("double")
    sylls = F.greatest(
        F.regexp_count(F.lower(col), F.lit(r"[aeiouy]+")), F.lit(1)
    ).cast("double")
    return (
        F.lit(206.835) - F.lit(1.015) * (words / sents) - F.lit(84.6) * (sylls / words)
    )


def zipf_fit(df: DataFrame, text_col: str = "text", top_n: int = 20) -> DataFrame:
    """Zipf-law fit over the corpus token distribution: OLS slope of
    ``ln(freq)`` on ``ln(rank)`` for the ``top_n`` most frequent tokens
    — the corpus-health check that a scraped/filtered corpus still has
    a natural-language frequency profile (healthy text ≈ -1; token
    soup or boilerplate floods flatten or steepen it).

    Returns ONE row: ``(n_tokens_ranked, slope, intercept)``.  Plan:
    one map-side-combined token groupBy, a TakeOrdered top_n (bounded),
    then the closed-form OLS over the tiny ranked frame — the corpus is
    scanned once."""
    tok = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    ranked = (
        counts.orderBy(F.desc("freq"), F.asc("token"))
        .limit(top_n)
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("freq"), F.asc("token")))
            .alias("rank"),
            "freq",
        )
    )
    xy = ranked.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        F.col("n").cast("long").alias("n_tokens_ranked"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def bigram_model(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Interpolated bigram language model over the corpus:
    ``(pair, logprob)`` with

        p(b | a) = 0.75 * c(a b)/c(a)  +  0.25 * c(b)/N

    — MLE bigram interpolated with the unigram distribution (the
    Jelinek-Mercer smoothing that makes every SEEN transition scoreable
    without Katz backoff machinery), the next step up from
    :func:`unigram_model` in the CCNet-style LM-filter ladder.

    Scale shape: pair counts and token counts are each ONE
    map-side-combined groupBy over the exploded corpus; the two unigram
    lookups joining the bigram frame are broadcast (vocab is a model
    constant); the total is an aggregate of the tiny vocab frame.  Every
    arithmetic step is a single IEEE op with pinned operand order, so a
    SQL engine replays the exact doubles."""
    pairs = df.select(F.explode(adjacent_pairs(F.col(text_col))).alias("pair"))
    bc = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cab"))
    tok = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = uni.agg(F.sum("cnt").alias("_n"))
    split = F.split(F.col("pair"), " ")
    j = (
        bc.withColumn("_a", split.getItem(0))
        .withColumn("_b", split.getItem(1))
        .join(F.broadcast(uni.select(F.col("token").alias("_a"), F.col("cnt").alias("ca"))), "_a")
        .join(F.broadcast(uni.select(F.col("token").alias("_b"), F.col("cnt").alias("cb"))), "_b")
        .crossJoin(F.broadcast(total))
    )
    lp = F.log(
        F.lit(0.75) * (F.col("cab").cast("double") / F.col("ca").cast("double"))
        + F.lit(0.25) * (F.col("cb").cast("double") / F.col("_n").cast("double"))
    )
    return j.select("pair", lp.alias("logprob"))


def doc_bigram_perplexity(
    df: DataFrame, id_col: str, text_col: str, model: DataFrame
) -> DataFrame:
    """Per-document pseudo-perplexity under a broadcast bigram model:
    ``ppl = exp(-mean(log p(b|a)))`` over the document's adjacent-pair
    transitions.  Documents with fewer than 2 tokens have no transitions
    and drop out (same convention both engines).

    Same 100 TB shape as :func:`doc_perplexity`: broadcast model
    lookup, corpus never shuffles until the ONE per-document groupBy."""
    prs = df.select(
        F.col(id_col), F.explode(adjacent_pairs(F.col(text_col))).alias("pair")
    )
    j = prs.join(F.broadcast(model), "pair")
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("logprob"), 6).alias("avg_logprob"),
        F.round(F.exp(-F.avg("logprob")), 6).alias("ppl"),
    )


def source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Cross-source duplication matrix: for each unordered pair of
    sources, how many distinct token ``n``-gram hashes they share —
    the standard corpus-audit view for spotting mirrored crawls /
    re-hosted content before mixing sources into a training run.

    ``(src_a, src_b, n_shared)`` with ``src_a < src_b``.

    Scale shape: shingle map-only (Arrow path), one DISTINCT over
    (h, source) pairs, then a self equi-join on ``h``.  Per-shingle
    fan-out is bounded by the number of SOURCES sharing it (sources are
    few — domains, dumps, crawls — a documented contract), so the join
    output is at most |distinct h| * |sources|^2 / 2 and in practice
    near-linear.  One final groupBy on the (src_a, src_b) pair.

    ``max_doc_freq`` is the hot-hash flood guard (same posture as
    substring_dup_pairs): a gram present in more than ``max_doc_freq``
    documents is corpus-wide boilerplate (shared license text, site
    chrome) that inflates the overlap matrix with signal about
    BOILERPLATE, not mirrored content, and — more importantly at
    100 TB — makes the pre-DISTINCT (h, source) stream and the skewed
    join key hot.  Grams above the cap are dropped via one
    ``groupBy(h).count()`` over the per-doc-unique gram stream before
    the source projection.  ``None`` keeps exact semantics."""
    from parquet_common_spark.operators.dedup import shingle_hashes_arrow

    ex = (
        shingle_hashes_arrow(
            df.select(F.col(id_col), F.col(text_col), F.col(source_col)),
            id_col,
            text_col,
            n,
        )
        .join(
            df.select(F.col(id_col).alias("_id"), F.col(source_col).alias("_src")),
            on="_id",
        )
        .select(F.explode("_sh").alias("h"), F.col("_src"))
    )
    if max_doc_freq is not None:
        # _sh is np.unique'd per doc, so count(1) per h == doc frequency
        ok = (
            ex.groupBy("h")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_doc_freq)
            .select("h")
        )
        ex = ex.join(ok, "h")
    hs = ex.distinct()
    a = hs.select("h", F.col("_src").alias("src_a"))
    b = hs.select("h", F.col("_src").alias("src_b"))
    return (
        a.join(b, on="h")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


# ------------------------------------------ linear quality classifier

# fastText-style hashed-bag-of-words linear scorer: each token hashes
# into one of CLS_DIM feature buckets, each bucket carries a fixed
# deterministic weight in [-0.5, 0.5), the document score is the mean
# bucket weight squashed by a sigmoid.  The weight table is a FORMULA
# (Knuth multiplicative hash of the bucket id), not a stored vector, so
# the classifier is a pure map-only Column expression on both engines —
# at 100 TB there is no model to broadcast and no shuffle at all.  A
# real trained model swaps the formula for a broadcast weight array;
# the plan shape is identical.
CLS_DIM = 4096
CLS_MULT = 2_654_435_761  # Knuth's 2^32 golden-ratio multiplier
CLS_MOD = 1_000_003


def quality_classifier(col: Column) -> Column:
    """(n_tokens, raw mean weight, sigmoid probability) struct for the
    hashed linear quality classifier over normalized tokens."""
    toks = F.split(normalize_text(col), " ")
    ws = F.transform(
        toks,
        lambda t: (
            (
                (
                    F.aggregate(
                        F.transform(F.split(t, ""), lambda c: F.ascii(c)),
                        F.lit(0).cast("long"),
                        lambda acc, x: (acc * HASH_MULT + x) % HASH_P,
                    )
                    % CLS_DIM
                )
                * CLS_MULT
                % CLS_MOD
            ).cast("double")
            / F.lit(float(CLS_MOD))
            - F.lit(0.5)
        ),
    )
    raw = F.aggregate(ws, F.lit(0.0), lambda a, x: a + x) / F.size(toks)
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-8.0) * raw))
    return F.struct(
        F.size(toks).alias("n_tokens"),
        raw.alias("raw"),
        prob.alias("prob"),
    )


def vocab_coverage(
    df: DataFrame, text_col: str = "text", thresholds: tuple = (0.5, 0.75, 0.9, 0.99)
) -> DataFrame:
    """Vocabulary coverage curve: for each coverage threshold, the
    smallest vocabulary size v such that the v most frequent tokens
    cover >= that fraction of all token occurrences — the
    tokenizer-design metric behind "how big must the vocab be".

    Returns ONE row: ``total_tokens`` plus one ``v_<pct>`` column per
    threshold.  The needed size is ``#{tokens with inclusive-cumsum <
    thr * total} + 1`` — an aggregation over the cumsum frame, no rank
    column.  Scale shape: one map-side-combined token groupBy, then the
    distributed prefix sum over (freq desc, token) — vocabulary-sized,
    not corpus-sized, and no single-task window; the threshold probe is
    one tiny aggregate."""
    from parquet_common_spark.operators.packing import global_cumsum

    tok = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    freqs = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    cum = global_cumsum(
        freqs.withColumn("_neg", -F.col("cnt")), ["_neg", "token"], "cnt",
        out_col="cum",
    )
    tot = freqs.agg(F.sum("cnt").alias("_t"))
    j = cum.crossJoin(F.broadcast(tot))
    aggs = [F.max("_t").cast("long").alias("total_tokens")]
    for thr in thresholds:
        name = f"v_{int(round(thr * 100))}"
        aggs.append(
            (
                F.sum(
                    F.when(
                        F.col("cum").cast("double")
                        < F.lit(float(thr)) * F.col("_t").cast("double"),
                        1,
                    ).otherwise(0)
                )
                + 1
            ).cast("long").alias(name)
        )
    return j.agg(*aggs)


def split_novelty(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    train_frac: float = 0.8,
) -> DataFrame:
    """Held-out n-gram novelty per source: of the distinct token
    ``n``-gram hashes appearing in the VAL half of the deterministic
    hash split, what fraction never occurs anywhere in the TRAIN half?

    Low novelty means the val split leaks train phrasing (memorization
    risk inflates eval); per-source rates localize which domain leaks.
    Returns ``(source, n_val_grams, n_novel, novelty_rate)``.

    Scale shape: shingling is the map-only Arrow path; the train side
    reduces to DISTINCT gram hashes (bounded by vocabulary^n, not corpus
    rows); the val side is a DISTINCT over (source, h); novelty is ONE
    left-anti equi-join on the hash followed by a sources-sized groupBy.
    No self-join, so no hot-hash flood surface.
    """
    from parquet_common_spark.operators.dedup import shingle_hashes_arrow
    from parquet_common_spark.operators.sampling import MIX_MOD, key_mix

    thr = int(train_frac * MIX_MOD)
    ex = (
        shingle_hashes_arrow(
            df.select(F.col(id_col), F.col(text_col), F.col(source_col)),
            id_col,
            text_col,
            n,
        )
        .join(
            df.select(F.col(id_col).alias("_id"), F.col(source_col).alias("_src")),
            on="_id",
        )
        .withColumn("_train", key_mix(F.col("_id")) < F.lit(thr))
        .select(F.explode("_sh").alias("h"), "_src", "_train")
    )
    train_g = ex.where(F.col("_train")).select("h").distinct()
    val_g = ex.where(~F.col("_train")).select("h", "_src").distinct()
    novel = val_g.join(train_g, "h", "left_anti")
    per_val = val_g.groupBy(F.col("_src").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_val_grams")
    )
    per_novel = novel.groupBy(F.col("_src").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    return per_val.join(per_novel, "source", "left").select(
        "source",
        "n_val_grams",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        F.round(
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_val_grams").cast("double"),
            6,
        ).alias("novelty_rate"),
    )


def bm25_topk(
    df: DataFrame,
    queries: list[tuple[int, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    salts: int = 8,
) -> DataFrame:
    """BM25 retrieval: the top-``k`` corpus documents per query string —
    the retrieval scorer a curation pipeline uses to pull topical data
    (and the relevance arm of retrieval-augmented dataset construction).

    ``queries`` is a small literal list of ``(query_id, text)``; the
    corpus is ``df``.  Returns ``(query_id, doc_id, score, rank)`` with
    ``score`` rounded to 6 (ranking uses the ROUNDED score + doc_id so
    the order is float-tie-proof across engines).

    Scale shape: ONE token explode over the corpus feeding (a) per-doc
    lengths (map-side-combined groupBy) and (b) the term postings for
    the ≤|query vocab| broadcast term set (semi-joined BEFORE the tf
    groupBy, so the shuffle carries only matching tokens).  Document
    frequencies and the (n_docs, avgdl) scalar are vocabulary-sized
    broadcasts.  The final per-query top-k uses the same two-phase
    salted ranking as ``sampling.fixed_k_per_group`` — exactly equal to
    the single-window form, but a query matching a billion documents
    never sorts more than 1/salts of them in one task.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    qrows = [
        (qid, tok)
        for qid, qtext in queries
        for tok in dict.fromkeys(qtext.lower().split())
    ]
    qterms = spark.createDataFrame(qrows, "query_id int, tok string")

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        (F.sum("_dl").cast("double") / F.count(F.lit(1))).alias("_avgdl"),
    )
    tf = (
        toks.join(F.broadcast(qterms), "tok")
        .groupBy("query_id", id_col, "tok")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    term_df = (
        tf.select("tok", id_col)
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    scored = (
        tf.join(F.broadcast(term_df), "tok")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_term",
            F.col("_idf")
            * (F.col("_tf") * F.lit(k1 + 1.0))
            / (
                F.col("_tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("_dl") / F.col("_avgdl")
                )
            ),
        )
        .groupBy("query_id", id_col)
        # per-term 9dp round + exact decimal sum -> order-insensitive
        # across partitionings/engines; final 6dp round on the DOUBLE
        # cast (never on the exact decimal — .xx5 tie discipline, see
        # plans.common.dsum)
        .agg(
            F.round(
                F.sum(F.round(F.col("_term"), 9).cast("decimal(18,9)")).cast(
                    "double"
                ),
                6,
            ).alias("score")
        )
    )
    # two-phase salted top-k on (score desc, doc) — equal to the single
    # window, bounded per task (see sampling.fixed_k_per_group)
    salted = scored.withColumn(
        "_salt", F.pmod(F.col(id_col).cast("long"), F.lit(salts))
    )
    w1 = Window.partitionBy("query_id", "_salt").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    survivors = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= k)
        .drop("_rn1", "_salt")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "score", F.col("rank").cast("int").alias("rank"))
    )


def sparse_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 50,
    tau: float = 0.5,
) -> DataFrame:
    """All document pairs with count-vector cosine >= ``tau`` via an
    INVERTED-INDEX self-join — postings joined on term, never documents
    x documents.  Dot products and norms are exact BIGINT sums (term
    frequencies are integers); the only float op is one division per
    surviving pair, so the result is engine-exact.

    ``max_doc_freq`` is the hot-term flood guard (band_cap family): a
    term in more than ``max_doc_freq`` docs would alone emit ~df^2/2
    join rows, so ubiquitous terms are dropped BEFORE the self-join in
    one (term, df) groupBy — per-term fan-out is then <= cap.  Recall
    posture: a pair whose overlap is ONLY corpus-wide boilerplate terms
    is exactly what a similarity pass wants excluded, not enumerated.

    Returns ``(id_a, id_b, cos)`` with ``id_a < id_b``, cos rounded to
    6dp BEFORE the threshold compare (boundary behavior is defined)."""
    tf = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(normalize_text(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .groupBy("_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    keep = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_doc_freq)
        .select("tok")
    )
    tff = tf.join(keep, "tok")
    norms = tff.groupBy("_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("nn"))
    a = tff.select("tok", F.col("_id").alias("id_a"), F.col("tf").alias("tf_a"))
    b = tff.select("tok", F.col("_id").alias("id_b"), F.col("tf").alias("tf_b"))
    dots = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        6,
    )
    return (
        dots.join(norms.select(F.col("_id").alias("id_a"), F.col("nn").alias("na")), "id_a")
        .join(norms.select(F.col("_id").alias("id_b"), F.col("nn").alias("nb")), "id_b")
        .select("id_a", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= F.lit(tau))
    )
