"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.10).

Not in the reference (its lambdas are black boxes; SURVEY.md §2.6 "no
scalar function library"); these are the training-data-pipeline extensions
the engine is expected to provide as first-class operators.

Every function here is a pure Column expression factory — JVM-side,
whole-stage-codegen'd, zero Python in the row path. At 100 TB these run at
scan speed with full predicate pushdown upstream.

DSL surface (registered ops):

    ["tokenize", rel, {"col": "text", "as": "tokens"}]
    ["token-count", rel, {...}]
    ["lang-id", rel, {...}]
    ["quality-score", rel, {...}]
    ["fingerprint", rel, {...}]
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import ArityError
from ..eval import Ctx, defop
from ..model import Rel
from ..operators.util import (
    PERSIST_REMOVED, float_opt, int_opt, opts_of, pos_int_opt,
    refuse_removed_opt,
)

# ---------------------------------------------------------------------------
# column-expression factories (usable directly or via the DSL ops)

#: A BPE-ish word/piece splitter: letter runs, digit runs, or single
#: non-space punctuation — approximates subword pre-tokenization.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny per-language stopword lists for the n-gram/stopword-ratio language
#: heuristic. Deliberately small and deterministic (same lists in the
#: DuckDB oracles).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "ich"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "que", "de", "un", "una", "es", "por", "con"],
}


def words(col: Column) -> Column:
    """Lowercased word array (\\W+ split, empties removed)."""
    return F.filter(F.split(F.lower(col), r"[^a-z0-9]+"), lambda w: w != "")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.filter(F.split(col, r"\s+"), lambda w: w != ""))


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count via the pre-tokenization regex."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


def fingerprint64(col: Column) -> Column:
    """64-bit document fingerprint: xxhash64 of the normalized word
    sequence (lowercase, punctuation-stripped, single-spaced) — robust to
    whitespace/punctuation-only edits. JVM hash, no Python."""
    normalized = F.array_join(words(col), " ")
    return F.xxhash64(normalized)


def rolling_hash(col: Column, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over the normalized text's characters:
    h = sum(c_i * base^i) mod m, computed with F.aggregate — O(n) JVM
    fold, cross-engine reproducible (same formula in the DuckDB oracle).

    The fold is interpreted (HOFs get no codegen) but is per-row work, so
    it parallelizes perfectly across partitions — the fingerprint op
    spreads single-split scans for exactly this reason. An explode +
    codegen-agg + join-back rewrite was measured SLOWER (extra shuffles
    outweigh the interpreter overhead)."""
    normalized = F.array_join(words(col), " ")
    chars = F.split(normalized, "")
    init = F.struct(F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p"))
    folded = F.aggregate(
        chars,
        init,
        lambda acc, ch: F.struct(
            ((acc["h"] + F.ascii(ch) * acc["p"]) % mod).alias("h"),
            ((acc["p"] * base) % mod).alias("p"),
        ),
    )
    return folded["h"]


# ---------------------------------------------------------------------------
# codegen-friendly word-signal aggregation
#
# The Column factories above fold over word arrays with higher-order
# functions, which Spark evaluates interpreted (no codegen). For per-table
# analysis the ops below instead explode words once and hash-aggregate the
# signals (word count, total word length, per-language stopword hits) —
# whole-stage codegen end to end, one narrow shuffle of tiny rows.

def word_signals(df, idc: str, textc: str):
    """(id, __nw, __swl, __hits_<lang>...) aggregated word signals.

    Deliberately NOT spread(): the downstream ops join these signals back
    to the input relation, and an extra exchange on the shared scan
    measurably regressed every signal query (lang_id 0.8s -> 29s: the
    repartition defeats scan reuse between the signal and join sides)."""
    ex = (
        df.select(F.col(idc), F.explode(F.split(F.lower(F.col(textc)), r"[^a-z0-9]+")).alias("__w"))
        .filter(F.col("__w") != "")
    )
    aggs = [
        F.count(F.lit(1)).alias("__nw"),
        F.sum(F.length("__w")).alias("__swl"),
    ]
    for lang, words_ in STOPWORDS.items():
        aggs.append(F.count_if(F.col("__w").isin(words_)).alias(f"__hits_{lang}"))
    return ex.groupBy(idc).agg(*aggs)


def word_signal_cols(textc: str) -> dict:
    """Per-row EXPRESSION versions of word_signals (higher-order array
    functions). Interpreted, so ~10x slower per row than the
    explode/agg/join path — but shuffle-free and legal on STREAMING
    sources, where joining a stream to its own aggregation is refused by
    Spark. Types match the agg path (bigint); empty texts yield 0s,
    which the consumers already coalesce identically."""
    w = words(F.col(textc))
    out = {
        "__nw": F.size(w).cast("bigint"),
        "__swl": F.aggregate(w, F.lit(0), lambda a, x: a + F.length(x)).cast("bigint"),
    }
    for lang, words_ in STOPWORDS.items():
        out[f"__hits_{lang}"] = F.size(F.filter(w, lambda x: x.isin(words_))).cast("bigint")
    return out


def _signal_ratio(lang: str) -> Column:
    return F.when(
        F.coalesce(F.col("__nw"), F.lit(0)) > 0,
        F.col(f"__hits_{lang}").cast("double") / F.col("__nw"),
    ).otherwise(F.lit(0.0))


def _signal_lang() -> Column:
    best_lang, best_score = F.lit("und"), F.lit(0.0)
    for lang in STOPWORDS:
        score = _signal_ratio(lang)
        better = score > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, score).otherwise(best_score)
    return best_lang


def _signal_quality(textc: str) -> Column:
    col = F.col(textc)
    n_chars = F.length(col)
    length_score = F.least(F.lit(1.0), n_chars / F.lit(1000.0))
    mean_wlen = F.when(
        F.coalesce(F.col("__nw"), F.lit(0)) > 0,
        F.col("__swl").cast("double") / F.col("__nw"),
    ).otherwise(F.lit(0.0))
    wlen_score = F.when((mean_wlen >= 3) & (mean_wlen <= 12), F.lit(1.0)).otherwise(F.lit(0.0))
    punct = F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    punct_score = F.lit(1.0) - F.least(F.lit(1.0), punct / (n_chars / F.lit(10.0) + F.lit(1.0)))
    sw_best = None
    for lang in STOPWORDS:
        r = _signal_ratio(lang)
        sw_best = r if sw_best is None else F.greatest(sw_best, r)
    sw_score = F.least(F.lit(1.0), F.lit(4.0) * sw_best)
    return (length_score + wlen_score + punct_score + sw_score) / F.lit(4.0)


# ---------------------------------------------------------------------------
# DSL ops

def _col_opts(rest, default_col="text"):
    opts = opts_of(rest)
    return opts.get("col", default_col), opts


@defop("tokenize")
def op_tokenize(ctx: Ctx, rel: Rel, *rest) -> Rel:
    col, opts = _col_opts(rest)
    return rel.with_df(rel.df.withColumn(opts.get("as", "tokens"), words(F.col(col))))


@defop("token-count")
def op_token_count(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Adds whitespace + BPE-ish token counts."""
    col, opts = _col_opts(rest)
    df = rel.df.withColumn(opts.get("ws_as", "n_tokens_ws"), token_count_ws(F.col(col)))
    df = df.withColumn(opts.get("bpe_as", "n_tokens_bpe"), token_count_bpe(F.col(col)))
    return rel.with_df(df)


def _with_signals(rel: Rel, col: str, opts: dict, out_name: str, out_col: Column) -> Rel:
    if rel.df.isStreaming:
        # streaming: the agg+join-back below would be a stream joined to
        # its own aggregation (refused by Spark); compute the signals as
        # per-row array expressions instead — same values, no shuffle
        df = rel.df
        for n, c in word_signal_cols(col).items():
            df = df.withColumn(n, c)
        df = df.withColumn(out_name, out_col)
        return rel.with_df(df.drop(*[c for c in df.columns if c.startswith("__")]))
    idc = opts.get("id") or (rel.key_cols[0] if rel.key_cols else "doc_id")
    sigs = word_signals(rel.df, idc, col)
    joined = rel.df.join(sigs, idc, "left").withColumn(out_name, out_col)
    drop = [c for c in joined.columns if c.startswith("__")]
    return rel.with_df(joined.drop(*drop))


@defop("lang-id")
def op_lang_id(ctx: Ctx, rel: Rel, *rest) -> Rel:
    col, opts = _col_opts(rest)
    return _with_signals(rel, col, opts, opts.get("as", "lang_pred"), _signal_lang())


@defop("quality-score")
def op_quality_score(ctx: Ctx, rel: Rel, *rest) -> Rel:
    col, opts = _col_opts(rest)
    return _with_signals(rel, col, opts, opts.get("as", "quality"), _signal_quality(col))


@defop("fingerprint")
def op_fingerprint(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Adds both the xxhash64 fingerprint and the portable rolling hash.

    The rolling hash is an interpreted per-row fold (see
    :func:`rolling_hash`), so a single-split source is spread across the
    cluster first — per-row work scales with partitions, and on an
    already-parallel scan the spread is a no-op."""
    from ..operators.util import spread

    col, opts = _col_opts(rest)
    df = spread(rel.df)
    df = df.withColumn(opts.get("as", "fingerprint"), fingerprint64(F.col(col)))
    df = df.withColumn(opts.get("rolling_as", "rolling_fp"), rolling_hash(F.col(col)))
    return rel.with_df(df)


# ---------------------------------------------------------------------------
# repetition signals + scrubbing (Gopher-style corpus filters)

#: Scrub patterns portable between Java regex (Spark) and RE2 (DuckDB):
#: no backreferences, no lookaround.
SCRUB_PATTERNS = {
    "url": r"https?://[^\s]+",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


@defop("repetition-score")
def op_repetition_score(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Adds the Gopher-style repetition signals used to drop boilerplate:

        n_words, n_distinct_words,
        dup_word_ratio = 1 - distinct/words   (0 when empty),
        top_word_ratio = max word frequency / words.

    Batch plan: explode words -> per-(id, word) count -> per-id
    (sum, count, max) — two narrow hash aggregations with map-side
    partials, join back on id (same shape as word_signals, and like it
    NOT spread: the join-back reuses the scan). Streaming sources are
    refused (needs the agg+join-back; per-row top-frequency would be
    O(words^2) interpreted)."""
    col, opts = _col_opts(rest)
    if rel.df.isStreaming:
        from ..errors import TypeDispatchError

        raise TypeDispatchError(
            "repetition-score is batch-only (per-word frequency needs an "
            "aggregation joined back to the stream)"
        )
    idc = opts.get("id") or (rel.key_cols[0] if rel.key_cols else "doc_id")
    ex = (
        rel.df.select(F.col(idc), F.explode(words(F.col(col))).alias("__w"))
    )
    per_word = ex.groupBy(idc, "__w").agg(F.count(F.lit(1)).alias("__c"))
    sig = per_word.groupBy(idc).agg(
        F.sum("__c").alias("__nw"),
        F.count(F.lit(1)).alias("__nd"),
        F.max("__c").alias("__top"),
    )
    joined = rel.df.join(sig, idc, "left")
    nw = F.coalesce(F.col("__nw"), F.lit(0))
    out = (
        joined.withColumn("n_words", nw)
        .withColumn("n_distinct_words", F.coalesce(F.col("__nd"), F.lit(0)))
        .withColumn(
            "dup_word_ratio",
            F.when(nw > 0, F.lit(1.0) - F.col("__nd") / nw).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "top_word_ratio",
            F.when(nw > 0, F.col("__top") / nw).otherwise(F.lit(0.0)),
        )
    )
    return rel.with_df(out.drop("__nw", "__nd", "__top"))


def _count_log(units: Column, x: Column) -> Column:
    """c*log2(c) for x's occurrence count c within units (HOF path)."""
    cnt = F.size(F.filter(units, lambda e: e == x)).cast("double")
    return cnt * F.log2(cnt)


@defop("entropy")
def op_entropy(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Adds the Shannon entropy of a document's character or word
    distribution — the standard garbage-text signal (random strings and
    encoding junk sit far above natural-language character entropy;
    single-token spam sits near 0):

        ["entropy", rel, {"col": "text", "unit": "char", "as": "ent"}]
        -> every column + ``ent`` (double, bits): -sum p_u * log2(p_u)
           over the doc's distinct units u; 0.0 for empty docs, NULL for
           NULL text.

    ``unit: "char"`` measures the raw character stream (1-char
    substrings, whitespace included); ``unit: "word"`` the normalized
    word distribution (words()).

    ``id`` must identify rows UNIQUELY (default: the rel's key /
    doc_id, same precondition as dedup-paragraphs): the batch plan
    aggregates unit counts per id and joins back, so rows sharing an id
    would all receive their COMBINED distribution's entropy — while the
    streaming per-row path scores each row alone.

    Batch plan (same shape as repetition-score): explode units ->
    per-(id, unit) count -> per-id [sum, sum(c*log2 c)] — two narrow
    hash aggregations with map-side partials, join back on id; entropy
    = log2(n) - sum(c*log2 c)/n, one expression. Streaming sources
    switch to the per-row HOF path (distinct units counted via
    size(filter) — O(alphabet x len) per row, shuffle-free, same
    result; the agg+join-back would join a stream to its own
    aggregation, which Spark refuses)."""
    col, opts = _col_opts(rest)
    unit = opts.get("unit", "char")
    out_name = opts.get("as", "ent")
    idc = opts.get("id") or (rel.key_cols[0] if rel.key_cols else "doc_id")
    c = F.col(col)
    if unit == "word":
        units = words(c)
    elif unit == "char":
        # portable 1-char substrings (NOT split(col, '') — empty-pattern
        # split behavior differs across engines); sequence(1, 0) would
        # count DOWN in Spark, so empty strings short-circuit
        units = F.when(F.length(c) > 0, F.transform(
            F.sequence(F.lit(1), F.length(c)), lambda i: c.substr(i, F.lit(1))
        )).otherwise(F.array().cast("array<string>"))
    else:
        from ..errors import ArityError

        raise ArityError(f"entropy unit must be 'char' or 'word', got {unit!r}")
    if rel.df.isStreaming:
        # streaming-legal per-row path (an agg joined back to its own
        # stream is refused by Spark): distinct units, count each via
        # size(filter(...)) — O(alphabet x len) per row, shuffle-free.
        # Same result as the batch plan; parity pinned by test.
        # let1-bound (r18): the per-distinct-unit count lambda captured
        # ``units`` — re-tokenizing the row once per distinct unit
        from ..operators.util import let1

        def _ent_of(uu: Column) -> Column:
            n = F.size(uu)
            csum = F.aggregate(
                F.array_distinct(uu),
                F.lit(0.0),
                lambda acc, x: acc + _count_log(uu, x),
            )
            return F.when(n == 0, F.lit(0.0)).otherwise(
                F.log2(n.cast("double")) - csum / n
            )

        ent = F.when(c.isNull(), F.lit(None).cast("double")).otherwise(
            let1(units, _ent_of)
        )
        return rel.with_df(rel.df.withColumn(out_name, ent))
    from ..operators.util import spread

    # spread: the unit explode + per-unit count is the heavy stage and a
    # small parquet source scans as one split (single-task at toy SF;
    # no-op at scale — see band_signatures)
    ex = spread(rel.df).select(F.col(idc), F.explode(units).alias("__u"))
    per_unit = ex.groupBy(idc, "__u").agg(F.count(F.lit(1)).alias("__c"))
    sig = per_unit.groupBy(idc).agg(
        F.sum("__c").alias("__n"),
        F.sum(F.col("__c") * F.log2("__c")).alias("__clc"),
    )
    joined = rel.df.join(sig, idc, "left")
    ent = F.when(
        c.isNull(), F.lit(None).cast("double")
    ).when(
        F.col("__n").isNull(), F.lit(0.0)  # no units: zero entropy
    ).otherwise(F.log2("__n") - F.col("__clc") / F.col("__n"))
    return rel.with_df(joined.withColumn(out_name, ent).drop("__n", "__clc"))


@defop("scrub")
def op_scrub(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """["scrub", rel, {"col": "text", "patterns": ["url", "email"],
    "replacement": "<REDACTED>", "as": col}] — regex redaction of
    URLs / emails / IPv4s (or custom patterns given as raw regex
    strings). Pure regexp_replace chain — codegen, streaming-safe; the
    built-in patterns avoid backreferences/lookaround so they behave
    identically under Java regex and RE2 (the DuckDB oracle)."""
    col, opts = _col_opts(rest)
    out_name = opts.get("as", col)
    repl = opts.get("replacement", "<REDACTED>")
    pats = opts.get("patterns", ["url", "email"])
    if isinstance(pats, str):
        pats = [pats]
    c = F.col(col)
    for p in pats:
        c = F.regexp_replace(c, SCRUB_PATTERNS.get(p, p), repl)
    return rel.with_df(rel.df.withColumn(out_name, c))


@defop("ngrams")
def op_ngrams(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Corpus n-gram statistics:

        ["ngrams", rel, {"col": "text", "n": 2, "top": 100}]
        -> (ngram, count), the corpus-wide top-K word n-grams with a
           deterministic tiebreak (count desc, ngram asc).

    Explode word n-grams (whitespace words; short docs contribute
    nothing when they have < n words) -> hash count -> top-K. One
    shuffle with map-side partials; the top-K is a global sort of the
    AGGREGATED (distinct-ngram) relation, not the corpus. Omit "top"
    for the full distribution. Batch-only — DELIBERATELY including the
    no-"top" form that update/complete output modes could legally run:
    an ever-growing unwatermarked corpus-global count is unbounded state
    with no eviction, so the construction-time refusal keeps the
    contract uniform and points at the bounded alternative (per
    micro-batch stats via foreach-batch)."""
    col, opts = _col_opts(rest)
    # curated >= 1 parse (r14): n=0 built empty-string grams (one
    # garbage row), negatives aborted opaquely in F.slice at action
    n = pos_int_opt(opts, "n", "ngrams", default=2)
    top = opts.get("top")
    if rel.df.isStreaming:
        from ..errors import TypeDispatchError

        raise TypeDispatchError(
            "ngrams aggregates corpus-global counts without a time "
            "dimension and is batch-only: in append mode an "
            "unwatermarked streaming aggregate never emits, and while "
            "update/complete modes could emit, the corpus-global count "
            "is unbounded state with no eviction; run per micro-batch "
            "via foreach-batch for incremental n-gram stats"
        )
    from ..operators.util import let1, spread

    # let1-bound (r18): the slice lambda re-evaluated the captured
    # tokenization per gram position (quadratic per doc).
    # coalesce: size(NULL) is NULL -> the when falls through and the
    # otherwise-branch fabricates a "" gram for NULL documents
    grams = let1(
        words(F.col(col)),
        lambda w: F.when(
            F.coalesce(F.size(w), F.lit(0)) < n, F.array()
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            )
        ),
    )

    ex = spread(rel.df).select(F.explode(grams).alias("ngram"))
    counted = ex.groupBy("ngram").agg(F.count(F.lit(1)).alias("count"))
    if top:
        counted = counted.orderBy(F.col("count").desc(), F.col("ngram").asc()).limit(int(top))
    return rel.with_df(counted, key_cols=("ngram",), time_col=None)


def _gram_ids(col: Column, n: int) -> Column:
    """Distinct word n-grams of ``col`` hashed to engine-portable 60-bit
    longs (md5_long_col; DuckDB: ('0x' || substr(md5(g), 1, 15))::BIGINT).
    60 bits matters here: decontaminate's default min_shared=1 means a
    single colliding gram creates a false contamination pair, and a
    32-bit space takes real birthday collisions at 1e9+ distinct grams."""
    from ..operators.util import let1, md5_long_col

    # let1-bound (r18): the slice lambda re-evaluated the captured
    # tokenization per gram position (quadratic per doc).
    # coalesce: size(NULL) is NULL -> the when falls through and the
    # otherwise-branch fabricates a "" gram for NULL documents
    grams = let1(
        words(col),
        lambda w: F.when(
            F.coalesce(F.size(w), F.lit(0)) < n, F.array()
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            )
        ),
    )
    return F.array_distinct(F.transform(grams, lambda g: md5_long_col(g)))


@defop("bm25")
def op_bm25(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """BM25 relevance scoring of every document against a fixed query —
    the lexical-retrieval half of corpus curation (nearest-to-seed
    selection, quality probes against a topic, dedup-cluster
    representative picking):

        ["bm25", rel, {"col": "text", "id": "doc_id",
                       "query": "gradient descent optimizer",
                       "k1": 1.2, "b": 0.75}]
        -> (doc id, score) for every document containing >= 1 query
           term (docs matching nothing score 0 and are not emitted),
           Okapi BM25 with the Lucene idf variant
           ln(1 + (N - df + 0.5) / (df + 0.5)) — non-negative for
           hyper-frequent terms, so scores are monotone in matches.

    Plan, and why it scales: the corpus reduces to postings for the
    QUERY terms only — explode the word array pre-filtered to the
    query's term set (array_intersect semantics via F.filter, so the
    explode emits O(matches), not O(corpus tokens)) — then one hash agg
    for per-doc term frequencies, one tiny agg for (N, avgdl) and one
    per-term df agg, both BROADCAST back. The 100 TB side is touched
    once, shuffles only its matching postings, and every expression is
    codegen'd; nothing Python touches a row.

    FROZEN-STATS mode — {"stats": {"n_docs": N, "avgdl": ..., "df":
    {term: df}}} — scores against PRECOMPUTED corpus statistics instead
    of aggregating them from the input: the whole op becomes one
    shuffle-free per-row expression (per-term counts via size(filter)),
    which makes it STREAMING-legal (score a live stream against a
    frozen reference corpus — the deployed-retrieval shape) and lets a
    batch sweep reuse one stats pass across many queries. Shape
    difference: frozen mode appends ``score`` to EVERY input row (0.0
    for non-matching docs, all columns kept) instead of returning the
    (id, score) matching set. Terms missing from "df" get df=0
    (maximal idf). Streaming input without stats is refused — corpus
    aggregation over the scored stream itself is not meaningful
    incrementally.

    Reference: no analog (§2.10 extension surface)."""
    col, opts = _col_opts(rest)
    idc = opts.get("id", "doc_id")
    query = opts.get("query")
    if not query:
        from ..errors import ArityError

        raise ArityError('bm25 needs {"query": "terms ..."}')
    k1 = float_opt(opts, "k1", "bm25", 1.2)
    b = float_opt(opts, "b", "bm25", 0.75)
    # normalize the query exactly like the document side (words()):
    # lowercase, alnum runs, deduped — term order never matters
    import re as _re

    terms = sorted({t for t in _re.split(r"[^a-z0-9]+", str(query).lower()) if t})
    if not terms:
        from ..errors import ArityError

        raise ArityError(f"bm25 query has no terms after normalization: {query!r}")
    term_arr = F.array(*[F.lit(t) for t in terms])

    stats = opts.get("stats")
    if stats is not None:
        import math

        n_docs = float(stats["n_docs"])
        avgdl = float(stats["avgdl"])
        if avgdl <= 0:
            from ..errors import ArityError

            raise ArityError(
                "bm25 frozen stats need avgdl > 0 — an avgdl of "
                f"{avgdl!r} (an empty/degenerate reference corpus) "
                "divides by zero on the first matching row and aborts "
                "the whole job under ANSI"
            )
        dfs = {t: float((stats.get("df") or {}).get(t, 0.0)) for t in terms}
        w = words(F.col(col))
        dl = F.size(w).cast("double")
        score = F.lit(0.0)
        for t in terms:
            idf = math.log(1 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
            tf = F.size(F.filter(w, lambda x: x == F.lit(t))).cast("double")
            score = score + F.when(tf > 0, F.lit(idf) * (tf * (k1 + 1)) / (
                tf + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * dl / F.lit(avgdl))
            )).otherwise(F.lit(0.0))
        out = rel.df.withColumn("score", F.round(score, 6))
        return rel.with_df(out)
    if rel.df.isStreaming:
        from ..errors import TypeDispatchError

        raise TypeDispatchError(
            "bm25 on a stream needs frozen corpus statistics — pass "
            '{"stats": {"n_docs": N, "avgdl": ..., "df": {term: df}}} '
            "(aggregating idf over the scored stream itself is not "
            "meaningful incrementally)"
        )

    df = rel.df
    w = words(F.col(col))
    docs = df.select(F.col(idc), w.alias("__w"), F.size(w).alias("__dl"))
    # corpus stats: one row (N, avgdl) — broadcast join, no shuffle of
    # the corpus side
    stats = docs.agg(
        F.count(F.lit(1)).alias("__N"),
        F.avg("__dl").alias("__avgdl"),
    )
    # postings: only query-term occurrences survive BEFORE the explode
    hits = docs.select(
        F.col(idc),
        F.col("__dl"),
        F.explode(
            F.filter(F.col("__w"), lambda t: F.array_contains(term_arr, t))
        ).alias("__term"),
    )
    tf = hits.groupBy(idc, "__dl", "__term").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    scored = (
        tf.join(F.broadcast(dfreq), "__term")
        .join(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log(
                F.lit(1.0)
                + (F.col("__N") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "__s",
            F.col("__idf")
            * (F.col("__tf") * (k1 + 1))
            / (
                F.col("__tf")
                + F.lit(k1)
                * (F.lit(1 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl"))
            ),
        )
    )
    out = scored.groupBy(idc).agg(F.round(F.sum("__s"), 6).alias("score"))
    return rel.with_df(out, key_cols=(idc,), time_col=None)


@defop("decontaminate")
def op_decontaminate(ctx: Ctx, corpus: Rel, bench: Rel, *rest) -> Rel:
    """Benchmark decontamination for training corpora: find corpus
    documents sharing >= ``min_shared`` distinct word n-grams with any
    benchmark document.

        ["decontaminate", corpus, benchmark,
         {"col": "text", "id": "doc_id", "bench_col": "text",
          "bench_id": "doc_id", "n": 8, "min_shared": 1}]
        -> (corpus id, bench id, n_shared) contamination pairs.

    Compose with the anti-join to actually drop them:
    ``["anti-join", corpus, ["select-key", pairs, ...]]`` — the pair
    relation IS the audit artifact (what leaked, from where, how much),
    which pipelines keep alongside the cleaned split.

    Plan: both sides reduce to exploded (id, gram-hash) postings with
    per-doc-distinct grams; the benchmark side (eval suites are MBs, the
    corpus is the 100 TB side) is broadcast, so the corpus never
    shuffles for the probe — the only exchange is the hash aggregation
    counting shared grams per (corpus, bench) pair, whose input is just
    the matching postings. Set {"broadcast": False} for oversized
    benchmark sets to fall back to a shuffled join.

    Reference: no analog (the reference wraps Kafka Streams; corpus
    hygiene ops are this engine's §2.10 extension surface)."""
    from ..errors import TypeDispatchError

    if not isinstance(bench, Rel):
        raise TypeDispatchError(
            f"decontaminate right operand must be a stream/table, "
            f"got {type(bench).__name__}"
        )
    opts = opts_of(rest)
    # curated >= 1 parses (r14): n=0 shingled every doc into the SAME
    # empty gram — decontaminate silently flagged the whole corpus as
    # contaminated (the silent-wrong class, worse than the abort)
    n = pos_int_opt(opts, "n", "decontaminate", default=8)
    min_shared = pos_int_opt(opts, "min_shared", "decontaminate", default=1)
    idc = opts.get("id", "doc_id")
    bidc = opts.get("bench_id", idc)
    colc = opts.get("col", "text")
    bcolc = opts.get("bench_col", colc)
    from ..operators.util import spread

    cg = spread(corpus.df).select(
        F.col(idc).alias("corpus_id"),
        F.explode(_gram_ids(F.col(colc), n)).alias("__g"),
    )
    bg = bench.df.select(
        F.col(bidc).alias("bench_id"),
        F.explode(_gram_ids(F.col(bcolc), n)).alias("__g"),
    )
    if opts.get("broadcast", True):
        bg = F.broadcast(bg)
    pairs = (
        cg.join(bg, "__g")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return corpus.with_df(pairs, key_cols=("corpus_id", "bench_id"), time_col=None)


@defop("dedup-paragraphs")
def op_dedup_paragraphs(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Intra-document repeated-paragraph removal (the C4/Gopher cleanup
    step: web text repeats nav/boilerplate blocks inside one page):

        ["dedup-paragraphs", rel, {"col": "text", "id": "doc_id",
                                   "sep": "\\n\\n", "min_chars": 0}]

    Keeps the FIRST occurrence of each distinct paragraph (after
    trimming) in document order, drops later repeats, empty paragraphs
    (consecutive separators), and paragraphs shorter than ``min_chars``,
    and rebuilds ``col`` joined with ``sep``. ``sep`` is treated as a
    LITERAL string (regex-quoted before hitting Spark's regex split). Purely relational: posexplode paragraphs ->
    first-occurrence rank per (doc, paragraph) -> re-assemble via
    sort_array of (pos, paragraph) structs — two keyed shuffles on the
    doc id, no Python. Documents with no surviving paragraph keep an
    empty string (they are a filter decision, not this op's); documents
    whose input text is NULL stay NULL.

    Other columns pass through untouched (carried through the
    aggregation via first()). PRECONDITION: ``id`` is unique per row
    (the standard documents-table contract) — duplicate ids would merge
    their paragraph streams nondeterministically.

    Cost shape: like pack-chunks, the input lineage is traversed twice
    (dedup branch + the id-recovery join that restores documents whose
    every paragraph was filtered); when the input is an expensive
    pipeline rather than a stored table, wrap it in ["persist", rel]
    upstream so both branches read one pinned copy."""
    from pyspark.sql import Window

    if rel.df.isStreaming:
        from ..errors import TypeDispatchError

        raise TypeDispatchError(
            "dedup-paragraphs aggregates per-document paragraph ranks "
            "(unwatermarked keyed aggregation) and is batch-only; run "
            "per micro-batch via foreach-batch"
        )
    opts = opts_of(rest)
    refuse_removed_opt(opts, "persist", "dedup-paragraphs", PERSIST_REMOVED)
    colc = opts.get("col", "text")
    idc = opts.get("id", "doc_id")
    sep = opts.get("sep", "\n\n")
    min_chars = int_opt(opts, "min_chars", "dedup-paragraphs", 0)
    df = rel.df
    other = [c for c in df.columns if c not in (colc,)]

    # literal-quote like Pattern.quote: an embedded \E would otherwise
    # end the quote early and leak live regex
    quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    paras = df.select(
        *other,
        F.posexplode(F.split(F.col(colc), quoted, -1)).alias(
            "__pos", "__para"
        ),
    ).withColumn("__para", F.trim("__para"))
    paras = paras.filter(F.length("__para") >= F.lit(max(min_chars, 1)))
    w = Window.partitionBy(idc, "__para").orderBy("__pos")
    firsts = paras.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1")
    rebuilt = (
        firsts.groupBy(idc)
        .agg(
            *[F.first(c).alias(c) for c in other if c != idc],
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__pos", "__para"))),
                    lambda s: s.getField("__para"),
                ),
                sep,
            ).alias(colc),
        )
    )
    # documents whose every paragraph was filtered out reappear empty —
    # EXCEPT rows whose input text was NULL, which stay NULL (matching
    # SQL semantics / the DuckDB oracle; a NULL document is missing
    # data, not an empty one)
    all_ids = df.select(
        *[c for c in df.columns if c != colc],
        F.col(colc).isNull().alias("__was_null"),
    ).dropDuplicates([idc])
    out = (
        all_ids.join(rebuilt.select(idc, colc), idc, "left")
        .withColumn(
            colc,
            F.when(F.col("__was_null"), F.lit(None).cast("string"))
            .otherwise(F.coalesce(F.col(colc), F.lit(""))),
        )
        .select(*df.columns)
    )
    return rel.with_df(out)


def _check_segment_names(op: str, in_cols, colc: str, out: str, idx: str) -> None:
    """chunk / sentence-split append (idx, out) columns; an input that
    already carries either name would yield a duplicate-column DataFrame
    that fails ambiguously downstream — curate the error here instead.
    The source text column itself is consumed (dropped), so ``out ==
    colc`` is fine."""
    from ..errors import ArityError

    taken = {c for c in in_cols if c != colc}
    for name, what in ((out, '"as"'), (idx, '"idx"')):
        if name in taken:
            raise ArityError(
                f"{op}: output column {name!r} ({what}) already exists on the "
                f"input; rename it upstream or pass a different {what} name"
            )
    if out == idx:
        raise ArityError(f'{op}: "as" and "idx" must differ, both are {out!r}')


@defop("chunk")
def op_chunk(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Fixed-size character chunking with overlap — the RAG /
    context-window chunker (and the per-document half of sequence
    packing; compose with pack-chunks to bin the output):

        ["chunk", rel, {"col": "text", "id": "doc_id",
                        "size": 512, "overlap": 64, "as": "chunk"}]
        -> one row per chunk with (other columns..., chunk_idx
           starting at 1, chunk): substrings of length ``size``
           starting every ``size - overlap`` characters. The final
           chunk may be shorter; every chunk starts within the text,
           so no chunk is pure overlap. NULL and empty documents emit
           no rows (a filter decision upstream, not this op's).

    Pure per-row expression fan-out (sequence + substring + posexplode)
    — no shuffle, no state, streaming-legal; output rows ≈ chars/stride
    per doc, the downstream partition-sizing number to plan around.

    Reference: no analog (§2.10 extension surface)."""
    opts = opts_of(rest)
    colc = opts.get("col", "text")
    out = opts.get("as", "chunk")
    size = int_opt(opts, "size", "chunk", 512)
    overlap = int_opt(opts, "overlap", "chunk", 0)
    if size < 1 or overlap < 0 or overlap >= size:
        from ..errors import ArityError

        raise ArityError("chunk needs size >= 1 and 0 <= overlap < size")
    idx = opts.get("idx", "chunk_idx")
    _check_segment_names("chunk", rel.df.columns, colc, out, idx)
    stride = size - overlap
    ln = F.length(F.col(colc))
    # last start capped at length - overlap: a later start would produce
    # a chunk fully contained in the previous one (pure-overlap tail)
    starts = F.when(
        F.coalesce(ln, F.lit(0)) == 0, F.array().cast("array<int>")
    ).otherwise(
        F.sequence(F.lit(1), F.greatest(ln - overlap, F.lit(1)), F.lit(stride))
    )
    chunks = F.transform(starts, lambda s: F.col(colc).substr(s, F.lit(size)))
    other = [c for c in rel.df.columns if c != colc]
    ex = rel.df.select(
        *other, F.posexplode(chunks).alias("__pos", out)
    ).select(*other, (F.col("__pos") + 1).alias(idx), out)
    return rel.with_df(ex)


@defop("sentence-split")
def op_sentence_split(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Sentence segmentation (regex terminator heuristic) to one row
    per sentence — the unit step before per-sentence filtering,
    chunk assembly, or parallel-corpus alignment:

        ["sentence-split", rel, {"col": "text", "as": "sentence",
                                 "min_chars": 1}]
        -> (other columns..., sent_idx starting at 1, sentence):
           trimmed segments split after a [.?!] terminator followed by
           whitespace (the terminator stays with its sentence; a
           terminator with NO following space — decimals,
           abbreviations, "3.5" — does not split); segments shorter
           than ``min_chars`` (after trim) are dropped but never
           renumber later sentences. NULL/empty documents emit no rows.

    Pure per-row split + posexplode — no shuffle, streaming-legal.
    The boundary is marked with a capture-group regexp_replace to a
    \\x1e sentinel and then split on the literal sentinel — the same
    construction the DuckDB oracle runs (RE2 has no lookbehind), so
    segmentation is engine-identical by construction.

    Reference: no analog (§2.10 extension surface)."""
    opts = opts_of(rest)
    colc = opts.get("col", "text")
    out = opts.get("as", "sentence")
    idx = opts.get("idx", "sent_idx")
    _check_segment_names("sentence-split", rel.df.columns, colc, out, idx)
    min_chars = int_opt(opts, "min_chars", "sentence-split", 1)
    marked = F.regexp_replace(F.col(colc), r"([.?!])\s+", "$1\u001e")
    parts = F.split(marked, "\u001e", -1)
    other = [c for c in rel.df.columns if c != colc]
    ex = (
        rel.df.select(*other, F.posexplode(parts).alias("__pos", out))
        .withColumn(out, F.trim(F.col(out)))
        .filter(F.length(F.col(out)) >= F.lit(max(min_chars, 1)))
        .select(*other, (F.col("__pos") + 1).alias(idx), out)
    )
    return rel.with_df(ex)


#: Gopher rule-6 stop words (Rae et al. 2021, Appendix A).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@defop("gopher-filter")
def op_gopher_filter(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """The published Gopher document-quality rules (Rae et al. 2021,
    Appendix A — the gate MassiveText and its descendants apply before
    any model-based filtering), as one expression-only pass:

        ["gopher-filter", rel, {"col": "text",
                                "thresholds": {...overrides},
                                "action": "annotate" | "filter"}]

    Adds one boolean per rule plus ``gopher_pass`` (AND of all rules;
    NULL text fails everything):

        rule_word_count      min_words <= words <= max_words   (50, 100000)
        rule_mean_word_len   min <= mean word length <= max    (3, 10)
        rule_symbol_ratio    (# + ellipsis) / words <= max     (0.1)
        rule_bullet_lines    lines starting with a bullet <= max (0.9)
        rule_ellipsis_lines  lines ending with ellipsis <= max (0.3)
        rule_alpha_words     words containing a letter >= min  (0.8)
        rule_stopwords       distinct Gopher stop words >= min (2)

    ``{"action": "filter"}`` drops failing rows instead of annotating.
    Words are whitespace tokens (raw, not normalized — mean length and
    symbol ratios are defined on the original surface form); stop-word
    membership uses lowercased tokens. Pure per-row Column expressions:
    streaming-legal, no shuffle, no Python.

    Reference: no analog (§2.10 extension surface)."""
    col, opts = _col_opts(rest)
    t = {
        "min_words": 50, "max_words": 100_000,
        "min_mean_word_len": 3.0, "max_mean_word_len": 10.0,
        "max_symbol_ratio": 0.1,
        "max_bullet_ratio": 0.9, "max_ellipsis_ratio": 0.3,
        "min_alpha_ratio": 0.8, "min_stopwords": 2,
    }
    overrides = opts.get("thresholds") or {}
    unknown = set(overrides) - set(t)
    if unknown:
        raise ArityError(
            f"gopher-filter: unknown thresholds {sorted(unknown)}; "
            f"valid: {sorted(t)}"
        )
    t.update(overrides)
    action = opts.get("action", "annotate")
    if action not in ("annotate", "filter"):
        raise ArityError(
            f"gopher-filter action must be 'annotate' or 'filter', got {action!r}"
        )

    c = F.col(col)
    toks = F.filter(F.split(c, r"\s+"), lambda x: x != "")
    nw = F.size(toks)
    sum_wlen = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mean_wlen = F.when(nw > 0, sum_wlen.cast("double") / nw)
    hashes = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
    ellipses = F.floor(
        (F.length(c) - F.length(F.regexp_replace(c, r"\.\.\.", ""))) / 3
    ) + (F.length(c) - F.length(F.regexp_replace(c, "…", "")))
    symbol_ratio = F.when(nw > 0, (hashes + ellipses).cast("double") / nw)
    lines = F.filter(F.split(c, r"\n"), lambda x: F.trim(x) != "")
    nl = F.size(lines)
    bullet_ratio = F.when(
        nl > 0,
        F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]"))).cast("double") / nl,
    )
    ellipsis_ratio = F.when(
        nl > 0,
        F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))).cast("double") / nl,
    )
    alpha_ratio = F.when(
        nw > 0,
        F.size(F.filter(toks, lambda x: x.rlike(r"[A-Za-z]"))).cast("double") / nw,
    )
    low = F.transform(toks, lambda x: F.lower(x))
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(sw) for sw in GOPHER_STOPWORDS]),
            lambda sw: F.array_contains(low, sw),
        )
    )

    def _rule(cond):
        return F.coalesce(cond, F.lit(False))

    rules = {
        "rule_word_count": _rule(
            (nw >= int(t["min_words"])) & (nw <= int(t["max_words"]))
        ),
        "rule_mean_word_len": _rule(
            (mean_wlen >= float(t["min_mean_word_len"]))
            & (mean_wlen <= float(t["max_mean_word_len"]))
        ),
        "rule_symbol_ratio": _rule(symbol_ratio <= float(t["max_symbol_ratio"])),
        # zero-LINE documents pass vacuously (0 of 0 lines offend), but
        # NULL text fails — isNotNull() is plain False there, keeping
        # "NULL text fails everything" true rule-by-rule
        "rule_bullet_lines": _rule(
            c.isNotNull()
            & (F.coalesce(bullet_ratio, F.lit(0.0)) <= float(t["max_bullet_ratio"]))
        ),
        "rule_ellipsis_lines": _rule(
            c.isNotNull()
            & (F.coalesce(ellipsis_ratio, F.lit(0.0)) <= float(t["max_ellipsis_ratio"]))
        ),
        "rule_alpha_words": _rule(alpha_ratio >= float(t["min_alpha_ratio"])),
        # c.isNotNull(): F.filter over the literal stop-word array turns
        # NULL tokens into an EMPTY array, so n_stop is 0 (not NULL) on
        # NULL text and a min_stopwords <= 0 override would otherwise
        # pass — the same hole the line rules above guard against
        "rule_stopwords": _rule(
            c.isNotNull() & (n_stop >= int(t["min_stopwords"]))
        ),
    }
    taken = set(rel.df.columns)
    for name in list(rules) + ["gopher_pass"]:
        if name in taken:
            raise ArityError(
                f"gopher-filter: output column {name!r} already exists on "
                "the input; rename it upstream"
            )
    from ..operators.util import spread

    # spread: the rule expressions are the heavy stage (per-token/per-line
    # HOF filters + rlike over every word) and a single-file toy-SF scan
    # would run them in ONE task (r11 stage-audit flag); at scale the
    # repartition never fires, and streaming inputs pass through untouched
    df = spread(rel.df)
    for name, expr in rules.items():
        df = df.withColumn(name, expr)
    df = df.withColumn(
        "gopher_pass",
        F.aggregate(
            F.array(*[F.col(n) for n in rules]), F.lit(True),
            lambda acc, x: acc & x,
        ),
    )
    if action == "filter":
        df = df.filter(F.col("gopher_pass")).drop(*rules.keys(), "gopher_pass")
    return rel.with_df(df)
