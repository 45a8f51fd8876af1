"""Text-analysis operators for LLM training-data pipelines.

These are the scale extensions beyond the reference's own surface
(BASELINE.json north star): language-ID, quality scoring, token
counting, and document fingerprinting over a `documents` table.

Everything here is JVM-side (built-in functions only — no Python UDFs):
at 100 TB these run inside whole-stage codegen on the scan, shuffle
nothing, and prune to the columns they read.

Shared convention: `tokens` = lowercase split on non-alphanumerics.
"""

from __future__ import annotations

import pandas as pd  # module-top: pandas_udf hint resolution under PEP 563

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The shared word-token convention (kept tiny; callers can override).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "un", "une"],
    "es": ["el", "los", "de", "y", "que", "una"],
}

# BPE-ish pre-tokenizer: letter runs, single digits, punctuation glyphs —
# the usual GPT-2-style split shape, RE2/Java portable.
BPE_REGEX = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # NULL text ≡ empty document (the engine-wide contract): a missing
    # body tokenizes to [], never NULL — otherwise every size()/agg
    # downstream silently turns NULL and diverges from the oracles'
    # CASE-fallthrough-to-[] shape
    c = F.coalesce(c, F.lit(""))
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != "")


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams (duplicates kept), built by zipping n shifted slices
    of the token array and joining elementwise. Empty for docs with
    fewer than n tokens (cnt clamps to 0 -> empty slices).

    PERF: the naive transform-over-indices shape (`transform(sequence(1,
    size-n+1), i -> concat_ws(' ', slice(toks, i, n)))`) re-evaluates
    `toks` once PER INDEX whenever Catalyst inlines the token expression
    (CollapseProject does this through explode) — O(tokens^2) per doc,
    measured ~7x slower at sf0.1 — and its sequence(1, 0) corner throws
    on short docs. The zip shape evaluates `toks` exactly n times no
    matter how the optimizer collapses projections.
    """
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    slices = [F.slice(toks, k + 1, cnt) for k in range(n)]
    zipped = F.arrays_zip(*slices)  # struct fields are "0".."n-1"
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)])
    )


def word_shingles(toks: Column, n: int) -> Column:
    """Distinct word n-grams (see word_ngrams for the shape rationale)."""
    return F.array_distinct(word_ngrams(toks, n))


def shingle_df(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    n: int = 3,
    out: str = "shingles",
) -> DataFrame:
    """(ids..., distinct word n-gram array) helper for dedup pipelines.

    Consumers that EXPLODE the shingles should use shingle_explode
    instead of exploding this frame's `out` column: Generate over a
    staged array ATTRIBUTE makes InferFiltersFromGenerate add a
    size(attr) > 0 filter, and predicate pushdown then substitutes the
    alias back in below the staging project — the full tokenize+zip
    subtree lands inlined in a Filter and runs once more per input row
    (measured: 7 split+lower copies in the plan vs 1)."""
    ids = [F.col(c) for c in id_cols]
    tok = df.select(*ids, tokens(text_col).alias("__toks"))
    return tok.select(*ids, word_shingles(F.col("__toks"), n).alias(out))


def shingle_explode(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    n: int = 3,
    out: str = "shingle",
    with_size: str | None = None,
) -> DataFrame:
    """One row per (ids..., distinct word n-gram) — the explode-safe
    twin of shingle_df. The generator input is the shingle EXPRESSION
    over a staged token attribute, not a staged array attribute:
    InferFiltersFromGenerate only infers its size(e) > 0 filter for
    attribute inputs, so nothing gets re-inlined below the token
    staging and the tokenizer runs exactly once per row (the
    duplicate_spans pattern; non-outer explode already drops
    empty-shingle rows, so the inferred filter was pure overhead).
    `with_size` additionally emits the doc's shingle-set size under
    that name. The size CANNOT ride as a sibling expression of the
    explode: Catalyst places non-generator select expressions in the
    Project ABOVE the Generate, so `size(<shingle expr>)` would be
    re-evaluated once per EXPLODED row (~|shingles|× the zip/distinct
    work per doc — measured 1.4 s → 23 s on the jaccard gate). Instead
    the shingle array is let-bound exactly once per input row via
    `transform(array(sh), a -> struct(size(a), a))` — the lambda
    variable is the EVALUATED array — and the staged struct attribute
    feeds both the (cheap field-access) size and the explode; the
    generator input is a struct field, not an attribute, so
    InferFiltersFromGenerate still stays out."""
    clash = {"__toks", "__sh"} & set(df.columns)
    if clash:
        # withColumn would silently REPLACE a same-named caller column
        raise ValueError(
            f"shingle_explode: staging columns already present: {sorted(clash)}"
        )
    ids = [F.col(c) for c in id_cols]
    staged = df.withColumn("__toks", tokens(text_col))
    sh = word_shingles(F.col("__toks"), n)
    if with_size is None:
        return staged.select(*ids, F.explode(sh).alias(out))
    wrapped = F.transform(
        F.array(sh),
        lambda a: F.struct(
            F.size(a).cast("long").alias("sz"), a.alias("arr")
        ),
    )[0]
    st = staged.select(*ids, wrapped.alias("__sh"))
    return st.select(
        *ids,
        F.col("__sh.sz").alias(with_size),
        F.explode(F.col("__sh.arr")).alias(out),
    )


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality-scoring metrics per document.

    All exact integer/ratio math: n_tokens, average token length,
    punctuation ratio, stopword ratio, and a composite quality score in
    [0,1] (heuristics in the C4/Gopher-rules spirit).
    """
    # stage the token array (and the three counts read more than once)
    # through aliased columns — CollapseProject keeps a non-cheap alias
    # with multiple consumers as its own Project, so the tokenize runs
    # once per row instead of once per metric (guide §1.2; same pattern
    # as lang_id)
    text = F.col(text_col)
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    staged = df.withColumn("_toks", tokens(text_col)).select(
        F.col(id_col),
        F.length(text).cast("long").alias("_n_chars"),
        F.size("_toks").cast("long").alias("_n_tokens"),
        F.aggregate(
            F.col("_toks"), F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
        ).alias("_tok_chars"),
        (
            F.length(text).cast("long")
            - F.length(F.regexp_replace(text, r"[.,;:!?'\"()]", ""))
        ).alias("_punct"),
        F.size(
            F.filter(F.col("_toks"), lambda x: x.isin(all_stop))
        ).cast("long").alias("_n_stop"),
    )
    n_chars = F.col("_n_chars")
    n_tokens = F.col("_n_tokens")
    nz = F.when(n_tokens > 0, n_tokens.cast("double"))
    avg_token_len = F.when(
        n_tokens > 0, F.col("_tok_chars").cast("double") / nz
    ).otherwise(F.lit(0.0))
    stopword_ratio = F.when(
        n_tokens > 0, F.col("_n_stop").cast("double") / nz
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0, F.col("_punct").cast("double") / n_chars.cast("double")
    ).otherwise(F.lit(0.0))
    # composite score: in-range token count and avg length, low punct
    quality = (
        F.when((n_tokens >= 10) & (n_tokens <= 10000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((avg_token_len >= 3.0) & (avg_token_len <= 12.0), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return staged.select(
        F.col(id_col),
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        avg_token_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stopword_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


def with_lang_scores(df: DataFrame, text_col: str) -> DataFrame:
    """Stage the token array and the four per-language stopword counts
    (_toks, _sc_en/_sc_de/_sc_fr/_sc_es) as aliased columns — the
    shared scan-side half of lang_id, reused by composed pipelines that
    need lang_pred INLINE on a wider row (ccnet) instead of as a
    separate relation to join back. Staging matters: inlined, the CASE
    in lang_pred_expr re-evaluates the tokenizer per branch
    (CollapseProject keeps a multiply-referenced non-cheap alias as its
    own Project — guide §1.2)."""
    clash = {"_toks", *(f"_sc_{lang}" for lang in STOPWORDS)} & set(df.columns)
    if clash:
        # withColumn would silently REPLACE a same-named caller column
        # (ADVICE r11) — fail loud instead
        raise ValueError(
            f"with_lang_scores: staging columns already present: {sorted(clash)}"
        )
    staged = df.withColumn("_toks", tokens(text_col))
    return staged.select(
        "*",
        *[
            F.size(F.filter(F.col("_toks"), lambda x: x.isin(ws)))
            .cast("long")
            .alias(f"_sc_{lang}")
            for lang, ws in STOPWORDS.items()
        ],
    )


def lang_pred_expr() -> Column:
    """Deterministic stopword-profile argmax over the _sc_* columns
    staged by with_lang_scores (fixed tie order en > de > fr > es;
    zero hits -> 'und')."""
    en, de, fr, es = (F.col(f"_sc_{c}") for c in ("en", "de", "fr", "es"))
    return (
        F.when((en > 0) & (en >= de) & (en >= fr) & (en >= es), "en")
        .when((de > 0) & (de >= fr) & (de >= es), "de")
        .when((fr > 0) & (fr >= es), "fr")
        .when(es > 0, "es")
        .otherwise("und")
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language ID (n-gram-heuristic class).

    Deterministic argmax with fixed tie order en > de > fr > es; docs
    with zero stopword hits are 'und' (undetermined).
    """
    staged = with_lang_scores(df, text_col)
    en, de, fr, es = (F.col(f"_sc_{c}") for c in ("en", "de", "fr", "es"))
    pred = lang_pred_expr()
    return staged.select(
        F.col(id_col),
        F.col("lang").alias("lang_label"),
        en.alias("score_en"),
        de.alias("score_de"),
        fr.alias("score_fr"),
        es.alias("score_es"),
        pred.alias("lang_pred"),
    )


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace + BPE-ish token counts (training-budget accounting)."""
    text = F.col(text_col)
    ws_tokens = F.size(F.filter(F.split(text, r"\s+"), lambda x: x != "")).cast("long")
    bpe_tokens = F.size(F.regexp_extract_all(text, F.lit(BPE_REGEX), 0)).cast("long")
    return df.select(
        F.col(id_col),
        ws_tokens.alias("ws_tokens"),
        bpe_tokens.alias("bpe_tokens"),
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """Rolling-hash document fingerprint: the lexicographic-min md5 over
    word n-gram shingles (a 1-permutation MinHash). Equal fingerprints ->
    near-identical prefixes of content; used for fast dedup candidates."""
    shd = shingle_df(df, text_col=text_col, id_cols=(id_col,), n=n)
    sh = F.col("shingles")
    fp = F.array_min(F.transform(sh, lambda s: F.md5(s)))
    return shd.select(
        F.col(id_col),
        fp.alias("fingerprint"),
        F.size(sh).cast("long").alias("n_shingles"),
    )


# regexes shared with the DuckDB oracle — RE2-and-Java-compatible subset
PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_IPV4 = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_LONG_DIGITS = r"\b[0-9]{9,}\b"


def pii_scan(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII signal counts per document (pipeline-standard pre-training
    hygiene): emails, IPv4 literals, long digit runs (SSN/CC-shaped),
    plus an email-redacted text. All JVM regex builtins — scan-side."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PII_IPV4), 0)).cast("long").alias("n_ipv4"),
        F.size(F.regexp_extract_all(text, F.lit(PII_LONG_DIGITS), 0)).cast("long").alias("n_long_digits"),
        F.regexp_replace(text, PII_EMAIL, "<EMAIL>").alias("redacted"),
    )


C4_TERMINALS = (".", "!", "?", '"')


def c4_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line + page cleaning (Raffel et al. 2020 §2.2, the
    published rule set): keep only lines that end in a terminal
    punctuation mark, contain >= min_words words, and don't mention
    'javascript'; flag pages containing 'lorem ipsum' or '{', and keep
    a page only if >= min_kept_lines lines survive and neither flag is
    set. Returns per-doc counts, the flags, the combined keep, and the
    cleaned text (surviving lines re-joined). All array/string
    builtins — scan-side, zero shuffle, whole-stage codegen.
    NULL text ≡ '' (engine-wide contract)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(text, r"\n")

    def line_ok(ln):
        t = F.rtrim(ln)
        words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
        return (
            F.substring(t, -1, 1).isin(list(C4_TERMINALS))
            & (F.size(words) >= min_words)
            & ~F.lower(t).contains("javascript")
        )

    kept = F.filter(lines, line_ok)
    has_lorem = F.lower(text).contains("lorem ipsum")
    has_brace = text.contains("{")
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (
            (F.size(kept) >= min_kept_lines) & ~has_lorem & ~has_brace
        ).alias("keep"),
        F.array_join(kept, "\n").alias("cleaned"),
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality filters (published rules):
    duplicate-line fraction and the frequency share of the most common
    word 2-gram. High values mark boilerplate/spammy documents. All
    array builtins — scan-side, no shuffle. NULL text ≡ ''."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    # stage lines / tokens / grams through aliased columns: each is read
    # by several consumers below, and inlined they would re-split (and
    # re-sort!) per consumer — CollapseProject keeps multiply-referenced
    # non-cheap aliases as their own Project (the lang_id pattern)
    df = df.withColumn(
        "_lines", F.filter(F.split(text, r"\n"), lambda x: F.trim(x) != "")
    ).withColumn("_toks", tokens(text))
    lines = F.col("_lines")
    dup_line_frac = F.when(
        F.size(lines) > 0,
        1.0 - F.size(F.array_distinct(lines)) / F.size(lines),
    ).otherwise(0.0)
    toks = F.col("_toks")
    # NON-distinct 2-grams (word_shingles dedups; frequency needs all)
    cnt = F.greatest(F.size(toks) - 1, F.lit(0))
    df = df.withColumn(
        "_grams",
        F.transform(
            F.arrays_zip(F.slice(toks, 1, cnt), F.slice(toks, 2, cnt)),
            lambda s: F.concat_ws(" ", s["0"], s["1"]),
        ),
    )
    grams = F.col("_grams")
    # mode frequency = longest equal-run in the SORTED gram array — O(n)
    # per doc (the distinct x filter formulation is O(n^2) and dies on
    # long documents)
    run = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(0).alias("best"), F.lit(0).alias("cur"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, g: F.struct(
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            F.when(g == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            g.alias("prev"),
        ),
    )
    top_2gram_frac = F.when(
        F.size(grams) > 0, run["best"] / F.size(grams)
    ).otherwise(0.0)
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        top_2gram_frac.alias("top_2gram_frac"),
    )


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher quality-filter flags (published rule set, complementing
    repetition_signals): word-count bounds, mean word length bounds,
    symbol-to-word ratio (# and ellipsis), fraction of words containing
    an alphabetic character, bullet-start and ellipsis-end line
    fractions, and the combined pass flag. All array/string builtins —
    scan-side, no shuffle, whole-stage codegen. NULL text ≡ ''."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    # staged token/line columns (see repetition_signals / lang_id)
    df = df.withColumn("_toks", tokens(text)).withColumn(
        "_lines", F.filter(F.split(text, r"\n"), lambda x: F.trim(x) != "")
    )
    toks = F.col("_toks")
    n_words = F.size(toks)
    nzw = F.greatest(n_words, F.lit(1)).cast("double")
    mean_word_len = F.when(
        n_words > 0,
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t).cast("long"))
        .cast("double") / nzw,
    ).otherwise(0.0)
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / nzw,
    ).otherwise(0.0)
    n_symbols = (
        F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
        + (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit(""))))
        / F.lit(3)
    )
    symbol_ratio = n_symbols.cast("double") / nzw
    lines = F.col("_lines")
    nzl = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda x: F.trim(x).rlike("^[-*•]")))
        .cast("double") / nzl
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda x: F.trim(x).endswith("...")))
        .cast("double") / nzl
    )
    passes = (
        n_words.between(50, 100000)
        & mean_word_len.between(3.0, 10.0)
        & (symbol_ratio < 0.1)
        & (alpha_frac > 0.8)
        & (bullet_frac < 0.9)
        & (ellipsis_frac < 0.3)
    )
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        passes.alias("passes_gopher"),
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy (bits) of the character
    distribution — a cheap perplexity proxy: ~0 for degenerate
    repetition, ~4.2 for typical English. Computed per row inside an
    Arrow batch (numpy bincount) — embarrassingly parallel, NO shuffle;
    the explode+groupBy formulation would shuffle O(total_chars) rows
    for the same answer. Rounded to 4 decimals to pin the oracle
    comparison (summation order differs between engines)."""

    @F.pandas_udf("double")
    def ent(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            if not t:
                out.append(0.0)
                continue
            counts = np.bincount(np.frombuffer(t.encode("utf-8"), dtype=np.uint8))
            counts = counts[counts > 0]
            p = counts / counts.sum()
            # + 0.0 normalizes IEEE -0.0 (a single distinct byte gives
            # -(1·log2 1) = -0.0, which hash-diverges from SQL's 0.0)
            out.append(round(float(-(p * np.log2(p)).sum()), 4) + 0.0)
        return pd.Series(out)

    return df.select(F.col(id_col), ent(F.col(text_col)).alias("entropy_bits"))


def corpus_ngram_stats(
    df: DataFrame,
    *,
    n: int = 3,
    min_df: int = 2,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level word n-gram statistics: document frequency + total
    frequency for the top-k n-grams — the standard vocabulary /
    boilerplate-phrase discovery pass of a training-data pipeline (the
    cross-corpus complement of the per-doc repetition_signals).

    Scale shape: n-gram expansion is scan-side (sequence+slice
    builtins, no UDF); the (ngram, doc) dedupe is ONE hash shuffle with
    map-side partial aggregation, the per-ngram rollup then runs on
    already-combined rows, and top-k compiles to TakeOrderedAndProject
    (no global sort). At 100 TB nothing materializes beyond the
    aggregation maps."""
    # stage the token array so the n shifted slices inside word_ngrams
    # read a column instead of re-running split+filter n times per row
    # (CollapseProject keeps a multiply-referenced non-cheap alias)
    per_doc = (
        df.withColumn("_toks", tokens(F.col(text_col)))
        .select(
            F.col(id_col).alias("_doc"),
            F.explode(word_ngrams(F.col("_toks"), n)).alias("ngram"),
        )
        .groupBy("ngram", "_doc")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    stats = per_doc.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("_tf").alias("total_freq"),
    )
    return (
        stats.filter(F.col("doc_freq") >= min_df)
        .orderBy(
            F.col("doc_freq").desc(), F.col("total_freq").desc(), F.col("ngram")
        )
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Sliding-window document chunking — the context-window splitter a
    pretraining / RAG-indexing pipeline runs between cleaning and
    tokenization: one row per (doc, window) with starts at 0, stride,
    2*stride, ... < n_tokens and up to `chunk_tokens` tokens per window
    (stride < chunk_tokens gives the usual overlap; trailing windows may
    be short). Empty documents emit no chunks.

    Plan shape: tokenize once per doc in a projection, explode the
    start offsets THROUGH the tokens column (Generate is a projection
    barrier, so CollapseProject cannot inline the tokenizer into the
    per-chunk slices — the word_ngrams lesson), then slice per exploded
    row: O(n_tokens + n_chunks * chunk_tokens) per doc, row-local,
    zero shuffles — chunking composes with any downstream partitioning."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("_t")).filter(
        F.size("_t") > 0
    )
    starts = F.sequence(F.lit(0), F.size("_t") - 1, F.lit(stride))
    e = toks.select(F.col(id_col), F.col("_t"), F.explode(starts).alias("_s"))
    chunk = F.slice(F.col("_t"), F.col("_s") + 1, chunk_tokens)
    return e.select(
        F.col(id_col),
        (F.col("_s") / stride).cast("long").alias("chunk_seq"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )
