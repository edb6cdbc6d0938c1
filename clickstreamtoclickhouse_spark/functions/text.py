"""Text-analysis operators for large-scale training-data pipelines
(SURVEY.md §2.11 extensions; no reference equivalent — the reference
stops at ingestion, seghouse/jobs/send_to_warehouse.py).

Everything here is pure Column expressions (JVM, codegen'd) so it
scales linearly with executors — no Python in the hot path. Each
builder has an exactly-equivalent DuckDB SQL formulation used by the
oracle entries in plans/ext.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: letter runs | single digits | single
# non-alnum marks (GPT-2-style pre-tokenization, simplified to be
# regex-portable between Spark (Java regex) and DuckDB (RE2)).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# Small ASCII stopword sets per supported language (top function
# words). Shared literal lists with the oracle SQL — keep in sync via
# sql_stopword_list().
STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "en": ("the", "a", "of", "and", "is", "not", "to", "in", "it", "that"),
    "es": ("el", "la", "de", "y", "es", "no", "un", "con", "por", "que"),
    "fr": ("le", "la", "de", "et", "est", "pas", "un", "avec", "pour", "que"),
    "zh": ("de", "shi", "bu", "le", "zai", "you", "he", "wo", "ta", "men"),
}
LANGS = tuple(sorted(STOPWORDS))  # deterministic priority order


def words(text: Column) -> Column:
    """Whitespace tokenization; empty text -> empty array."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count via the pre-tokenizer regex."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))


def lang_score(text: Column, lang: str) -> Column:
    """# distinct stopwords of `lang` present in the text."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(words(F.lower(text)), sw))


def lang_id(text: Column) -> Column:
    """Predicted language = argmax stopword score, ties broken by
    alphabetical language order; all-zero scores -> 'und'
    (undetermined, BCP-47 convention)."""
    scores = {lang: lang_score(text, lang) for lang in LANGS}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build right-to-left so earlier langs win ties
    for lang in reversed(LANGS):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: rewards mid-length docs
    and normal word length, penalizes punctuation soup. Formula is
    fixed and mirrored in the oracle SQL — weights are heuristic, the
    contract is determinism."""
    n_chars = F.length(text)
    n_words = token_count_ws(text)
    avg_wlen = F.when(n_words == 0, F.lit(0.0)).otherwise(
        n_chars.cast("double") / n_words
    )
    len_term = F.least(n_words.cast("double") / F.lit(100.0), F.lit(1.0))
    wlen_term = F.when((avg_wlen >= 3) & (avg_wlen <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    return F.round(0.4 * len_term + 0.3 * wlen_term + 0.3 * punct_term, 4)


def _ngrams(ws: Column, n: int) -> Column:
    """Non-distinct word n-grams (space-joined); < n words -> empty.

    Built by zipping n shifted slices of the word array — NOT by
    indexing `ws` inside a transform lambda. Higher-order functions
    run on the INTERPRETED expression path (no codegen, no
    common-subexpression elimination), so an outer expression
    referenced inside a lambda is re-evaluated on every lambda call:
    `element_at(ws, i)` per gram turns one regex split per row into
    O(n_words) splits per row. The slice/zip form evaluates `ws`
    a constant number of times per row."""
    if n == 1:
        return ws

    def build(w: Column) -> Column:
        length = F.size(w) - (n - 1)
        parts = [F.slice(w, j + 1, length) for j in range(n)]
        grams = parts[0]
        for p in parts[1:]:
            grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
        return F.when(F.size(w) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    # bind ws so the slices/sizes/guard all read ONE evaluation —
    # callers routinely pass a regex-split expression here
    return _let(ws, build)


def _gram_stats(g: Column) -> Column:
    """struct(maxrun, ndist) over a gram array in ONE pass: sort, then
    fold with run-length state. Replaces the quadratic
    distinct×filter-count formulation, which on the interpreted HOF
    path also re-evaluates the gram array once per distinct gram."""
    zero = F.lit(0).cast("long")

    def step(acc: Column, w: Column) -> Column:
        is_new = acc["prev"].isNull() | (acc["prev"] != w)
        run = F.when(is_new, F.lit(1).cast("long")).otherwise(acc["run"] + 1)
        return F.struct(
            w.alias("prev"),
            run.alias("run"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
            (acc["ndist"] + F.when(is_new, 1).otherwise(0)).cast("long").alias("ndist"),
        )

    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("maxrun"),
        zero.alias("ndist"),
    )
    return F.aggregate(
        F.array_sort(g),
        init,
        step,
        lambda acc: F.struct(acc["maxrun"].alias("maxrun"), acc["ndist"].alias("ndist")),
    )


def _let(col: Column, fn) -> Column:
    """Bind `col` to a lambda variable so `fn`'s body can reference it
    many times with ONE evaluation. The interpreted HOF path has no
    common-subexpression elimination — without the binding, every
    reference to a subexpression re-evaluates it per row."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def mean_word_len(text: Column) -> Column:
    """Average word length = non-whitespace chars / word count
    (words are maximal non-space runs, so the two are equivalent —
    and this form needs no per-word fold)."""
    n = token_count_ws(text)
    chars = F.length(F.regexp_replace(text, r"\s+", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(chars.cast("double") / n)


def gopher_stats(text: Column, top_n: int = 2, dup_n: int = 3) -> Column:
    """All Gopher/C4 repetition+shape metrics as ONE struct computed
    in a single evaluation chain: the word array, bigram array, and
    trigram array are each let-bound, so per row there is exactly one
    regex split and one build of each gram array, however many
    metrics reference them. Select with
    ``F.inline(F.array(gopher_stats(...)))`` so the struct itself is
    also evaluated once (per-field extraction would re-run it)."""

    def with_ws(ws: Column) -> Column:
        def with_bg(bg: Column) -> Column:
            def with_tg(tg: Column) -> Column:
                n_words = F.size(ws)
                cb, ct = F.size(bg), F.size(tg)
                st = _gram_stats(bg)
                tbf = F.when(cb == 0, F.lit(0.0)).otherwise(
                    st["maxrun"].cast("double") / cb
                )
                dtf = F.when(ct == 0, F.lit(0.0)).otherwise(
                    (ct - F.size(F.array_distinct(tg))).cast("double") / ct
                )
                chars = F.length(F.regexp_replace(text, r"\s+", ""))
                mwl = F.when(n_words == 0, F.lit(0.0)).otherwise(
                    chars.cast("double") / n_words
                )
                sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
                n_stop = F.size(F.array_intersect(ws, sw))
                passes = (
                    n_words.between(10, 100000)
                    & mwl.between(3, 10)
                    & (tbf <= 0.20)
                    & (dtf <= 0.30)
                    & (n_stop >= 2)
                )
                return F.struct(
                    n_words.alias("n_words"),
                    F.round(mwl, 4).alias("mean_word_len"),
                    F.round(tbf, 6).alias("top_bigram_frac"),
                    F.round(dtf, 6).alias("dup_trigram_frac"),
                    n_stop.alias("n_stopword_types"),
                    F.when(passes, 1).otherwise(0).cast("int").alias("passes_quality"),
                )

            return _let(_ngrams(ws, dup_n), with_tg)

        return _let(_ngrams(ws, top_n), with_bg)

    return _let(words(F.lower(text)), with_ws)


def top_ngram_frac(text: Column, n: int = 2) -> Column:
    """Fraction of n-gram occurrences taken by the single most
    frequent n-gram (Rae et al., Gopher repetition filter — public).
    Max frequency = longest equal-run in the sorted gram array:
    O(n log n) per row, single evaluation of the gram array."""
    g = _ngrams(words(F.lower(text)), n)
    cnt = F.size(g)
    top = _gram_stats(g)["maxrun"]
    return F.when(cnt == 0, F.lit(0.0)).otherwise(top.cast("double") / cnt)


def dup_ngram_frac(text: Column, n: int = 3) -> Column:
    """Fraction of n-gram occurrences that are repeats
    (1 - distinct/total): the duplicate-n-gram Gopher signal."""
    g = _ngrams(words(F.lower(text)), n)
    cnt = F.size(g)
    return F.when(cnt == 0, F.lit(0.0)).otherwise(
        (cnt - F.size(F.array_distinct(g))).cast("double") / cnt
    )


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lower, strip non-alnum to
    spaces, collapse whitespace, trim."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9]+", " ")
    return F.trim(t)


def fingerprint_md5(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(text))


def fingerprint_rolling(
    text: Column,
    base: int = 31,
    word_base: int = 131,
    mod: int = 1_000_000_007,
) -> Column:
    """Polynomial rolling hash over normalized words:
    h = fold(h*base + word_hash(w)) mod m, where word_hash is itself a
    polynomial fold over the word's codepoints. Order-sensitive
    (unlike a set hash) — catches reorderings md5-of-sorted-words
    would miss. Expressed with nested F.aggregate: one pass, JVM-side.

    The codepoint-polynomial word hash (rather than crc32) keeps the
    whole fingerprint portable to the DuckDB oracle (list_reduce /
    list_transform twin in plans/ext.py), so it's value-checked
    cross-engine, not just rows-only."""
    ws = words(normalized_text(text))

    def word_hash(w: Column) -> Column:
        return F.aggregate(
            F.split(w, ""),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * word_base + F.ascii(c)) % mod,
        )

    return F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * base + word_hash(w)) % mod,
    )


# ---------------------------------------------------------------------------
# DuckDB-side mirrors (used by plans/ext.py oracles)
# ---------------------------------------------------------------------------


def sql_stopword_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


SQL_WORDS = "regexp_split_to_array(trim({t}), '\\s+')"


def sql_token_count_ws(t: str) -> str:
    return f"CASE WHEN length(trim({t})) = 0 THEN 0 ELSE len({SQL_WORDS.format(t=t)}) END"


def sql_lang_score(t: str, lang: str) -> str:
    return (
        f"len(list_intersect(list_distinct({SQL_WORDS.format(t=f'lower({t})')}), "
        f"{sql_stopword_list(lang)}))"
    )


def sql_ngrams(ws: str, n: int) -> str:
    """DuckDB twin of _ngrams over an already-built word array `ws`.
    range(a, b) is exclusive of b, so the index set matches Spark's
    inclusive sequence(1, size - (n-1))."""
    joined = " || ' ' || ".join(
        f"{ws}[i]" if j == 0 else f"{ws}[i+{j}]" for j in range(n)
    )
    return (
        f"CASE WHEN len({ws}) >= {n} "
        f"THEN list_transform(range(1, len({ws}) - {n - 2}), i -> {joined}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


# ---------------------------------------------------------------------------
# Self-trained unigram LM scoring (shared by unigram_lm_quality and
# perplexity_buckets — one definition so the two queries cannot drift)
# ---------------------------------------------------------------------------

SQL_UNIGRAM_SCORED_CTES = f"""toks AS (
      SELECT doc_id, unnest({SQL_WORDS.format(t='lower(text)')}) AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(sum({sql_token_count_ws('text')}) AS BIGINT) AS n
            FROM documents),
    lp AS (SELECT w, ln(c * 1.0 / n) AS logp FROM cnt, tot),
    scored AS (
      SELECT doc_id,
             count(*) AS n_tokens,
             round(avg(logp), 6) AS avg_logprob
      FROM toks JOIN lp USING (w)
      GROUP BY doc_id
    )"""


def unigram_scored_docs(docs):
    """(doc_id, n_tokens, avg_logprob) under the corpus-self-trained
    unigram LM — the Spark twin of SQL_UNIGRAM_SCORED_CTES. Two keyed
    shuffles: vocab counts (broadcast back onto the token stream) and
    the per-doc average."""
    from pyspark.sql import functions as F

    toks = docs.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("w")
    )
    cnt = toks.groupBy("w").agg(F.count("*").alias("c"))
    tot = docs.agg(
        F.sum(token_count_ws(F.col("text"))).cast("long").alias("n")
    )
    lp = cnt.crossJoin(F.broadcast(tot)).select(
        "w", F.log(F.col("c") * 1.0 / F.col("n")).alias("logp")
    )
    return (
        toks.join(F.broadcast(lp), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logp"), 6).alias("avg_logprob"),
        )
    )
