"""Corpus hygiene: PII scrubbing and repetition (quality) signals.

Standard large-corpus cleaning steps a training-data pipeline runs
between dedup and tokenization:

- :func:`scrub_pii` — regex redaction of emails / IPv4s / phone-like
  strings to typed placeholder tokens. Pure ``regexp_replace`` column
  expressions (JVM, whole-stage codegen); patterns are deliberately
  alternation-free so the Java-regex and RE2 (DuckDB oracle) engines
  agree match-for-match.
- :func:`repetition_features` — Gopher-style repetition signals: for
  each n in ``ns``, the fraction of the document's n-grams occupied by
  its single most-frequent n-gram (high ⇒ boilerplate/spam), plus the
  duplicate-line fraction. Explode → partial-aggregatable groupBy per
  doc; nothing collects.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# alternation-free patterns, identical semantics under Java regex and RE2
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d().-]{7,}\d", "<PHONE>"),
]


def scrub_pii(df: DataFrame, column: str, out: str | None = None) -> DataFrame:
    """Redact emails, IPv4 addresses, and phone-like digit runs."""
    c: Column = F.col(column)
    for pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return df.withColumn(out or column, c)


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Per-doc repetition signals (Gopher quality-rule family):

    - ``top{n}gram_frac``: occurrences of the most frequent n-gram /
      total n-grams (1/num_ngrams for a repetition-free doc).
    - ``dup_line_frac``: 1 - distinct lines / total lines.
    """
    from feature_engineering_tk_spark.operators.dedup import _norm_text, _shingles

    # NULL text must not silently drop the doc (explode of a null array
    # yields no rows, and an inner join would erase it from the output,
    # letting it bypass downstream quality filters): coalesce to '' and
    # LEFT-join the per-n aggregates back, filling 0.0 (repetition-free
    # sentinel) for docs too short to have any n-gram.
    text = F.coalesce(F.col(text_col), F.lit(""))
    out = df.select(id_col)
    for n in ns:
        grams = df.select(F.col(id_col), F.explode(_shingles(text, n)).alias("_g"))
        per = (
            grams.groupBy(id_col, "_g")
            .agg(F.count(F.lit(1)).alias("_c"))
            .groupBy(id_col)
            .agg(
                (F.max("_c").cast("double") / F.sum("_c")).alias(f"top{n}gram_frac")
            )
        )
        out = out.join(per, id_col, "left").fillna({f"top{n}gram_frac": 0.0})
    lines = F.split(text, r"\n")
    dup_line = (
        F.lit(1.0)
        - F.size(F.array_distinct(lines)).cast("double") / F.size(lines)
    )
    return out.join(df.select(F.col(id_col), dup_line.alias("dup_line_frac")), id_col)


def clean_lines(
    df: DataFrame,
    column: str = "text",
    min_words: int = 5,
    require_terminal_punct: bool = True,
    drop_line_words: tuple[str, ...] = ("javascript",),
    out: str = "clean_text",
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep
    only lines that end in terminal punctuation (``.!?"``), have at
    least ``min_words`` whitespace words, and don't contain any of
    ``drop_line_words`` (case-insensitive); rejoin survivors with
    newlines. Also emits the C4 page-level drop signals — a curly
    brace (code) or 'lorem ipsum' anywhere in the doc — as a flag
    rather than silently dropping rows, plus per-doc line counts for
    audit.

    Scale: entirely row-local JVM higher-order array expressions
    (split → filter → array_join) inside whole-stage codegen — zero
    shuffle, zero Python; the line regexes are alternation-free so
    Java regex and RE2 agree. NULL text is treated as '' and the row
    kept.
    """
    c = F.coalesce(F.col(column), F.lit(""))
    lines = F.split(c, "\n")

    def _keep(line: Column) -> Column:
        t = F.trim(line)
        cond = F.size(F.split(t, r"\s+")) >= F.lit(min_words)
        if require_terminal_punct:
            cond = cond & t.rlike('[.!?"]$')
        low = F.lower(t)
        for w in drop_line_words:
            cond = cond & ~low.contains(w.lower())
        return cond

    kept = F.filter(lines, _keep)
    return df.withColumns(
        {
            out: F.array_join(kept, "\n"),
            "n_lines": F.size(lines).cast("bigint"),
            "n_lines_kept": F.size(kept).cast("bigint"),
            "page_drop": c.contains("{") | F.lower(c).contains("lorem ipsum"),
        }
    )


GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    column: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, MassiveText
    §A1.1): per-doc signal columns plus one composite ``gopher_pass``
    flag. Rules: word count in [min,max]; mean word length in [3,10];
    symbol-to-word ratio ('#' and '...') ≤ 0.1; ≤90% of lines start
    with a bullet; ≤30% end with an ellipsis; ≥80% of words contain an
    alphabetic character; at least 2 of the 8 required English
    function words appear.

    Scale: entirely row-local JVM array/string expressions in
    whole-stage codegen — zero shuffle, zero Python, no regex
    alternation (RE2/Java parity). Flags, not drops: filtering is the
    caller's one extra ``.filter``, so audits see every row.
    """
    c = F.coalesce(F.col(column), F.lit(""))
    words = F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    n_words_d = F.greatest(n_words, F.lit(1)).cast("double")
    mean_wlen = (
        F.aggregate(words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w))
        .cast("double") / n_words_d
    )
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ell = (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / F.lit(3)
    symbol_ratio = (n_hash + n_ell).cast("double") / n_words_d
    lines = F.filter(F.transform(F.split(c, "\n"), F.trim), lambda l: l != "")
    n_lines_d = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"),
            )
        ).cast("double") / n_lines_d
    )
    ellipsis_frac = (
        F.size(
            F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
        ).cast("double") / n_lines_d
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double") / n_words_d
    )
    stop_hits = F.size(
        F.array_intersect(
            F.transform(words, F.lower),
            F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPWORDS]),
        )
    )
    out = df.withColumns(
        {
            "n_words": n_words.cast("bigint"),
            "mean_word_len": mean_wlen,
            "symbol_ratio": symbol_ratio,
            "bullet_line_frac": bullet_frac,
            "ellipsis_line_frac": ellipsis_frac,
            "alpha_word_frac": alpha_frac,
            "stopword_hits": stop_hits.cast("bigint"),
        }
    )
    return out.withColumn(
        "gopher_pass",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stopword_hits") >= min_stopword_hits),
    )


def normalize_unicode(
    df: DataFrame,
    column: str = "text",
    form: str = "NFC",
    strip_control: bool = True,
    out: str | None = None,
) -> DataFrame:
    """Unicode normalization for corpus hygiene: strip C0/C1 control
    characters (keeping tab/newline/CR), then apply NFC or NFKC so
    byte-identical dedup hashes see canonically equal text (é as one
    codepoint vs e+combining-acute would otherwise defeat exact and
    MinHash dedup alike).

    Scale shape: the control strip is a JVM ``regexp_replace`` (one
    alternation-free character class) inside whole-stage codegen; the
    normalization itself has no JVM builtin, so it runs as an
    Arrow-batched pandas UDF over ``unicodedata.normalize`` — the
    same vectorized-boundary stance as the titlecase parity UDF
    (functions/strings.py). Payloads never cross a shuffle; NULLs
    pass through.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")
    c: Column = F.col(column)
    if strip_control:
        c = F.regexp_replace(
            c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\x{80}-\\x{9f}]", ""
        )
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    # built per call: a cached UDF keeps its first SparkContext's accumulator
    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(lambda x: unicodedata.normalize(form, x) if x is not None else None)

    return df.withColumn(out or column, _norm(c))


def strip_markup(
    df: DataFrame,
    column: str = "text",
    out: str | None = None,
    decode_entities: bool = True,
) -> DataFrame:
    """HTML/markup removal for crawl-derived corpora (the C4 / WET
    extraction step the reference has no analog for): drop
    ``<script>``/``<style>`` blocks wholesale, strip every remaining
    tag and HTML comment, decode the six entities that dominate web
    text (``&amp; &lt; &gt; &quot; &#39; &nbsp;``), then squeeze
    horizontal whitespace runs and blank-line runs so the output is
    dedup-stable prose.

    Entity decoding is single-pass with ``&amp;`` decoded last, the
    usual streaming approximation (so ``&amp;lt;`` yields ``&lt;``
    literally — double-encoded text stays encoded, which is the
    faithful reading).

    Scale shape: a fixed chain of JVM ``regexp_replace`` calls inside
    whole-stage codegen — zero shuffle, zero Python. Every pattern is
    RE2-compatible (non-greedy + ``(?s)`` only), so the DuckDB oracle
    replays the exact pipeline.
    """
    c: Column = F.col(column)
    c = F.regexp_replace(c, r"(?si)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?si)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    if decode_entities:
        for ent, rep in (
            ("&lt;", "<"),
            ("&gt;", ">"),
            ("&quot;", '"'),
            ("&#39;", "'"),
            ("&nbsp;", " "),
            ("&amp;", "&"),
        ):
            c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return df.withColumn(out or column, F.trim(c))


def extract_domain(url: Column) -> Column:
    """Registrable host from a URL-ish string, lower-cased: strips
    scheme, userinfo, port, path/query/fragment. Pure JVM
    ``regexp_extract`` — alternation kept RE2-compatible for the
    oracle. A bare domain (no scheme) passes through unchanged."""
    # strip scheme://user@ prefix, then take up to the first :/?#
    no_scheme = F.regexp_replace(F.lower(F.trim(url)), r"^[a-z][a-z0-9+.-]*://", "")
    no_user = F.regexp_replace(no_scheme, r"^[^/@?#]*@", "")
    return F.regexp_extract(no_user, r"^([^:/?#]+)", 1)


def domain_suffix_chain(domain: Column) -> Column:
    """All dot-suffixes of a domain: ``a.b.co`` → [a.b.co, b.co, co].
    Blocklist entries match any level (blocking ``b.co`` blocks its
    subdomains), the semantics every URL-filter list assumes."""
    parts = F.split(domain, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.array_join(F.slice(parts, i, n), "."),
    )


TRACKING_PARAM_PATTERNS = ("^utm_", "^fbclid=", "^gclid=", "^ref=")


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a URL for URL-level dedup (the CommonCrawl /
    C4 preprocessing step): lower-case, strip fragment, scheme and
    leading ``www.``, drop tracking query parameters (``utm_*``,
    ``fbclid``, ``gclid``, ``ref``), sort the surviving parameters,
    and trim trailing slashes. Entirely row-local JVM expressions
    (``regexp_*`` + higher-order array ops) — zero shuffle; every
    regex is alternation-free so the DuckDB (RE2) oracle replays it
    match-for-match."""
    u = F.lower(F.trim(url))
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    path = F.regexp_replace(F.regexp_replace(u, r"\?.*$", ""), r"/+$", "")
    query = F.regexp_extract(u, r"\?(.*)$", 1)

    def _keep(p: Column) -> Column:
        cond = p != F.lit("")
        for pat in TRACKING_PARAM_PATTERNS:
            cond = cond & ~p.rlike(pat)
        return cond

    params = F.array_sort(F.filter(F.split(query, "&"), _keep))
    return F.when(
        F.size(params) > 0, F.concat(path, F.lit("?"), F.array_join(params, "&"))
    ).otherwise(path)


def url_dedup(
    df: DataFrame, url_col: str, id_col: str = "doc_id", out: str = "canon_url"
) -> DataFrame:
    """URL-level dedup: one surviving row per canonical URL (min id),
    with the copy count. Same shuffle discipline as ``exact_dedup``:
    the groupBy key is the canonical-URL string (short), never the
    document payload; at 100 TB swap the key for ``xxhash64(canon)``
    to shuffle 8-byte keys instead."""
    return (
        df.withColumn(out, canonicalize_url(F.col(url_col)))
        .groupBy(out)
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def filter_by_domain(
    df: DataFrame,
    url_col: str,
    blocklist,
    keep: bool = False,
    id_col: str | None = None,
) -> DataFrame:
    """Drop (or with ``keep=True``, retain only) rows whose URL's
    domain — or ANY parent domain — appears in ``blocklist``.

    Two scale regimes, chosen by the blocklist's type:

    - ``list[str]`` (fits on the driver, the common case): the suffix
      chain is checked with ``arrays_overlap`` against a literal array
      — a pure row-local JVM predicate, ZERO shuffle, evaluated inside
      the scan stage. Fine up to ~100k entries (the literal ships once
      per task in the plan, not per row).
    - ``DataFrame`` with a ``domain`` column (web-scale lists that
      can't live on the driver): requires ``id_col``. Only (id,
      chain-member) pairs explode and equi-join the blocklist on the
      short domain string (AQE broadcasts the list when small, shuffle
      otherwise); matched ids come back through a semi/anti join on
      the id — the document payload itself never shuffles.
    """
    chain = domain_suffix_chain(extract_domain(F.col(url_col)))
    if isinstance(blocklist, DataFrame):
        if id_col is None:
            raise ValueError("DataFrame blocklist needs id_col (join-back key)")
        bl = blocklist.select(F.lower(F.col("domain")).alias("_bld")).distinct()
        hit_ids = (
            df.select(F.col(id_col), F.explode(chain).alias("_d"))
            .join(bl, F.col("_d") == F.col("_bld"), "left_semi")
            .select(id_col)
            .distinct()
        )
        return df.join(hit_ids, id_col, "left_semi" if keep else "left_anti")
    lit_arr = F.array(*[F.lit(str(d).lower()) for d in blocklist])
    is_blocked = F.arrays_overlap(chain, lit_arr)
    return df.filter(is_blocked if keep else ~is_blocked)


def phrase_scan(
    df: DataFrame,
    text_col: str = "text",
    phrases: tuple[str, ...] = (),
    out_prefix: str = "phrase",
) -> DataFrame:
    """Blocklist / refusal-phrase scan: appends ``{prefix}_hits`` (how
    many of ``phrases`` occur as case-folded substrings),
    ``{prefix}_first`` (the earliest phrase in LIST order that occurs,
    NULL when none — list order is the caller's severity ranking), and
    ``has_{prefix}`` (0/1).

    The standard pre-SFT filter for model-generated refusals ("i
    cannot", "as an ai") and for compliance blocklists.  Plain
    substring matching (``instr``), NOT regex — alternation-free by
    construction, identical semantics on any engine, and codegen-
    friendly at 100 TB (one pass per phrase over the row, zero
    shuffle, streaming-safe).
    """
    if not phrases:
        raise ValueError("phrases must be non-empty")
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    flags = [F.instr(t, p.lower()) > 0 for p in phrases]
    n_hits = sum(f.cast("int") for f in flags)
    first = None
    for p, f in zip(reversed(phrases), reversed(flags)):
        first = F.when(f, F.lit(p)) if first is None else F.when(f, F.lit(p)).otherwise(first)
    return (
        df.withColumn(f"{out_prefix}_hits", n_hits.cast("int"))
        .withColumn(f"{out_prefix}_first", first)
        .withColumn(f"has_{out_prefix}", (n_hits > 0).cast("int"))
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    level: int = 6,
    out: str = "compression_ratio",
) -> DataFrame:
    """zlib compressibility quality signal: appends
    ``compressed_bytes``, ``raw_bytes``, and their ratio — the
    CCNet/Gopher-family heuristic where a very LOW ratio marks
    machine-generated or template/boilerplate text (compresses too
    well) and a ratio near 1 marks high-entropy noise (base64 blobs,
    minified code).  Filter on both tails.

    NULL/empty text gets ratio NULL (0/0 has no meaning).

    Scale shape: zlib has no JVM expression, so this is an
    Arrow-batched pandas UDF over UTF-8 bytes — the documented
    vectorized boundary (never per-row Python); zero shuffle,
    streaming-safe.  Determinism: zlib output length at a fixed
    ``level`` is stable for a given zlib version, and the ratio is
    one exact integer division — but because compressed length is a
    LIBRARY constant rather than engine algebra, this operator is
    verified by pytest fixtures, not a SQL oracle.
    """
    import zlib

    from pyspark.sql.functions import pandas_udf

    key = int(level)

    # built per call: a cached UDF keeps its first SparkContext's accumulator
    @pandas_udf("struct<compressed_bytes:bigint,raw_bytes:bigint>")
    def _comp(s: pd.Series) -> pd.DataFrame:
        raw = s.map(lambda x: None if x is None else len(x.encode("utf-8")))
        comp = s.map(
            lambda x: None
            if x is None
            else len(zlib.compress(x.encode("utf-8"), key))
        )
        return pd.DataFrame({"compressed_bytes": comp, "raw_bytes": raw})

    st = _comp(F.col(text_col))
    base = df.withColumn("_cz", st)
    return (
        base.withColumn("compressed_bytes", F.col("_cz.compressed_bytes"))
        .withColumn("raw_bytes", F.col("_cz.raw_bytes"))
        .withColumn(
            out,
            F.when(
                F.col("_cz.raw_bytes") > 0,
                F.col("_cz.compressed_bytes") / F.col("_cz.raw_bytes"),
            ),
        )
        .drop("_cz")
    )


#: Chat-template / tokenizer control sequences that must never appear
#: inside pretraining text (template leakage from scraped model output).
SPECIAL_TOKENS: tuple[str, ...] = (
    "<|endoftext|>",
    "<|im_start|>",
    "<|im_end|>",
    "[inst]",
    "</s>",
    "<pad>",
    "<|assistant|>",
    "<|user|>",
)


def special_token_rate(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
    tokens: tuple[str, ...] = SPECIAL_TOKENS,
) -> DataFrame:
    """Template-leakage QA: per ``by`` group, how many documents
    contain any tokenizer control / chat-template sequence (scraped
    model output carries these verbatim and they poison tokenizer
    training).  Composes :func:`phrase_scan` (case-folded substring
    flags, no regex) with one partial-aggregatable ``groupBy``.

    Returns ``(by, n_docs, n_contaminated, contamination_rate)`` with
    the rate one exact integer division; text never shuffles.
    """
    scanned = phrase_scan(df, text_col=text_col, phrases=tokens, out_prefix="_stk")
    return (
        scanned.groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("has__stk").cast("bigint")).alias("n_contaminated"),
        )
        .select(
            by,
            "n_docs",
            "n_contaminated",
            (F.col("n_contaminated") / F.col("n_docs")).alias("contamination_rate"),
        )
    )


def truncation_artifacts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Truncated-generation detector for model-written / scraped
    corpora: (id, n_chars, ends_sentence, ends_midword, truncated) —
    a document whose trimmed text does not end at a sentence boundary
    was usually cut by a context limit, a crawler timeout, or a
    stop-sequence bug, and SFT-training on it teaches the model to
    stop mid-thought.  Use as a filter (``truncated = False``) or an
    audit facet before export.

    ``ends_sentence``: last non-space char is sentence-final
    (``. ! ? … ;`` or a closing quote/bracket immediately after one —
    approximated as the char class ``[.!?…;"')\\]}]``).
    ``ends_midword``: last char is a letter or digit (the strongest
    truncation signal).  Empty/NULL text → NULL flags, never dropped.
    Pure row-local codegen expressions — zero shuffle, zero UDF.
    """
    for c in (text_col, id_col):
        if c not in df.columns:
            from feature_engineering_tk_spark.exceptions import ColumnNotFoundError

            raise ColumnNotFoundError(c, df.columns)
    t = F.rtrim(F.coalesce(F.col(text_col), F.lit("")))
    last = F.substring(t, -1, 1)
    ok = F.col(text_col).isNotNull() & (F.length(t) > 0)
    ends_sentence = last.rlike(r"[.!?…;\"'\)\]\}]")
    ends_midword = last.rlike(r"[\p{L}\p{Nd}]")
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        F.when(ok, ends_sentence).alias("ends_sentence"),
        F.when(ok, ends_midword).alias("ends_midword"),
        F.when(ok, ~ends_sentence).alias("truncated"),
    )
