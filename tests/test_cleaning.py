"""PII scrubbing + repetition signals (functions/cleaning.py)."""

import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.functions.cleaning import (
    repetition_features,
    scrub_pii,
)


def test_scrub_pii_all_kinds(spark):
    df = spark.createDataFrame(
        [
            (0, "mail me at jane.doe+spam@sub.example.co.uk today"),
            (1, "server at 192.168.1.254 is down"),
            (2, "call +1(555)867-5309 now"),
            (3, "clean text stays clean"),
            (4, "two mails: a@b.io and c.d@e-f.org!"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in scrub_pii(df, "text").collect()}
    assert got[0] == "mail me at <EMAIL> today"
    assert got[1] == "server at <IP> is down"
    assert got[2] == "call <PHONE> now"
    assert got[3] == "clean text stays clean"
    assert got[4] == "two mails: <EMAIL> and <EMAIL>!"


def test_repetition_features(spark):
    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam"),          # one dominant 2-gram
            (1, "all words here are unique tokens"),  # no repetition
            (2, "line a\nline a\nline b"),            # duplicate line
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_features(df, ns=(2,)).collect()}
    assert got[0]["top2gram_frac"] == pytest.approx(1.0)      # every 2-gram identical
    # 5 unique 2-grams → max 1 of 5
    assert got[1]["top2gram_frac"] == pytest.approx(0.2)
    assert got[1]["dup_line_frac"] == pytest.approx(0.0)
    assert got[2]["dup_line_frac"] == pytest.approx(1.0 - 2.0 / 3.0)


def test_pack_sequences_greedy(spark):
    from feature_engineering_tk_spark.functions.text import pack_sequences

    docs = spark.createDataFrame(
        [
            (0, "a b c"),            # 3 tokens
            (1, "d e f g"),          # 4 → bin0 fill 7
            (2, "h i j k"),          # 4 → would make 11 > 10 → bin1
            (3, " ".join("x" * 1 for _ in range(12))),  # 12 tokens: oversize
            (4, "y z"),              # after oversize → new bin
        ],
        "doc_id long, text string",
    )
    d = docs.withColumn("s", F.lit(0).cast("long"))
    got = {
        r["doc_id"]: r
        for r in pack_sequences(d, max_tokens=10, shard_col="s").collect()
    }
    assert (got[0]["bin_id"], got[0]["bin_fill"]) == (0, 3)
    assert (got[1]["bin_id"], got[1]["bin_fill"]) == (0, 7)
    assert (got[2]["bin_id"], got[2]["bin_fill"]) == (1, 4)
    assert got[3]["bin_id"] == 2 and got[3]["oversize"] is True
    assert got[4]["bin_id"] == 3
    # every non-oversize bin respects the budget
    assert all(r["bin_fill"] <= 10 or r["oversize"] for r in got.values())


def test_pack_sequences_shard_parallel(spark):
    from feature_engineering_tk_spark.functions.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1)) for i in range(200)], "doc_id long, text string"
    )
    out = pack_sequences(docs, max_tokens=16, n_shards=8).collect()
    assert len(out) == 200
    # deterministic across invocations
    out2 = pack_sequences(docs, max_tokens=16, n_shards=8).collect()
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["bin_id"]) for r in rows)
    assert key(out) == key(out2)


def test_chunk_documents_windows(spark):
    """chunk_documents: overlap-windowed token chunks, one chunk for
    short docs, null text surfaces as one empty chunk (never dropped)."""
    from feature_engineering_tk_spark.functions.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, words), (2, "just three tokens"), (3, None)], "doc_id long, text string"
    )
    out = chunk_documents(df, max_tokens=10, overlap=2).orderBy("doc_id", "chunk_idx")
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)

    # doc 1: 25 tokens, stride 8 → starts 0,8,16,24; start 24: 24+2 >= 25 → dropped
    c1 = by_doc[1]
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2]
    assert c1[0]["chunk_text"].split() == [f"w{i}" for i in range(10)]
    assert c1[1]["chunk_text"].split() == [f"w{i}" for i in range(8, 18)]
    assert c1[2]["chunk_text"].split() == [f"w{i}" for i in range(16, 25)]
    assert [r["chunk_tokens"] for r in c1] == [10, 10, 9]
    # consecutive chunks overlap by exactly `overlap` tokens
    assert c1[0]["chunk_text"].split()[-2:] == c1[1]["chunk_text"].split()[:2]

    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_tokens"] == 3
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_tokens"] == 0
    assert by_doc[3][0]["chunk_text"] == ""

    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=8, overlap=8)


def test_filter_by_domain_list_and_df(spark):
    """filter_by_domain: suffix-chain semantics (blocking a parent
    domain blocks subdomains), scheme/port/path stripping, and parity
    between the literal-array and DataFrame-blocklist regimes."""
    from feature_engineering_tk_spark.functions.cleaning import (
        domain_suffix_chain,
        extract_domain,
        filter_by_domain,
    )

    rows = [
        (1, "https://spam.example.com/page?q=1"),
        (2, "http://user@ok-site.org:8080/x"),
        (3, "EXAMPLE.COM"),
        (4, "https://sub.deep.ok-site.org/"),
        (5, "https://badguys.net"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")

    got = df.select(extract_domain(F.col("url")).alias("d")).orderBy("doc_id")
    doms = [r["d"] for r in df.select("doc_id", extract_domain(F.col("url")).alias("d")).orderBy("doc_id").collect()]
    assert doms == ["spam.example.com", "ok-site.org", "example.com",
                    "sub.deep.ok-site.org", "badguys.net"]

    chain = df.filter(F.col("doc_id") == 1).select(
        domain_suffix_chain(extract_domain(F.col("url"))).alias("c")
    ).first()["c"]
    assert chain == ["spam.example.com", "example.com", "com"]

    block = ["example.com", "badguys.net"]
    kept = {r["doc_id"] for r in filter_by_domain(df, "url", block).collect()}
    assert kept == {2, 4}  # 1 and 3 blocked via example.com, 5 directly
    only = {r["doc_id"] for r in filter_by_domain(df, "url", block, keep=True).collect()}
    assert only == {1, 3, 5}

    bl_df = spark.createDataFrame([(d,) for d in block], "domain string")
    kept_df = {
        r["doc_id"]
        for r in filter_by_domain(df, "url", bl_df, id_col="doc_id").collect()
    }
    assert kept_df == kept
    with pytest.raises(ValueError):
        filter_by_domain(df, "url", bl_df)  # DataFrame blocklist needs id_col


def test_canonicalize_url_rules(spark):
    from feature_engineering_tk_spark.functions.cleaning import canonicalize_url

    df = spark.createDataFrame(
        [
            (0, "HTTPS://www.Ex.COM/A/b/?utm_source=x&b=2&a=1#frag"),
            (1, "http://ex.com/a/b?a=1&b=2"),
            (2, "ex.com/a/b///"),
            (3, "https://ex.com/?utm_campaign=c&fbclid=z&gclid=y&ref=tw"),
            (4, "ftp://ex.com/file"),
        ],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", canonicalize_url(F.col("url")).alias("c")).collect()
    }
    assert got[0] == "ex.com/a/b?a=1&b=2"   # lowered, www/frag/utm gone, params sorted
    assert got[1] == "ex.com/a/b?a=1&b=2"   # scheme-insensitive: same canon as 0
    assert got[2] == "ex.com/a/b"           # trailing slashes trimmed
    assert got[3] == "ex.com"               # all-tracking query vanishes entirely
    assert got[4] == "ex.com/file"          # any scheme stripped


def test_url_dedup_collapses_variants(spark):
    from feature_engineering_tk_spark.functions.cleaning import url_dedup

    df = spark.createDataFrame(
        [
            (10, "https://ex.com/p"),
            (11, "http://www.ex.com/p/"),
            (12, "HTTPS://ex.com/p?utm_source=a"),
            (13, "https://ex.com/p#top"),
            (20, "https://ex.com/q"),
        ],
        "doc_id long, url string",
    )
    got = {r["canon_url"]: r for r in url_dedup(df, "url").collect()}
    assert got["ex.com/p"]["doc_id"] == 10 and got["ex.com/p"]["n_copies"] == 4
    assert got["ex.com/q"]["doc_id"] == 20 and got["ex.com/q"]["n_copies"] == 1


def test_clean_lines_c4_rules(spark):
    from feature_engineering_tk_spark.functions.cleaning import clean_lines

    df = spark.createDataFrame(
        [
            (0, "This line has plenty of words and punctuation.\nshort.\n"
                "no terminal punctuation on this long line here\n"
                "Please enable JavaScript to continue viewing this.\n"
                'He said "it ends with a quote character."'),
            (1, "function() { return 1; } code page with words here."),
            (2, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in clean_lines(df).collect()}
    kept0 = out[0]["clean_text"].split("\n")
    assert kept0 == [
        "This line has plenty of words and punctuation.",
        'He said "it ends with a quote character."',
    ]
    assert out[0]["n_lines"] == 5 and out[0]["n_lines_kept"] == 2
    assert out[0]["page_drop"] is False
    # curly brace flags the page but the row is never dropped
    assert out[1]["page_drop"] is True and out[1]["n_lines_kept"] == 1
    # NULL text → empty, kept, no flag
    assert out[2]["clean_text"] == "" and out[2]["n_lines_kept"] == 0
    assert out[2]["page_drop"] is False


def test_gopher_rules_signals(spark):
    from feature_engineering_tk_spark.functions.cleaning import gopher_rules

    good = ("the quick brown fox jumps over the lazy dog and then it ran off "
            "to be with all of that pack which have fun with life") # 26 words, all rules pass
    df = spark.createDataFrame(
        [
            (0, good),
            (1, "- a\n- b\n- c\n* d"),                   # all bullet lines, too short
            (2, "read more...\nclick here...\nok."),     # 2/3 ellipsis lines
            (3, "# ## ### #### " + good),                # symbol heavy
            (4, "12 34 56 78 90 " * 10),                 # no alpha words, no stopwords
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(df, min_words=10).collect()}
    assert out[0]["gopher_pass"] is True
    assert out[0]["stopword_hits"] >= 2 and out[0]["alpha_word_frac"] == 1.0
    assert out[1]["bullet_line_frac"] == 1.0 and out[1]["gopher_pass"] is False
    assert out[2]["ellipsis_line_frac"] == pytest.approx(2 / 3)
    assert out[3]["symbol_ratio"] > 0.1 and out[3]["gopher_pass"] is False
    assert out[4]["alpha_word_frac"] == 0.0 and out[4]["stopword_hits"] == 0
    assert out[5]["n_words"] == 0 and out[5]["gopher_pass"] is False


def test_normalize_unicode_forms(spark):
    from feature_engineering_tk_spark.functions.cleaning import normalize_unicode

    decomposed = "cafe" + chr(0x301)          # e + combining acute
    df = spark.createDataFrame(
        [
            (0, decomposed),
            (1, "café"),                  # precomposed
            (2, "bell" + chr(7) + " kept\ttab\nnewline"),
            (3, "ﬁne ²"),            # ligature fi + superscript 2
            (4, None),
        ],
        "doc_id long, text string",
    )
    nfc = {r["doc_id"]: r["n"] for r in
           normalize_unicode(df, "text", form="NFC", out="n").collect()}
    assert nfc[0] == "café" == nfc[1]     # canonical equivalence folds
    assert nfc[2] == "bell kept\ttab\nnewline"  # BEL stripped, \t \n kept
    assert nfc[3] == "ﬁne ²"          # NFC leaves compatibility chars
    assert nfc[4] is None
    nfkc = {r["doc_id"]: r["n"] for r in
            normalize_unicode(df, "text", form="NFKC", out="n").collect()}
    assert nfkc[3] == "fine 2"                  # NFKC folds ligature + superscript
    with pytest.raises(ValueError):
        normalize_unicode(df, "text", form="NFX")


# --------------------------------------------------- compression ratio


def test_compression_ratio_tails(spark):
    from feature_engineering_tk_spark.functions.cleaning import compression_ratio

    df = spark.createDataFrame(
        [
            (1, "spam " * 200),
            (2, "the quick brown fox jumps over one lazy dog near a river bend"),
            (3, None),
            (4, ""),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in compression_ratio(df).collect()}
    assert rows[1].raw_bytes == 1000
    # boilerplate compresses far better than natural text
    assert rows[1].compression_ratio < rows[2].compression_ratio
    assert rows[1].compression_ratio < 0.1
    assert rows[3].compression_ratio is None and rows[3].raw_bytes is None
    # empty text: 0 raw bytes → ratio NULL, compressed header still counted
    assert rows[4].raw_bytes == 0 and rows[4].compression_ratio is None
    import zlib

    sentence = "the quick brown fox jumps over one lazy dog near a river bend"
    assert rows[2].compressed_bytes == len(zlib.compress(sentence.encode(), 6))


def test_special_token_rate(spark):
    from feature_engineering_tk_spark.functions.cleaning import special_token_rate

    df = spark.createDataFrame(
        [
            ("web", "clean text here"),
            ("web", "scraped output <|im_start|>assistant"),
            ("web", None),
            ("code", "x = '</S>'"),  # case-folded match
        ],
        "source string, text string",
    )
    rows = {r.source: r for r in special_token_rate(df).collect()}
    assert rows["web"].n_docs == 3 and rows["web"].n_contaminated == 1
    assert rows["web"].contamination_rate == 1 / 3
    assert rows["code"].n_contaminated == 1 and rows["code"].contamination_rate == 1.0


def test_bm25_topk_semantics(spark):
    """Hand-checked Okapi BM25 (Lucene idf variant) on a 3-doc corpus."""
    import math

    from feature_engineering_tk_spark.functions.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark sort spark"),        # tf(spark)=2, dl=3
            (2, "sort merge join"),         # tf(spark)=0
            (3, "spark window"),            # tf(spark)=1, dl=2
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in bm25_topk(docs, "spark", k=3).collect()}
    assert set(out) == {1, 3}  # doc 2 has no query term
    n, avgdl = 3.0, (3 + 3 + 2) / 3.0
    idf = math.log(1.0 + (n - 2 + 0.5) / (2 + 0.5))
    def score(tf, dl):
        part = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        return round(part, 9)
    assert out[1].bm25 == pytest.approx(score(2, 3), abs=1e-9)
    assert out[3].bm25 == pytest.approx(score(1, 2), abs=1e-9)
    assert out[1].bm25 > out[3].bm25  # higher tf wins here
    assert out[1].n_query_terms_hit == 1
    # duplicate query terms count once; unknown terms contribute nothing
    dup = {r.doc_id: r.bm25 for r in bm25_topk(docs, "spark spark zzz", k=3).collect()}
    assert dup[1] == out[1].bm25
    with pytest.raises(ValueError):
        bm25_topk(docs, "   ")
    with pytest.raises(ValueError):
        bm25_topk(docs, "spark", k=0)


def test_bm25_topk_filters_tokens_at_scan(spark):
    """The token explode is filtered to query-term literals before the
    aggregate — non-query tokens never reach a shuffle."""
    from feature_engineering_tk_spark.functions.text import bm25_topk
    from feature_engineering_tk_spark.plans.inspect import inspect

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a d e")], "doc_id bigint, text string"
    )
    assert "TakeOrderedAndProject" in inspect(bm25_topk(docs, "a", k=2)).nodes


class TestTruncationArtifacts:
    def test_flags(self, spark):
        from feature_engineering_tk_spark.functions.cleaning import (
            truncation_artifacts,
        )

        docs = [
            (1, "A complete sentence."),
            (2, "Cut off in the midd"),
            (3, 'Ends with quote."'),
            (4, "ends with digit 42"),
            (5, "trailing spaces.   "),
            (6, ""),
            (7, None),
        ]
        df = spark.createDataFrame(docs, "doc_id int, text string")
        got = {r["doc_id"]: r for r in truncation_artifacts(df).collect()}
        assert got[1]["ends_sentence"] and not got[1]["truncated"]
        assert got[2]["truncated"] and got[2]["ends_midword"]
        assert got[3]["ends_sentence"]
        assert got[4]["truncated"] and got[4]["ends_midword"]
        # rtrim before the boundary check
        assert got[5]["ends_sentence"] and got[5]["n_chars"] == 16
        # empty/null: present with NULL flags, never dropped
        for d in (6, 7):
            assert got[d]["n_chars"] == 0 and got[d]["truncated"] is None

    def test_missing_column(self, spark):
        from feature_engineering_tk_spark.exceptions import ColumnNotFoundError
        from feature_engineering_tk_spark.functions.cleaning import (
            truncation_artifacts,
        )

        df = spark.createDataFrame([(1, "x")], "doc_id int, text string")
        with pytest.raises(ColumnNotFoundError):
            truncation_artifacts(df, text_col="nope")
