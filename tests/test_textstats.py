"""Text-analysis operators: counts vs the pure-python tokenizer twin,
quality score bounds, lang-id markers, fingerprint invariance."""

import pytest
from pyspark.sql import functions as F

from mcpvectordb_spark.operators.textstats import (
    lang_id,
    md5_fingerprint,
    quality_features,
    rolling_fingerprint,
    text_profile,
)
from mcpvectordb_spark.tokenizer import bpe_ish_token_count, ws_token_count


def one(spark, text):
    return spark.createDataFrame([(1, text)], "id long, text string")


def test_token_counts_match_python_twin(spark):
    samples = [
        "hello world",
        "  leading and trailing  ",
        "punctuation, here! and-also (parens).",
        "supercalifragilisticexpialidocious antidisestablishmentarianism",
        "numbers 12345 and 99",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "id long, text string")
    rows = {r["id"]: r for r in text_profile(df, "id", "text").collect()}
    for i, s in enumerate(samples):
        assert rows[i]["ws_tokens"] == ws_token_count(s), s
        assert rows[i]["bpe_tokens"] == bpe_ish_token_count(s), s


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox is in a hurry to get over the lazy dog " * 10),
         (2, "!!! ??? ... ;;;"),
         (3, "")],
        "id long, text string",
    )
    rows = {r["id"]: r for r in quality_features(df, "id", "text").collect()}
    for r in rows.values():
        assert 0.0 <= r["quality_score"] <= 1.0
    assert rows[1]["quality_score"] > rows[2]["quality_score"]
    assert rows[3]["n_words"] == 0


def test_lang_id_markers(spark):
    cases = [
        ("the cat is on a mat and the dog", "en"),
        ("le chat et la porte est belle les amis", "fr"),
        ("el perro y los gatos es bueno y las casas", "es"),
        ("der hund und die katze ist das haus", "de"),
        ("xyzzy plugh", "und"),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)], "id long, text string")
    preds = {r["id"]: r["pred"] for r in df.select("id", lang_id(F.col("text")).alias("pred")).collect()}
    for i, (_, want) in enumerate(cases):
        assert preds[i] == want, cases[i]


def test_fingerprints_whitespace_invariant(spark):
    a = one(spark, "Hello   World  again")
    b = one(spark, "hello world AGAIN".lower())
    fa = a.select(md5_fingerprint(F.col("text")).alias("m"), rolling_fingerprint(F.col("text")).alias("r")).first()
    fb = b.select(md5_fingerprint(F.col("text")).alias("m"), rolling_fingerprint(F.col("text")).alias("r")).first()
    assert fa["m"] == fb["m"]
    assert fa["r"] == fb["r"]


def test_rolling_fingerprint_matches_python(spark):
    text = "some sample text 123"
    row = one(spark, text).select(rolling_fingerprint(F.col("text")).alias("r")).first()
    h = 0
    for ch in text:  # already normalized (lowercase, single spaces)
        h = (h * 31 + ord(ch)) % 2147483647
    assert row["r"] == h


def test_repetition_signals(spark):
    """Planted degenerate docs trip the gated flag; clean and short docs
    don't (short texts have trivially high 1/n bigram fractions — the
    minimum-support gate must hold them out)."""
    from mcpvectordb_spark.operators.textstats import repetition_features

    df = spark.createDataFrame(
        [
            (1, "spam line\nspam line\nspam line\nreal"),     # dup lines
            (2, " ".join(["buy now"] * 20)),                   # looped bigram
            (3, "short unique text"),                          # short → gated out
            (4, None),                                         # NULL-safe
            (5, "\n".join(f"unique line {i} with several words" for i in range(8))),
        ],
        "id int, text string",
    )
    rows = {r["id"]: r for r in repetition_features(df, "id", "text").collect()}
    assert rows[1]["repetitive_flag"] and rows[1]["dup_line_frac"] > 0.3
    assert rows[2]["repetitive_flag"] and rows[2]["top_bigram_frac"] > 0.5
    assert not rows[3]["repetitive_flag"]
    assert not rows[4]["repetitive_flag"] and rows[4]["dup_line_frac"] == 0.0
    assert not rows[5]["repetitive_flag"]


def test_keywords_tfidf_ranks_rare_terms_above_common(spark):
    """A term appearing in every doc gets the minimum idf; a doc-unique
    term outranks it at equal tf. Ties break on the term string."""
    from mcpvectordb_spark.operators.textstats import keywords_tfidf

    df = spark.createDataFrame(
        [
            (1, "shared shared quantum quantum"),
            (2, "shared shared entropy entropy"),
            (3, "shared shared lattice lattice"),
        ],
        "id int, text string",
    )
    rows = keywords_tfidf(df, "id", "text", k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append(r)
    for doc_id, unique_term in [(1, "quantum"), (2, "entropy"), (3, "lattice")]:
        got = by_doc[doc_id]
        assert got[0]["term"] == unique_term, got          # rare term first
        assert got[1]["term"] == "shared"
        assert got[0]["score"] > got[1]["score"]
        assert got[0]["df"] == 1 and got[1]["df"] == 3


def test_keywords_tfidf_filters_stopwords_and_short(spark):
    from mcpvectordb_spark.operators.textstats import KEYWORD_STOPWORDS, keywords_tfidf

    df = spark.createDataFrame([(1, "the and ox it elephant elephant")], "id int, text string")
    terms = {r["term"] for r in keywords_tfidf(df, "id", "text", k=10).collect()}
    assert "elephant" in terms
    assert terms.isdisjoint(set(KEYWORD_STOPWORDS)) and "ox" not in terms and "it" not in terms


def test_unigram_logprob_ranks_salad_below_real(spark):
    from mcpvectordb_spark.operators.textstats import unigram_logprob

    real = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(10)]
    salad = [(99, "zxqv kjwp qmfg ybdn")]
    df = spark.createDataFrame(real + salad, "id long, text string")
    out = {r["id"]: r["avg_logprob"] for r in unigram_logprob(df, "id", "text").collect()}
    assert out[99] < min(out[i] for i in range(10))  # salad scores lowest
    assert out[0] == out[5]                          # identical docs, identical score


def test_bpe_pair_counts_basic(spark):
    from mcpvectordb_spark.operators.textstats import bpe_pair_counts

    df = spark.createDataFrame([("aaab aab",), ("ab",)], "text string")
    got = {r["pair"]: r["cnt"] for r in bpe_pair_counts(df, "text", top_n=10).collect()}
    # "aaab": aa,aa,ab; "aab": aa,ab; "ab": ab  →  aa:3, ab:3
    assert got == {"a a": 3, "a b": 3}


# ---------------------------------------------------------------------------
# BPE training + application (operators/bpe.py)


def test_train_bpe_classic_corpus(spark):
    """The Sennrich et al. running example: low×5 lower×2 newest×6 widest×3.
    First merges hand-computed: (e,s)→(es,t)→(est,</w>)→(l,o)."""
    from mcpvectordb_spark.operators.bpe import train_bpe, word_histogram

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(1, text)], "id long, text string")
    hist = word_histogram(df, "text")
    rows = {r["word"]: r["count"] for r in hist.collect()}
    assert rows == {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = train_bpe(hist, 4)
    assert merges == [("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o")]


def test_train_bpe_tie_breaks_to_smallest_pair():
    from mcpvectordb_spark.operators.bpe import train_bpe

    # "ab" and "ba" each appear 3 times → pair counts (a,b)=3, (b,a)=3,
    # (b,</w>)=3, (a,</w>)=3; smallest pair lexicographically is (a,</w>)
    merges = train_bpe([("ab", 3), ("ba", 3)], 1)
    assert merges == [("a", "</w>")]


def test_apply_bpe_greedy_lowest_rank():
    from mcpvectordb_spark.operators.bpe import apply_bpe_word

    ranks = {("e", "s"): 0, ("es", "t"): 1, ("est", "</w>"): 2, ("l", "o"): 3}
    assert apply_bpe_word("lowest", ranks) == ["lo", "w", "est</w>"]
    assert apply_bpe_word("best", ranks) == ["b", "est</w>"]
    assert apply_bpe_word("xyz", ranks) == ["x", "y", "z", "</w>"]  # no merges hit


def test_bpe_encode_distributed_matches_local(spark):
    from mcpvectordb_spark.operators.bpe import (
        apply_bpe_word,
        bpe_encode,
        train_bpe,
        word_histogram,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    merges = train_bpe(word_histogram(docs, "text"), 30)
    ranks = {p: i for i, p in enumerate(merges)}
    out = bpe_encode(docs, "text", merges).select("doc_id", "text", "bpe_tokens").collect()
    assert len(out) == 50
    for r in out:
        local = []
        for w in r["text"].strip().lower().split():
            local.extend(apply_bpe_word(w, ranks))
        assert list(r["bpe_tokens"]) == local
        # round-trip: concatenating tokens re-yields the words
        joined = "".join(local).replace("</w>", " ").strip()
        assert joined == " ".join(r["text"].strip().lower().split())


def test_ngram_lm_reversed_docs_rank_worse(spark):
    """Trigram LM catches what the unigram filter cannot: a reversed-token
    doc has the IDENTICAL unigram distribution to its original, but when
    the corpus has real sequential structure its trigrams are rare —
    perplexity must be strictly higher for every planted reversal, while
    the unigram score ties exactly."""
    from pyspark.sql import functions as F

    from mcpvectordb_spark.operators.dedup import normalize_text
    from mcpvectordb_spark.operators.ngram_lm import ngram_lm_score
    from mcpvectordb_spark.operators.textstats import unigram_logprob

    phrase = "the quick brown fox jumps over the lazy dog near the old stone bridge"
    rows = [(i, f"doc{i} marker " + " ".join([phrase] * 4)) for i in range(30)]
    docs = spark.createDataFrame(rows, "id long, text string")
    rev = docs.filter(F.col("id") < 10).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.array_join(
            F.reverse(F.filter(F.split(normalize_text(F.col("text")), " "), lambda t: t != "")),
            " ",
        ).alias("text"),
    )
    corpus = docs.unionByName(rev)
    tri = {r["id"]: r["ppl"] for r in ngram_lm_score(corpus, "id", "text").collect()}
    uni = {r["id"]: r["avg_logprob"] for r in unigram_logprob(corpus, "id", "text").collect()}
    for i in range(10):
        assert tri[i + 1_000_000] > tri[i], f"doc {i}: reversal not penalized"
        assert uni[i + 1_000_000] == pytest.approx(uni[i], abs=1e-6), f"doc {i}: unigram should tie"


def test_ngram_lm_short_docs_excluded_but_counted(spark):
    from pyspark.sql import functions as F

    from mcpvectordb_spark.operators.ngram_lm import ngram_lm_score

    rows = [(0, "a b c a b c a b"), (1, "a b"), (2, "c")]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in ngram_lm_score(df, "id", "text").collect()}
    assert set(out) == {0}  # <3-token docs carry no trigram positions
    assert out[0]["n_trigrams"] == 6
    # but their tokens DID contribute to the count tables: with docs 1-2
    # present, unigram mass of a/b/c shifts vs doc 0 alone
    alone = ngram_lm_score(df.filter("id = 0"), "id", "text").collect()[0]
    assert alone["avg_logp"] != out[0]["avg_logp"]


def test_doc_pmi_collocation_beats_chance(spark):
    """'rock roll' always co-occur (PMI = ln(N/df²·n)), a chance pair
    scores lower, df-band drops ubiquitous and rare words."""
    import math

    import pytest

    from mcpvectordb_spark.operators.textstats import doc_pmi_pairs

    # 100 docs: 'common' in all (banded out at max 10%), 'rock roll'
    # together in 8 docs, 'salt' in 8 docs overlapping 'rock' only twice
    rows = []
    for i in range(100):
        toks = ["common", f"u{i}"]
        if i < 8:
            toks += ["rock", "roll"]
        if 6 <= i < 14:
            toks += ["salt"]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["term_a"], r["term_b"]): r for r in
           doc_pmi_pairs(docs, "doc_id", "text", min_df_frac=0.05,
                         max_df_frac=0.09, min_pair=2, top_n=10).collect()}
    assert ("rock", "roll") in out
    perfect = out[("rock", "roll")]
    assert perfect["n_pair"] == 8
    assert perfect["pmi"] == pytest.approx(math.log(8 * 100 / (8 * 8)), rel=1e-9)
    assert ("rock", "salt") in out
    assert out[("rock", "salt")]["pmi"] < perfect["pmi"]
    assert not any("common" in k or k[0].startswith("u") for k in out)


# ---------------------------------------------------------------------------
# weburl operators


def test_url_normalize_branches(spark):
    from mcpvectordb_spark.operators import weburl as wu

    rows = [
        (1, "HTTPS://WWW.Example.CO.UK:443/Path/One?utm_source=f&b=2&a=1&gclid=x#frag"),
        (2, "http://deep.sub.example.co.uk:8080/x?z=1&utm_medium=m"),
        (3, "https://news.example.com"),
        (4, "http://example.org:80/?ref=rss"),
        (5, "https://example.com/a?b=1&b=0"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {r["id"]: r for r in wu.url_features(df, "url").collect()}
    # case + default port + tracking strip + param sort + fragment drop
    assert out[1]["url_norm"] == "https://www.example.co.uk/Path/One?a=1&b=2"
    assert out[1]["url_domain"] == "example.co.uk"
    assert out[1]["n_tracking_params"] == 2
    # non-default port survives; multi-label suffix through deep subdomains
    assert out[2]["url_norm"] == "http://deep.sub.example.co.uk:8080/x?z=1"
    assert out[2]["url_domain"] == "example.co.uk"
    # bare host gains '/'; plain 2-label registered domain
    assert out[3]["url_norm"] == "https://news.example.com/"
    assert out[3]["url_domain"] == "example.com"
    # default http port stripped; ref param is tracking
    assert out[4]["url_norm"] == "http://example.org/"
    assert out[4]["n_tracking_params"] == 1
    # duplicate keys kept, sorted canonically
    assert out[5]["url_norm"] == "https://example.com/a?b=0&b=1"


def test_registered_domain_short_hosts(spark):
    from mcpvectordb_spark.operators import weburl as wu
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("localhost",), ("example.com",), ("co.uk",)], "host string"
    )
    got = [r["d"] for r in df.select(wu.registered_domain(F.col("host")).alias("d")).collect()]
    assert got == ["localhost", "example.com", "co.uk"]


def test_web_pipeline_funnel_is_one_scan_and_never_grows(spark):
    """The fused web-filtering funnel: every document enters the first
    stage, each gate keeps a subset of the stage before it, and all four
    gates run off one corpus scan."""
    import re

    from conftest import SF
    from mcpvectordb_spark.catalog import QUERIES
    from mcpvectordb_spark.plans.explain import formatted_plan

    q = QUERIES["web_pipeline"](spark, SF)
    rows = q.collect()
    assert [r["stage"] for r in rows] == ["all", "url_domain", "langid", "quality", "blocklist"]
    n = [r["n_docs"] for r in rows]
    assert n[0] == spark.read.parquet(f"{SF}/documents.parquet").count()
    assert n == sorted(n, reverse=True) and n[-1] < n[0], n
    assert len(re.findall(r"^\(\d+\) Scan parquet", formatted_plan(q), re.M)) == 1

def test_deflate_ratio_flags_repetition(spark):
    from mcpvectordb_spark.operators.textstats import deflate_ratio

    rows = [
        (1, "buy cheap meds now " * 60),
        (2, "The quick brown fox jumps over the lazy dog while seventeen "
            "violinists argued about quantum chromodynamics in Marseille."),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in deflate_ratio(df, "id", "text").collect()}
    assert out[1]["deflate_ratio"] < 0.1          # template spam collapses
    assert out[2]["deflate_ratio"] > 0.5          # natural prose doesn't
    assert out[1]["n_bytes"] == len("buy cheap meds now " * 60)
    for i in (3, 4):                               # empty/null → neutral 1.0
        assert out[i]["deflate_ratio"] == 1.0 and out[i]["n_bytes"] == 0


def test_logprob_buckets_ccnet_terciles(spark):
    from mcpvectordb_spark.operators.textstats import logprob_buckets

    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(9)]
    rows += [(100, "zzxqv kjwpq qmfgz ybdnw")]  # OOV-salad → lowest logprob
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["bucket"] for r in logprob_buckets(df, "id", "text").collect()}
    assert out[100] == "tail"
    assert set(out.values()) <= {"head", "middle", "tail"}


def test_encoding_artifacts_detects_damage(spark):
    from mcpvectordb_spark.operators.textstats import encoding_artifacts

    rows = [
        (1, "perfectly clean prose about compilers"),
        (2, "the cafÃ© menu shows â€œspecialsâ€ and Ã¼ber prices Â every day"),
        (3, "bad\x01text\x02here"),
        (4, "lossy � decode"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in encoding_artifacts(df, "id", "text").collect()}
    assert not out[1]["damaged"]
    assert out[2]["damaged"] and out[2]["n_mojibake"] >= 3
    assert out[3]["damaged"] and out[3]["n_control"] == 2
    assert out[4]["damaged"] and out[4]["n_replacement"] == 1
    assert not out[5]["damaged"]  # NULL text is undamaged, not a crash
