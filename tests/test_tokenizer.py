"""Tokenizer golden cases (FIXTURES.md §3), mirroring the reference's
split_page_locs semantics (/root/reference/src/cis5550/jobs/Indexer.java:129-169)
adapted to code text: lowercase, split [^a-z0-9]+, 1-based positions over
the surviving stream, MAX_WORD_LEN=20 drop, skip set (Indexer.java:33,36-38)."""

from search_engine_spark import constants as C
from search_engine_spark.oracle import tokenize_doc
from search_engine_spark.stemmer import porter_stem
from search_engine_spark.tokenize import tokenize


def spark_tokens(spark, content: str):
    df = spark.createDataFrame([(1, content)], "doc_id long, content string")
    return [(r["term"], r["pos"]) for r in tokenize(df).orderBy("pos").collect()]


GOLDEN = [
    # case folding + punctuation splitting
    ("Def foo(bar): return bar+1", [("def", 1), ("foo", 2), ("bar", 3), ("return", 4), ("bar", 5), ("1", 6)]),
    # leading/trailing punct trimmed by the split itself
    ("...hello---world!!", [("hello", 1), ("world", 2)]),
    # skip set dropped; positions are contiguous over the SURVIVING stream
    ("visit www example com now", [("visit", 1), ("example", 2), ("now", 3)]),
    # over-long token dropped (>20 chars)
    ("ok " + "x" * 21 + " fine", [("ok", 1), ("fine", 2)]),
    # ADVICE.md regression: skip-words must not leave position gaps, or
    # doclen-from-max-position inflates ('http foo bar' → doclen 3, not 2)
    ("http foo bar", [("foo", 1), ("bar", 2)]),
    # empty content
    ("", []),
    ("!!!", []),
    # digits kept, mixed alnum kept as one token
    ("utf8 2024 v2beta", [("utf8", 1), ("2024", 2), ("v2beta", 3)]),
]


def test_golden_cases(spark):
    for content, expected in GOLDEN:
        got = spark_tokens(spark, content)
        assert got == expected, (content, got, expected)


# HTML-strip flag (reference extract_html, Indexer.java:71-105): tags
# removed before tokenizing; a tag acts as a token delimiter; attribute
# values inside tags never become tokens; positions stay contiguous.
GOLDEN_HTML = [
    (
        '<p class="lead">Hello<br/>World</p>',
        [("hello", 1), ("world", 2)],
    ),
    (
        "<script>var hidden = 1;</script>visible text",
        [("var", 1), ("hidden", 2), ("1", 3), ("visible", 4), ("text", 5)],
    ),
    # adjacent-tag boundary must split tokens, not glue them
    ("<b>left</b><i>right</i>", [("left", 1), ("right", 2)]),
    # ANY '<...>' span is treated as a tag (same over-approximation as the
    # reference's regex pass): '< b and b >' is stripped wholesale. This
    # is why the flag is OFF by default for code corpora — comparison
    # chains and generics would be eaten; a lone '<' stays literal text.
    ("a < b and b > c", [("a", 1), ("c", 2)]),
    ("x < y", [("x", 1), ("y", 2)]),
]


def test_html_strip_golden(spark):
    for content, expected in GOLDEN_HTML:
        df = spark.createDataFrame([(1, content)], "doc_id long, content string")
        got = [
            (r["term"], r["pos"])
            for r in tokenize(df, strip_html=True).orderBy("pos").collect()
        ]
        assert got == expected, (content, got, expected)
    # flag off (the code-corpus default): tags tokenize like any text
    df = spark.createDataFrame([(1, "<b>x</b>")], "doc_id long, content string")
    got = [(r["term"], r["pos"]) for r in tokenize(df).orderBy("pos").collect()]
    assert got == [("b", 1), ("x", 2), ("b", 3)]


def test_oracle_tokenizer_agrees(spark):
    for content, _ in GOLDEN:
        spark_terms = [t for t, _ in spark_tokens(spark, content)]
        assert spark_terms == tokenize_doc(content), content


def test_truncation_at_max_page_len(spark):
    # a token straddling the 10k boundary is cut — both sides must agree
    content = ("word " * 2100)[: C.MAX_PAGE_LEN + 50] + "tail"
    got = [t for t, _ in spark_tokens(spark, content)]
    assert got == tokenize_doc(content)
    assert len(got) == C.MAX_PAGE_LEN // 5 + (1 if C.MAX_PAGE_LEN % 5 >= 4 else 0)


def test_corpus_tokenize_matches_oracle(spark, corpus):
    rows = corpus.select("doc_id", "content").limit(30).collect()
    tok = tokenize(corpus)
    got = {
        d: sorted((r["term"], r["pos"]) for r in g)
        for d, g in _group(tok.where(tok.doc_id.isin([r["doc_id"] for r in rows])).collect())
    }
    for r in rows:
        exp = sorted((t, i + 1) for i, t in enumerate(tokenize_doc(r["content"])))
        assert got.get(r["doc_id"], []) == exp


def _group(rows):
    from collections import defaultdict

    g = defaultdict(list)
    for r in rows:
        g[r["doc_id"]].append(r)
    return g.items()


def test_stem_udf_stays_on_distinct_vocab(spark, corpus):
    """Regression: Catalyst's PushDownPredicates treats a downstream
    ``stem != term`` filter as a deterministic predicate on the grouping
    key and will push it — plus the Arrow UDF it references — BELOW the
    vocab distinct, running Porter over every term occurrence instead of
    the distinct vocabulary (measured 40× Python CPU at sf0.1×400k).
    stem_vocab()'s eager localCheckpoint is the barrier; this test pins
    it by asserting the physical plan evaluates the UDF over a scan of
    the checkpointed RDD with no aggregate or corpus scan beneath it."""
    from pyspark.sql import functions as F

    from search_engine_spark.tokenize import stem_vocab, tokenize

    vocab = stem_vocab(tokenize(corpus)).where(F.col("stem") != F.col("term"))
    plan = vocab._jdf.queryExecution().executedPlan().toString()
    # downstream of stem_vocab the (term, stem) pairs are materialized
    # data: plain columns over the checkpoint scan — zero Python, no
    # aggregate, no corpus scan for any optimizer rule to push into
    assert "Scan ExistingRDD" in plan, plan
    assert "ArrowEvalPython" not in plan and "PythonUDF" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "FileScan" not in plan, plan
    # and the stems are real: a known stemming pair survives the filter
    rows = {r["term"]: r["stem"] for r in vocab.collect()}
    assert all(porter_stem(t) == s for t, s in rows.items())


# --- code-identifier subtoken channel (tokenize.tokenize_subtokens) ---

def subtoken_rows(spark, content: str):
    from search_engine_spark.tokenize import tokenize_subtokens

    df = spark.createDataFrame([(1, content)], "doc_id long, content string")
    return sorted(
        (r["term"], r["pos"], r["is_sub"])
        for r in tokenize_subtokens(df).collect()
    )


def test_subtokens_camel_pascal_acronym(spark):
    rows = subtoken_rows(spark, "parseUrlFast HTTPResponse getValue3")
    # base channel identical to tokenize(): lowercased whole identifiers
    assert ("parseurlfast", 1, 0) in rows
    assert ("httpresponse", 2, 0) in rows
    assert ("getvalue3", 3, 0) in rows
    # camel parts at the PARENT's position
    assert {("parse", 1, 1), ("url", 1, 1), ("fast", 1, 1)} <= set(rows)
    assert ("response", 2, 1) in rows  # acronym boundary HTTP|Response
    assert {("get", 3, 1), ("value3", 3, 1)} <= set(rows)  # digits ride the part
    # skip-word parts are dropped: 'http' from HTTPResponse is in SKIP_WORDS
    assert ("http", 2, 1) not in rows


def test_subtokens_base_channel_matches_tokenize(spark):
    from search_engine_spark.tokenize import tokenize_subtokens

    content = "Visit www getHTTPResponse my_snake_var 10 OK " + "y" * 21
    df = spark.createDataFrame([(1, content)], "doc_id long, content string")
    base = sorted(
        (r["term"], r["pos"])
        for r in tokenize_subtokens(df).where("is_sub = 0").collect()
    )
    assert base == sorted(spark_tokens(spark, content))


def test_subtokens_no_dup_parts_single_token(spark):
    # parseParse -> parts [parse] once (array_distinct), parent differs
    rows = subtoken_rows(spark, "parseParse")
    assert rows == [("parse", 1, 1), ("parseparse", 1, 0)]


def test_subtokens_no_bare_digit_parts(spark):
    # digit-before-uppercase (rule 2) sheds a leading digit run; the
    # part filter requires a letter, so '2' is never indexed while
    # letter-bearing parts ('fast', 'value3') survive
    rows = subtoken_rows(spark, "2Fast getValue3")
    assert ("2", 1, 1) not in rows
    assert ("fast", 1, 1) in rows
    assert {("get", 2, 1), ("value3", 2, 1)} <= set(rows)


def test_subtokens_unicode_fold_edge(spark):
    # Documented divergence (tokenize.py _cased_token_array): U+212A
    # KELVIN SIGN lowercases to ASCII 'k', so the base tokenizer keeps
    # 'kbar' as one token while the cased split treats the sign as a
    # delimiter. Pin the ACTUAL behavior of both streams so any change
    # is deliberate.
    content = "foo KBar baz"
    assert [t for t, _ in spark_tokens(spark, content)] == ["foo", "kbar", "baz"]
    rows = subtoken_rows(spark, content)
    assert ("bar", 2, 0) in rows  # cased split: 'Bar' token, no 'kbar'
    assert all(t != "kbar" for t, _, _ in rows)


def test_subtokens_plain_words_add_no_rows(spark):
    # all-lowercase text has no camel boundaries: subtoken channel empty
    rows = subtoken_rows(spark, "plain lower words only")
    assert all(is_sub == 0 for _, _, is_sub in rows)


def test_phrase_over_subtokens_dual_semantics(spark):
    # `parse url` must hit BOTH the adjacent standalone words (doc 1,
    # p2 = p1 + 1 on the base channel) and the compound identifier
    # (doc 2, co-positional subtokens of parseUrlFast) — and must NOT
    # hit `url parse` reversed (doc 3) or parts of two DIFFERENT
    # identifiers (doc 4: parseFoo barUrl are at adjacent positions, a
    # legitimate adjacency hit for loose code search — pin it as a hit).
    from search_engine_spark.tokenize import tokenize_subtokens

    df = spark.createDataFrame(
        [
            (1, "please parse url now"),
            (2, "call parseUrlFast here"),
            (3, "the url parse order"),
            (4, "mix parseFoo barUrl end"),
        ],
        "doc_id long, content string",
    )
    toks = tokenize_subtokens(df)
    from pyspark.sql import functions as F

    a = toks.where(F.col("term") == "parse").select(
        "doc_id", F.col("pos").alias("p1"), F.col("is_sub").alias("s1")
    )
    b = toks.where(F.col("term") == "url").select(
        "doc_id", F.col("pos").alias("p2"), F.col("is_sub").alias("s2")
    )
    hit = (F.col("p2") == F.col("p1") + 1) | (
        (F.col("p2") == F.col("p1")) & (F.col("s1") == 1) & (F.col("s2") == 1)
    )
    docs = sorted(
        r["doc_id"] for r in a.join(b, "doc_id").where(hit).select("doc_id").distinct().collect()
    )
    assert docs == [1, 2, 4]
