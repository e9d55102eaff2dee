"""Tokenizer: content → (doc_id, term, pos) with the reference's
semantics adapted to code text (split_page_locs,
/root/reference/src/cis5550/jobs/Indexer.java:129-169):

- truncate content to MAX_PAGE_LEN chars, lowercase
- split on runs of non-alphanumerics ([^a-z0-9]+), drop empty tokens
- positions are 1-based over the surviving token stream
- drop tokens longer than MAX_WORD_LEN (Indexer.java:33)
- drop tokens in the skip set (Indexer.java:36-38)

Everything is native pyspark.sql.functions (whole-stage codegen; zero
Python in the per-token path). Stemming — the one step Spark lacks — runs
as an Arrow-vectorized pandas_udf over the *distinct vocabulary only*
(|vocab| ≪ |token occurrences|), then fans back out via a broadcast-able
join: at 100 TB this is the difference between stemming ~10^7 distinct
terms and ~10^13 occurrences.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import constants as C
from .stemmer import porter_stem


def _token_array(content_col, truncate: bool = True):
    """Filtered token array: empties, overlong tokens and skip-words are
    removed ON THE ARRAY (before any explode), so downstream positions are
    contiguous 1..n over the SURVIVING stream — doclen == max position ==
    count."""
    norm = F.lower(F.substring(content_col, 1, C.MAX_PAGE_LEN)) if truncate else F.lower(content_col)
    toks = F.split(norm, C.TOKEN_SPLIT_RE)
    skips = F.array(*[F.lit(w) for w in sorted(C.SKIP_WORDS)])
    return F.filter(
        toks,
        lambda t: (t != F.lit(""))
        & (F.length(t) <= C.MAX_WORD_LEN)
        & ~F.array_contains(skips, t),
    )


# Tag-strip for HTML-ish corpora (reference extract_html,
# /root/reference/src/cis5550/jobs/Indexer.java:71-105 removes markup
# before tokenizing). A code corpus skips this by default (SURVEY §2.2);
# the flag makes the parity unconditional. Tags become a single space so
# `<b>a</b><i>b</i>` still splits into two tokens; the replace is a JVM
# codegen builtin — the plan stays one narrow scan→project→generate.
HTML_TAG_RE = r"<[^>]*>"


def strip_html_col(content_col):
    return F.regexp_replace(content_col, HTML_TAG_RE, " ")


def tokenize(
    corpus: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    strip_html: bool = False,
) -> DataFrame:
    """corpus[id_col, content_col, ...] → (doc_id, term, pos) one row per
    surviving token occurrence, pos contiguous 1..n over survivors.
    Narrow (no shuffle): scan → project → generate, all inside one
    codegen stage. ``strip_html`` removes markup tags first (reference
    Indexer.java:71-105 parity; off by default for code corpora)."""
    src = strip_html_col(F.col(content_col)) if strip_html else F.col(content_col)
    toks = _token_array(src)
    return corpus.select(
        F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos0", "term")
    ).select("doc_id", "term", (F.col("pos0") + 1).cast("int").alias("pos"))


def url_text_col(url_cols: tuple[str, ...]):
    """Lowercased document 'URL' string (repo/path for the code corpus),
    truncated to MAX_URL_LEN — the reference drops docs with longer URLs
    (Indexer.java:230); we truncate instead of dropping (a crawler-side
    quality gate does not apply to a curated code corpus)."""
    return F.lower(
        F.substring(F.concat_ws("/", *[F.col(c) for c in url_cols]), 1, C.MAX_URL_LEN)
    )


def full_text_col(content_col: str, url_cols: tuple[str, ...]):
    """URL tokens PREPENDED to the (pre-truncated) page text — the
    reference tokenizes ``host + " " + path + " " + page``
    (Indexer.java:236-238 via parseURL at :171-194), so URL tokens get
    positions 1..m, participate in tf, and count toward doclen."""
    return F.concat_ws(
        " ", url_text_col(url_cols), F.lower(F.substring(F.col(content_col), 1, C.MAX_PAGE_LEN))
    )


def tokenize_url(
    corpus: DataFrame,
    url_cols: tuple[str, ...] = ("repo", "path"),
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """tokenize() with reference URL-token injection: the token stream is
    url tokens then content tokens, contiguous positions over the combined
    surviving stream. Same narrow single-stage plan as tokenize().

    Each token carries is_url ∈ {0,1}: URL tokens occupy positions 1..m
    (m = surviving url-token count, a second narrow size() over the url
    part), so is_url = pos ≤ m. Aggregating max(is_url) per (doc, term) —
    with stem-channel rows COPYING raw positions — yields the URL-bonus
    flag {c} ∪ {stem(c)} for url components c with ZERO extra shuffles or
    scans: the 100 TB-safe form of the reference's query-time
    url_contains set (Search.java:149-163). Deliberate deviation from the
    reference: components are the FILTERED url tokens (len/skip filters,
    MAX_URL_LEN truncation) and raw components qualify alongside stems —
    exact-filename matches get the bonus, web-cruft skip-words don't."""
    toks = _token_array(full_text_col(content_col, url_cols), truncate=False)
    out = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.size(_token_array(url_text_col(url_cols), truncate=False)).alias("_m"),
        F.posexplode(toks).alias("pos0", "term"),
    ).select(
        "doc_id",
        "term",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        (F.col("pos0") < F.col("_m")).cast("int").alias("is_url"),
    )
    return out


@F.pandas_udf(T.StringType())
def _stem_udf(terms: pd.Series) -> pd.Series:
    return terms.map(porter_stem)


def stem_vocab(tokens: DataFrame) -> DataFrame:
    """(term) → (term, stem) over the DISTINCT vocabulary only.

    The distinct is eagerly localCheckpoint()ed before the UDF attaches.
    This is a correctness-of-cost barrier, not a style choice: a
    downstream ``stem != term`` filter is a deterministic predicate on
    the grouping key, so Catalyst's PushDownPredicates happily pushes it
    (and the Arrow UDF it references) THROUGH the aggregate — measured in
    the round-2 event logs as 421 MB shipped to Python workers and 307
    CPU-s of Porter stemming over all 25M term OCCURRENCES at sf0.1×400k,
    a 40× waste over the ~600k distinct terms this function exists to
    restrict the UDF to. Checkpointing AFTER the UDF also stops a second
    waste: a downstream filter referencing ``stem`` otherwise splits into
    a pushed build-side filter plus a projection, each with its own
    ArrowEvalPython — the stems are computed twice. Materializing
    (term, stem) once means every downstream plan sees plain columns
    over a Scan ExistingRDD: zero Python, nothing for any optimizer
    rule to relocate. The vocabulary is tiny (|vocab| ≪ occurrences by
    Zipf), so the materialization is a few MB."""
    return (
        tokens.select("term")
        .distinct()
        .withColumn("stem", _stem_udf("term"))
        .localCheckpoint()
    )


# --- Code-identifier subtoken channel -------------------------------------
#
# The reference tokenizer lowercases BEFORE splitting
# (Indexer.java:129-169), so `parseUrl` indexes only as `parseurl` and a
# query for `parse url` misses it — acceptable for web pages, a real gap
# for a source-code corpus where compound identifiers are the norm. Code
# search engines (GitHub code search, Zoekt, Sourcegraph) therefore index
# identifier SUBTOKENS: camelCase/PascalCase/ACRONYMCase parts emitted
# alongside the whole identifier. snake_case and dotted.paths are already
# split by the base tokenizer (``_``/``.`` are non-alphanumeric).

CASED_SPLIT_RE = r"[^a-zA-Z0-9]+"
# Two boundary rules, applied in this order (both global):
#   1. acronym→word:  ([A-Z])([A-Z][a-z])   HTTPResponse → HTTP Response
#   2. lower→upper:   ([a-z0-9])([A-Z])     parseUrl     → parse Url
# Trailing digit runs are NOT split (`v2` stays `v2`); a digit-before-
# uppercase boundary (rule 2 on `2Fast`) CAN shed a leading bare-digit
# part, so the subtoken filter additionally requires parts to contain a
# letter — bare-digit posting lists are near-zero retrieval value.
_CAMEL_RULES = ((r"([A-Z])([A-Z][a-z])", r"$1 $2"), (r"([a-z0-9])([A-Z])", r"$1 $2"))


def _cased_token_array(content_col):
    """Case-PRESERVING token array under the base tokenizer's survival
    predicate (empty / length / skip-word, all evaluated on the
    lowercased form). For ASCII text — all code identifiers, and the
    realistic hot path of a source corpus — lowercasing changes neither
    alphanumeric-ness nor length, so this array is positionally
    identical to _token_array(content_col) element for element and
    subtoken rows can copy base-channel positions the way stem rows do.
    KNOWN EDGE: a non-ASCII char whose lowercase folds INTO ASCII
    alnum (e.g. U+212A KELVIN SIGN → 'k') is a delimiter here but not in
    the base tokenizer, so the two streams can diverge on such text —
    pinned in tests/test_tokenizer.py::test_subtokens_unicode_fold_edge.
    The channel is auxiliary (never feeds doc_stats/BM25 of the primary
    index), so the divergence is a recall detail of subtoken search,
    not an index-correctness issue."""
    norm = F.substring(content_col, 1, C.MAX_PAGE_LEN)
    toks = F.split(norm, CASED_SPLIT_RE)
    skips = F.array(*[F.lit(w) for w in sorted(C.SKIP_WORDS)])
    return F.filter(
        toks,
        lambda t: (t != F.lit(""))
        & (F.length(t) <= C.MAX_WORD_LEN)
        & ~F.array_contains(skips, F.lower(t)),
    )


def _camel_parts(tok_col):
    """Distinct lowercased camel-boundary parts of one cased token."""
    parted = tok_col
    for pat, repl in _CAMEL_RULES:
        parted = F.regexp_replace(parted, pat, repl)
    return F.array_distinct(F.split(F.lower(parted), " "))


def tokenize_subtokens(
    corpus: DataFrame, content_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """corpus → (doc_id, term, pos, is_sub): the base token stream
    (is_sub=0, identical rows to tokenize()) plus, for each token whose
    camel split yields parts different from the whole, one row per
    distinct part AT THE PARENT'S POSITION (is_sub=1). Copying the
    position keeps phrase/adjacency semantics intact on the base channel
    while making `parse url` a position-adjacent phrase hit on
    `parseUrl`'s parts. Parts pass the same skip-word/length filters as
    base tokens.

    Plan shape: ONE corpus scan (a base∪sub union of two branches would
    read the parquet twice — 2× I/O at 100 TB), then two codegen'd
    generates: posexplode over the cased token array, then one explode
    over a combined array<struct<term,is_sub>> built row-locally (the
    base term prepended to the surviving camel parts). No shuffle; the
    subtoken channel adds zero exchanges to the index build. Aggregating
    to postings later costs the same single partial-agg shuffle as the
    base channel.
    """
    toks = _cased_token_array(F.col(content_col))
    exploded = corpus.select(
        F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos0", "tok")
    )
    skips = F.array(*[F.lit(w) for w in sorted(C.SKIP_WORDS)])
    parent = F.lower(F.col("tok"))
    surviving_parts = F.filter(
        _camel_parts(F.col("tok")),
        lambda p: (p != parent)
        & (p != F.lit(""))
        & (F.length(p) <= C.MAX_WORD_LEN)
        & p.rlike("[a-z]")  # no bare-digit parts (see _CAMEL_RULES note)
        & ~F.array_contains(skips, p),
    )
    channel = F.concat(
        F.array(F.struct(parent.alias("term"), F.lit(0).cast("int").alias("is_sub"))),
        F.transform(
            surviving_parts,
            lambda p: F.struct(p.alias("term"), F.lit(1).cast("int").alias("is_sub")),
        ),
    )
    return exploded.select(
        "doc_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.explode(channel).alias("t"),
    ).select("doc_id", F.col("t.term").alias("term"), "pos", F.col("t.is_sub").alias("is_sub"))
