"""Text-analysis column functions for large-scale document pipelines.

All built from JVM-side column expressions (split/regexp/array ops) so
they vectorize inside whole-stage codegen — at 100 TB a per-row Python
UDF here would dominate the job. Each function returns a Column and is
deliberately expressible in ANSI SQL too, so the DuckDB oracle can
verify identical semantics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


from kubernetes_logs_datalake_spark.functions.time_ns import _col  # noqa: E402 — canonical helper


# ------------------------------------------------------------- tokenization

# Word tokenizer shared by token counting, shingling and lang-id:
# lowercase, strip non-alphanumerics to spaces, split on runs of space.
# (A BPE-ish subword regex is below for token *estimation*.)


def normalize_text(text: Column | str) -> Column:
    return F.trim(F.regexp_replace(F.lower(_col(text)), r"[^a-z0-9]+", " "))


def words(text: Column | str) -> Column:
    """array<string> of normalized words (empty array for empty text)."""
    norm = normalize_text(text)
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def token_count(text: Column | str) -> Column:
    """Whitespace token count (long)."""
    return F.size(words(text)).cast("long")


# Rough BPE-ish subword estimate: alphanumeric runs contribute
# ceil(len/4) tokens (≈4 chars/token, the common BPE average), every
# other non-space character is one token.
def bpe_token_estimate(text: Column | str) -> Column:
    t = _col(text)
    alnum_chars = F.length(F.regexp_replace(t, r"[^A-Za-z0-9]", ""))
    other_chars = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    return (F.ceil(alnum_chars / 4) + other_chars).cast("long")


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` once and hand it to ``fn`` as a lambda
    variable. Outer expressions referenced inside higher-order-function
    lambdas are RE-EVALUATED per element (no common-subexpression
    elimination inside lambda bodies), turning an O(k) window build
    into O(k·|expr|). A lambda variable is a cheap bound read; routing
    the value through a one-element array makes it one. Measured ~30x
    on 8-gram shingling (re-tokenize per window → tokenize once)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def shingles(text: Column | str, n: int = 3) -> Column:
    """array<string> of word n-gram shingles (the MinHash/Jaccard unit).

    Built with ``transform`` over an index sequence — no explode, no
    UDF; stays an array expression until the caller chooses to explode.
    The words array is lambda-bound (see :func:`bind_once`) and each
    window is ``array_join(slice(w, i, n))`` — one tokenization per
    document, one O(n) slice per window.
    """
    return bind_once(
        words(text),
        lambda w: F.when(
            F.size(w) - (n - 1) <= 0, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - n),
                lambda i: F.array_join(F.slice(w, i + 1, n), " "),
            )
        ),
    )


# ---------------------------------------------------------------- quality

STOPWORDS_EN = (
    "the of and to in a is that it was for on are as with his they at be this "
    "have from or had by not but what all were we when your can said there use "
    "an each which she do how their if will up other about out many then them "
    "these so some her would make like him into time has look two more write "
    "go see no way could people my than first been call who its now find long "
    "down day did get come made may part"
).split()


def stopword_ratio(
    text: Column | str,
    stopwords: list[str] | None = None,
    words_col: Column | None = None,
) -> Column:
    """Fraction of words that are (English) stopwords — a standard
    quality-filter signal (high ratio ⇒ natural prose).

    Pass ``words_col`` (a precomputed ``words(text)`` column) when
    combining several word-based metrics in one projection — otherwise
    each metric re-tokenizes and the scan does the regex work N times.
    """
    w = words_col if words_col is not None else words(text)
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS_EN)])
    hits = F.size(F.filter(w, lambda x: F.array_contains(sw, x)))
    return F.when(F.size(w) > 0, hits / F.size(w)).otherwise(F.lit(0.0))


def punct_ratio(text: Column | str) -> Column:
    t = _col(text)
    punct = F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(F.length(t) > 0, punct / F.length(t)).otherwise(F.lit(0.0))


def mean_word_length(text: Column | str, words_col: Column | None = None) -> Column:
    w = words_col if words_col is not None else words(text)
    total = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(w) > 0, total / F.size(w)).otherwise(F.lit(0.0))


def quality_score_from(sw: Column, mwl: Column, pr: Column) -> Column:
    """Composite [0,1] quality from precomputed component columns."""
    return (
        F.least(sw * 4, F.lit(1.0)) * 0.4
        + F.when((mwl >= 3) & (mwl <= 10), 1.0).otherwise(0.0) * 0.3
        + F.when(pr < 0.1, 1.0).otherwise(F.greatest(F.lit(0.0), 1 - pr * 5)) * 0.3
    )


def quality_score(text: Column | str, words_col: Column | None = None) -> Column:
    """Composite [0,1] quality heuristic: prose-like stopword presence,
    sane word lengths, low punctuation noise. Deliberately simple and
    fully SQL-expressible; thresholds follow common web-corpus filters
    (Gopher/C4-style length and symbol rules)."""
    return quality_score_from(
        stopword_ratio(text, words_col=words_col),
        mean_word_length(text, words_col=words_col),
        punct_ratio(text),
    )


# ----------------------------------------------------------------- lang id

# Minimal high-frequency function-word sets; the n-gram-free heuristic:
# score(lang) = |words ∩ markers(lang)| / |words|, argmax wins, 'und' if
# no markers hit. Good enough for coarse corpus partitioning; a real
# fastText-style model would slot in as a pandas UDF.
LANG_MARKERS: dict[str, list[str]] = {
    "en": "the and of to in is that it for with was on are as be this have".split(),
    "de": "der die das und ist nicht ein eine zu mit von auf für den dem sich".split(),
    "fr": "le la les et des en un une est pour que dans qui sur pas plus par".split(),
    "es": "el la los las y es en un una de que no por con para su al como".split(),
}


def lang_scores(text: Column | str) -> dict[str, Column]:
    w = words(text)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        marr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(w, lambda x: F.array_contains(marr, x)))
        out[lang] = F.when(F.size(w) > 0, hits / F.size(w)).otherwise(F.lit(0.0))
    return out


def lang_id(text: Column | str, min_score: float = 0.05) -> Column:
    """Best-scoring language code, or 'und' below the confidence floor.

    Ties break by declaration order (en first) via a first-wins CASE
    chain — the same chain the SQL oracle writes, so both engines agree
    bit-for-bit.
    """
    scores = lang_scores(text)
    langs = list(scores)
    expr = F.lit("und")
    for lang in reversed(langs):
        sc = scores[lang]
        others = [scores[o] for o in langs if o != lang]
        is_max = sc >= F.greatest(*others) if others else F.lit(True)
        cond = (sc >= min_score) & is_max
        # reversed order + overwrite ⇒ earliest declared lang wins ties
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


# ------------------------------------------------------------- fingerprint

def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    md5 (not xxhash) so the DuckDB oracle computes the identical value;
    for engine-internal dedup the cheaper ``xxhash64`` is used instead
    (operators/dedup.py).
    """
    return F.md5(normalize_text(text))


def masked_fingerprint(text: Column | str) -> Column:
    """Template fingerprint: md5 of the normalized text with every
    digit run masked to a single ``0`` — so "error 404 after 12ms" and
    "error 500 after 7ms" collapse to one template. The digit-masking
    normalization used by web-corpus dedup pipelines (e.g. the
    SlimPajama preprocessing) and the classic log-template reducer;
    catches the near-identical class exact dedup misses without any
    pairwise work. Engine-portable (md5 + regexp) like
    :func:`fingerprint`."""
    return F.md5(F.regexp_replace(normalize_text(text), "[0-9]+", "0"))


# ------------------------------------------------------- corpus TF-IDF

def tfidf_topk(df, id_col: str, text_col: str, k: int = 3):
    """Top-``k`` terms per document by TF-IDF — the classic keyword/
    feature-extraction pass: (id, word, round(tfidf, 4), rank).

    score = tf · ln(N / df), from integer tf/df/N so both engines feed
    identical doubles into one ln and one multiply (bit-identical
    output; engine-native similarity functions would not be). Ties
    break by word for determinism.

    One explode + two partial-agg shuffles (term frequencies, document
    frequencies) + a partitioned rank window. The df side aggregates to
    the vocabulary — small enough to broadcast-join back at any corpus
    size; the rank window benefits from WindowGroupLimit (partial
    top-k before shuffle) on Spark ≥ 3.5.
    """
    from pyspark.sql import Window

    n_docs = df.select(id_col).distinct().count()
    terms = df.select(
        F.col(id_col).alias("_id"), F.explode(words(text_col)).alias("word")
    ).filter(F.col("word") != "")
    tf = terms.groupBy("_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(dfreq), "word").withColumn(
        "tfidf",
        F.col("tf").cast("double")
        * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
    )
    w = Window.partitionBy("_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col),
            "word",
            F.round("tfidf", 4).alias("tfidf"),
            "rank",
        )
    )


# ------------------------------------------------------------- BM25 search


def bm25_topk(
    df,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Okapi BM25 keyword search over the corpus: top-``k`` documents
    for a bag of query terms — the retrieval primitive behind corpus
    inspection tooling ("show me docs about X") and hard-negative
    mining. Output: (id, score, n_terms_matched), score rounded to 6dp
    (the rounded score is also the sort key so the top-k cut is
    engine-deterministic).

    idf = ln(1 + (N − df + ½)/(df + ½)); score per (doc, term) =
    idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).

    Plan shape: the exploded token stream filters to the query terms
    *first* (a handful of words — the filter is pushed into the scan
    projection and the surviving row count is tiny), so the expensive
    aggregations run on query-relevant rows only. Document lengths and
    the (N, avgdl) scalars come from one extra aggregate each — the
    scalars join back via a broadcast cross join, never a collect. Term
    document-frequencies aggregate to ≤ |query| rows, broadcast back.
    """
    from pyspark.sql import Window

    qt = sorted({t.lower() for t in query_terms})
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(words(text_col)).alias("word")
    ).filter(F.col("word") != "")
    dl = toks.groupBy("_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("word").isin(qt))
        .groupBy("_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    per_doc = scored.groupBy("_id").agg(
        F.round(F.sum("_s"), 6).alias("score"),
        F.count("*").alias("n_terms_matched"),
    )
    return (
        per_doc.orderBy(F.desc("score"), F.col("_id"))
        .limit(k)
        .select(F.col("_id").alias(id_col), "score", "n_terms_matched")
    )


def readability_scores(text: Column | str):
    """Flesch reading-ease inputs and score as named columns —
    (n_sentences, n_words, n_syllables, flesch) — the classic
    readability quality signal (Flesch 1948; used as a curation filter
    alongside stopword/LM scores).

    All counts are regex/array algebra an ANSI engine reproduces:
    sentences = non-empty [.!?]-delimited runs of the RAW text,
    floored at 1 unconditionally (so empty text reports n_sentences=1
    alongside n_words=0 — the oracle mirrors this, and flesch is NULL
    there anyway since it gates on n_words > 0),
    words = the normalized token count,
    syllables = vowel-group runs per word with a 1-minimum (silent-e
    niceties deliberately out of scope — the signal is comparative,
    not linguistic). flesch = 206.835 − 1.015·(W/S) − 84.6·(Syl/W),
    rounded to 4.
    """
    t = _col(text)
    sentences = F.size(
        F.filter(
            F.split(t, r"[.!?]+"),
            lambda s: F.trim(s) != "",
        )
    )
    n_sent = F.greatest(sentences, F.lit(1))
    w = words(t)
    n_words = F.size(w)
    syl = F.aggregate(
        w,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.greatest(
            F.size(F.regexp_extract_all(x, F.lit("[aeiouy]+"), 0)), F.lit(1)
        ).cast("long"),
    )
    flesch = F.when(
        n_words > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
            - F.lit(84.6) * (syl.cast("double") / n_words.cast("double")),
            4,
        ),
    ).otherwise(F.lit(None))
    return {
        "n_sentences": n_sent.cast("long"),
        "n_words": n_words.cast("long"),
        "n_syllables": syl,
        "flesch": flesch,
    }


def phrase_search(
    df,
    id_col: str,
    text_col: str,
    phrase: str,
):
    """Exact positional phrase search: documents containing the word
    sequence ``phrase`` (under the module tokenizer), with occurrence
    counts and the first match position — the classic positional
    inverted-index query that token search (BM25) cannot answer.

    Output: (id, n_matches, first_pos), 0-based positions, one row per
    matching document.

    Scale shape: the postings for EACH phrase word are filtered BEFORE
    any join (one selective scan of the token explode), then chained
    (doc, pos)-keyed equi-joins align consecutive positions — work is
    Σ df(wordᵢ), never the corpus token count, and the hottest phrase
    word bounds the join degree. At deployment the (word, doc, pos)
    postings table is the thing you persist bucketed by word; here it
    derives in-plan from the corpus scan.
    """
    import re

    # normalize the phrase with the SAME rule as the column tokenizer
    # (lowercase, non-alphanumerics to spaces, split on runs)
    terms = [t for t in re.sub(r"[^a-z0-9]+", " ", phrase.lower()).split() if t]
    if not terms:
        raise ValueError("phrase has no tokens under the tokenizer")
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(words(F.col(text_col))).alias("_pos", "_w"),
    ).filter(F.col("_w") != "")
    cur = (
        tok.filter(F.col("_w") == terms[0])
        .select("_id", F.col("_pos").alias("_p0"))
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = tok.filter(F.col("_w") == t).select(
            F.col("_id"), (F.col("_pos") - i).alias("_p0")
        )
        cur = cur.join(nxt, ["_id", "_p0"])
    return cur.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("_p0").alias("first_pos"),
    ).select(F.col("_id").alias(id_col), "n_matches", "first_pos")
