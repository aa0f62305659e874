"""Text-analysis operators over `documents` (north-star surface):
language ID, quality scoring, token statistics, fingerprinting.

All are pure column expressions (codegen'd, no Python), built so the
DuckDB oracle can reproduce them exactly: integer counts everywhere
possible, double math only on deterministic per-row sequences, and
explicit tie-break priority in the language argmax.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import WORD_SPLIT_RE

# marker vocabularies for the n-gram/stopword language heuristic;
# priority order (ties resolve to the earlier language) is en, de, es, fr, zh.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "nicht"),
    "es": ("el", "los", "las", "que", "y"),
    "fr": ("le", "les", "des", "est", "une"),
    "zh": ("de", "shi", "bu", "le", "wo"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def _words() -> Column:
    return F.filter(F.split("text", WORD_SPLIT_RE), lambda w: w != F.lit(""))


def _marker_count(words_col: str, markers: tuple[str, ...]) -> Column:
    cond = " OR ".join(f"w = '{m}'" for m in markers)
    return F.expr(f"size(filter({words_col}, w -> {cond}))")


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: count marker-word hits per language,
    argmax with fixed priority. Returns (doc_id, pred_lang, score)."""
    scored = docs.select("doc_id", _words().alias("ws")).select(
        "doc_id",
        *[_marker_count("ws", LANG_MARKERS[lang]).alias(f"s_{lang}") for lang in LANG_MARKERS],
    )
    langs = list(LANG_MARKERS)
    pred = None
    for i, lang in enumerate(langs[:-1]):
        cond = None
        for other in langs[i + 1 :]:
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    pred = pred.otherwise(F.lit(langs[-1]))
    score = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    return scored.select("doc_id", pred.alias("pred_lang"), score.alias("score"))


def quality_score(docs: DataFrame) -> DataFrame:
    """Document quality signals: char/token counts, average token
    length, punctuation ratio, stopword ratio, and a composite score.
    Ratios use NULLIF guards; rounding to 6 dp at the edges only."""
    stop_cond = " OR ".join(f"w = '{m}'" for m in STOPWORDS)
    base = docs.select(
        "doc_id",
        F.length("text").alias("n_chars_text"),
        _words().alias("ws"),
        F.length(F.regexp_replace("text", r"[\p{L}\p{N}\s]", "")).alias("n_punct"),
    ).select(
        "doc_id",
        "n_chars_text",
        "n_punct",
        F.size("ws").alias("n_tokens"),
        F.expr("aggregate(transform(ws, w -> length(w)), 0L, (acc, x) -> acc + x)").alias("token_chars"),
        F.expr(f"size(filter(ws, w -> {stop_cond}))").alias("n_stop"),
    )
    avg_tok = F.col("token_chars") / F.nullif(F.col("n_tokens"), F.lit(0))
    punct_ratio = F.col("n_punct") / F.nullif(F.col("n_chars_text"), F.lit(0))
    stop_ratio = F.col("n_stop") / F.nullif(F.col("n_tokens"), F.lit(0))
    composite = (
        0.4 * stop_ratio + 0.3 * (1 - punct_ratio) + 0.3 * F.least(avg_tok / 10.0, F.lit(1.0))
    )
    # The composite mixes inexact binary constants (0.4/0.3), so its
    # double can sit one ulp off a 6-dp rounding boundary where Spark's
    # decimal-exact HALF_UP and DuckDB's multiply-then-std::round
    # disagree. Rounding via the same multiply (x*1e6 is the identical
    # IEEE op in both engines) removes the divergence; the plain ratios
    # keep F.round (their doubles can't straddle a boundary).
    quality = F.round(composite * 1000000.0, 0) / 1000000.0
    return base.select(
        "doc_id",
        "n_chars_text",
        "n_tokens",
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        quality.alias("quality"),
    )


# whitespace tokens and a BPE-ish pre-tokenizer (letter runs | digit runs |
# single non-alnum-non-space), counted per document.
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex tokens,
    distinct words, type-token ratio."""
    return docs.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
        ).alias("n_ws_tokens"),
        # NOTE: the pattern goes through the Python API (F.lit), NOT an
        # F.expr SQL literal — the SQL parser would eat the backslash in
        # \s and silently change the regex.
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_RE), 0)).alias("n_bpe_tokens"),
        _words().alias("ws"),
    ).select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        F.size(F.array_distinct("ws")).alias("n_distinct_words"),
        F.round(
            F.size(F.array_distinct("ws")) / F.nullif(F.size("ws"), F.lit(0)), 6
        ).alias("type_token_ratio"),
    )


def doc_profile(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """All four per-document analyses (lang_id, quality_score,
    token_stats, fingerprint) in ONE projection-only pass — a single
    corpus scan, zero joins, zero shuffles (plan-guarded in
    tests/test_plans.py). ``keep`` passes extra input columns through
    untouched (e.g. ``source`` for the per-source data card) so
    downstream aggregations need no corpus-wide doc_id join back.
    Column expressions are the granular operators' own, so values and
    types are identical to joining their outputs on doc_id — which is
    exactly what the DuckDB oracle still does. At 100 TB this is the
    difference between one scan and four scans plus three doc_id
    shuffles.

    The tokenization (`ws`) is referenced by many output columns;
    Spark's per-project subexpression elimination evaluates it once
    per row inside the staged projections below.
    """
    stop_cond = " OR ".join(f"w = '{m}'" for m in STOPWORDS)
    langs = list(LANG_MARKERS)
    base = docs.select(
        "doc_id",
        *keep,
        F.length("text").alias("n_chars_text"),
        F.length(F.regexp_replace("text", r"[\p{L}\p{N}\s]", "")).alias("n_punct"),
        F.size(
            F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
        ).alias("n_ws_tokens"),
        # F.lit, not F.expr: the SQL parser would eat the \s backslash
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_RE), 0)).alias("n_bpe_tokens"),
        F.expr(
            "aggregate(transform(regexp_extract_all(text, '([\\\\s\\\\S])', 1), c -> ascii(c)), "
            f"0L, (acc, c) -> (acc * 31 + c) % {FINGERPRINT_MOD}L)"
        ).alias("fingerprint"),
        _words().alias("ws"),
    )
    counted = base.select(
        "doc_id",
        *keep,
        "n_chars_text",
        "n_punct",
        "n_ws_tokens",
        "n_bpe_tokens",
        "fingerprint",
        *[_marker_count("ws", LANG_MARKERS[lang]).alias(f"s_{lang}") for lang in langs],
        F.size("ws").alias("n_tokens"),
        F.expr("aggregate(transform(ws, w -> length(w)), 0L, (acc, x) -> acc + x)").alias(
            "token_chars"
        ),
        F.expr(f"size(filter(ws, w -> {stop_cond}))").alias("n_stop"),
        F.size(F.array_distinct("ws")).alias("n_distinct_words"),
    )
    # identical argmax-with-priority as lang_id
    pred = None
    for i, lang in enumerate(langs[:-1]):
        cond = None
        for other in langs[i + 1 :]:
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    pred = pred.otherwise(F.lit(langs[-1]))
    score = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    # identical ratio/composite math as quality_score (incl. the
    # multiply-then-round trick for the composite)
    avg_tok = F.col("token_chars") / F.nullif(F.col("n_tokens"), F.lit(0))
    punct_ratio = F.col("n_punct") / F.nullif(F.col("n_chars_text"), F.lit(0))
    stop_ratio = F.col("n_stop") / F.nullif(F.col("n_tokens"), F.lit(0))
    composite = (
        0.4 * stop_ratio + 0.3 * (1 - punct_ratio) + 0.3 * F.least(avg_tok / 10.0, F.lit(1.0))
    )
    quality = F.round(composite * 1000000.0, 0) / 1000000.0
    return counted.select(
        "doc_id",
        *keep,
        pred.alias("pred_lang"),
        score.alias("score"),
        "n_chars_text",
        "n_tokens",
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        quality.alias("quality"),
        "n_ws_tokens",
        "n_bpe_tokens",
        "n_distinct_words",
        F.round(
            F.col("n_distinct_words") / F.nullif(F.col("n_tokens"), F.lit(0)), 6
        ).alias("type_token_ratio"),
        "fingerprint",
    )


def tfidf_top_terms(docs: DataFrame, top_n: int = 5) -> DataFrame:
    """Top-n terms per document by TF-IDF (tf × ln(N/df)).

    Shuffle accounting: one explode + groupBy(doc, term) for tf, one
    groupBy(term) for df, a term-keyed join (tf rows are already
    term-partitioned from the df side's perspective — no broadcast of
    the vocabulary, which can be huge), a broadcast scalar for N, and
    the per-doc top-n window. Ranking uses the *rounded* score so the
    order is stable across engines (raw doubles could differ by an ulp
    in ln and swap near-ties)."""
    from ..operators.dedup import _spread

    tok = _spread(docs).select("doc_id", F.explode(_words()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_n)
        .select("doc_id", "term", "score", "rn")
    )


def benchmark_overlap(docs: DataFrame, benchmark: DataFrame, k: int = 4) -> DataFrame:
    """Benchmark decontamination: for each document, count its k-word
    shingles that also appear anywhere in ``benchmark`` (the held-out
    eval set). Returns (doc_id, n_common_shingles, overlap_ratio) for
    contaminated docs only (≥1 shared shingle); ratio = common /
    doc's own distinct-shingle count.

    Scale shape: both sides shingle row-locally (dedup.shingle_sets —
    zero shuffle), join on xxhash64(shingle) 8-byte keys, and the
    benchmark side is collapsed to its DISTINCT shingle set before the
    join — eval suites are tiny next to a training corpus, so that set
    is broadcast and the corpus never shuffles. Exact up to 64-bit
    hash collisions (same caveat as dedup.ngram_jaccard_pairs).
    """
    from .dedup import shingle_sets

    t = shingle_sets(docs, k)
    ex = t.select("doc_id", "n_sh", F.explode("shingles").alias("g")).select(
        "doc_id", "n_sh", F.xxhash64("g").alias("h")
    )
    bset = (
        shingle_sets(benchmark, k)
        .select(F.explode("shingles").alias("g"))
        .select(F.xxhash64("g").alias("h"))
        .distinct()
    )
    return (
        ex.join(F.broadcast(bset), "h")
        .groupBy("doc_id", "n_sh")
        .agg(F.count("*").alias("n_common"))
        .select(
            "doc_id",
            F.col("n_common").cast("int").alias("n_common_shingles"),
            F.round(F.col("n_common") / F.col("n_sh"), 6).alias("overlap_ratio"),
        )
    )


def repetition_stats(docs: DataFrame, top_bigram_flag: float = 0.08) -> DataFrame:
    """Gopher-style repetition signals: most-frequent-word fraction,
    most-frequent-bigram fraction, and a `repetitive` flag at
    ``top_bigram_flag``. Returns (doc_id, n_words, top_word_frac,
    top_bigram_frac, repetitive).

    Entirely row-local (no explode, no shuffle — the whole metric
    computes inside the scan stage): the top-count is
    array_max(transform(distinct, w -> count of w in tokens)), an
    O(|distinct|·|tokens|) per-row expression. For natural documents
    that product is small; a pathological single-doc blowup would
    motivate the explode + groupBy(doc, term) formulation that
    tfidf_top_terms uses, at the cost of shuffling every token.
    """
    from ..functions.text import bind_once

    def top_count(arr: Column) -> Column:
        return F.array_max(
            F.transform(F.array_distinct(arr), lambda w: F.size(F.filter(arr, lambda x: x == w)))
        )

    def bigrams_of(ws: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(ws) - 2)
        join2 = lambda i: F.concat_ws(" ", F.get(ws, i), F.get(ws, i + 1))  # noqa: E731
        return F.when(F.size(ws) < 2, F.array().cast("array<string>")).otherwise(
            F.transform(idx, join2)
        )

    base = docs.select(
        "doc_id",
        bind_once(
            _words(),
            lambda ws: F.struct(
                F.size(ws).alias("n_words"),
                top_count(ws).alias("twc"),
                bind_once(
                    bigrams_of(ws),
                    lambda bg: F.struct(F.size(bg).alias("nbg"), top_count(bg).alias("tbc")),
                ).alias("b"),
            ),
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.n_words").alias("n_words"),
        F.col("s.twc").alias("twc"),
        F.col("s.b.nbg").alias("nbg"),
        F.col("s.b.tbc").alias("tbc"),
    )
    word_frac = F.col("twc") / F.nullif(F.col("n_words"), F.lit(0))
    bigram_frac = F.col("tbc") / F.nullif(F.col("nbg"), F.lit(0))
    return base.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        F.round(word_frac, 6).alias("top_word_frac"),
        F.round(bigram_frac, 6).alias("top_bigram_frac"),
        F.coalesce(bigram_frac > top_bigram_flag, F.lit(False)).alias("repetitive"),
    )


def _bigram_occurrences(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, bg) — one row per word-bigram occurrence. The
    bigram list is built row-locally from the token array (no
    self-join of adjacent tokens); empty for docs under 2 tokens."""
    from ..functions.text import bind_once

    def pairs_of(ws: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(ws) - 2)
        mk = lambda i: F.struct(  # noqa: E731
            F.get(ws, i).alias("w1"),
            F.concat_ws(" ", F.get(ws, i), F.get(ws, i + 1)).alias("bg"),
        )
        empty = F.array().cast("array<struct<w1:string,bg:string>>")
        return F.when(F.size(ws) < 2, empty).otherwise(F.transform(idx, mk))

    return docs.select(
        "doc_id", F.explode(bind_once(_words(), pairs_of)).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.bg").alias("bg"))


def top_ngrams(docs: DataFrame, top_k: int = 20) -> DataFrame:
    """Corpus-wide most-frequent word bigrams: (ngram, cnt), top
    ``top_k`` by count with the ngram string as a total tie-break —
    the deterministic heavy-hitters query a corpus audit needs before
    choosing repetition filters.

    Scale shape: row-local bigram construction, one explode + hash
    agg with map-side partial combine (the only shuffle, keyed on the
    ngram), then top-k via orderBy+limit which Spark executes as
    TakeOrderedAndProject — per-partition heaps and a driver merge of
    k-row tops, never a global sort materialization."""
    return (
        _bigram_occurrences(docs)
        .groupBy(F.col("bg").alias("ngram"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "ngram")
        .limit(top_k)
    )


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Per-document bigram-LM likelihood (CCNet-style quality signal):
    train a corpus bigram model P(w2|w1) = c(w1 w2)/c(w1 ·), then
    score every document by the mean log-probability of its bigram
    occurrences. Low scores flag out-of-distribution / garbled text.
    Returns (doc_id, n_bigrams, avg_logp); docs under 2 tokens are
    absent (no bigrams to score).

    Scale shape: the model is two hash aggs over the exploded bigram
    stream (vocab²-bounded — far smaller than the corpus), a model-
    internal join on the prefix word, then one join of occurrences to
    the model on the bigram key and a per-doc agg. The corpus text
    itself is never shuffled — only 8-byte-ish bigram keys. Float
    discipline for the oracle: per-bigram logp is multiply-rounded to
    6 dp (ln may differ by 1 ulp across engines), the per-doc sum
    runs in DECIMAL so it is partitioning-order-independent, and the
    final mean is multiply-rounded again."""
    from ..functions.numeric import decimal_sum

    occ = _bigram_occurrences(docs)
    c2 = occ.groupBy("w1", "bg").agg(F.count("*").alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    logp = F.round(F.log(F.col("n2").cast("double") / F.col("n1")) * 1000000.0, 0) / 1000000.0
    model = c2.join(c1, "w1").select("bg", logp.alias("logp"))
    return (
        occ.join(model, "bg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), decimal_sum(F.col("logp"), "sum_logp"))
        .select(
            "doc_id",
            "n_bigrams",
            (F.round(F.col("sum_logp") / F.col("n_bigrams") * 1000000.0, 0) / 1000000.0).alias(
                "avg_logp"
            ),
        )
    )


FINGERPRINT_MOD = 1_000_000_007


def fingerprint(docs: DataFrame) -> DataFrame:
    """Rolling polynomial document fingerprint:
    fold over code points of (acc * 31 + cp) mod 1e9+7.

    Pure integer arithmetic in a sequential fold — identical in any
    engine, so unlike MinHash/SimHash this digest IS oracle-portable.
    """
    return docs.select(
        "doc_id",
        F.expr(
            "aggregate(transform(regexp_extract_all(text, '([\\\\s\\\\S])', 1), c -> ascii(c)), "
            f"0L, (acc, c) -> (acc * 31 + c) % {FINGERPRINT_MOD}L)"
        ).alias("fingerprint"),
    )


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    top_k: int = 10,
    materialize: bool = True,
) -> DataFrame:
    """Exact-phrase retrieval over a positional token index — the IR
    capability the reference's inverted index (mrapps/indexer.go)
    gestures toward but cannot answer (it stores document sets, not
    positions). Returns (doc_id, n_occurrences, rn): documents
    containing the exact consecutive token sequence ``phrase``, ranked
    by occurrence count (ties → doc_id), top_k only.

    Plan shape: the corpus is scanned and posexploded ONCE into the
    phrase-term postings (filter tok ∈ phrase BEFORE materializing —
    the postings of query terms are tiny next to the corpus), eagerly
    checkpointed because every phrase term's adjacency branch reads
    them (code-review r6 finding #4: the lazy form re-scanned the
    corpus per term). Adjacency is then |phrase|-1 equi-joins on
    (doc_id, pos) over the small postings with the i-th term's
    positions shifted by -i, the per-doc count one partial-aggregated
    groupBy, and the final rank the window-free TakeOrdered top-k
    (functions/ranking). Engine-portable and hash-exact: the DuckDB
    twin counts the same matches with an array comprehension.
    """
    from ..functions.ranking import ranked_topk
    from ..operators.dedup import _spread

    if not phrase:
        raise ValueError("phrase_search requires at least one token")
    occ = _spread(docs).select("doc_id", F.posexplode(_words()).alias("pos", "tok"))
    post = occ.where(F.col("tok").isin(*[F.lit(t) for t in phrase]))
    if materialize:
        # ``materialize=False`` exists for the plan-audit tests: the
        # checkpoint hides the scan→posexplode→filter segment from
        # .explain, so the full-lineage plan guards inspect the
        # unmaterialized form (code-review r6b finding #3)
        post = post.localCheckpoint()
    base = post.where(F.col("tok") == phrase[0]).select("doc_id", "pos")
    for i, term in enumerate(phrase[1:], start=1):
        nxt = post.where(F.col("tok") == term).select(
            "doc_id", (F.col("pos") - i).alias("pos")
        )
        base = base.join(nxt, ["doc_id", "pos"])
    counts = base.groupBy("doc_id").agg(F.count("*").cast("int").alias("n_occurrences"))
    return ranked_topk(counts, [F.desc("n_occurrences"), F.col("doc_id")], top_k)


def bm25_search(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Walker-Jones, the classic
    probabilistic ranking function): score every document against a
    bag of query terms, return the top_k by score
    (doc_id, score, rn). The reference's inverted index
    (mrapps/indexer.go) stops at posting lists; this is the ranking
    layer a corpus-search or decontamination-triage pipeline puts on
    top.

    score(d) = sum over query terms t of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))  [the "plus-one" form,
    always positive].

    Shuffle accounting at scale: the term filter hits the exploded
    token stream BEFORE the tf groupBy, so the heavy aggregation runs
    on query-term occurrences only (|terms| tiny), not the vocabulary.
    Document length rides ALONG with the filtered occurrences
    (computed in the same scan, carried through the groupBy as
    first(dl)) instead of being joined from a corpus-wide (doc_id, dl)
    table — that join would shuffle the entire corpus to serve a
    result that only touches matching documents. N/avgdl are one
    broadcast scalar row (partial-aggregated, no wide shuffle) and df
    one broadcast |terms|-row aggregate. Final top-k is sort+limit =
    TakeOrderedAndProject. Float discipline: each per-(doc, term)
    contribution is rounded to 6 dp, then decimal_sum makes the
    per-doc total independent of addition order — and bit-equal in
    the DuckDB oracle; ranking uses the rounded score (cf.
    tfidf_top_terms).
    """
    from ..functions.numeric import decimal_sum
    from ..operators.dedup import _spread

    # Column.isin() with zero arguments errors at plan-build time with
    # an opaque message (ADVICE r5) — fail with a clear contract error.
    if not terms:
        raise ValueError("bm25_search requires at least one query term")
    term_lits = [F.lit(t) for t in terms]
    w = _spread(docs).select("doc_id", _words().alias("ws"))
    tok = w.select(
        "doc_id", F.size("ws").alias("dl"), F.explode("ws").alias("term")
    )
    tf = (
        tok.where(F.col("term").isin(*term_lits))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    stats = w.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("ws")).alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
                6,
            ).alias("part"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(decimal_sum(F.col("part")), 6).alias("score")
    )
    from ..functions.ranking import ranked_topk

    # window-free top-k rank (functions/ranking): no WindowExec WARN
    return ranked_topk(scored, [F.desc("score"), F.col("doc_id")], top_k).select(
        "doc_id", "score", "rn"
    )


def source_unigram_kl(
    docs: DataFrame,
    vocab_size: int = 25,
    alpha: float = 0.5,
) -> DataFrame:
    """Distribution-drift score per source: smoothed KL divergence of
    each source's unigram distribution from the corpus-wide one,
    restricted to the top-``vocab_size`` vocabulary —
    (source, n_tokens, kl). The monitoring primitive that catches a
    crawl slice going off-distribution (spam bursts, language drift,
    template floods) between corpus snapshots.

    p_s(t) = (c_st + α) / (n_s + α·V)  (add-α smoothing, so sources
    missing a vocab token still have finite KL), q(t) = c_t / N over
    the same vocabulary; KL(p_s ‖ q) = Σ_t p_s ln(p_s / q). V is the
    REALIZED vocabulary size (count of the top-``vocab_size`` rows
    actually present), not the nominal parameter: on a corpus with
    fewer than ``vocab_size`` distinct tokens the nominal constant
    would leave p_s summing below 1 and the score would no longer be
    a true KL divergence (ADVICE r5).

    Scale shape: the corpus token stream is scanned and shuffled
    EXACTLY ONCE — one groupBy (source, token) builds the counter
    table, which is eagerly materialized and everything downstream
    derives from it. The counter table is ≤ |sources|·|distinct
    tokens| rows — far below the token stream it summarizes, but NOT
    corpus-size-independent (distinct tokens grow with the corpus,
    Heaps' law); at the 100 TB point this intermediate belongs in a
    parquet artifact or reliable checkpoint rather than pinned
    executor storage. Downstream: the corpus-wide vocabulary is the
    top-V of the counters summed over sources (identical counts to a
    second stream scan, without one), the vocab filter is a broadcast semi-join on
    the counters, and the |sources|×V grid is built by broadcast
    cross join — tiny, whatever the corpus size. (The previous shape
    scanned + shuffled the token stream twice: once for the
    vocabulary groupBy, once for the vocab-filtered (source, token)
    groupBy.) Each grid cell's contribution is rounded to 9 dp and
    summed through DECIMAL(25,9) (the 6-dp decimal_sum default would
    flatten the small per-cell terms), so the scores are
    addition-order-independent and hash-exact in the DuckDB twin.
    """
    from ..functions.ranking import ranked_topk
    from ..operators.dedup import _spread

    toks = _spread(docs).select("source", F.explode(_words()).alias("tok"))
    # the counters feed the vocabulary branch AND the filter branch of
    # one action → eager localCheckpoint (lazy persist races, see
    # shingle_postings); bounded at |sources|·|distinct tokens| rows.
    per_src_all = toks.groupBy("source", "tok").agg(F.count("*").alias("cst")).localCheckpoint()
    corpus_counts = per_src_all.groupBy("tok").agg(F.sum("cst").alias("c"))
    vocab = ranked_topk(corpus_counts, [F.desc("c"), F.col("tok")], vocab_size, rn="id").select(
        "tok"
    )
    per_src = per_src_all.join(F.broadcast(vocab), "tok")  # vocab tokens only
    return source_kl_from_counts(per_src, alpha=alpha)


def source_kl_from_counts(per_src: DataFrame, alpha: float = 0.5) -> DataFrame:
    """The stateless finishing step of the drift monitor: turn a
    (source, tok, cst) counter table — however maintained — into the
    per-source smoothed-KL scores of ``source_unigram_kl``. The
    corpus-wide distribution q, the total N, and the realized V are
    all derived from the SAME counter table (sums over sources), so a
    batch snapshot and an incrementally-maintained streaming counter
    state (streaming/pipelines.streaming_source_token_counts) produce
    identical scores — asserted in tests/test_streaming.py. Same
    9-dp/DECIMAL(25,9) float discipline as the one-shot query.

    Every input this face ever sees is a vocab-bounded counter table
    (≤ |sources|·V rows), so the grid join broadcasts it — no
    sort-merge machinery anywhere in the finisher."""
    corpus = per_src.groupBy("tok").agg(F.sum("cst").alias("ct"))
    # realized V + total in one one-row aggregate (both broadcast)
    tot = corpus.agg(F.sum("ct").alias("n_total"), F.count("*").alias("v_sz"))
    src_tot = per_src.groupBy("source").agg(F.sum("cst").alias("n_s"))
    grid = (
        src_tot.crossJoin(F.broadcast(corpus))
        .join(F.broadcast(per_src), ["source", "tok"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            (
                (F.coalesce("cst", F.lit(0)) + alpha)
                / (F.col("n_s") + alpha * F.col("v_sz"))
            ).alias("p"),
            (F.col("ct") / F.col("n_total")).alias("q"),
        )
    )
    contrib = grid.select(
        "source", "n_s", F.round(F.col("p") * F.log(F.col("p") / F.col("q")), 9).alias("c")
    )
    return (
        contrib.groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("c").cast("decimal(25,9)")).cast("double"), 9).alias("kl"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------------------- PII
# The pattern language is the subset shared by Java regex (Spark) and
# RE2 (the DuckDB oracle): character classes, bounded repetition, \b
# and \d (ASCII in both) — no lookaround or backreferences, which RE2
# rejects. Order matters and is part of the contract: emails first
# (their local parts can contain digit runs), then dotted IPs, then
# hyphenated phones, then bare account-number runs — during redaction
# each later pattern scans text in which earlier matches are already
# masked, so a phone fragment can never be re-matched as an account
# number.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\b\d{2}-\d{3}-\d{3}-\d{4}\b"),
    ("account", r"\b\d{6,}\b"),
)


def pii_scan_redact(
    df: DataFrame, text_col: str = "note", keep: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """PII detection + redaction in one pass (the RefinedWeb /
    CCNet-style pre-release scrub): per-row match counts for each
    pattern class plus the text with every match replaced by its
    ``<CLASS>`` tag. Pure JVM regexp built-ins (regexp_extract_all /
    regexp_replace) — whole-stage codegen, no Python, no shuffle: the
    op is embarrassingly row-local, so at 100 TB it rides the scan
    it's fused into and the only cost is the regex automata. Counts
    are computed on the RAW text (audit semantics: what was present),
    redaction is sequential in PII_PATTERNS order (scrub semantics:
    no double-masking). Hash-exact against a DuckDB twin running the
    identical patterns with RE2 ('g' flag — DuckDB replaces only the
    first match otherwise; Spark always replaces all)."""
    count_exprs = {
        name: F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
        for name, pat in PII_PATTERNS
    }
    redacted = F.col(text_col)
    for name, pat in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    total = None
    for expr in count_exprs.values():
        total = expr if total is None else total + expr
    return df.select(
        *keep,
        *[expr.alias(f"n_{name}") for name, expr in count_exprs.items()],
        total.alias("n_pii"),
        redacted.alias("redacted"),
    )


# ------------------------------------------------- model-based quality
# A fasttext-style linear document classifier (the "model-based
# quality filtering" stage of GPT-3/LLaMA-class data pipelines): the
# model is a (term, integer weight) table — in production the exported
# weights of a trained linear classifier; here a fixed vocabulary so
# the oracle can carry the identical table. Integer weights keep the
# weighted sum exact; the ONLY float op is one IEEE division per doc.
QUALITY_MODEL_WEIGHTS: tuple[tuple[str, int], ...] = (
    ("data", 3), ("query", 3), ("spark", 4), ("table", 2), ("join", 2),
    ("stream", 2), ("window", 2), ("filter", 2), ("merge", 1), ("sort", 1),
    ("the", -1), ("a", -1), ("of", -1), ("and", -1), ("to", -1),
    ("slow", -2), ("dup", -3),
)


def model_quality_score(
    docs: DataFrame, weights: DataFrame | None = None, threshold: float = 0.0
) -> DataFrame:
    """Score every document with a linear bag-of-words model and emit
    the keep/drop decision: score = Σ tf(term)·weight(term) / n_tokens
    (length-normalized so long documents aren't favored), keep =
    score ≥ threshold. Emits the audit columns a filtering report
    needs (token count, matched-term count, exact integer raw score).

    Scale shape: one row-local explode, a BROADCAST left join against
    the model (a classifier vocabulary is KB-MB — never shuffle the
    corpus for it), one groupBy(doc_id) with map-side partial
    aggregation — the corpus shuffles once regardless of model size.
    Documents with zero tokens vanish with the explode (nothing to
    score); the release pipeline treats missing as dropped.
    """
    from .dedup import _spread

    if weights is None:
        weights = docs.sparkSession.createDataFrame(
            list(QUALITY_MODEL_WEIGHTS), "term string, w long"
        )
    tok = _spread(docs).select("doc_id", F.explode(_words()).alias("term"))
    agg = (
        tok.join(F.broadcast(weights), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count("w").cast("int").alias("n_hits"),
            F.sum(F.coalesce("w", F.lit(0))).alias("raw"),
        )
    )
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "n_hits",
        F.col("raw").cast("long").alias("raw_score"),
        F.round(F.col("raw") / F.col("n_tokens"), 6).alias("score"),
        (F.col("raw") / F.col("n_tokens") >= threshold).alias("keep"),
    )


def classifier_eval(
    docs: DataFrame, threshold: float = 0.0, label_cutoff: float = 0.5
) -> DataFrame:
    """Evaluate the bag-of-words quality model AS A QUERY — the
    measurement every learned data filter ships with: ranking quality
    (ROC-AUC of ``model_quality_score``'s score against labels from
    the INDEPENDENT heuristic ``quality_score`` composite ≥
    ``label_cutoff``) plus the thresholded keep-decision's confusion
    counts and precision/recall. One row out.

    AUC is the Mann-Whitney rank-sum with midrank tie handling,
    computed EXACTLY in integers until the single final division:
    group documents by (6-dp) score, and for each group count
    documents in strictly-smaller groups via a theta join of the
    GROUPED table against itself (group-count², never corpus²; the
    same broadcast band-join strategy as the range joins) — then
    2U = Σ_g pos_g · (2·n_less_g + cnt_g + 1), AUC = (2U − n₁(n₁+1))
    / (2·n₁·n₀). Integer arithmetic commutes on any partitioning, so
    the whole evaluation is hash-exact; AUC is NULL when either class
    is empty. Zero-token documents (unscorable by the model) are
    excluded, mirroring the release pipeline's missing-means-dropped
    contract."""
    scores = model_quality_score(docs, threshold=threshold).select(
        "doc_id", "score", "keep"
    )
    labels = quality_score(docs).select(
        "doc_id", (F.col("quality") >= label_cutoff).alias("label")
    )
    j = scores.join(labels, "doc_id").where(F.col("label").isNotNull())
    g = j.groupBy("score").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("label").cast("long")).alias("pos"),
        F.sum((F.col("keep") & F.col("label")).cast("long")).alias("tp"),
        F.sum((F.col("keep") & ~F.col("label")).cast("long")).alias("fp"),
        F.sum((~F.col("keep") & F.col("label")).cast("long")).alias("fn"),
    )
    a, b = g.alias("a"), g.alias("b")
    less = (
        a.join(b, F.col("b.score") < F.col("a.score"), "left")
        .groupBy(F.col("a.score").alias("score"), F.col("a.cnt").alias("cnt"), F.col("a.pos").alias("pos"))
        .agg(F.coalesce(F.sum("b.cnt"), F.lit(0)).alias("n_less"))
    )
    u = less.agg(
        F.sum(F.col("pos") * (2 * F.col("n_less") + F.col("cnt") + 1)).alias("two_u"),
        F.sum("pos").alias("n_pos"),
        F.sum("cnt").alias("n_docs"),
    )
    conf = g.agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
    )
    n1, n0 = F.col("n_pos"), F.col("n_docs") - F.col("n_pos")
    auc = F.when(
        (n1 > 0) & (n0 > 0),
        F.round(
            (F.col("two_u") - n1 * (n1 + 1)) / (F.lit(2.0) * n1 * n0), 6
        ),
    )
    return (
        u.crossJoin(F.broadcast(conf))
        .select(
            F.col("n_docs").cast("int").alias("n_docs"),
            F.col("n_pos").cast("int").alias("n_pos"),
            (F.col("n_docs") - F.col("n_pos")).cast("int").alias("n_neg"),
            auc.alias("auc"),
            F.col("tp").cast("int").alias("tp"),
            F.col("fp").cast("int").alias("fp"),
            F.col("fn").cast("int").alias("fn"),
            F.when(F.col("tp") + F.col("fp") > 0,
                   F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6)).alias("precision"),
            F.when(F.col("tp") + F.col("fn") > 0,
                   F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6)).alias("recall"),
        )
    )
