"""Text analysis operators (north star): quality scoring, language ID,
token counting, rolling-hash fingerprinting.

All native column expressions — the regexes are kept in the syntax
subset Java regex and RE2 (DuckDB) interpret identically so every
operator has an exact oracle twin.
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aprs2influxdb_spark.functions.rounding import rhu

from aprs2influxdb_spark.functions.partitioning import spread_for_compute
from aprs2influxdb_spark.functions.plancache import memo
from aprs2influxdb_spark.operators.dedup import tokens_col


def _spread_docs(docs, id_col, text_col):
    """Narrow (id, text) projection spread to core count — the regex /
    array-fold scoring below is per-row CPU; see
    ``functions.partitioning``."""
    return spread_for_compute(docs.select(id_col, text_col))

# tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
}

# BPE-ish pretokenizer: letter runs, digit runs, single punctuation
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _quality_parts(text_col: str) -> dict:
    """Quality feature columns, shared by :func:`quality_features` and
    the composed :func:`select_training_docs` (expression reuse — the
    composed pipeline is ONE projection, not a join of operator
    outputs)."""
    toks = tokens_col(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    mean_tok_len = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / n_tokens
    n_punct = F.length(F.regexp_replace(F.col(text_col), "[^!-/:-@\\[-`{-~]", ""))
    punct_ratio = n_punct / n_chars
    sw = F.array([F.lit(w) for w in LANG_STOPWORDS["en"]])
    stopword_ratio = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / n_tokens
    score = (
        F.least(n_tokens / F.lit(50.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * 0.3
        + F.least(stopword_ratio * 5, F.lit(1.0)) * 0.3
    )
    return {
        "n_tokens": n_tokens,
        "mean_tok_len": mean_tok_len,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stopword_ratio,
        "score": score,
    }


def _lang_parts(text_col: str) -> tuple:
    """(pred_lang, best_hits) columns — see :func:`_quality_parts`."""
    toks = F.array_distinct(tokens_col(text_col))
    hits = {
        lang: F.size(F.array_intersect(toks, F.array([F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*hits.values())
    pred = (
        F.when(best <= 0, "und")
        .when(hits["en"] == best, "en")
        .when(hits["de"] == best, "de")
        .otherwise("fr")
    )
    return pred, best


def quality_features(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality features: token count, mean token length,
    punctuation ratio, stopword ratio, plus a blended 0-1 score."""
    p = _quality_parts(text_col)
    return _spread_docs(docs, id_col, text_col).select(
        F.col(id_col),
        p["n_tokens"].alias("n_tokens"),
        rhu(p["mean_tok_len"], 4).alias("mean_tok_len"),
        rhu(p["punct_ratio"], 4).alias("punct_ratio"),
        rhu(p["stopword_ratio"], 4).alias("stopword_ratio"),
        rhu(p["score"], 4).alias("quality_score"),
    )


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID: hit count per language's list,
    argmax with deterministic tie order en > de > fr, 'und'(etermined)
    when nothing hits."""
    pred, best = _lang_parts(text_col)
    return _spread_docs(docs, id_col, text_col).select(F.col(id_col), pred.alias("pred_lang"), best.alias("n_hits"))


def select_training_docs(
    docs: DataFrame, min_quality: float = 0.6, langs: tuple = ("en",),
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Composed training-data selection — the end-to-end prep query a
    pipeline runs before tokenization: quality gate + language gate +
    exact dedup (canonical = min id per content digest, with the
    surviving duplicate count).

    Plan shape at 100 TB: ONE narrow projection computes digest,
    quality score, and language (the operators compose as column
    expressions, not DataFrame joins — three scans and two joins
    collapse into zero of each); the gates filter BEFORE the dedup
    window, so the only shuffle keys the (already filtered) 16-byte
    digest.  The filter comparison uses the 4-decimal-rounded score on
    both engines, keeping the boundary deterministic."""
    from pyspark.sql import Window

    p = _quality_parts(text_col)
    pred, _best = _lang_parts(text_col)
    feats = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("text_md5"),
        rhu(p["score"], 4).alias("quality_score"),
        pred.alias("pred_lang"),
    )
    kept = feats.filter(
        (F.col("quality_score") >= min_quality) & F.col("pred_lang").isin(*langs)
    )
    w = Window.partitionBy("text_md5")
    return (
        kept.withColumn("rn", F.row_number().over(w.orderBy(id_col)))
        .withColumn("n_dups", F.count("*").over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "pred_lang", "quality_score", "n_dups")
    )


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens vs BPE-ish regex tokens per document."""
    ws = F.size(tokens_col(text_col))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0))
    return _spread_docs(docs, id_col, text_col).select(F.col(id_col), ws.alias("ws_tokens"), bpe.alias("bpe_tokens"))


def tokenizer_fertility(
    docs: DataFrame, text_col: str = "text", lang_col: str = "lang",
) -> DataFrame:
    """Tokenizer fertility and bytes-per-token by language — the
    standard multilingual curation diagnostic (how many subword tokens
    the tokenizer spends per whitespace word, and how many UTF-8 bytes
    each token covers, per language): languages the tokenizer serves
    poorly show high fertility / low bytes-per-token, which inflates
    their effective cost in a token-budgeted training mix (pairs with
    ``lang_balance_sample`` / ``source_mixture``).

    Corpus-level ratios (sum/sum, not mean-of-per-doc — short docs
    would otherwise dominate).  All three numerators/denominators are
    exact int64 sums fused into the scan projection, so aggregation
    order cannot move them; the two final divisions are rounded
    half-up to 6 on both engines.  Scale shape: ONE scan, one
    partial-agg groupBy on the tiny language key — no joins, no
    second pass."""
    ws = F.size(tokens_col(text_col)).cast("long")
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0)).cast("long")
    nbytes = F.octet_length(F.col(text_col)).cast("long")
    return (
        docs.select(F.col(lang_col).alias("lang"), ws.alias("w"), bpe.alias("t"), nbytes.alias("b"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("w").alias("sum_words"),
            F.sum("t").alias("sum_tokens"),
            F.sum("b").alias("sum_bytes"),
        )
        .select(
            "lang", "n_docs", "sum_words", "sum_tokens", "sum_bytes",
            rhu(F.col("sum_tokens").cast("double") / F.col("sum_words"), 6).alias("fertility"),
            rhu(F.col("sum_bytes").cast("double") / F.col("sum_tokens"), 6).alias("bytes_per_token"),
        )
    )


def feature_hash_vectors(
    docs: DataFrame, dim: int = 64,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashed bag-of-words vectors (Weinberger et al., ICML'09
    "hash trick"): every token hashes into one of ``dim`` buckets and
    the document becomes the integer count vector — the cheap,
    vocabulary-free doc embedding that bridges the text tables into
    the vector operators (cosine top-k, SRP buckets, JL projection
    all accept it).  Integer counts, no normalization: downstream
    cosines divide by the norms exactly once, under their own
    rounding discipline — normalizing here would bake in doubles.

    Scale shape: explode → (doc, bucket) partial-agg → per-doc
    map_from_entries reassembly (one id-keyed shuffle); the vector
    materializes as a ``dim``-element transform over a let-bound map
    — no pivot (a pivot plans ``dim`` conditional aggregates and a
    driver-side distinct-values job)."""
    from aprs2influxdb_spark.functions.hashing import portable_hash64

    cnt = (
        _spread_docs(docs, id_col, text_col)
        .select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
        .select(
            id_col,
            F.pmod(portable_hash64(F.col("term")), F.lit(dim)).alias("b"),
        )
        .groupBy(id_col, "b")
        .agg(F.count("*").alias("c"))
    )
    m = F.map_from_entries(F.collect_list(F.struct("b", "c")))
    vec = F.get(
        F.transform(
            F.array(m),
            lambda mm: F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(mm.getItem(i.cast("long")), F.lit(0).cast("long")),
            ),
        ),
        0,
    )
    return cnt.groupBy(id_col).agg(vec.alias("fhv"))


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` terms per document by TF-IDF — the keyword/feature-
    extraction step of a text pipeline.

    score = tf × ln(N / df), ranked per doc with a deterministic
    (rounded-score desc, term asc) tie-break.

    Scale shape: explode → (doc, term) count (map-side partial agg
    soaks up within-doc repeats before the shuffle), then document
    frequency via a window over the term — the same shuffle key the
    inverted index would use, and no join against a separate df table.
    The corpus size N is a 1-row aggregate broadcast into the plan,
    never a driver-side collect.  Final per-doc ranking re-shuffles on
    the doc id.  Ranking uses the 6-decimal-rounded score so ln() ULP
    noise between engines can't flip an ordering."""
    from pyspark.sql import Window

    n_docs = docs.select(F.count("*").alias("n_docs"))
    tf = (
        _spread_docs(docs, id_col, text_col)
        .select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    wt = Window.partitionBy("term")
    wd = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        tf.withColumn("df", F.count("*").over(wt))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", rhu(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
        .withColumn("rk", F.row_number().over(wd))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tfidf", "rk")
    )


def vocabulary(
    docs: DataFrame, top_n: int = 100, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary: the ``top_n`` most frequent terms with
    occurrence and document frequencies — the vocab-building pass
    before tokenizer training.

    Explode → one groupBy on the term (map-side partial agg absorbs
    within-partition repeats; df via ``count_distinct`` inside the
    same aggregate, no second pass) → global top-n as
    TakeOrderedAndProject (per-partition top-n, driver merges
    n·partitions candidates — no global sort).  Deterministic
    tie-break on the term."""
    return (
        _spread_docs(docs, id_col, text_col)
        .select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy("term")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct(F.col(id_col)).alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
        .limit(top_n)
    )


def unigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Unigram language-model quality score: each document's mean
    negative log-probability under the corpus's own unigram
    distribution — the KenLM-style perplexity-proxy filter of CCNet/
    Gopher pipelines, with the corpus itself as the LM.  Low score =
    common boilerplate; high score = rare-token gibberish; quality
    filters keep the middle band.

    Cross-engine determinism: the per-term neg-logprob is INTEGERIZED
    (micro-nats: ``floor(ln(total/cf)·1e6 + .5)`` as int64) before the
    per-doc sum, so the aggregation is exact integer arithmetic —
    bit-identical on any engine in any summation order.  Only then is
    the (identical) integer divided and rounded.  Rounding a float
    sum here would be wrong the way ``hier_rollup``'s avg was: ideal
    half-grid sums flip under engine-dependent order.

    Scale shape: explode → (doc, term) partial-agg count, corpus term
    frequency via a window on the term (the shuffle an inverted index
    would do anyway), the scalar total broadcast from a 1-row
    aggregate, final per-doc sum shuffles on the id.  Max micro-nat
    value is ~ln(total)·1e6 ≈ 26e6 at 100 T tokens; a 1 M-token
    document sums to ~2.6e13 — far inside int64."""
    from pyspark.sql import Window

    tf = (
        _spread_docs(docs, id_col, text_col)
        .select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    wt = Window.partitionBy("term")
    total = tf.agg(F.sum("tf").alias("total_tokens"))
    inlp = F.floor(
        F.log(F.col("total_tokens").cast("double") / F.col("cf")) * 1e6 + F.lit(0.5)
    ).cast("long")
    return (
        tf.withColumn("cf", F.sum("tf").over(wt))
        .crossJoin(F.broadcast(total))
        .withColumn("inlp", inlp)
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("inlp")).alias("s"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            rhu(F.col("s") / (F.col("n_tokens") * F.lit(1e6)), 4).alias("avg_nll"),
        )
    )


def dsir_weights(
    docs: DataFrame, target_lang: str = "en", n_buckets: int = 1024,
    text_col: str = "text", id_col: str = "doc_id", lang_col: str = "lang",
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023,
    arXiv:2302.03169): score every raw document by the log-likelihood
    ratio of its hashed unigram features under a TARGET-domain bag-of-
    words model vs the RAW-corpus model — the importance weight that
    resamples a web-scale corpus toward a target distribution (here:
    the ``target_lang`` slice stands in for the target domain).
    High weight = looks like the target; the paper then Gumbel-top-k
    samples by weight (compose with the deterministic sampling family
    here).

    Per-bucket log-ratio, add-one smoothed:
    ``llr(b) = ln( ((t_b+1)·(R+B)) / ((r_b+1)·(T+B)) )`` with t/r the
    target/raw bucket counts, T/R the totals, B the bucket count —
    computed as ONE ln of an integer ratio and INTEGERIZED to
    micro-nats (the :func:`unigram_logprob` discipline) before the
    per-doc sum, so cross-engine summation order cannot matter.
    Output: (doc_id, n_tokens, dsir_w µ-nat sum as int64, avg_llr).

    Scale shape: tokens hash into ``n_buckets`` features — the
    hashed-feature trick IS the scale lever (bucket stats are
    B-sized, broadcastable, however large the corpus); one
    (doc, bucket) partial-agg shuffle, bucket stats via a window on
    the bucket id, scalar totals broadcast from a 1-row aggregate,
    final per-doc sum shuffles on the id.  |llr| ≤ ln(max ratio)
    ≈ 26 µ-nat-millions at 100 T tokens — int64-safe as in
    unigram_logprob."""
    from pyspark.sql import Window

    from aprs2influxdb_spark.functions.hashing import portable_hash64

    tf = (
        spread_for_compute(docs.select(id_col, text_col, lang_col))
        .select(
            F.col(id_col),
            F.col(lang_col),
            F.explode(tokens_col(text_col)).alias("term"),
        )
        .select(
            id_col,
            F.pmod(portable_hash64(F.col("term")), F.lit(n_buckets)).alias("b"),
            F.when(F.col(lang_col) == target_lang, F.lit(1)).otherwise(F.lit(0)).alias("is_t"),
        )
        .groupBy(id_col, "b")
        .agg(F.count("*").alias("tf"), F.first("is_t").alias("is_t"))
    )
    wb = Window.partitionBy("b")
    totals = tf.agg(
        F.sum("tf").alias("R"),
        F.sum(F.col("tf") * F.col("is_t")).alias("T"),
    )
    # one ln of one integer ratio -> one integerization (micro-nats)
    llr = F.floor(
        F.log(
            ((F.col("t_b") + 1) * (F.col("R") + F.lit(n_buckets))).cast("double")
            / ((F.col("r_b") + 1) * (F.col("T") + F.lit(n_buckets))).cast("double")
        ) * 1e6 + F.lit(0.5)
    ).cast("long")
    return (
        tf.withColumn("r_b", F.sum("tf").over(wb))
        .withColumn("t_b", F.sum(F.col("tf") * F.col("is_t")).over(wb))
        .crossJoin(F.broadcast(totals))
        .withColumn("llr", llr)
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("llr")).alias("dsir_w"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "dsir_w",
            rhu(F.col("dsir_w") / (F.col("n_tokens") * F.lit(1e6)), 4).alias("avg_llr"),
        )
    )


def rolling_fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Polynomial rolling hash over the document's tokens:
    h = fold(h * 31 + hash(token)) mod 1e9+7 — an order-sensitive
    fingerprint (reordered near-dups hash differently, unlike
    ``fingerprint_dedup``)."""
    from aprs2influxdb_spark.functions.hashing import portable_hash64

    h = F.aggregate(
        tokens_col(text_col),
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * 31 + F.pmod(portable_hash64(t), F.lit(1_000_000_007)), F.lit(1_000_000_007)),
    )
    return _spread_docs(docs, id_col, text_col).select(F.col(id_col), h.alias("fingerprint"))


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition quality signals per document: the
    fraction of all bigrams taken by the single most frequent bigram
    (boilerplate / looping-text detector) and the distinct-token
    ratio (vocabulary collapse detector).  Docs with fewer than two
    tokens have no bigrams and are excluded on both engines.

    Plan shape: NON-distinct bigram hashes (Horner over per-token
    portable hashes — same let-binding trick as
    ``functions.hashing.hashed_shingles``, which cannot be reused
    because it dedups shingles and the mode count needs multiplicity),
    one explode, then a two-level aggregate — (doc, bigram) counts,
    then per-doc max/sum — so the mode is found by the shuffle's
    combiner, never by a per-doc in-memory map.  Token counts ride
    the exploded rows as two ints and come back out via ``min``."""
    from aprs2influxdb_spark.functions.hashing import SHINGLE_BASE, SHINGLE_P, portable_hash64

    toks = tokens_col(text_col)
    th = F.transform(toks, lambda t: F.pmod(portable_hash64(t), F.lit(SHINGLE_P)))

    def _bigrams(h):
        idx = F.sequence(F.lit(0), F.size(h) - 2)
        return F.transform(
            idx, lambda i: F.pmod(F.get(h, i) * SHINGLE_BASE + F.get(h, i + 1), F.lit(SHINGLE_P))
        )

    base = (
        _spread_docs(docs, id_col, text_col)
        .select(
            F.col(id_col),
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct"),
            F.get(F.transform(F.array(th), _bigrams), 0).alias("bigrams"),
        )
        .filter(F.col("n_tokens") >= 2)
    )
    counts = (
        base.select(id_col, "n_tokens", "n_distinct", F.explode("bigrams").alias("bg"))
        .groupBy(id_col, "bg")
        .agg(
            F.count("*").alias("cnt"),
            F.min("n_tokens").alias("n_tokens"),
            F.min("n_distinct").alias("n_distinct"),
        )
    )
    return (
        counts.groupBy(id_col)
        .agg(
            F.min("n_tokens").alias("n_tokens"),
            F.min("n_distinct").alias("n_distinct"),
            F.max("cnt").alias("top_cnt"),
            F.sum("cnt").alias("n_bigrams"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            rhu(F.col("top_cnt") / F.col("n_bigrams"), 4).alias("top_bigram_frac"),
            rhu(F.col("n_distinct") / F.col("n_tokens"), 4).alias("distinct_ratio"),
        )
    )


def blocklist_stats(
    docs: DataFrame, terms: tuple = ("vector", "stream", "big"),
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Blocklist screening (bad-words / contamination-term filtering):
    per document containing at least one blocklisted token, the hit
    count and hit fraction.  The same shape serves PII-pattern
    scrubbing with a regex list instead of a token list.

    Narrow projection + filter — zero shuffles; the token-membership
    test is an array filter against a literal array, entirely inside
    whole-stage codegen."""
    toks = tokens_col(text_col)
    bl = F.array(*[F.lit(t) for t in terms])
    n_blocked = F.size(F.filter(toks, lambda t: F.array_contains(bl, t)))
    return (
        _spread_docs(docs, id_col, text_col)
        .select(
            F.col(id_col),
            n_blocked.alias("n_blocked"),
            rhu(n_blocked / F.size(toks), 4).alias("blocked_frac"),
        )
        .filter(F.col("n_blocked") > 0)
    )


def chunk_documents(
    docs: DataFrame, window: int = 64, stride: int = 48,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window token chunking (RAG / context-window prep):
    split each document into ``window``-token chunks starting every
    ``stride`` tokens, keeping the overlapping tail so no token is
    dropped.  Chunk starts are ``0, stride, 2·stride, …`` up to the
    last start position below the token count.

    Narrow per-row explode — chunk generation is a lambda over the
    token array, the only row amplification is the ~n_tokens/stride
    output chunks per doc, and nothing shuffles: at 100 TB this is a
    pure map stage that parallelizes with the input partitioning."""
    toks = tokens_col(text_col)

    def _chunks(t):
        starts = F.sequence(
            F.lit(0), F.floor(F.greatest(F.size(t) - 1, F.lit(0)) / stride) * stride, F.lit(stride)
        )
        return F.transform(starts, lambda s: F.slice(t, s + 1, window))

    chunks = F.get(F.transform(F.array(toks), _chunks), 0)
    return (
        _spread_docs(docs, id_col, text_col)
        .select(F.col(id_col), F.posexplode(chunks).alias("chunk_id", "chunk_toks"))
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            F.size("chunk_toks").alias("n_chunk_tokens"),
            F.array_join("chunk_toks", " ").alias("chunk_text"),
        )
    )


def source_mixture(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    source_col: str = "source", group_col: str = "lang",
) -> DataFrame:
    """Data-mixture report: per (source, lang), document count, token
    count, and share of all tokens — the table a training run's
    mixture weights are tuned against.

    One map-side-combined aggregate over (source, lang) plus a
    broadcast of the single-row global total; the token share divides
    two exact integer counts, so the 6dp-rounded share is
    engine-reproducible."""
    per = (
        spread_for_compute(docs.select(text_col, source_col, group_col))
        .select(source_col, group_col, F.size(tokens_col(text_col)).alias("n_t"))
        .groupBy(source_col, group_col)
        .agg(F.count("*").alias("n_docs"), F.sum("n_t").alias("n_tokens"))
    )
    total = per.agg(F.sum("n_tokens").alias("total_tokens"))
    return per.crossJoin(F.broadcast(total)).select(
        source_col,
        group_col,
        "n_docs",
        "n_tokens",
        rhu(F.col("n_tokens") / F.col("total_tokens"), 6).alias("token_share"),
    )


def perplexity_bands(
    docs: DataFrame,
    t_head_micro: int = 3_400_000,
    t_mid_micro: int = 3_404_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity banding: score every document under the
    corpus unigram LM (see :func:`unigram_logprob`) and split the
    corpus into head / middle / tail quality bands, reporting per
    (source, band) document counts, token counts, and mean score —
    the report a curation pipeline uses to pick its keep-band and
    per-source mixture.

    Cross-engine determinism: banding compares the exact INTEGER
    micro-nat sum ``s`` against ``threshold · n_tokens`` (no float
    division before the comparison), and the per-band mean is a sum
    of per-doc integer micro-nat means — order-independent integer
    arithmetic end-to-end, divided and rounded once at the end.

    Scale shape: adds to :func:`unigram_logprob`'s plan only a
    doc_id join for the source column (fact-to-fact co-shuffle) and
    a tiny (source × 3)-row final aggregate."""
    from pyspark.sql import Window

    tf = (
        _spread_docs(docs, id_col, text_col)
        .select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    wt = Window.partitionBy("term")
    total = tf.agg(F.sum("tf").alias("total_tokens"))
    inlp = F.floor(
        F.log(F.col("total_tokens").cast("double") / F.col("cf")) * 1e6 + F.lit(0.5)
    ).cast("long")
    per_doc = (
        tf.withColumn("cf", F.sum("tf").over(wt))
        .crossJoin(F.broadcast(total))
        .withColumn("inlp", inlp)
        .groupBy(id_col)
        .agg(F.sum("tf").alias("n_tokens"), F.sum(F.col("tf") * F.col("inlp")).alias("s"))
    )
    banded = per_doc.join(docs.select(id_col, "source"), id_col).select(
        "source",
        F.when(F.col("s") < F.lit(t_head_micro) * F.col("n_tokens"), "head")
        .when(F.col("s") < F.lit(t_mid_micro) * F.col("n_tokens"), "middle")
        .otherwise("tail")
        .alias("band"),
        "n_tokens",
        # exact integer micro-nat mean: floor(s/n + 0.5) = (2s + n) div 2n
        F.expr("(2 * s + n_tokens) div (2 * n_tokens)").alias("m"),
    )
    return banded.groupBy("source", "band").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("band_tokens"),
        rhu(F.sum("m") / (F.count("*") * F.lit(1e6)), 4).alias("mean_nll"),
    )


BM25_QUERIES = [
    ("q1", ["spark", "join"]),
    ("q2", ["stream", "window", "batch"]),
    ("q3", ["hash", "table", "scan"]),
]
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame, queries: list | None = None, k: int = 10,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval over the corpus: top-``k`` documents per query —
    the ranked-retrieval surface a curation pipeline uses for
    quality-proximity selection and targeted decontamination audits
    (Okapi BM25, Robertson et al.; k1=1.2, b=0.75).

    Cross-engine determinism: each (term, doc) partial score is
    INTEGERIZED (micro-units: ``floor(idf·tfnorm·1e6 + .5)`` as
    int64) before the per-(query, doc) sum — exact integer arithmetic
    in any order, same discipline as :func:`unigram_logprob` — and
    ranking compares the integer score with doc-id tie-break.

    Scale shape: the corpus moves ONCE — explode → (doc, term) tf
    partial-agg (doc length rides the rows, no second scan); the
    query term list is a literal broadcast, so only matching posting
    rows survive the semi-filter; per-term df aggregates over those
    posting rows only; N and avgdl come from one tiny scalar
    aggregate cross-joined as a broadcast.  Final score/rank shuffles
    only (query, doc) pairs that matched ≥1 term."""
    from pyspark.sql import Window

    queries = queries if queries is not None else BM25_QUERIES
    # distinct per query: a term repeated in a query's list must not
    # double its partial score (standard Okapi treats the query as a
    # term SET; qtf weighting would be an explicit extension)
    qrows = sorted({(qid, t) for qid, terms in queries for t in terms})
    qdf = F.broadcast(
        docs.sparkSession.createDataFrame(qrows, ["query_id", "term"])
    )
    toks = tokens_col(text_col)
    # the query-term filter sits BELOW the (doc, term) aggregation, on
    # the exploded rows themselves (round 11, guide §2.3 "project/filter
    # before the exchange"): only occurrences of the |query vocabulary|
    # terms reach the tf exchange, instead of every distinct (doc, term)
    # pair of the corpus.  dl is computed from the full token array
    # BEFORE the filter, and df/idf count matching posting rows only in
    # either formulation, so every output value is unchanged.
    qterms = sorted({t for _, t in qrows})
    tf = (
        _spread_docs(docs, id_col, text_col)
        .select(F.col(id_col), F.size(toks).alias("dl"), F.explode(toks).alias("term"))
        .filter(F.col("term").isin(qterms))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"), F.min("dl").alias("dl"))
    )
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).alias("total_len"),
    )
    # df over DISTINCT query terms (a term shared by two queries must
    # not double-count); tf is already distinct per (doc, term) and
    # already restricted to the query vocabulary, so the posting-row
    # count IS the document frequency
    posting = tf
    dfreq = posting.groupBy("term").agg(F.count("*").alias("df"))
    matched = posting.join(qdf, "term")
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tfnorm = F.col("tf") / (
        F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl)
    )
    part = F.floor(idf * tfnorm * 1e6 + F.lit(0.5)).cast("long")
    w = Window.partitionBy("query_id").orderBy(F.col("score_micro").desc(), F.col(id_col).asc())
    return (
        matched.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("part", part)
        .groupBy("query_id", id_col)
        .agg(F.sum("part").alias("score_micro"), F.count("*").alias("n_terms"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", F.col(id_col), "rk", "n_terms",
            rhu(F.col("score_micro") / 1e6, 4).alias("bm25"),
        )
    )


def char_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Per-document character Shannon entropy — the classic low-entropy
    quality rule (Gopher/C4 lineage): keyboard-mash and repeated-char
    spam score near 0 nats, natural prose lands ~3-4.5 nats; filters
    drop both tails.

    Cross-engine determinism follows the :func:`unigram_logprob`
    discipline: the per-character term ``ln(n/cnt)`` is INTEGERIZED
    (micro-nats, half-up) *before* the per-doc sum, so aggregation is
    exact integer arithmetic in any order; the single final division
    is rounded half-up to 4 dp.

    Scale shape: chars explode to (doc, char) rows but the groupBy
    partial-aggregates map-side down to ≤ |alphabet| rows per doc
    before the shuffle on ``(id, char)``; the final per-doc sum
    shuffles id-sized rows.  NULL text produces no char rows and drops
    out; empty text yields one ``''`` char row (entropy 0) on BOTH
    engines — split of '' is [''] in Spark and DuckDB alike."""
    chars = (
        _spread_docs(docs, id_col, text_col)
        # zero-width split "(?!\z)" = one element per character with no
        # trailing empty; \z (absolute end), NOT $, because Java's $
        # also matches before a trailing newline and would fuse the
        # final char with it — diverging from DuckDB's
        # string_split(text, '') twin on newline-terminated docs
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), r"(?!\z)")).alias("ch"))
        .groupBy(id_col, "ch")
        .agg(F.count("*").alias("cnt"))
    )
    ent_term = F.floor(
        F.log(F.col("n").cast("double") / F.col("cnt")) * 1e6 + F.lit(0.5)
    ).cast("long")
    from pyspark.sql import Window

    wd = Window.partitionBy(id_col)
    return (
        chars.withColumn("n", F.sum("cnt").over(wd))
        .withColumn("t", F.col("cnt") * ent_term)
        .groupBy(id_col)
        .agg(
            F.max("n").alias("n_chars"),
            F.count("*").alias("n_distinct_chars"),
            F.sum("t").alias("s"),
        )
        .select(
            F.col(id_col),
            "n_chars",
            "n_distinct_chars",
            rhu(F.col("s") / (F.col("n_chars") * F.lit(1e6)), 4).alias("entropy_nats"),
        )
    )


# hashed-classifier constants, shared with the oracle SQL
QC_BUCKETS = 4096
QC_WEIGHT_RANGE = 2001  # weights in [-1000, +1000] integer micro-units


def quality_classifier(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style hashed linear text classifier: each token hashes
    into one of ``QC_BUCKETS`` feature buckets, every bucket carries a
    fixed integer weight, and the document score is the sum of its
    tokens' weights — the shape of production quality/toxicity
    filters (a learned weight table would replace the hash-derived
    one; the plan is identical).

    The weight table is DERIVED, not stored: ``w(b) =
    portable_hash64('qw#' || b) % 2001 - 1000`` — both engines
    recompute it bit-identically, so the entry needs no side table
    and stays exact (pure integer arithmetic end-to-end).

    Scale shape: ZERO shuffles — tokenize, hash, weight-sum are all
    per-row array-fold expressions inside one codegen'd projection;
    at 100 TB this is a pure map over the corpus scan, the cheapest
    plan shape there is."""
    from aprs2influxdb_spark.functions.hashing import portable_hash64

    def _w(tok):
        b = F.pmod(portable_hash64(tok), F.lit(QC_BUCKETS))
        return F.pmod(
            portable_hash64(F.concat(F.lit("qw#"), b.cast("string"))),
            F.lit(QC_WEIGHT_RANGE),
        ) - F.lit(1000)

    toks = tokens_col(text_col)
    score = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + _w(t))
    return _spread_docs(docs, id_col, text_col).select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        score.alias("score_micro"),
        (score > 0).alias("keep"),
    )


def bigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Bigram language-model scoring with add-one backoff-free
    smoothing: each document's mean negative log-probability of its
    token stream under the corpus's own bigram counts,
    ``P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V)`` —
    the next rung above :func:`unigram_logprob` on the KenLM-style
    quality ladder (captures local word order, so shuffled-token spam
    scores far worse than under the unigram model).

    Same integer discipline: per-bigram neg-logprobs are micro-nat
    integers BEFORE the per-doc sum; Laplace smoothing keeps every
    probability finite without float backoff weights.

    Scale shape: one explode to (doc, prev, cur) bigram rows (narrow —
    built by zipping the token array against its tail in-row), a
    partial-agg groupBy per distinct bigram, corpus counts via one
    window on the bigram's head token, and the per-doc sum shuffles
    id-sized rows — the unigram plan plus one column."""
    from pyspark.sql import Window

    toks = tokens_col(text_col)
    big = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
        ),
        lambda s: s.cur.isNotNull(),
    )
    # lazy checkpoint: the bigram count table feeds the count windows
    # AND the vocab branch — uncheckpointed, the vocab aggregate
    # re-runs the whole tokenize/explode/groupBy subtree
    tf = (
        _spread_docs(docs, id_col, text_col)
        .select(F.col(id_col), F.explode(big).alias("bg"))
        .select(F.col(id_col), F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
        .groupBy(id_col, "prev", "cur")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    wb = Window.partitionBy("prev", "cur")
    wp = Window.partitionBy("prev")
    vocab = (
        tf.select(F.explode(F.array("prev", "cur")).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    inlp = F.floor(
        F.log(
            (F.col("cp").cast("double") + F.col("v"))
            / (F.col("cb").cast("double") + F.lit(1.0))
        ) * 1e6
        + F.lit(0.5)
    ).cast("long")
    return (
        tf.withColumn("cb", F.sum("tf").over(wb))
        .withColumn("cp", F.sum("tf").over(wp))
        .crossJoin(F.broadcast(vocab))
        .withColumn("inlp", inlp)
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("inlp")).alias("s"),
        )
        .select(
            F.col(id_col),
            "n_bigrams",
            rhu(F.col("s") / (F.col("n_bigrams") * F.lit(1e6)), 4).alias("avg_nll"),
        )
    )


def interp_bigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    lam: float = 0.7,
) -> DataFrame:
    """Jelinek-Mercer interpolated bigram scoring — the classic
    alternative to :func:`bigram_logprob`'s Laplace smoothing:
    ``P(w|p) = λ·P_ML(w|p) + (1−λ)·P_uni(w)``, where the unigram
    backoff distribution is taken over bigram-second positions (so
    both mixture components come from the SAME one count table and no
    second corpus pass exists).  Interpolation reacts very differently
    from Laplace on rare continuations of common heads — the reason
    LM toolkits ship both.

    Determinism: both mixture components are ratios of exact integer
    counts, mixed with the shared ``lam`` literal, and the single
    ``ln`` lands in floored micro-nats before the per-doc integer sum
    — the house LM discipline.  Plan shape identical to
    :func:`bigram_logprob` (one bigram groupBy, three count windows,
    id-sized doc rollup)."""
    from pyspark.sql import Window

    toks = tokens_col(text_col)
    big = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
        ),
        lambda s: s.cur.isNotNull(),
    )
    tf = (
        _spread_docs(docs, id_col, text_col)
        .select(F.col(id_col), F.explode(big).alias("bg"))
        .select(F.col(id_col), F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
        .groupBy(id_col, "prev", "cur")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    wb = Window.partitionBy("prev", "cur")
    wp = Window.partitionBy("prev")
    wc = Window.partitionBy("cur")
    total = tf.agg(F.sum("tf").alias("nb"))
    mix = (
        F.lit(lam) * (F.col("cb").cast("double") / F.col("cp"))
        + F.lit(1.0 - lam) * (F.col("cu").cast("double") / F.col("nb"))
    )
    inlp = F.floor(-F.log(mix) * 1e6 + F.lit(0.5)).cast("long")
    return (
        tf.withColumn("cb", F.sum("tf").over(wb))
        .withColumn("cp", F.sum("tf").over(wp))
        .withColumn("cu", F.sum("tf").over(wc))
        .crossJoin(F.broadcast(total))
        .withColumn("inlp", inlp)
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("inlp")).alias("s"),
        )
        .select(
            F.col(id_col),
            "n_bigrams",
            rhu(F.col("s") / (F.col("n_bigrams") * F.lit(1e6)), 4).alias("avg_nll"),
        )
    )


def top_ngrams(
    docs: DataFrame, n: int = 2, top_k: int = 50,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level top-k n-gram table (readable strings, not hashes):
    the n-gram count inventory that seeds LM smoothing tables,
    boilerplate blocklists, and contamination probes.  One explode to
    n-gram rows (built in-row by zipping the token array against its
    shifted self), one partial-agg groupBy, and a WindowGroupLimit
    global top-k — ties broken lexicographically."""
    from pyspark.sql import Window

    toks = tokens_col(text_col)
    # guard: Spark's sequence(1, 0) DESCENDS instead of returning
    # empty, so docs shorter than n must short-circuit to no grams
    # (matching DuckDB's empty range)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
    return (
        _spread_docs(docs, id_col, text_col)
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
    )


def temperature_mixture(
    docs: DataFrame, text_col: str = "text", source_col: str = "source",
) -> DataFrame:
    """Temperature-scaled source sampling weights — the multilingual-LM
    mixture rule (alpha-smoothing, here alpha = 0.5): sample source
    ``s`` with probability proportional to ``n_tokens(s)^0.5`` instead
    of its natural share, up-weighting low-resource sources.  Emits,
    per source, the natural token share, the temperature weight, the
    boost factor (weight / natural share), and the effective epoch
    count if the full corpus token budget were drawn under the
    temperature weights (epochs > 1 on small sources = repeated data).

    Cross-engine determinism: ``n^0.5`` is IEEE ``sqrt`` (correctly
    rounded everywhere) of an exact integer, INTEGERIZED to micro-units
    before the denominator sum, so every ratio divides identical exact
    integers; the remaining float ops are order-fixed single
    expressions over already-identical doubles.

    Scale shape: one map-side-combined aggregate over the (few-valued)
    source key, then a broadcast of the single-row totals — the same
    two-stage shape as ``source_mixture``; no per-row work beyond the
    token count."""
    per = (
        spread_for_compute(docs.select(text_col, source_col))
        .select(source_col, F.size(tokens_col(text_col)).alias("n_t"))
        .groupBy(source_col)
        .agg(F.count("*").alias("n_docs"), F.sum("n_t").alias("n_tokens"))
        .withColumn(
            "msqrt",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1e6 + F.lit(0.5)).cast("long"),
        )
    )
    totals = per.agg(
        F.sum("n_tokens").alias("total_tokens"), F.sum("msqrt").alias("total_msqrt")
    )
    w = rhu(F.col("msqrt") / F.col("total_msqrt"), 6)
    nat = rhu(F.col("n_tokens") / F.col("total_tokens"), 6)
    return per.crossJoin(F.broadcast(totals)).select(
        source_col,
        "n_docs",
        "n_tokens",
        nat.alias("natural_share"),
        w.alias("temp_weight"),
        rhu(w / nat, 4).alias("boost"),
        rhu(
            w * F.col("total_tokens").cast("double") / F.col("n_tokens").cast("double"), 4
        ).alias("epochs_at_budget"),
    )


def heaps_law_fit(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law fit: least-squares ``ln V = ln k + β·ln N`` over the
    corpus growth curve — distinct vocabulary V against cumulative
    tokens N, one point per document in id order.  The companion
    diagnostic to :func:`zipf_fit`: natural text grows vocabulary at
    β ≈ 0.4–0.6; template corpora flatten toward 0, gibberish climbs
    toward 1.  Also the capacity-planning curve for tokenizer /
    vocab builds (predicts distinct-term counts at 100× the corpus).

    The cumulative-vocabulary trick: a term contributes to V_d for
    every d ≥ its FIRST document, so V_d is the running sum of
    first-occurrence counts — one ``min(doc_id)`` per term plus a
    running sum over the doc axis, never a quadratic rescan.  The
    running windows order on the doc id over doc-LEVEL rows (corpus
    rows aggregate away first; the single-partition window sees one
    row per document, the same O(docs) frame ``zipf_fit``'s top-k
    ranks).  ln values are integerized to micro-nats before the
    regression sums; the closed form runs in DECIMAL(38,0) exactly
    like zipf_fit."""
    from pyspark.sql import Window

    tok = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("term")
    )
    wd = Window.orderBy(F.col(id_col).asc()).rowsBetween(Window.unboundedPreceding, 0)
    ntok = tok.groupBy(id_col).agg(F.count("*").alias("nt"))
    vnew = (
        tok.groupBy("term").agg(F.min(id_col).alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("vn"))
    )
    pts = (
        ntok.join(vnew, id_col, "left")
        .withColumn("N", F.sum("nt").over(wd))
        .withColumn("V", F.sum(F.coalesce(F.col("vn"), F.lit(0))).over(wd))
        .select(
            F.floor(F.log(F.col("N").cast("double")) * 1e6 + F.lit(0.5)).cast("long").alias("x"),
            F.floor(F.log(F.col("V").cast("double")) * 1e6 + F.lit(0.5)).cast("long").alias("y"),
        )
    )
    # product terms are ~2.25e14 (micro-nat ln² values); their SUM
    # crosses int64 near 40k docs (found by the round-9 full sf1
    # sweep as an ANSI ArithmeticException) — accumulate in
    # DECIMAL(38,0), mirrored by HUGEINT sums in the oracle
    d38 = "decimal(38,0)"
    sums = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y").cast(d38)).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x").cast(d38)).alias("sxx"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (dec("n") * dec("sxy") - dec("sx") * dec("sy")).cast("double")
    den = (dec("n") * dec("sxx") - dec("sx") * dec("sx")).cast("double")
    beta = rhu(num / den, 6)
    ln_k = rhu(
        (F.col("sy").cast("double") / 1e6 - beta * (F.col("sx").cast("double") / 1e6))
        / F.col("n").cast("double"),
        6,
    )
    return sums.select(
        F.col("n").alias("n_points"), beta.alias("beta"), ln_k.alias("ln_k")
    )


def zipf_fit(
    docs: DataFrame, top_k: int = 1000, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: least-squares slope and
    intercept of ``ln(frequency)`` against ``ln(rank)`` for the top-k
    terms — the classic corpus-health diagnostic (natural text fits
    slope ~ -1; template/boilerplate corpora flatten, gibberish
    steepens).  Fitting the HEAD of the distribution (top_k ranks) is
    the standard practice and, with k fixed, keeps every sum bounded
    independent of corpus size.

    Cross-engine determinism: rank is a deterministic ``row_number``
    (frequency desc, term asc); ``ln`` values are integerized to
    micro-nats BEFORE summation so all five regression sums are exact
    int64 (max |sum(x*y)| ~ k * ln(k)e6 * ln(cf)e6 ~ 1e17 at k = 1000
    even for a 100 T-token corpus); the closed-form slope's final
    products are computed in DECIMAL(38,0)/HUGEINT (n*sum(xy) and
    sum(x)*sum(y) overflow int64) and only the two identical exact
    integers are converted to double for the one division.

    Scale shape: one groupBy on the term (map-side combined), a
    WindowGroupLimit top-k (partial bottom-k per map task — no global
    sort materialization), and a single-row final aggregate."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cf").desc(), F.col("term").asc())
    ranked = (
        _spread_docs(docs, id_col, text_col)
        .select(F.explode(tokens_col(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cf"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.floor(F.log(F.col("rank").cast("double")) * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("x"),
            F.floor(F.log(F.col("cf").cast("double")) * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("y"),
        )
    )
    sums = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (dec("n") * dec("sxy") - dec("sx") * dec("sy")).cast("double")
    den = (dec("n") * dec("sxx") - dec("sx") * dec("sx")).cast("double")
    slope = rhu(num / den, 6)
    intercept = rhu(
        (F.col("sy").cast("double") / 1e6 - slope * (F.col("sx").cast("double") / 1e6))
        / F.col("n").cast("double"),
        6,
    )
    return sums.select(
        F.col("n").alias("n_terms"), slope.alias("slope"), intercept.alias("intercept")
    )


# ---------------------------------------------------------------- BPE

#: merges learned by the BPE entries (kept small so the oracle SQL
#: unrolls to a readable WITH-chain; raise for real tokenizer runs)
BPE_MERGES = 6
_BPE_SEP = "·"  # '·' — cannot appear in whitespace-split ASCII tokens

def _bpe_cache_key(docs: DataFrame, k: int, text_col: str, strategy: str):
    """Data-aware memo key: (sorted input files with local
    (mtime_ns, size) stamps, logical plan hash, text column, k,
    strategy).  ``text_col`` must participate — ``semanticHash``
    covers the source plan, not which column the learner later reads.
    Returns ``None`` (→ no caching) when the DataFrame has no input
    files — e.g. an in-memory ``createDataFrame`` — so stale hits are
    impossible for data Spark can't fingerprint."""
    import os
    from urllib.parse import urlparse

    try:
        files = docs.inputFiles()
        if not files:
            return None
        stamps = []
        for uri in sorted(files):
            p = urlparse(uri)
            if p.scheme not in ("", "file"):
                return None  # remote storage: can't stat cheaply, don't cache
            st = os.stat(p.path or uri)
            stamps.append((uri, st.st_mtime_ns, st.st_size))
        return ("bpe", tuple(stamps), docs.semanticHash(), text_col, k, strategy)
    except Exception:
        return None


def _bpe_repr(word):
    """Word → separator-delimited symbol string ('key' → '·k·e·y·').

    A string (not an array) so a learned merge applies as plain
    ``replace`` — the exact operation DuckDB mirrors."""
    chars = F.filter(F.split(word, ""), lambda c: c != F.lit(""))
    return F.concat(F.lit(_BPE_SEP), F.array_join(chars, _BPE_SEP), F.lit(_BPE_SEP))


def _bpe_syms(repr_col):
    return F.filter(F.split(repr_col, _BPE_SEP), lambda c: c != F.lit(""))


def _bpe_merge_expr(repr_col, a: str, b: str):
    """Apply one merge: '·a·b·' → '·ab·', bounded to THREE passes.

    Plain left-to-right replace misses every second occurrence of a
    run (the match consumes the shared boundary separator); a pass
    halves the remaining run, so three passes settle runs up to ~8
    repeats — beyond any whitespace token this corpus (or any sane
    one) holds.  The SAME bounded-3-pass rule is what the DuckDB
    oracle executes, so both engines compute the identical (slightly
    non-canonical) merge application by construction."""
    pat = F.lit(_BPE_SEP + a + _BPE_SEP + b + _BPE_SEP)
    rep = F.lit(_BPE_SEP + a + b + _BPE_SEP)
    col = repr_col
    for _ in range(3):
        col = F.call_function("replace", col, pat, rep)
    return col


def _bpe_word_counts(docs: DataFrame, text_col: str, *group_cols: str) -> DataFrame:
    return (
        docs.select(*group_cols, F.explode(tokens_col(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy(*group_cols, "word")
        .agg(F.count("*").alias("cnt"))
        .select(*group_cols, _bpe_repr(F.col("word")).alias("repr"), "cnt")
    )


def _bpe_pair_counts(wc: DataFrame) -> DataFrame:
    syms = _bpe_syms(F.col("repr"))
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(syms) - 2),
        lambda i: F.struct(F.get(syms, i).alias("a"), F.get(syms, i + 1).alias("b")),
    )
    return (
        wc.filter(F.size(syms) >= 2)
        .select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("c"))
    )


#: vocab size (distinct words) above which delta maintenance wins:
#: below it, per-round join+checkpoint overhead costs more than just
#: re-exploding the tiny vocab (measured at the gate corpus: recount
#: 2.7 s vs delta 14.5 s for k=6; the crossover is well under 100k)
BPE_DELTA_MIN_PAIRS = 100_000


def bpe_learn_merges(
    docs: DataFrame, k: int = BPE_MERGES, text_col: str = "text",
    strategy: str = "auto",
) -> list[tuple[int, str, str, str, int]]:
    """Learn the top-``k`` byte-pair-encoding merges over the corpus
    (Sennrich et al. 2016 `learn_bpe`, word-internal, no end-of-word
    marker): repeatedly count adjacent symbol pairs weighted by word
    frequency and fuse the most frequent pair (ties: lexicographic
    (a, b) — fully deterministic).  Returns
    ``[(rank, lhs, rhs, merged, cnt), ...]``.

    Scale shape (round-6 delta rewrite, verdict-r5 item 6): ONE
    corpus scan builds the (word → count) table and ONE full-vocab
    pair aggregate seeds the pair-count table; after that every round
    maintains pair counts by EXACT DELTA — only words that actually
    contain the merged pair are re-paired (counts += pairs(after) −
    pairs(before) over the affected subset), so the k full-vocab
    explode+aggregate scans of the round-5 shape collapse to one plus
    k affected-only aggregates (tests/test_round5_ops.py measures the
    exploded-row reduction and pins merge-list equality against the
    recount-from-scratch reference).  Delta maintenance is exact, not
    heuristic — identical merges on ANY corpus, not just the fixture —
    so ``strategy='auto'`` is free to pick by cost: tiny vocabularies
    (< ``BPE_DELTA_MIN_PAIRS`` distinct words) recount from scratch
    each round (per-round join+checkpoint overhead exceeds the
    re-explode at that size), big ones take the delta path.
    The per-round driver pull is a single row (the argmax pair), the
    same O(1) pull the k-means entries make.
    Memoized per (SparkContext, corpus files+mtimes, plan, k,
    strategy) so the fertility entry reuses the learn pass.  The key is data-aware —
    ``inputFiles()`` plus each local file's (mtime_ns, size) — so
    regenerating a fixture under the same path invalidates the cache;
    a DataFrame with no resolvable input files is never cached."""
    if strategy not in ("auto", "delta", "recount"):
        raise ValueError(f"unknown BPE strategy: {strategy!r}")
    return memo(
        docs.sparkSession,
        _bpe_cache_key(docs, k, text_col, strategy),
        lambda: _bpe_learn(docs, k, text_col, strategy),
    )


def _bpe_learn(
    docs: DataFrame, k: int, text_col: str, strategy: str
) -> list[tuple[int, str, str, str, int]]:
    wc = _bpe_word_counts(docs, text_col).localCheckpoint(eager=True)
    if strategy == "auto":
        # cheap proxy: distinct words (already checkpointed) — distinct
        # pairs is a small multiple of it, and the crossover is coarse
        use_delta = wc.count() >= BPE_DELTA_MIN_PAIRS
    else:
        use_delta = strategy == "delta"
    counts = (
        _bpe_pair_counts(wc).localCheckpoint(eager=True) if use_delta else None
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, k + 1):
        cur = counts if use_delta else _bpe_pair_counts(wc)
        top = (
            cur.filter(F.col("c") > 0)
            .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((rank, a, b, a + b, c))
        if use_delta:
            pat = _BPE_SEP + a + _BPE_SEP + b + _BPE_SEP
            affected = wc.filter(F.col("repr").contains(pat))
            merged = affected.select(
                _bpe_merge_expr(F.col("repr"), a, b).alias("repr"), "cnt"
            )
            # exact delta: only affected words' pairs change
            before = _bpe_pair_counts(affected).withColumnRenamed("c", "cb")
            after = _bpe_pair_counts(merged).withColumnRenamed("c", "ca")
            delta = after.join(before, ["a", "b"], "full").select(
                "a",
                "b",
                (
                    F.coalesce(F.col("ca"), F.lit(0))
                    - F.coalesce(F.col("cb"), F.lit(0))
                ).alias("d"),
            )
            counts = (
                counts.join(delta, ["a", "b"], "full")
                .select(
                    "a",
                    "b",
                    (
                        F.coalesce(F.col("c"), F.lit(0))
                        + F.coalesce(F.col("d"), F.lit(0))
                    ).alias("c"),
                )
                .filter(F.col("c") > 0)
                .localCheckpoint(eager=True)
            )
            wc = (
                wc.filter(~F.col("repr").contains(pat))
                .unionByName(merged)
                .localCheckpoint(eager=True)
            )
        else:
            wc = wc.select(
                _bpe_merge_expr(F.col("repr"), a, b).alias("repr"), "cnt"
            ).localCheckpoint(eager=True)
    return merges


#: merge counts up to this run as the chained-replace column expression
#: (one codegen'd ``replace`` chain per merge — elegant at demo depth);
#: beyond it the Catalyst expression tree would grow linearly with the
#: vocabulary (a 32k-merge chain is unbuildable), so the Arrow-batched
#: ``mapInPandas`` encoder takes over.  The two paths are equivalent by
#: construction (``_BpeEncoder`` applies the IDENTICAL bounded-3-pass
#: string replace per merge) — ``tests/test_round10_ops.py`` pins the
#: equivalence at overlapping k and drives the encoder at k≥1000.
BPE_EXPR_MAX_MERGES = 64


class _BpeEncoder:
    """Vocab-scale BPE application: per-word post-merge symbol counts
    under EXACTLY the ``_bpe_merge_expr`` semantics — each merge is the
    bounded-3-pass non-overlapping ``str.replace`` of ``·a·b·`` →
    ``·ab·`` on the separator-delimited repr, applied in rank order —
    but linear-time in text length and flat in vocabulary size k:

    - merges are indexed by the symbols they consume; a word only ever
      *attempts* the merges whose inputs exist in it (initial chars, or
      symbols its earlier merges created) — a rank-ordered heap replays
      them in exactly the chain's order, sound because a merge's output
      can only feed HIGHER-ranked merges (at learn time the pair
      (ab, x) is countable only after ab exists), and exact because a
      skipped merge's pattern provably cannot occur (``·s·`` in the
      repr ⟺ s is a whole current symbol ⟺ s ∈ the word's grow-only
      symbol set);
    - per-word results are cached across the task's Arrow batches
      (Zipf: the distinct-word set is tiny next to the token stream).

    So a 32k-merge production vocabulary costs the same per word as a
    6-merge demo one — only the merges that actually fire are touched."""

    def __init__(self, merges) -> None:
        self._by_sym: dict[str, list[tuple]] = {}
        for rank, a, b, *_rest in merges:
            t = (
                rank,
                _BPE_SEP + a + _BPE_SEP + b + _BPE_SEP,
                _BPE_SEP + a + b + _BPE_SEP,
                a,
                b,
                a + b,
            )
            self._by_sym.setdefault(a, []).append(t)
            if b != a:
                self._by_sym.setdefault(b, []).append(t)
        self._cache: dict[str, int] = {}

    def ntokens(self, word: str) -> int:
        n = self._cache.get(word)
        if n is not None:
            return n
        r = _BPE_SEP + _BPE_SEP.join(word) + _BPE_SEP
        symset = set(word)
        heap: list[tuple] = []
        seen: set[int] = set()

        def activate(s: str) -> None:
            for t in self._by_sym.get(s, ()):
                if t[0] not in seen and t[3] in symset and t[4] in symset:
                    seen.add(t[0])
                    heapq.heappush(heap, t)

        for s in list(symset):
            activate(s)
        while heap:
            _rank, pat, rep, _a, _b, ab = heapq.heappop(heap)
            changed = False
            for _ in range(3):  # the _bpe_merge_expr bound, verbatim
                if pat not in r:
                    break
                r = r.replace(pat, rep)
                changed = True
            if changed and ab not in symset:
                symset.add(ab)
                activate(ab)
        n = sum(1 for s in r.split(_BPE_SEP) if s)
        self._cache[word] = n
        return n


def bpe_ntokens_pandas(
    docs: DataFrame, merges, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc post-merge BPE symbol counts at PRODUCTION vocabulary
    scale: the broadcast-merge-table + Arrow-batched ``mapInPandas``
    twin of ``queries._bpe_ntokens_col`` (which stays the small-k path
    — its chained-replace expression tree grows linearly with k).
    Returns ``(id_col, n_tokens)``; tokenization is ``tokens_col``'s
    exactly (lowercase, split on single space, drop empties).  The
    merge list ships once per task in the closure (a few MB at 32k
    merges — broadcast-dim sized); the stage is shuffle-free and
    corpus-linear, the ``crawl_to_corpus`` bytes-stage precedent."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    frozen = [tuple(m) for m in merges]
    schema = StructType(
        [StructField(id_col, LongType()), StructField("n_tokens", LongType())]
    )

    def fn(batches):
        enc = _BpeEncoder(frozen)  # word cache lives across the task's batches
        for pdf in batches:
            # null text propagates as NULL — the expression path
            # (_bpe_ntokens_col: size(filter(split(lower(text))...)))
            # yields NULL for null text, and the two encoder paths
            # share one oracle, so mapping null to 0 here would
            # silently diverge them on a corpus containing null text
            counts = [
                sum(enc.ntokens(w) for w in t.lower().split(" ") if w)
                if t is not None
                else None
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "n_tokens": pd.array(counts, dtype="Int64"),
                }
            )

    return spread_for_compute(docs.select(id_col, text_col)).mapInPandas(
        fn, schema
    )


def bpe_fertility(
    docs: DataFrame, k: int = BPE_MERGES, text_col: str = "text", lang_col: str = "lang",
) -> DataFrame:
    """Per-language fertility of the corpus-learned BPE tokenizer:
    BPE symbols per word after applying the top-``k`` merges — the
    diagnostic that shows which languages a tokenizer trained on this
    corpus serves worst (pairs with ``tokenizer_fertility``'s
    whitespace/byte metrics).  Output: (lang, n_words,
    bpe_per_word)."""
    merges = bpe_learn_merges(docs, k, text_col)
    wl = _bpe_word_counts(docs, text_col, lang_col)
    col = F.col("repr")
    for _rank, a, b, _m, _c in merges:
        col = _bpe_merge_expr(col, a, b)
    per_word = wl.select(
        lang_col,
        "cnt",
        (F.size(_bpe_syms(col)).cast("long") * F.col("cnt")).alias("nsym"),
    )
    return per_word.groupBy(lang_col).agg(
        F.sum("cnt").alias("n_words"),
        rhu(F.sum("nsym").cast("double") / F.sum("cnt"), 6).alias("bpe_per_word"),
    )
