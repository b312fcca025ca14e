"""Deduplication operators (north star; SURVEY.md §2.9).

The reference relies on APRS-IS network-level duplicate suppression
(SURVEY §2.9 "Dedup: none").  The engine provides the full ladder a
training-data pipeline needs, each designed for 100 TB:

- exact dedup: hash-groupBy on content digest — one shuffle on the
  digest, no full-text comparisons;
- fingerprint dedup: token-set canonicalization then hash-groupBy —
  catches reorderings/duplicated whitespace;
- MinHash + LSH: per-doc signature (narrow), band keys (narrow),
  shuffle on band key only — candidate pairs come from bucket-local
  joins, never a cross join; verification joins only candidates;
- n-gram Jaccard: shingle inverted index self-join — the join key is
  the shingle hash, so co-partitioning is on content, and the
  |intersection| arrives pre-aggregated from the map side;
- SimHash: bit-majority signature via one explode + one groupBy.

All hashing goes through ``functions.hashing`` portable md5 hashes so
every operator has an exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aprs2influxdb_spark.functions.rounding import rhu

from aprs2influxdb_spark.functions.hashing import (
    MINHASH_P,
    SHINGLE_P,
    hashed_shingles,
    portable_hash64,
)
from aprs2influxdb_spark.functions.partitioning import spread_for_compute


def _spread_docs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Narrow (id, text) projection spread to core count — every
    operator below starts with per-token md5 hashing, whose cost is
    per ROW, not per byte; see ``functions.partitioning``."""
    return spread_for_compute(docs.select(id_col, text_col))


def tokens_col(text_col: str = "text"):
    """Lowercased whitespace tokens; single definition shared by every
    text dedup/analysis operator (and mirrored in the oracle SQL)."""
    return F.split(F.lower(F.col(text_col)), " ")


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content digest: canonical (min-id) row per text,
    with duplicate count.  GroupBy on a 128-bit digest, not the text —
    at 100 TB the shuffle carries 16-byte keys, not documents.

    The digest is staged as a column before the groupBy: grouping
    directly on the expression makes the aggregate re-evaluate it
    (measured 5× slower for the fingerprint variant at sf0.1)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups"))
    )


def fingerprint_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-exact dedup on the sorted distinct token set (catches
    word-order shuffles and repeated tokens).  Key staged as a column
    — see :func:`exact_dedup`."""
    # no compute-spread here: the fingerprint expression is cheap enough
    # that the extra exchange costs more than the serial scan-side eval
    # saves (measured 0.34 s vs 0.68 s at sf0.1); the groupBy's own
    # shuffle bounds the damage at any scale
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens_col(text_col))), " "))
    return (
        docs.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups"))
    )



def shingle_col(spark, text_col: str = "text", n: int = 3):
    """Memoized unresolved hashed-shingles Column for ``text_col`` —
    the expression-level plan-cache discipline (see
    ``_signatures_from_shingles``): the nested Horner/transform tree
    costs ~0.15 s of driver py4j per build and is identical for every
    shingle consumer in a SparkContext."""
    from aprs2influxdb_spark.functions.plancache import memo

    return memo(
        spark,
        ("shingles", text_col, n),
        lambda: hashed_shingles(tokens_col(text_col), n),
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature over word-shingle sets (narrow op).

    Two design points, both measured at sf0.1:

    - Shingle hashes come from :func:`hashed_shingles` (Horner over
      per-token hashes) — building shingle *strings* and md5-ing each
      was ~75% of the whole LSH pipeline's time.
    - Staged projections so the hashed shingle array is computed ONCE
      and the 16 permutation-min columns reference it as an attribute —
      inlining it into each branch (what a naive single ``select``
      compiles to) costs 16x the shingle hashing and showed up as a
      35x slowdown.  CollapseProject leaves multi-referenced non-cheap
      aliases alone, so the staging survives optimization.
    """
    arr = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col),
        shingle_col(docs.sparkSession, text_col, shingle_n).alias("sh"),
    )
    return _signatures_from_shingles(arr, id_col, num_hashes)


def _signatures_from_shingles(
    arr: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """(id, sig) from an (id, sh shingle-hash-array) frame — the
    signature math of :func:`minhash_signatures`, factored out so
    :func:`minhash_lsh_pairs` can derive signatures AND verification
    sets from ONE checkpointed shingle index."""
    from aprs2influxdb_spark.functions.hashing import minhash_coeffs
    from aprs2influxdb_spark.functions.plancache import memo

    # The 16-permutation expression tree costs ~0.45 s of driver py4j
    # to BUILD (round 12, cProfile of soft_dedup_weights) and is
    # identical for every consumer — memoize the unresolved Column per
    # num_hashes; it resolves against column names fresh in every plan
    # (the _t plan-handle discipline at expression level).
    spark = arr.sparkSession
    hs = memo(
        spark,
        ("minhash_hs",),
        lambda: F.transform(F.col("sh"), lambda s: F.pmod(s, F.lit(MINHASH_P))),
    )
    hashed = arr.select(F.col(id_col), hs.alias("hs"))

    def _sig():
        return F.array(
            *[
                F.coalesce(
                    F.array_min(F.transform(F.col("hs"), lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MINHASH_P)))),
                    F.lit(MINHASH_P),
                )
                for a, b in minhash_coeffs(num_hashes)
            ]
        )

    sig = memo(spark, ("minhash_sig", num_hashes), _sig)
    return hashed.select(F.col(id_col), sig.alias("sig"))


def _lsh_index(
    docs: DataFrame, text_col: str, id_col: str,
    num_hashes: int, bands: int, shingle_n: int,
) -> tuple[DataFrame, DataFrame]:
    """The two persisted structures every LSH consumer shares — the
    per-doc shingle sets (``arr``, feeds exact-Jaccard verification)
    and the banded signature table (``banded``, feeds bucket joins).
    ONE checkpointed shingle pass feeds both (previously two full
    tokenize+hash passes); the banded table is lazily checkpointed
    because both sides of any bucket join consume it.  In a production
    incremental pipeline these two tables ARE the saved dedup state
    (see :func:`lsh_rescreen_pairs`)."""
    arr = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col),
        shingle_col(docs.sparkSession, text_col, shingle_n).alias("sh"),
    ).localCheckpoint(eager=False)
    sigs = _signatures_from_shingles(arr, id_col, num_hashes)
    banded = banded_keys(sigs, id_col, num_hashes, bands).localCheckpoint(
        eager=False
    )
    return arr, banded


def banded_keys(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Exploded ``(id, band, key)`` band-bucket keys from an
    ``(id, sig)`` frame — pure stateless expressions (factored out of
    :func:`_lsh_index` so the streaming ingest gate can band a
    signature STREAM with the exact same keys the batch index uses)."""
    from aprs2influxdb_spark.functions.plancache import memo

    def _bk():
        rows_per_band = num_hashes // bands
        band_key = [
            (b, F.md5(F.concat_ws("_", F.lit(b), *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)])))
            for b in range(bands)
        ]
        return F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), k.alias("key")) for b, k in band_key])
        )

    # memoized unresolved Column — see _signatures_from_shingles
    bk = memo(sigs.sparkSession, ("banded_bk", num_hashes, bands), _bk)
    return sigs.select(F.col(id_col), bk.alias("bk")).select(
        id_col, "bk.band", "bk.key"
    )


def lsh_rescreen_pairs(
    docs: DataFrame, probe_pred, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental LSH rescreen (round 6, verdict-r5 item 7): verified
    near-dup pairs (id_a, id_b, jaccard) where ``id_a`` satisfies
    ``probe_pred`` (the NEW batch) and ``id_b`` is ANY other corpus
    doc.  The production shape for a growing corpus: the full banded
    index and shingle table are SAVED STATE (built once per epoch by
    :func:`_lsh_index`); a new batch bands only its own docs and
    bucket-joins probe×index — never index×index, so rescreen cost is
    O(batch), not O(corpus).

    Exactness: a doc's verified-neighbor set is a pairwise property
    (band keys and Jaccard are per-pair), so probe-side pairs equal
    the full :func:`minhash_lsh_pairs` run restricted to pairs
    touching the batch — the oracle recomputes exactly that from the
    unioned corpus."""
    arr, banded = _lsh_index(docs, text_col, id_col, num_hashes, bands, shingle_n)
    return lsh_rescreen_from_state(arr, banded, probe_pred, id_col, threshold)


def lsh_rescreen_from_state(
    arr: DataFrame, banded: DataFrame, probe_pred,
    id_col: str = "doc_id", threshold: float = 0.5,
    probe_banded: DataFrame | None = None, probe_arr: DataFrame | None = None,
) -> DataFrame:
    """The probe half of :func:`lsh_rescreen_pairs`, taking the two
    saved-state tables (``arr``: per-doc shingle sets, ``banded``:
    banded signatures) as arguments so PERSISTED epoch state can feed
    it (round 7, verdict-r6 item 4 — see :mod:`operators.epoch_state`).

    Two probe modes: by default the probe rows are
    ``banded.filter(probe_pred)`` (the batch is part of the index, the
    gate-harness shape); passing ``probe_banded``/``probe_arr`` bands
    a batch that is NOT in the saved index (the frozen-epoch
    production shape) — candidates then pair the probe against the
    index AND against the probe itself (batch-internal near-dups)."""
    def _cand(left: DataFrame, right: DataFrame) -> DataFrame:
        return (
            left.alias("l").hint("shuffle_hash")
            .join(right.alias("r"), ["band", "key"])
            .filter(F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
            .select(
                F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
            )
        )

    if probe_banded is None:
        cand = _cand(banded.filter(probe_pred(F.col(id_col))), banded).distinct()
        a = arr.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        verified = cand.join(a, "id_a").join(
            arr.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
        )
    else:
        # frozen-epoch mode: probe the SAVED index and the batch
        # itself as two separate joins, never unioning the batch into
        # the index side — a union would erase the saved tables'
        # bucket partitioning and force the whole index through an
        # exchange (round 8, verdict-r7 item 6); with bucketed state
        # only the batch shuffles here
        cand = _cand(probe_banded, banded).unionByName(
            _cand(probe_banded, probe_banded)
        ).distinct()
        a = probe_arr.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        b_saved = arr.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        b_batch = probe_arr.select(
            F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
        )
        with_a = cand.join(a, "id_a")
        # fresh-id precondition (enforced by rescreen_new_batch) makes
        # the two id_b populations disjoint, so inner-join + union is
        # exactly the join against their union
        verified = with_a.join(b_saved, "id_b").unionByName(
            with_a.join(b_batch, "id_b")
        )
    return (
        verified
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", rhu("jaccard", 4).alias("jaccard"))
    )


def minhash_lsh_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: signature → band keys → bucket join
    → exact-Jaccard verification on candidates only.

    Scale shape: explode to ``bands`` rows/doc, shuffle on the band
    key (content-addressed, naturally balanced unless a band bucket is
    hot — hot buckets mean true near-dup clusters, which are the
    answer, not skew).  The verification join re-shuffles only
    candidate ids.  No O(n^2) stage anywhere.
    """
    arr, banded = _lsh_index(docs, text_col, id_col, num_hashes, bands, shingle_n)

    # shuffle-hash, not broadcast: at toy scale Spark would broadcast the
    # banded corpus (it fits), recomputing the whole signature subtree
    # for the build side — measured 1.5x slower.  At 100 TB a broadcast
    # of the full signature table is not a plan at all; the shuffled
    # self-join on the band key is the honest strategy at every scale.
    left = banded.alias("l").hint("shuffle_hash")
    right = banded.alias("r")
    cand = (
        left.join(right, ["band", "key"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )

    a = arr.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = arr.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", rhu("jaccard", 4).alias("jaccard"))
    )
    return verified


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, threshold: float = 0.3, max_doc_freq: int | None = 64,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs; stop-shingle-capped BY DEFAULT.

    With ``max_doc_freq`` set (the default), this delegates to
    :func:`ngram_jaccard_pairs_capped`: candidate pairs come only
    through shingles whose document frequency is within the cap
    (bounding inverted-index fanout at ``max_doc_freq²`` per shingle —
    the only shape that survives 100 TB, where one boilerplate shingle
    in 10⁶ docs would otherwise emit 10¹² candidate rows), and Jaccard
    is then verified EXACTLY over the full shingle sets of surviving
    pairs.  The default cap of 64 is far above the observed df at every
    test scale (max 25 at sf0.1), so small-scale results are identical
    to the uncapped baseline — pinned by
    tests/test_robustness.py::test_ngram_cap_is_lossless_at_test_scale.

    ``max_doc_freq=None`` selects the uncapped exact inverted-index
    baseline (O(Σ df²) candidate fanout — test/oracle-baseline only,
    never the registry path): explode shingles, self-join on the
    shingle, count per pair — partial aggregation happens map-side, and
    only pairs that share ≥1 shingle ever materialize.  The join key is
    the 8-byte :func:`hashed_shingles` hash, not the shingle string.
    Each doc's shingle-set size rides along the exploded rows (2 extra
    ints per row) and comes out of the pair aggregate via ``min`` — the
    alternative (separate size scans joined back on each id) re-computes
    the shingles twice more and adds two joins after the aggregate.
    """
    if max_doc_freq is not None:
        return ngram_jaccard_pairs_capped(
            docs, text_col, id_col, shingle_n, threshold, max_doc_freq
        )
    # lazy checkpoint: the inverted index is consumed by BOTH sides of
    # the self-join — without it the tokenize+hash subtree runs twice
    arr = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col), hashed_shingles(tokens_col(text_col), shingle_n).alias("arr")
    ).localCheckpoint(eager=False)
    sh = arr.select(
        F.col(id_col), F.size("arr").alias("n_sh"), F.explode("arr").alias("shingle")
    )
    inter = (
        # shuffle-hash for the same reason as the LSH candidate join:
        # broadcasting the exploded inverted index is a toy-scale-only
        # plan and recomputes the shingle subtree for the build side
        sh.alias("a").hint("shuffle_hash").join(sh.alias("b"), "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(
            F.count("*").alias("n_common"),
            F.min("a.n_sh").alias("n_a"),
            F.min("b.n_sh").alias("n_b"),
        )
    )
    return (
        inter.withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", rhu("jaccard", 4).alias("jaccard"))
    )


def _capped_candidates(arr: DataFrame, id_col: str, max_doc_freq: int) -> DataFrame:
    """Stop-shingle-pruned candidate pairs (id_a < id_b) from a
    (id, shingle-hash-array) frame — the shared candidate stage of
    :func:`ngram_jaccard_pairs_capped` and :func:`edit_distance_pairs`.
    Shingles with document frequency above ``max_doc_freq`` never
    enter the self-join, bounding fanout at ``max_doc_freq²`` per
    shingle."""
    sh = arr.select(F.col(id_col), F.explode("arr").alias("shingle"))
    # broadcast anti-join against the SMALL stop set (not a shuffle
    # join against the huge keep set) — see ngram_jaccard_pairs_capped
    stop = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("shingle")
    )
    pruned = sh.join(F.broadcast(stop), "shingle", "left_anti")
    return (
        pruned.alias("a").hint("shuffle_hash").join(pruned.alias("b"), "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def edit_distance_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, max_doc_freq: int = 5, min_sim: float = 0.5,
) -> DataFrame:
    """Character-level near-dup pairs: stop-shingle-capped candidates
    (same stage as :func:`ngram_jaccard_pairs_capped`), verified with
    exact Levenshtein distance — the strictest rung of the dedup
    ladder, catching small in-place edits that token-set methods score
    identically.

    ``edit_sim = 1 - dist / max(len)``.  Levenshtein is O(len_a ×
    len_b) per pair — affordable precisely BECAUSE the inverted-index
    pruning bounds the candidate count; an uncapped all-pairs
    Levenshtein is never a plan.  The distance is computed over the
    ASCII-projected text (non-ASCII → ``?``, the reference's own
    sanitization — aprs2influxdb/__main__.py encodes ascii/replace):
    Spark's ``levenshtein`` counts code points but DuckDB's counts
    BYTES, so the projection is what makes the oracle exact on any
    input rather than only on ASCII corpora.  Similarity is rounded
    to 4 decimals on both engines.

    Three measured plan decisions (sf0.1: 22.6 s → ~2 s):

    - the shingle index is lazily ``localCheckpoint``-ed — four plan
      arms (df-cap, both self-join sides, nothing else shares a scan)
      otherwise each re-run tokenize+hash over the corpus;
    - an EXACT length-difference prune runs before the DP:
      ``dist ≥ |len_a − len_b|``, so a pair whose length-bound
      similarity is already below ``min_sim`` can't pass (the oracle
      applies the identical bound, so parity is unaffected);
    - an explicit ``repartition`` of the candidate ids BEFORE the text
      joins: AQE rightly coalesces the (tiny-by-bytes) candidate
      shuffle to ~1 partition, but the DP is ms-per-ROW, not per-byte
      — without it every Levenshtein runs on one core (measured 16 s
      of the 22.6).  It must sit BELOW the joins: placed above them,
      PushDownPredicate pushes the similarity filter (which embeds the
      Levenshtein) back through Repartition into the single-partition
      stage; the join is the one barrier a two-sided predicate cannot
      cross."""
    arr = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col), hashed_shingles(tokens_col(text_col), shingle_n).alias("arr")
    ).localCheckpoint(eager=False)
    cand = _capped_candidates(arr, id_col, max_doc_freq)
    ascii_text = F.regexp_replace(F.col(text_col), "[^\\x00-\\x7F]", "?")
    a = docs.select(F.col(id_col).alias("id_a"), ascii_text.alias("t_a"))
    b = docs.select(F.col(id_col).alias("id_b"), ascii_text.alias("t_b"))
    len_bound = F.lit(1.0) - F.abs(F.length("t_a") - F.length("t_b")) / F.greatest(
        F.length("t_a"), F.length("t_b")
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    # banded DP: pairs that cannot reach min_sim abort at O(len·band)
    # instead of filling the full O(len²) matrix (thresholded
    # levenshtein returns -1 past the band).  The band is
    # len·(1−min_sim) plus a length-proportional margin covering the
    # 4dp half-up rounding slack (rhu can admit sims down to
    # min_sim − 5e-5, i.e. distances up to len·5e-5 past the exact
    # bound — the 1e-4·len + 1 margin strictly contains that at any
    # length), so every pair the unbanded filter keeps is returned
    # with its exact distance and parity is unchanged.
    band = f"cast(greatest(length(t_a), length(t_b)) * {1.0 - min_sim + 1e-4} + 1 as int)"
    return (
        cand.repartition(par)
        .join(a, "id_a").join(b, "id_b")
        .filter(len_bound >= min_sim)
        .withColumn("edit_dist", F.expr(f"levenshtein(t_a, t_b, {band})"))
        .filter(F.col("edit_dist") >= 0)
        .withColumn(
            "edit_sim",
            rhu(F.lit(1.0) - F.col("edit_dist") / F.greatest(F.length("t_a"), F.length("t_b")), 4),
        )
        .filter(F.col("edit_sim") >= min_sim)
        .select("id_a", "id_b", "edit_dist", "edit_sim")
    )


def dup_ngram_coverage(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document duplicated-n-gram coverage: the fraction of each
    document's distinct word n-grams that also occur in at least one
    OTHER document — the substring-level dedup diagnostic of Lee et
    al., "Deduplicating Training Data Makes Language Models Better"
    (the metric their suffix-array ExactSubstr pass optimizes), at
    shingle granularity instead of suffix-array granularity.

    Pair-based rungs of the ladder answer "which documents are
    near-dups"; this answers "how much of THIS document is boilerplate
    shared with the corpus" — the quantity training-data pipelines
    threshold on to drop mostly-duplicated pages that have no single
    strong near-dup partner.

    Plan shape: one shingle index (lazily checkpointed — three arms
    consume it), document-frequency aggregate on the shingle key, then
    the dup flag joins BACK to the exploded shingles on that same key
    — shuffle-aligned, so AQE plans the join without a second
    exchange of the big side.  The final per-doc count shuffles on
    doc_id.  At 100 TB the df aggregate is the same map-side-combining
    shape as a word count; no step is quadratic in corpus size
    (contrast the pair rungs, which bound fanout via stop-shingle
    caps)."""
    arr = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col), hashed_shingles(tokens_col(text_col), shingle_n).alias("arr")
    ).localCheckpoint(eager=False)
    sh = arr.select(F.col(id_col), F.explode("arr").alias("shingle"))
    dup_shingles = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > 1)
        .select("shingle")
    )
    n_dup = (
        sh.join(dup_shingles, "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup"))
    )
    return (
        arr.select(F.col(id_col), F.size("arr").alias("n_shingles"))
        .join(n_dup, id_col, "left")
        .select(
            F.col(id_col),
            "n_shingles",
            rhu(
                F.coalesce(F.col("n_dup"), F.lit(0))
                / F.greatest(F.col("n_shingles"), F.lit(1)),
                4,
            ).alias("dup_frac"),
        )
    )


def ngram_jaccard_pairs_capped(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, threshold: float = 0.3, max_doc_freq: int = 5,
    metric: str = "jaccard",
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` with stop-shingle candidate pruning
    — the shape that survives 100 TB.

    The uncapped inverted-index self-join emits ``df²`` rows per
    shingle; one boilerplate shingle appearing in 1M documents emits
    10¹² pairs.  Here shingles with document frequency above
    ``max_doc_freq`` are dropped from the *candidate* index, bounding
    every shingle's fanout at ``max_doc_freq²``.  Reported
    similarities are still EXACT over the full (uncapped) shingle
    sets: ``|A ∩ B|`` splits into the pruned-index co-count plus the
    stop-shingle correction ``|A ∩ B ∩ S|``, computed by intersecting
    each doc's SMALL sorted stop-shingle subset.  What's lost is only
    recall of pairs whose every shared shingle is a stop-shingle —
    the standard CCNet/Gopher-style inverted-index pruning trade.

    Plan shape (v3 — measured ~3.0 s → ~1.9 s at sf0.1 vs the
    self-join formulation): candidate pairs come from WITHIN-LIST
    combinations, not a self-join.  Stage 1 finds stop shingles with
    a count groupBy (map-side partials: the hot shingle's reducer
    receives one partial per mapper, never per row — skew-safe).
    Stage 2 groups the PRUNED index by shingle into sorted doc-id
    lists; because pruning already ran, every list is ≤ the cap by
    construction, so reducer memory is bounded where a pre-pruning
    ``collect_list`` would not be.  Stage 3 emits each list's
    C(df, 2) ordered pairs JVM-side (``transform``/``flatten``) and
    counts them per pair — replacing the two index-probe exchanges
    and the join with one narrow generator.  Per-doc set sizes and
    stop subsets join the post-aggregate PAIR table (orders of
    magnitude smaller than the index), so wide columns never ride
    the big shuffle.
    """
    # lazy checkpoint: the shingle arrays feed the df count, the
    # pruned index, and the doc-info join — one materialization
    arr = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col), hashed_shingles(tokens_col(text_col), shingle_n).alias("arr")
    ).localCheckpoint(eager=False)
    stop = (
        arr.select(F.explode("arr").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("shingle")
    )
    stop_list = F.broadcast(
        stop.agg(F.sort_array(F.collect_list("shingle")).alias("stop_all"))
    )
    empty = F.array().cast("array<bigint>")
    docinfo = (
        arr.crossJoin(stop_list)
        .select(
            F.col(id_col),
            F.size("arr").alias("n_sh"),
            F.coalesce(F.array_intersect("arr", "stop_all"), empty).alias("stop_sh"),
            F.array_except("arr", F.coalesce("stop_all", empty)).alias("kept"),
        )
        .localCheckpoint(eager=False)
    )
    ids = F.col("ids")
    pair_arr = F.flatten(
        F.transform(
            ids,
            lambda a, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    pairs = (
        docinfo.select(F.col(id_col), F.explode("kept").alias("shingle"))
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_pruned"))
    )
    ia = docinfo.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"), F.col("stop_sh").alias("stop_a")
    )
    ib = docinfo.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"), F.col("stop_sh").alias("stop_b")
    )
    n_common = F.col("n_pruned") + F.size(F.array_intersect("stop_a", "stop_b"))
    counts = (
        pairs.join(ia, "id_a").join(ib, "id_b")
        .withColumn("n_common", n_common)
    )
    if metric == "containment":
        # Broder containment C(A,B) = |A∩B| / |A| — asymmetric, so both
        # directions are reported; a pair survives if EITHER direction
        # clears the threshold (near-subset duplication: quotes,
        # boilerplate wrappers, doc-in-doc)
        c_a = F.col("n_common") / F.col("n_a")
        c_b = F.col("n_common") / F.col("n_b")
        return (
            counts.withColumn("c_a", c_a).withColumn("c_b", c_b)
            .filter(F.greatest("c_a", "c_b") >= threshold)
            .select("id_a", "id_b", rhu("c_a", 4).alias("containment_a"), rhu("c_b", 4).alias("containment_b"))
        )
    return (
        counts
        .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", rhu("jaccard", 4).alias("jaccard"))
    )


def ngram_containment_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, threshold: float = 0.6, max_doc_freq: int = 5,
) -> DataFrame:
    """Capped-candidate n-gram CONTAINMENT pairs (Broder 1997's
    asymmetric resemblance twin): ``C(A,B) = |A∩B| / |A|`` — catches
    near-subset duplication that Jaccard misses (a short doc quoted
    whole inside a long one has high containment but low Jaccard,
    because the union is dominated by the long doc).  Same pruned
    candidate machinery and exact full-set verification as
    :func:`ngram_jaccard_pairs_capped`; both directions reported, pair
    kept when either clears ``threshold``."""
    return ngram_jaccard_pairs_capped(
        docs, text_col=text_col, id_col=id_col, shingle_n=shingle_n,
        threshold=threshold, max_doc_freq=max_doc_freq, metric="containment",
    )


def near_dup_clusters(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
    threshold: float = 0.5, max_iter: int = 15,
) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph:
    every document mapped to its cluster's canonical (minimum) id —
    the "keep one per near-dup cluster" step of a dedup pipeline.

    Delegates to :func:`operators.graph.connected_components` — min-
    label propagation WITH pointer jumping, so convergence is
    O(log diameter) rounds, not O(diameter): ``max_iter=15`` covers
    chain-shaped near-dup components ~2^15 documents long (the plain
    propagation this replaced handled only 15).  Each round is two
    vertex-id joins + one min-aggregate; the LSH pair graph is
    checkpointed once so no round recomputes candidate generation.
    Singleton documents are their own canonical id.

    Raises ``RuntimeError`` if not converged within ``max_iter`` —
    silently returning partial labels would split real clusters with
    no warning.
    """
    from aprs2influxdb_spark.operators.graph import connected_components

    pairs = minhash_lsh_pairs(docs, text_col, id_col, num_hashes, bands, shingle_n, threshold)
    labels = connected_components(
        docs.select(id_col),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col=id_col,
        max_iter=max_iter,
    )
    return labels.select(id_col, F.col("component_id").alias("cluster_id"))


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash signature: per bit, majority vote of token hashes.

    One narrow projection, no explode/shuffle — and ONE pass over the
    token array: the fold accumulator is the whole ``bits``-element
    vote vector (``zip_with`` against a literal power-of-two array;
    the bit test is ``(x mod 2^{b+1}) >= 2^b``, pure integer
    arithmetic), so each token is visited once.  The per-bit-fold
    formulation this replaces re-scanned the array ``bits`` times —
    measured 2× slower at (sf0.1, 32 bits), and the gap grows
    linearly with ``bits``.  Signatures are bit-identical (pinned by
    the unchanged oracle): per-bit integer vote sums don't depend on
    fold structure.

    The token-hash array is let-bound via a one-element ``transform``
    (see :func:`~aprs2influxdb_spark.functions.hashing.hashed_shingles`)
    — the fold referencing the raw expression would re-md5 every
    token, a measured 8× slowdown at sf0.1.
    """
    docs = _spread_docs(docs, id_col, text_col)
    hashed = F.transform(tokens_col(text_col), lambda t: portable_hash64(t))
    pw = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])

    def _sig(h: Column) -> Column:
        votes = F.aggregate(
            h,
            F.array_repeat(F.lit(0).cast("long"), bits),
            lambda acc, x: F.zip_with(
                acc, pw,
                lambda v, p: v + F.when(
                    F.pmod(x, p + p) >= p, F.lit(1).cast("long")
                ).otherwise(F.lit(-1).cast("long")),
            ),
        )
        return F.aggregate(
            F.zip_with(votes, pw, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        )

    sig = F.get(F.transform(F.array(hashed), _sig), 0)
    return docs.select(F.col(id_col), sig.alias("simhash"))


def simhash_hamming_pairs(
    docs: DataFrame, max_hamming: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    bits: int = 32, blocks: int = 4,
) -> DataFrame:
    """SimHash near-duplicate PAIRS at a Hamming radius — the Manku/
    Jain/Sarma web-dedup detector (WWW'07, Google's production
    near-dup system): by pigeonhole, two ``bits``-bit signatures
    within Hamming distance ``blocks - 1`` (3 at the defaults) must
    agree EXACTLY on at least one of ``blocks`` bit-blocks, so
    candidates are pairs sharing a (block index, block value) key and
    only they pay the exact Hamming check — ``bit_count(a XOR b)``,
    one codegen'd instruction.

    Scale shape: each doc emits ``blocks`` narrow (idx, 8-bit value,
    sig) rows; the candidate join keys on (idx, value) — at 100 TB
    run the paper's geometry (64-bit sigs, 16-bit blocks → 65 536
    buckets per index) by passing ``bits=64, blocks=4``; no all-pairs
    stage at any setting.  The signature build itself stays the
    zero-shuffle :func:`simhash` projection.  Output (id_a, id_b,
    hamming) with id_a < id_b, exact-deduped across blocks."""
    assert bits % blocks == 0
    width = bits // blocks
    mask = (1 << width) - 1
    sigs = simhash(docs, text_col, id_col, bits=bits).localCheckpoint(eager=False)
    blocked = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("blk_idx"),
                    F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("blk_val"),
                )
                for b in range(blocks)
            ])
        ).alias("blk"),
    ).select(id_col, "simhash", "blk.blk_idx", "blk.blk_val")
    a = blocked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sa"), "blk_idx", "blk_val"
    )
    b = blocked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sb"), "blk_idx", "blk_val"
    )
    return (
        a.join(b, ["blk_idx", "blk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)  # before the distinct: shrink its shuffle
        .distinct()  # a pair can share several blocks
    )


def decontaminate(
    docs: DataFrame, eval_docs: DataFrame | None = None,
    text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, eval_mod: int = 20, salt: str = "eval",
) -> DataFrame:
    """Benchmark decontamination: for each training document, count
    its distinct word-n-gram shingles that also appear anywhere in
    the held-out evaluation corpus — the n-gram-overlap contamination
    check run before training on scraped data.  Emits only
    contaminated docs (n_overlap >= 1); dropping them is a semi-join
    away.

    ``eval_docs`` is the benchmark corpus; when None, a deterministic
    1/``eval_mod`` hash-slice of ``docs`` stands in for it (and those
    rows are excluded from the training side).

    Plan shape: shingle both sides with the shared Horner hashes
    (narrow), collapse the eval side to its DISTINCT shingle set, and
    broadcast it — benchmark suites are MBs against 100 TB of
    training data, so the contamination check is a broadcast hash
    join inside the training scan, no shuffle of training shingles.
    Per-doc shingles arrive pre-deduped from ``hashed_shingles``, so
    the post-join count(*) IS the distinct-overlap count.  If the
    eval side ever outgrows broadcast range, drop the hint and the
    same plan degrades gracefully to a shuffled hash join keyed on
    shingle hash.
    """
    base = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col),
        hashed_shingles(tokens_col(text_col), n).alias("sh"),
        F.pmod(
            portable_hash64(F.concat(F.lit(salt + "_"), F.col(id_col).cast("string"))),
            F.lit(eval_mod),
        ).alias("_bucket"),
    )
    if eval_docs is None:
        eval_side = base.filter(F.col("_bucket") == 0)
        train_side = base.filter(F.col("_bucket") != 0)
    else:
        eval_side = _spread_docs(eval_docs, id_col, text_col).select(
            hashed_shingles(tokens_col(text_col), n).alias("sh")
        )
        train_side = base
    eval_shingles = eval_side.select(F.explode("sh").alias("sh")).distinct()
    return (
        train_side.select(F.col(id_col), F.explode("sh").alias("sh"))
        .join(F.broadcast(eval_shingles), "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )


def minhash_estimate_error(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Sketch-quality report for the MinHash pipeline: per verified
    near-dup pair, the signature-agreement estimate of Jaccard
    (matching positions / num_hashes) beside the exact value, and the
    absolute estimation error — the measurement that justifies (or
    indicts) a chosen signature width before a 100 TB run trusts it.

    Both the estimate (k/num_hashes) and exact Jaccard
    (|∩|/|∪| of shingle sets) are ratios of integers, so the error is
    bit-identical across engines before its final rounding.  Plan
    shape: identical to :func:`minhash_lsh_pairs` plus a broadcast-
    sized signature join per side."""
    arr = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col), hashed_shingles(tokens_col(text_col), shingle_n).alias("sh")
    ).localCheckpoint(eager=False)
    sigs = _signatures_from_shingles(arr, id_col, num_hashes).localCheckpoint(eager=False)
    rows_per_band = num_hashes // bands
    band_key = [
        (b, F.md5(F.concat_ws("_", F.lit(b), *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)])))
        for b in range(bands)
    ]
    banded = sigs.select(
        F.col(id_col),
        F.explode(F.array(*[F.struct(F.lit(b).alias("band"), k.alias("key")) for b, k in band_key])).alias("bk"),
    ).select(id_col, "bk.band", "bk.key").localCheckpoint(eager=False)
    left = banded.alias("l").hint("shuffle_hash")
    cand = (
        left.join(banded.alias("r"), ["band", "key"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    a = arr.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = arr.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        / F.lit(float(num_hashes))
    )
    return (
        cand.join(a, "id_a").join(b, "id_b").join(sa, "id_a").join(sb, "id_b")
        .withColumn("jac_raw", jac)
        .filter(F.col("jac_raw") >= threshold)
        .select(
            "id_a",
            "id_b",
            rhu("jac_raw", 4).alias("jaccard"),
            rhu(est, 4).alias("est_jaccard"),
            rhu(F.abs(est - F.col("jac_raw")), 4).alias("abs_err"),
        )
    )


def cdc_chunk_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    avg_chunk: int = 8,
) -> DataFrame:
    """Content-defined chunking dedup (the Rabin/Gear/FastCDC family,
    at token granularity): a chunk boundary falls after any token
    whose hash is ≡ 0 mod ``avg_chunk`` — so boundaries move WITH the
    content, and an insertion early in a document shifts only its own
    chunk instead of re-aligning every downstream fixed-width chunk
    (the failure mode of ``paragraph_dedup``'s fixed windows).  Chunks
    are then exact-deduped corpus-wide by digest; per document this
    reports (n_chunks, n_dup_chunks, dup_ratio) — the storage-dedup /
    incremental-ingest diagnostic.

    Scale shape: tokens are exploded to rows and the boundary
    prefix-sum is ONE window over (doc, pos) — chunk assembly groups
    on (doc, chunk_idx), which the doc-keyed partitioning already
    satisfies (no second exchange); global first-occurrence is one
    window over the 16-byte chunk digest; the per-doc rollup is one
    shuffle back on the doc id.  No pairwise stage anywhere, and no
    per-row Python.  Expected chunk length is ``avg_chunk`` tokens
    (geometric), mirrored exactly in the oracle."""
    from pyspark.sql import Window

    toks = docs.select(F.col(id_col), F.posexplode(tokens_col(text_col)).alias("pos", "tok"))
    boundary = (F.pmod(F.pmod(portable_hash64(F.col("tok")), F.lit(SHINGLE_P)), F.lit(avg_chunk)) == 0).cast("int")
    wcum = (
        Window.partitionBy(id_col).orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tok = toks.withColumn("chunk_idx", F.coalesce(F.sum(boundary).over(wcum), F.lit(0)))
    chunks = tok.groupBy(id_col, "chunk_idx").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
                ),
            )
        ).alias("dg")
    )
    wfirst = Window.partitionBy("dg").orderBy(F.col(id_col).asc(), F.col("chunk_idx").asc())
    flagged = chunks.withColumn(
        "dup", (F.row_number().over(wfirst) > 1).cast("int")
    )
    return (
        flagged.groupBy(id_col)
        .agg(F.count("*").alias("n_chunks"), F.sum("dup").alias("n_dup_chunks"))
        .select(
            id_col,
            "n_chunks",
            "n_dup_chunks",
            rhu(F.col("n_dup_chunks") / F.col("n_chunks"), 4).alias("dup_ratio"),
        )
    )


def bbit_minhash_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
    b_bits: int = 2, threshold: float = 0.5,
) -> DataFrame:
    """b-bit MinHash (Li & König, CACM'11): store only the lowest
    ``b_bits`` of each signature component — a 2-bit signature is 32×
    smaller than the int64 one, the difference between a sketch table
    that fits executor memory at 100 TB and one that doesn't — and
    estimate Jaccard with the collision-corrected unbiased estimator
    ``Ĵ = max(0, (P_match − C) / (1 − C))`` where ``C = 2^-b`` is the
    random-collision floor.  Per verified near-dup pair this reports
    the exact Jaccard, the b-bit estimate, and its absolute error —
    the measurement that says whether the 32× compression is safe for
    a given dedup threshold.

    Cross-engine exactness: ``P_match`` is a ratio of integers and the
    correction is a fixed rational, so the estimate is bit-identical
    before rounding.  Plan shape: :func:`minhash_lsh_pairs`' banded
    candidate join plus two signature joins — the compressed bits are
    derived by ``pmod`` from the one shared signature table, never a
    second corpus pass."""
    arr = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col), hashed_shingles(tokens_col(text_col), shingle_n).alias("sh")
    ).localCheckpoint(eager=False)
    sigs = _signatures_from_shingles(arr, id_col, num_hashes).localCheckpoint(eager=False)
    rows_per_band = num_hashes // bands
    band_key = [
        (b, F.md5(F.concat_ws("_", F.lit(b), *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)])))
        for b in range(bands)
    ]
    banded = sigs.select(
        F.col(id_col),
        F.explode(F.array(*[F.struct(F.lit(b).alias("band"), k.alias("key")) for b, k in band_key])).alias("bk"),
    ).select(id_col, "bk.band", "bk.key").localCheckpoint(eager=False)
    cand = (
        banded.alias("l").hint("shuffle_hash")
        .join(banded.alias("r"), ["band", "key"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    a = arr.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = arr.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    mod = 1 << b_bits
    low = lambda c: F.transform(c, lambda x: F.pmod(x, F.lit(mod)))  # noqa: E731
    sa = sigs.select(F.col(id_col).alias("id_a"), low(F.col("sig")).alias("ba"))
    sb = sigs.select(F.col(id_col).alias("id_b"), low(F.col("sig")).alias("bb"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    p_match = (
        F.size(F.filter(F.zip_with("ba", "bb", lambda x, y: x == y), lambda m: m))
        / F.lit(float(num_hashes))
    )
    c_floor = 1.0 / mod
    est = F.greatest(F.lit(0.0), (p_match - F.lit(c_floor)) / F.lit(1.0 - c_floor))
    return (
        cand.join(a, "id_a").join(b, "id_b").join(sa, "id_a").join(sb, "id_b")
        .withColumn("jac_raw", jac)
        .filter(F.col("jac_raw") >= threshold)
        .select(
            "id_a",
            "id_b",
            rhu("jac_raw", 4).alias("jaccard"),
            rhu(est, 4).alias("bbit_jaccard"),
            rhu(F.abs(est - F.col("jac_raw")), 4).alias("abs_err"),
        )
    )


def paragraph_dedup(
    docs: DataFrame, window: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide duplicate-span removal with document reassembly
    (RefinedWeb/MassiveText-style paragraph dedup, adapted to the
    synthetic corpus: the driver's documents carry no paragraph
    delimiters, so spans are fixed ``window``-word chunks).

    Every document is split into consecutive ``window``-word chunks;
    a chunk survives only at its FIRST corpus occurrence (ordered by
    ``(doc_id, chunk_idx)`` — deterministic), and each document is
    reassembled from its surviving chunks in order.  Documents whose
    every chunk is elsewhere-first are kept with empty text — the
    caller decides the drop policy.

    Plan shape at 100 TB: chunking is a narrow generator (no
    shuffle); first-occurrence selection is ONE shuffle on the
    16-byte chunk digest (window `row_number`, no self-join);
    reassembly is ONE shuffle back on ``doc_id``.  No stage holds
    more than the exploded chunk rows (~corpus token count /
    ``window``), and the digest key is uniform — no skew.  This is
    the linear-cost member of the dedup ladder: exact span-level
    dedup without pairwise comparison.
    """
    toks = F.split(F.col(text_col), " ")
    n_chunks = ((F.size(toks) - 1) / window).cast("int") + 1
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * window + 1, window), " "),
    )
    exploded = (
        spread_for_compute(docs.select(id_col, text_col))
        .select(id_col, F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .withColumn("digest", F.md5("chunk"))
    )
    from pyspark.sql import Window as W

    first = W.partitionBy("digest").orderBy(id_col, "chunk_idx")
    kept = exploded.withColumn("keep", F.row_number().over(first) == 1)
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("chunk_idx", "chunk"))
                        )
                    ),
                    lambda s: s.chunk,
                ),
                " ",
            ).alias("text_clean"),
        )
    )


EXACT_SUBSTR_K = 16


def exact_substring_spans(
    docs: DataFrame, k: int = EXACT_SUBSTR_K,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-level dedup spans (the suffix-array family —
    Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499): every maximal token span whose
    every ``k``-token window occurs at least twice corpus-wide, as
    (doc_id, start, len) with 1-based token positions — the
    variable-length repeated-span operator the fixed-granularity
    members of the ladder (``paragraph_dedup``'s 16-word chunks,
    ``dup_ngram_coverage``'s fixed n-grams) approximate.

    Equivalence to the suffix-array formulation: a span of length
    L ≥ k repeated anywhere in the corpus has all L−k+1 of its
    k-windows repeated, so it lies inside one emitted span; conversely
    every emitted position is covered by SOME repeated k-window.  The
    emitted spans are the UNION of all repeated spans ≥ k — exactly
    what a curation pipeline cuts out — computed without ever building
    a suffix array: the anchor-bucket shape the suffix-array paper's
    distributed implementations converge on anyway.

    Scale shape (all linear in corpus token count, never pairwise):
    per-position anchor hashes are a narrow in-row generator (O(k)
    per position, constant k); repeated-anchor selection is ONE
    shuffle on the 8-byte hash (partial-agg count); coverage is one
    hash-keyed shuffle-hash join (no broadcast — the repeated set
    scales with the corpus); span merge is the gaps-and-islands
    pattern: one doc-keyed window + one groupBy.  No stage holds more
    than the per-position hash rows.
    """
    from pyspark.sql import Window as W

    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks)
    # positions 1..n-k+1; the filter (not `when`) keeps the branch
    # type array<int> and empties short docs without a cast dance
    idx = F.filter(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: n >= k,
    )
    anchors = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            portable_hash64(F.array_join(F.slice(toks, i, k), " ")).alias("gh"),
        ),
    )
    grams = (
        spread_for_compute(docs.select(id_col, text_col))
        .select(F.col(id_col), F.explode(anchors).alias("s"))
        .select(id_col, F.col("s.pos").alias("pos"), F.col("s.gh").alias("gh"))
        # lazy checkpoint: the anchor projection (an O(k) hash per token
        # position — the operator's dominant CPU) feeds BOTH the
        # repeated-anchor aggregate and the coverage join; their gh
        # exchanges differ (partial-agg vs raw), so exchange reuse can't
        # dedupe it and without the barrier every anchor hashes twice
        # (round 11, measured 1.68 → 1.34 s at sf0.1; the
        # edit_distance_pairs/ngram_jaccard shared-subtree discipline).
        # Reliable when a checkpoint dir is configured: the grams frame
        # is O(corpus tokens) — the one barrier whose executor-loss
        # blast radius at 100 TB justifies the replicated write path.
    )
    from aprs2influxdb_spark.storage import reliable_checkpoint

    grams = reliable_checkpoint(grams, eager=False)
    rep = (
        grams.groupBy("gh").agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gh")
    )
    cov = grams.hint("shuffle_hash").join(rep, "gh").select(id_col, "pos")
    w = W.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos", 1).over(w) > 1, 1).otherwise(0)
    return (
        cov.withColumn("brk", brk)
        .withColumn("isl", F.sum("brk").over(w))
        .groupBy(id_col, "isl")
        .agg(
            F.min("pos").cast("long").alias("start"),
            (F.max("pos") - F.min("pos") + F.lit(k)).cast("long").alias("len"),
        )
        .select(id_col, "start", "len")
    )


def exact_substring_dedup(
    docs: DataFrame, k: int = EXACT_SUBSTR_K,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """APPLY the Lee et al. 2022 exact-substring dedup: rewrite each
    document with its non-canonical repeated spans CUT OUT — the
    end-to-end form of :func:`exact_substring_spans` (which only
    reports the spans).

    Policy (deterministic, oracle-mirrorable): occurrences are
    clustered by the exact content of the span (hash of its tokens);
    within a cluster the first (doc_id, start) occurrence SURVIVES and
    every later occurrence is removed — "all but one", the paper's
    stated goal.  A span whose content is unique (an island that
    merged several distinct overlapping repeats into one maximal
    cover) forms a singleton cluster and is conservatively KEPT: its
    duplicated sub-ranges are still reported by the spans operator,
    but cutting them without an occurrence-level alignment could
    remove BOTH copies of a repeat, which the policy forbids.

    Scale shape: the spans frame (sparse — repeated spans only) joins
    back to its documents on doc_id, content hashes rank in one
    window partitioned by the 8-byte hash, and the rebuild is a
    per-document in-row filter over token indices — linear in corpus
    tokens, no stage beyond the spans operator's own.  Output:
    (doc_id, n_tokens, n_removed, clean_text) over ALL documents
    (clean_text lowercased, the operator's token domain)."""
    from pyspark.sql import Window as W

    spans = exact_substring_spans(docs, k, text_col, id_col)
    base = docs.select(id_col, text_col)
    toks = F.split(F.lower(F.col(text_col)), " ")
    ch = portable_hash64(
        F.array_join(
            F.slice(toks, F.col("start").cast("int"), F.col("len").cast("int")), " "
        )
    )
    wc = W.partitionBy("ch").orderBy(F.col(id_col).asc(), F.col("start").asc())
    cuts = (
        base.join(spans, id_col)
        .withColumn("ch", ch)
        .withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") >= 2)
        .groupBy(id_col)
        .agg(F.collect_list(F.struct(F.col("start"), F.col("len"))).alias("cuts"))
    )
    out = base.join(cuts, id_col, "left")
    idxs = F.sequence(F.lit(1), F.size(toks))
    kept = F.filter(
        idxs,
        lambda i: ~F.exists(
            F.col("cuts"), lambda c: (i >= c["start"]) & (i < c["start"] + c["len"])
        ),
    )
    # The O(tokens · cuts) rebuild runs ONLY for documents that have
    # cuts (round 11: spans are sparse — at sf0.1, 433 span rows over
    # 5000 docs — yet the sequence/filter/exists/transform/array_join
    # chain ran for EVERY row and was ~70% of the entry's exec time).
    # For a cut-free doc the rebuild is the identity: split on a
    # single space re-joined with a single space preserves every run
    # of spaces (empty tokens round-trip), so clean_text is exactly
    # ``lower(text)`` and n_removed is 0.  CASE WHEN evaluates its
    # branches lazily in codegen, so cut-free rows never touch the
    # array chain.  The text IS NOT NULL guard (ADVICE r11) keeps the
    # null-text behavior of the slow path: size(split(null)) is null,
    # so n_removed/clean_text stay NULL for a null-text doc instead of
    # the fast path's 0/lower(null).
    no_cuts = F.col("cuts").isNull() & F.col(text_col).isNotNull()
    return out.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.when(no_cuts, F.lit(0))
        .otherwise(F.size(toks) - F.size(kept))
        .cast("long")
        .alias("n_removed"),
        F.when(no_cuts, F.lower(F.col(text_col)))
        .otherwise(
            F.array_join(F.transform(kept, lambda i: F.get(toks, i - 1)), " ")
        )
        .alias("clean_text"),
    )


# winnowing parameters, shared with the oracle SQL: window of W
# consecutive shingle hashes; fingerprints encode (hash, position) in
# one int64 (hash < 2^33 shifted past a 2^20 position field); the
# checksum folds modulo a Mersenne prime so it can never overflow
# int64 however many fingerprints a document selects
WINNOW_W = 4
WINNOW_POS_BITS = 20
WINNOW_CHECKSUM_P = (1 << 61) - 1


def winnowing(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD'03, the MOSS fingerprinting scheme): slide a window of
    ``w`` consecutive shingle hashes over the document and select each
    window's minimum (rightmost occurrence on ties).  The guarantee:
    any match of ``w + n - 1`` tokens or longer between two documents
    shares at least one selected fingerprint — positional near-dup
    detection with an expected density of 2/(w+1), unlike MinHash
    (global, set-based) or :func:`rolling_fingerprint` (single
    whole-doc hash).  NOTE: this is the paper's BASE algorithm; its
    "robust winnowing" refinement additionally re-selects the previous
    window's fingerprint on hash ties (relevant only under hash
    collisions within a window) — a documented divergence, identical
    on both engines.

    Emits per doc the distinct fingerprint count and a deterministic
    integer checksum of the selected (hash, position) set.  Winner
    codes pack ``hash * 2^20 + (position mod 2^20)`` into one int64
    (hash < SHINGLE_P < 2^33, so codes < 2^53 — exact even through a
    double); the pmod ENFORCES the 20-bit position field — a >1M-
    shingle document wraps positions rather than bleeding into the
    hash field, at worst collapsing two same-hash fingerprints 2^20
    positions apart into one (identical on both engines); the
    checksum folds them
    modulo ``WINNOW_CHECKSUM_P`` (2^61 − 1: acc + code stays < 2^62,
    no int64 overflow at ANY fingerprint count, where a plain sum
    would wrap past ~2^11 fingerprints).  Modular addition is
    commutative, so the fold equals ``sum(codes) mod P`` in any
    order — bit-identical cross-engine.

    Scale shape: ZERO shuffles — token hashing, shingling, window
    minima, tie-break, and checksum are all per-row array expressions
    in one codegen'd projection (the :func:`~aprs2influxdb_spark.operators.textanalysis.quality_classifier`
    plan shape).  Per-row cost is O(shingles · w²) long comparisons —
    w = 4 keeps the constant trivial."""
    from aprs2influxdb_spark.functions.hashing import positional_shingles

    hs = positional_shingles(tokens_col(text_col), n)

    def _winners(h):
        starts = F.sequence(F.lit(0), F.greatest(F.size(h) - w, F.lit(0)))

        def _code(j):
            sl = F.slice(h, j + 1, w)
            m = F.array_min(sl)
            rel = F.array_max(
                F.filter(
                    F.sequence(F.lit(0), F.lit(w - 1)),
                    lambda i: F.get(sl, i) == m,
                )
            )
            # pmod keeps the position inside its 2^20 field: a doc
            # with >1M shingles wraps positions instead of silently
            # corrupting the hash field (wrap collisions merely drop
            # a fingerprint from the distinct set — identically on
            # both engines, and only for ~4 MB+ single documents)
            return m * F.lit(2 ** WINNOW_POS_BITS) + F.pmod(
                j + rel, F.lit(2 ** WINNOW_POS_BITS)
            )

        return F.array_distinct(F.transform(starts, _code))

    # let-bind the shingle array (one element outer transform) so the
    # per-window lambdas reference it as a variable, not re-evaluate
    # the whole Horner chain per window — see hashed_shingles
    winners = F.get(F.transform(F.array(hs), _winners), 0)
    return _spread_docs(docs, id_col, text_col).select(
        F.col(id_col),
        F.size(winners).alias("n_fps"),
        F.aggregate(
            winners, F.lit(0).cast("long"),
            lambda a, x: F.pmod(a + x, F.lit(WINNOW_CHECKSUM_P)),
        ).alias("fp_checksum"),
    )


def winnowing_match_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, w: int = WINNOW_W, min_shared: int = 2, max_doc_freq: int = 64,
) -> DataFrame:
    """MOSS match DETECTION over the winnowing fingerprints: document
    pairs sharing at least ``min_shared`` selected fingerprint HASHES
    (the position field is stripped — matching is content-positional
    within each doc, cross-doc identity is the hash, exactly the MOSS
    report).  The winnowing guarantee carries over: any shared run of
    ``w + n - 1`` tokens yields at least one shared fingerprint, so
    ``min_shared = 2`` already demands two independent shared runs.

    Scale shape: the inverted (hash, doc) index is df-capped before
    the pair join — a fingerprint appearing in more than
    ``max_doc_freq`` docs is boilerplate and generates no candidates
    (the ``ngram_jaccard`` cap discipline: one hot hash in 10⁶ docs
    would otherwise emit 10¹² pair rows); survivors join on the
    8-byte hash and aggregate per pair.  Emitted counts are computed
    AFTER the cap on both engines, so the entry is oracle-exact."""
    from aprs2influxdb_spark.functions.hashing import positional_shingles

    from pyspark.sql import Window

    hs = positional_shingles(tokens_col(text_col), n)

    def _winners(h):
        starts = F.sequence(F.lit(0), F.greatest(F.size(h) - w, F.lit(0)))

        def _code(j):
            sl = F.slice(h, j + 1, w)
            return F.array_min(sl)

        return F.array_distinct(F.transform(starts, _code))

    winners = F.get(F.transform(F.array(hs), _winners), 0)
    inv = (
        _spread_docs(docs, id_col, text_col)
        .select(F.col(id_col), F.explode(winners).alias("fp"))
    )
    wf = Window.partitionBy("fp")
    pruned = inv.withColumn("df", F.count("*").over(wf)).filter(
        F.col("df") <= max_doc_freq
    )
    a = pruned.select(F.col(id_col).alias("id_a"), "fp")
    b = pruned.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# Bloom-filter geometry, shared with the oracle SQL: 2^16 bits stored
# as 2048 32-bit words (bit values stay positive in int64 on both
# engines — 1 << 63 would hit the sign bit), k = 3 salted hashes.
BLOOM_BITS = 1 << 16
BLOOM_K = 3
BLOOM_WORD_BITS = 5  # 32-bit words: word = pos >> 5, bit = pos & 31


def bloom_decontaminate(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, eval_mod: int = 20, salt: str = "eval",
) -> DataFrame:
    """Bloom-filter decontamination with MEASURED false positives: the
    held-out eval slice's shingles build a real 8 KB bitset (2^16
    bits, k=3 salted hashes), every training document probes it, and
    each flagged doc reports its bloom hit count beside the exact
    overlap — quantifying the over-flagging a production bloom gate
    would inflict at this geometry.  The 100 TB rationale: an 8 KB
    bitset broadcast beats shipping the full eval shingle set when the
    benchmark corpus grows past broadcast range, at the price of the
    FP rate this operator measures (~(1-e^{-kn/m})^k).

    Cross-engine exactness: bit positions come from the portable
    salted md5 hashes; the bitset is integer ``bit_or`` words; probe
    verdicts are integer bit tests — the sketch AND its mistakes are
    bit-identical on both engines.

    Plan shape: the eval slice collapses to ≤ 2048 (word, bits) rows,
    then to ONE row holding the dense 2048-word bitset array — the
    literal 8 KB sketch the docstring promises — broadcast to the
    training side by a 1-row cross join (the repo's standing
    1-row-aggregate join shape).  Every per-hash probe is then a pure
    row expression (`element_at` O(1) array index + bit test), so the
    per-doc count needs only the one ``groupBy(id)`` exchange.
    (Round 11: this replaces an explode to k position rows + a
    ``groupBy(id, shingle)`` recovery shuffle — the k× exploded probe
    rows were the largest exchange in the plan.  A join-per-hash
    variant was measured in between: 3 broadcast hash joins rebuilt
    the eval aggregation once per hash, 1.67 → 2.86 s — the dense
    array keeps the single build AND drops every probe-side join.)
    The exact-overlap join reuses :func:`decontaminate`'s broadcast
    shape.  Training data moves once."""
    base = _spread_docs(docs, id_col, text_col).select(
        F.col(id_col),
        hashed_shingles(tokens_col(text_col), n).alias("sh"),
        F.pmod(
            portable_hash64(F.concat(F.lit(salt + "_"), F.col(id_col).cast("string"))),
            F.lit(eval_mod),
        ).alias("_bucket"),
    ).localCheckpoint(eager=False)
    eval_shingles = (
        base.filter(F.col("_bucket") == 0)
        .select(F.explode("sh").alias("sh"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def pos(j):
        return F.pmod(
            portable_hash64(F.concat(F.lit(f"bf{j}#"), F.col("sh").cast("string"))),
            F.lit(BLOOM_BITS),
        )

    words = (
        eval_shingles.select(
            F.explode(F.array(*[pos(j) for j in range(BLOOM_K)])).alias("pos")
        )
        .select(
            F.shiftright("pos", BLOOM_WORD_BITS).alias("word"),
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    train = (
        base.filter(F.col("_bucket") != 0)
        .select(F.col(id_col), F.explode("sh").alias("sh"))
    )
    # Densify the sparse (word, bits) rows into ONE 2048-slot array
    # row: slot w holds that word's OR-ed bits, absent words are 0
    # (try_element_at: ANSI mode would raise on a missing map key).
    # The O(words²) map scan runs once, on one row, at build time —
    # every per-shingle probe after it is an O(1) array index.
    bitset = (
        words.groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("_m")
        )
        .select(
            F.expr(
                "transform(sequence(0, {n} - 1),"
                " w -> coalesce(try_element_at(_m, cast(w as bigint)), cast(0 as bigint)))"
                .format(n=BLOOM_BITS >> BLOOM_WORD_BITS)
            ).alias("_bf")
        )
    )
    # A shingle is a hit only when ALL k bit tests pass — identical
    # verdict to the former inner-join + count(k_present)==k recovery,
    # minus its (id, shingle) shuffle of the k× exploded probe rows
    # (shingles are distinct per doc by hashed_shingles'
    # array_distinct, so no per-(id, sh) regrouping is ever needed).
    sh_rows = train
    hit = F.lit(True)
    for j in range(BLOOM_K):
        sh_rows = sh_rows.withColumn(f"_p{j}", pos(j))
        hit = hit & (
            F.expr(
                f"element_at(_bf, cast(shiftright(_p{j}, {BLOOM_WORD_BITS}) + 1 as int))"
                f" & shiftleft(cast(1 as bigint), cast(_p{j} % 32 as int))"
            )
            != 0
        )
    sh_verdict = sh_rows.crossJoin(F.broadcast(bitset)).select(
        F.col(id_col), "sh", hit.cast("int").alias("bloom_hit")
    )
    exact = (
        train.join(F.broadcast(eval_shingles), "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("exact_hits"))
    )
    return (
        sh_verdict.groupBy(id_col)
        .agg(F.sum("bloom_hit").alias("bloom_hits"))
        .filter(F.col("bloom_hits") >= 1)
        .join(exact, id_col, "left")
        .select(
            F.col(id_col),
            "bloom_hits",
            F.coalesce("exact_hits", F.lit(0)).alias("exact_hits"),
            (F.col("bloom_hits") - F.coalesce("exact_hits", F.lit(0))).alias("false_pos"),
        )
    )


def boilerplate_chunks(
    docs: DataFrame, window: int = 16, min_docs: int = 2,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Frequency-threshold boilerplate detection (the CCNet/RefinedWeb
    rule `paragraph_dedup` is the removal twin of): a span is
    BOILERPLATE when it occurs in at least ``min_docs`` DISTINCT
    documents — headers, footers, cookie banners.  Emits per document
    the chunk count, boilerplate-chunk count, and boilerplate
    fraction; a downstream filter drops high-fraction docs or strips
    the flagged spans.

    Differs from ``paragraph_dedup`` (first-occurrence keep: every
    later copy goes) in that the FIRST copy of a repeated span is
    flagged too — the frequency rule is symmetric, the dedup rule is
    ordered.

    Plan shape at 100 TB: chunking is the same narrow generator as
    ``paragraph_dedup``; the distinct-doc frequency is ONE shuffle on
    the uniform 16-byte digest (partial distinct on (digest, doc)
    first — map-side combine keeps within-doc repeats local); the
    flag-back is a join on that same digest key (co-partitioned, AQE
    picks shuffle-hash); per-doc rollup is one shuffle on the id.  No
    pairwise stage anywhere."""
    toks = F.split(F.col(text_col), " ")
    n_chunks = ((F.size(toks) - 1) / window).cast("int") + 1
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * window + 1, window), " "),
    )
    exploded = (
        spread_for_compute(docs.select(id_col, text_col))
        .select(id_col, F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .select(id_col, "chunk_idx", F.md5("chunk").alias("digest"))
    )
    dfreq = (
        exploded.select("digest", id_col)
        .distinct()
        .groupBy("digest")
        .agg(F.count("*").alias("df"))
    )
    return (
        exploded.join(dfreq, "digest")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("df") >= min_docs, 1).otherwise(0)).alias("n_boiler"),
        )
        .withColumn("boiler_frac", rhu(F.col("n_boiler") / F.col("n_chunks"), 4))
    )
