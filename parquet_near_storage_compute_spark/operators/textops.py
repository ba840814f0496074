"""Text-analysis operators over ``documents`` (north-star extension).

Language-ID, quality scoring, token counting and document fingerprinting —
all as per-row native expressions (higher-order functions; zero Python UDFs),
so the operators are embarrassingly parallel: at 100 TB they are a narrow map
over the scan with optional small group-bys on low-cardinality keys.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions.sql import sql_string
from parquet_near_storage_compute_spark.functions.text import (
    MARKERS,
    STOPWORDS_EN,
    char_ngrams,
    count_in,
    hash32,
    shingles,
    words,
)
from parquet_near_storage_compute_spark.tables import fan_out, load_table


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: length, token stats, stopword ratio,
    punctuation count — the standard pre-training quality-filter columns."""
    docs = load_table(spark, sf_dir, "documents")
    ws = words("text")
    n_words = f"size({ws})"
    total_wlen = f"aggregate({ws}, 0, (_acc, _w) -> _acc + length(_w))"
    return docs.selectExpr(
        "doc_id",
        "length(text) AS n_chars_actual",
        f"CAST({n_words} AS BIGINT) AS n_words",
        f"(CAST({total_wlen} AS DOUBLE) / {n_words}) AS avg_word_len",
        f"(CAST({count_in(ws, STOPWORDS_EN)} AS DOUBLE) / {n_words}) AS stopword_ratio",
        f"CAST(size(filter({ws}, _w -> length(_w) > 6)) AS BIGINT) AS n_long_words",
    )


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate: docs passing minimum-quality thresholds (the filter form
    of quality_scores), with per-source pass rates."""
    docs = load_table(spark, sf_dir, "documents")
    ws = words("text")
    n_words = F.expr(f"size({ws})")
    stop_ratio = F.expr(count_in(ws, STOPWORDS_EN)).cast("double") / n_words
    passed = (
        (F.length("text") >= 100) & (n_words >= 20) & (stop_ratio >= 0.0)
    )
    return (
        docs.withColumn("passed", passed)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("passed").cast("long")).alias("n_passed"),
        )
    )


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: argmax of per-language marker counts with a
    fixed priority order (de > es > fr > en) on ties, default en. Reported
    against the dataset's ``lang`` column as a confusion summary."""
    docs = load_table(spark, sf_dir, "documents")
    ws = words("text")
    scores = {lang: F.expr(count_in(ws, vocab)) for lang, vocab in MARKERS.items()}
    pred = (
        F.when(
            (scores["de"] > scores["es"])
            & (scores["de"] > scores["fr"])
            & (scores["de"] > scores["en"]),
            F.lit("de"),
        )
        .when(
            (scores["es"] > scores["fr"]) & (scores["es"] > scores["en"]),
            F.lit("es"),
        )
        .when(scores["fr"] > scores["en"], F.lit("fr"))
        .otherwise(F.lit("en"))
    )
    return (
        docs.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, two tokenizers: whitespace and a BPE-ish regex
    ([a-z0-9]+ runs); per-source totals (pre-training size accounting)."""
    docs = load_table(spark, sf_dir, "documents")
    ws_count = F.expr(f"CAST(size({words('text')}) AS BIGINT)")
    re_count = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), F.lit(0))
    ).cast("long")
    return (
        docs.select("source", ws_count.alias("n_ws"), re_count.alias("n_re"))
        .groupBy("source")
        .agg(
            F.sum("n_ws").alias("ws_tokens"),
            F.sum("n_re").alias("regex_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


FP_NGRAM = 8
FP_KEEP = 4


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: the 4 smallest md5s of the
    character 8-grams, concatenated. Content-defined, order-robust — a
    compact near-dup key (groupable like simhash)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    grams = F.expr(char_ngrams("text", FP_NGRAM))
    hashes = F.transform(grams, lambda g: F.md5(g))
    fp = F.array_join(F.slice(F.array_sort(hashes), 1, FP_KEEP), "")
    return docs.select("doc_id", fp.alias("fingerprint"))


#: Corpus n-gram statistics: raw term frequency of word trigrams, top 20.
NGRAM_STATS_N = 3
NGRAM_STATS_K = 20


def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k n-gram frequencies — the vocabulary/boilerplate
    report (repeated trigrams expose templates and n-gram LM stats). Shape:
    explode → partial+final count aggregate → TakeOrderedAndProject; the
    total order (count desc, gram asc) makes the top-k deterministic under
    ties. At 100 TB the count aggregate map-side-combines per task and the
    top-k never materializes more than k rows per partition."""
    docs = load_table(spark, sf_dir, "documents")
    g = fan_out(docs).select(
        F.expr(f"explode({shingles(words('text'), NGRAM_STATS_N)}) AS gm")
    )
    return (
        g.groupBy("gm")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("gm"))
        .limit(NGRAM_STATS_K)
    )


#: Repetition-filter thresholds (Gopher-style: Rae et al. 2021 filter
#: documents by duplicate-content fractions). Chosen to split the fixture
#: population; a production pipeline tunes them per corpus.
REP_DUP_FRAC = 0.6
REP_TOP_FRAC = 0.2


def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document: the duplicate-word
    fraction (1 − distinct/total) and the most-frequent-word fraction —
    the standard gibberish/boilerplate signals a pre-training quality
    gate thresholds on.

    Both metrics are per-row array expressions (no explode, no shuffle):
    the top-word count is max over distinct words of an in-array count,
    O(distinct × words) per document, entirely inside whole-stage codegen.
    At 100 TB this is a narrow map over the scan — the same
    embarrassingly-parallel shape as quality_scores."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    ws = F.expr(words("text"))
    dws = F.array_distinct(ws)
    n_words = F.size(ws)
    top = F.array_max(
        F.transform(dws, lambda w: F.size(F.filter(ws, lambda x: x == w)))
    )
    dup_frac = F.lit(1.0) - F.size(dws).cast("double") / n_words
    top_frac = top.cast("double") / n_words
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.size(dws).cast("long").alias("n_distinct"),
        dup_frac.alias("dup_frac"),
        top_frac.alias("top_frac"),
        (
            (dup_frac > F.lit(REP_DUP_FRAC)) | (top_frac > F.lit(REP_TOP_FRAC))
        ).alias("flagged"),
    )


#: PII patterns — deliberately restricted to syntax with identical
#: semantics in Java regex (Spark) and RE2 (DuckDB): character classes,
#: bounded repetition, literal escapes. Counted/replaced in a fixed order
#: (emails → IPs → phones) on both engines.
PII_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.]+"
PII_IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PII_PHONE_RE = r"555-[0-9]{4}"

import os as _os

PII_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "fixtures",
    "pii_docs.parquet",
)


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance stage of a pre-training pipeline:
    count and strip email / IPv4 / phone-shaped tokens, emitting per-doc
    redaction counts and the md5 of the scrubbed text (the hash pins the
    full replacement output without shipping it).

    Runs over the ``sf_dir`` documents corpus (zero-redaction rows are a
    result too — the compliance report covers every document) UNION the
    committed ``fixtures/pii_docs.parquet`` positive control (the driver
    corpus is clean word-salad; the fixture proves the patterns actually
    fire — same device as types_unsigned_decimal). Counts are REDACTION
    counts, taken progressively: emails counted on raw text then replaced,
    IPs counted on the email-scrubbed text, phones on the IP-scrubbed text
    — so an IP inside an email domain is counted once, as the email that
    consumed it. Pure regexp expressions, narrow map, zero shuffles; at
    100 TB this is scan-speed."""
    from parquet_near_storage_compute_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fixture = spark.read.parquet(PII_FIXTURE).select("doc_id", "text")
    corpus = docs.withColumn("corpus", F.lit("documents")).unionByName(
        fixture.withColumn("corpus", F.lit("fixture"))
    )
    return _pii_report(corpus)


def _pii_report(corpus: DataFrame) -> DataFrame:
    """Progressive scrub over a (corpus, doc_id, text) frame — split out so
    tests can pin the count-equals-redaction semantics on crafted rows."""

    def n_matches(col: F.Column, pat: str) -> F.Column:
        return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0))).cast(
            "long"
        )

    t0 = F.col("text")
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IP_RE, "<IP>")
    t3 = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    return corpus.select(
        "corpus",
        "doc_id",
        n_matches(t0, PII_EMAIL_RE).alias("n_emails"),
        n_matches(t1, PII_IP_RE).alias("n_ips"),
        n_matches(t2, PII_PHONE_RE).alias("n_phones"),
        F.md5(t3).alias("scrubbed_hash"),
    )


def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-characteristic term per document by TF-IDF — the classic
    keyword/topic signal (and the shape of any term-weighting pipeline:
    explode → per-doc counts → corpus document frequencies → join back).

    Scale shape: two hash aggregates (doc,term) and (term), one equi-join
    on term (both sides shuffle; per-key volume on the tf side is bounded
    by document frequency, i.e. the corpus itself — stopwords are the
    hot keys, a production run drops df/N > 0.5 terms first), then a
    per-doc window. The top-term RANKING is integer-only (tf desc, df asc,
    term asc) so cross-engine float divergence in ln() can never flip a
    winner; the tfidf double is output-only.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    pairs = docs.select("doc_id", F.expr(f"explode({words('text')}) AS term"))
    tf = pairs.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n))
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.desc("tf"), F.asc("df"), F.asc("term")
        )
    )
    return (
        scored.withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
        .withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


#: Segment width for cross-document duplicate-segment accounting.
SEG_WORDS = 10


def _segment_grid(ws: str) -> str:
    """SQL text: the non-overlapping SEG_WORDS-word grid over the word
    array ``ws`` as an array of (seg_idx BIGINT, seg STRING) structs in
    position order — ``seg`` is the segment's words joined by single
    spaces; a document with no words has an empty grid."""
    n_segs = f"CAST(ceil(size({ws}) / {SEG_WORDS}) AS INT)"
    seg = f"array_join(slice({ws}, _i * {SEG_WORDS} + 1, {SEG_WORDS}), ' ')"
    return (
        f"CASE WHEN size({ws}) > 0 THEN transform(sequence(0, {n_segs} - 1), "
        f"_i -> struct(CAST(_i AS BIGINT) AS seg_idx, {seg} AS seg)) "
        "ELSE CAST(array() AS ARRAY<STRUCT<seg_idx: BIGINT, seg: STRING>>) END"
    )


def dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-segment accounting (the Gopher-style
    "fraction of duplicated n-gram blocks" corpus signal, but at segment
    granularity): split every document into non-overlapping SEG_WORDS-word
    segments (`_segment_grid`), count how many documents each distinct
    segment appears in, and report per document how many of its segments
    are shared with at least one OTHER occurrence. Complements
    `text_repetition_filter` (within-doc repetition) and
    `dedup_shingle_containment` (pairwise
    containment) with the corpus-wide boilerplate view that drives
    segment-level scrubbing in a real pipeline.

    Scale shape: one explode (narrow, ~n_words/SEG_WORDS rows per doc),
    one segment-keyed hash aggregate (map-side combined), one equi-join
    of the segment stream against the per-segment counts (1:1 lookup —
    counts frame has one row per distinct segment, so no fan-out skew),
    one doc-keyed aggregate. Nothing quadratic; boilerplate-heavy
    corpora concentrate JOIN keys, not join outputs."""
    grid = _segment_grid(words("text"))
    segs = fan_out(load_table(spark, sf_dir, "documents")).selectExpr(
        "doc_id", f"explode(array_distinct(transform({grid}, _s -> _s.seg))) AS seg"
    )
    counts = segs.groupBy("seg").agg(F.count(F.lit(1)).alias("n_docs_with"))
    return (
        segs.join(counts, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("n_docs_with") >= 2).cast("long")).alias(
                "n_shared_segments"
            ),
        )
        .orderBy("doc_id")
    )


def dedup_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide first-occurrence segment scrub with document reassembly
    — the ACTION half of `text_dedup_segments`' measurement and the
    segment-granularity form of CCNet/RefinedWeb line-level dedup (Wenzek
    et al. 2020, arXiv:1911.00359 §3.1 dedups paragraphs by hash across
    the corpus keeping one occurrence; the synthetic docs have no
    newlines, so the non-overlapping SEG_WORDS-word `_segment_grid`
    stands in for lines): every distinct segment survives ONLY at
    its globally first occurrence (min (doc_id, seg_idx)); every other
    occurrence — including repeats later in the keeper doc itself — is
    scrubbed, and each document is re-assembled from its surviving
    segments in position order, with before/after accounting and an md5
    of the rebuilt text for member-level verification (the
    `text_dedup_trim` kept_hash pattern).

    Scale shape — deliberately tighter than `text_dedup_segments`' count
    join: the kept set IS the per-segment argmin row, so the op is one
    explode → ONE segment-keyed aggregate (min(struct(doc_id, seg_idx)),
    map-side combinable: a boilerplate segment duplicated 10M× collapses
    to one row per map task before the exchange) → one doc-keyed
    re-assembly aggregate → a 1:1 doc join for the totals. Two shuffles,
    no occurrence-stream join, nothing quadratic; per-doc state is
    bounded by the doc's own kept segments."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).selectExpr(
        "doc_id", f"{_segment_grid(words('text'))} AS grid"
    )
    occ = docs.selectExpr("doc_id", "inline(grid)")
    # (doc_id, seg_idx) pairs are unique, so the struct-min is a total
    # order with no ties — the keeper is exactly one occurrence row.
    keepers = occ.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("k")
    ).select(
        F.col("k.doc_id").alias("doc_id"),
        F.col("k.seg_idx").alias("seg_idx"),
        "seg",
    )
    per_doc = (
        keepers.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                    lambda x: x.getField("seg"),
                ),
            ).alias("kept_text"),
        )
        .select(
            "doc_id",
            "n_kept",
            F.length("kept_text").cast("bigint").alias("kept_chars"),
            F.md5("kept_text").alias("kept_hash"),
        )
    )
    totals = docs.selectExpr("doc_id", "CAST(size(grid) AS BIGINT) AS n_segments")
    return totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_segments",
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce("kept_chars", F.lit(0).cast("bigint")).alias("kept_chars"),
        F.coalesce("kept_hash", F.md5(F.lit(""))).alias("kept_hash"),
    )


#: Hashing-trick feature space of the linear quality model.
QC_DIM = 4096
#: Integer weights: w(f) = hash32('qw', f) % QC_WEIGHT_MOD − QC_WEIGHT_SHIFT
#: ∈ [−1000, 1000].  A real model would broadcast-join learned weights
#: against the same feature ids; the md5-derived weights keep the contract
#: deterministic and cross-engine reproducible without a model artifact.
QC_WEIGHT_MOD = 2001
QC_WEIGHT_SHIFT = 1000
#: Word n-gram order of the features.
QC_NGRAM = 2
#: Margin units per quality bucket (fixed-point; the sigmoid is monotone
#: in the margin, so bucketing margins ≡ bucketing probabilities — and
#: stays in exact integer arithmetic, no transcendental drift).
QC_BUCKET_SCALE = 2_000
QC_BUCKET_CLAMP = 5


def quality_margins(docs: DataFrame) -> DataFrame:
    """Linear quality-model scoring over hashed word-bigram features —
    the model-based half of quality filtering (the heuristic half is
    `text_quality_scores`): feature id = hash32('qf', bigram) % QC_DIM,
    weight = md5-derived integer, margin = Σ weights, bucket =
    clamp(floor(margin / QC_BUCKET_SCALE)).

    Shape: explode bigrams → a PURE-EXPRESSION weight per gram (no join:
    the weight is a formula of the feature id, computable inside codegen;
    a learned model would broadcast-join a QC_DIM-row weight table on the
    same ids — identical plan shape, one tiny build side) → one groupBy
    on doc_id with an integer sum.  Every output is an exact integer —
    no sigmoid in the contract, because bucketing the margin is
    equivalent and engine-exact.  Docs with < QC_NGRAM words survive via
    explode_outer with margin 0."""
    base = fan_out(docs).select(
        "doc_id", F.expr(f"{shingles(words('text'), QC_NGRAM)} AS gs")
    )
    feats = base.select("doc_id", F.explode_outer("gs").alias("g"))
    f_id = f"{hash32(sql_string('qf'), 'g')} % {QC_DIM}"
    wt = F.expr(
        f"CASE WHEN g IS NULL THEN 0 ELSE "
        f"({hash32(sql_string('qw'), f_id)} % {QC_WEIGHT_MOD}) - {QC_WEIGHT_SHIFT} END"
    )
    scored = feats.groupBy("doc_id").agg(
        F.sum(F.col("g").isNotNull().cast("long")).alias("n_features"),
        F.sum(wt).alias("margin"),
    )
    bucket = F.greatest(
        F.lit(-QC_BUCKET_CLAMP),
        F.least(
            F.lit(QC_BUCKET_CLAMP),
            F.floor(F.col("margin") / F.lit(float(QC_BUCKET_SCALE))),
        ),
    )
    return scored.select(
        "doc_id",
        "n_features",
        "margin",
        bucket.cast("long").alias("quality_bucket"),
    )


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry contract: model-based quality scores for every document."""
    return quality_margins(load_table(spark, sf_dir, "documents"))


#: Fixed-point scale for per-bigram log-probs: lp·2^20 is an EXACT double
#: operation (pure exponent shift), so quantization adds no arithmetic
#: error — the only cross-engine hazard is ln's own last-ulp wobble
#: landing exactly on a floor boundary, and the measured distance to the
#: nearest boundary is ~12 orders of magnitude wider (see
#: tests/test_lm_perplexity.py).
LM_SCALE = 1 << 20

#: Keep gate on per-doc average negative log-likelihood (nats/bigram)
#: under the corpus bigram LM, in LM_SCALE fixed point (3.5 nats — the
#: measured sf0.01 avg_nll distribution spans ~3.26..3.61, so the gate
#: cuts the surprising tail). 3.5·2^20 is exact; the keep decision is a
#: pure integer comparison, so it cannot flip across engines.
LM_NLL_KEEP_FP = 3670016  # = 3.5 * LM_SCALE, exact


def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-based quality filter (the CCNet recipe): score every
    document by its average negative log-likelihood under a bigram LM
    trained on THE CORPUS ITSELF, then gate on the score — documents the
    corpus-level LM finds surprising are the quality outliers. The third
    quality rung beside the heuristic features (`text_quality_scores`) and
    the hashed linear model (`text_quality_classifier`).

    Model: add-one-smoothed conditional MLE, P(w2|w1) =
    (c(w1,w2) + 1) / (c(w1·) + V) with c(w1·) the bigram-history count and
    V the corpus vocabulary size. The "LM" is never a driver-side table —
    it is the DISTINCT-bigram frame with its log-prob column (exactly the
    count table production would persist as the reusable LM): the corpus
    collapses once to per-(doc, bigram) multiplicities (map-side
    combinable, so a hot bigram partial-aggregates per mapper instead of
    flooding one task — the reason this is groupBy+join and NOT a window
    over partitionBy(w1), which would put every occurrence of the hottest
    history word into a single window task at 100 TB), the conditional
    counts re-aggregate from THAT frame (two distinct-bigram-sized
    exchanges), and the scored LM joins back per (w1, w2) — skew there is
    bounded by per-doc multiplicities already being collapsed, and AQE
    splits any residual hot key. One tiny distinct-vocab aggregate
    broadcasts V.

    Cross-engine exactness: JVM and libm ln() disagree in the last ulp on
    some inputs (observed directly on this corpus), so each bigram's
    log-prob is quantized to LM_SCALE fixed point — floor(lp·2^20), where
    the scaling is an exact exponent shift and the floor sits a measured
    ~1e5 ulps from the nearest boundary (tests/test_lm_perplexity.py).
    Everything downstream is integer algebra: the per-doc score is a plain
    BIGINT sum (order-free, map-side combinable — no sorted-fold needed),
    avg_nll re-derives from the integers via exact power-of-two division,
    and the keep gate compares integers, so the decision cannot flip
    across engines or partitionings."""
    docs = load_table(spark, sf_dir, "documents")
    base = fan_out(docs).select("doc_id", F.expr(f"{words('text')} AS ws")).persist()
    vsz = base.select(F.explode("ws").alias("w")).agg(
        F.countDistinct("w").alias("vsz")
    )
    big = (
        base.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("ws", 1, F.size("ws") - 1).alias("w1"),
                    F.slice(F.col("ws"), 2, F.size("ws") - 1).alias("w2"),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    # per-(doc, bigram) multiplicities: the corpus' one full-width shuffle.
    # persisted — it feeds the conditional-count build AND the score join;
    # uncached, both consumers would re-shuffle the corpus
    bg = (
        big.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("m"))
        .persist()
    )
    # conditional counts re-aggregate from bg (distinct-bigram-sized work).
    # persisted: cb feeds the unigram re-aggregate
    # AND the LM join's build side — uncached, each consumer re-shuffles
    # the distinct-bigram frame out of bg (interleaved A/B at sf0.1:
    # best 1.141 → 1.013 s with the cache, every sample in favor)
    cb = bg.groupBy("w1", "w2").agg(F.sum("m").alias("c2")).persist()
    ch = cb.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lp = F.log(
        (F.col("c2") + 1).cast("double")
        / (F.col("c1") + F.col("vsz")).cast("double")
    )
    lm = (
        cb.join(ch, "w1")
        .crossJoin(F.broadcast(vsz))
        .select(
            "w1",
            "w2",
            F.floor(lp * F.lit(float(LM_SCALE))).cast("bigint").alias("lq"),
        )
    )
    scored = (
        bg.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.sum(F.col("m") * F.col("lq")).alias("sq"),
        )
    )
    avg_nll = (
        (-F.col("sq")).cast("double") / F.lit(float(LM_SCALE))
    ) / F.col("n_bigrams").cast("double")
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce(avg_nll, F.lit(0.0)).alias("avg_nll"),
            F.when(
                F.col("sq").isNotNull()
                & (-F.col("sq") <= F.lit(LM_NLL_KEEP_FP) * F.col("n_bigrams")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("keep"),
        )
    )


#: Window length (in words) for duplicate-text accounting — the
#: exact-substring dedup statistic of Lee et al. 2022 (arXiv:2107.06499,
#: "Deduplicating Training Data Makes Language Models Better"): a window
#: is duplicated if the same word sequence occurs anywhere else in the
#: corpus (another doc, or again in the same doc).
TEXT_DUP_WINDOW = 8


def duplicate_window_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-text accounting: per document, how much of it
    is text that exists elsewhere in the corpus — the fraction of its
    TEXT_DUP_WINDOW-word rolling windows whose word sequence occurs ≥ 2
    times corpus-wide. This is the measurement half of exact-substring
    dedup (Lee et al. 2022): pairwise dedup (`dedup_*`) decides which DOC
    to drop; this scores how much duplicated TEXT each doc carries, the
    signal used to trim rather than drop.

    Shape (the lm_perplexity discipline): windows hash to md5 (16-byte
    shuffle keys instead of W-word strings), the corpus collapses once to
    per-(doc, hash) multiplicities (persisted; map-side combinable, so a
    boilerplate window repeated millions of times partial-aggregates per
    mapper), corpus occurrence counts re-aggregate from that frame
    (distinct-window-sized), and the flagged counts join back per hash.
    A within-doc repeat (m ≥ 2) is itself a duplicate — occ ≥ 2 subsumes
    it, so the flag needs no special case."""
    docs = load_table(spark, sf_dir, "documents")
    wins = fan_out(docs).select(
        "doc_id",
        F.expr(f"explode({shingles(words('text'), TEXT_DUP_WINDOW)}) AS gm"),
    ).select("doc_id", F.md5("gm").alias("h"))
    per_doc_h = (
        wins.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("m")).persist()
    )
    occ = per_doc_h.groupBy("h").agg(F.sum("m").alias("occ"))
    dup = (
        per_doc_h.join(occ, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_windows"),
            F.sum(
                F.when(F.col("occ") >= 2, F.col("m")).otherwise(F.lit(0))
            ).alias("n_dup_windows"),
        )
    )
    return (
        docs.select("doc_id")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("bigint").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0))
            .cast("bigint")
            .alias("n_dup_windows"),
            F.when(
                F.col("n_windows").isNotNull(),
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def trim_spans(base: DataFrame, starts: DataFrame, w: int) -> DataFrame:
    """Span trim, the ACTION half of a window-flagging report: keep each
    document of ``base`` (doc_id, ws), excise every word covered by a
    flagged ``w``-word window, and report before/after token accounting
    with an md5 of the kept text for member-level verification (the
    `text_pii_scrub` scrubbed-hash pattern). ``starts`` holds the flagged
    windows' (doc_id, p) starts, 1-based; the callers differ only in what
    flags a window (`dedup_trim`: duplicated corpus-wide;
    `training.decontaminate_trim`: an eval-split gram).

    The flagged starts are left-joined onto the per-word stream on
    (doc_id, p), and a word is trimmed iff some flagged window starts
    within the preceding w-1 positions — one rolling-max ROWS window over
    the dense per-doc positions, NOT a w× explode of covered spans.

    The left join RELIES on ``starts`` carrying one row per (doc_id, p):
    a duplicated start would multiply word rows. Both callers get that by
    construction (posexplode emits each window start once, and their
    flag joins — onto one row per hash, or a left_semi — preserve row
    identity), so no ``.distinct()`` is paid: on a duplicate-heavy corpus
    the flagged frame is itself corpus-sized, and the distinct cost an
    Exchange + two HashAggregates over it (A/B same-session isolated,
    best-of-7 at sf0.1 / best-of-3 at the sf3 rung, 32 cores: sf0.1
    1.434 → 1.033 s; rung 7.84 → 7.48 s). `tests/test_dedup_trim.py`
    pins the invariant for both callers on an adversarial all-duplicate
    corpus. The UNION-the-flags-into-the-window variant (carry kind=1
    rows under a RANGE frame, no join at all) was A/B'd and REJECTED:
    better at sf0.1 (−9/−22%) but 15-33% WORSE at the sf3 rung, where
    nearly every window is flagged and the extra flag rows inflate the
    window's sort input by more than the join they replace."""
    wpos = base.selectExpr("doc_id", "posexplode(ws) AS (i, word)").selectExpr(
        "doc_id", "i + 1 AS p", "word"
    )
    marked = wpos.join(
        starts.selectExpr("doc_id", "p", "1 AS flag"), ["doc_id", "p"], "left"
    ).selectExpr(
        "doc_id",
        "p",
        "word",
        "max(coalesce(flag, 0)) OVER (PARTITION BY doc_id ORDER BY p "
        f"ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS covered",
    )
    counts = marked.groupBy("doc_id").agg(
        F.expr("count(1) AS n_words"),
        F.expr("CAST(sum(covered) AS BIGINT) AS n_trimmed_words"),
        F.expr(
            "md5(concat_ws(' ', transform(array_sort(collect_list(CASE WHEN "
            "covered = 0 THEN struct(p, word) END)), _x -> _x.word))) AS kept_hash"
        ),
    )
    return counts.selectExpr(
        "doc_id",
        "n_words",
        "n_words - n_trimmed_words AS n_kept_words",
        "n_trimmed_words",
        "CAST(n_words - n_trimmed_words AS DOUBLE) / CAST(n_words AS DOUBLE) "
        "AS kept_fraction",
        "kept_hash",
    )


def dedup_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span trimming — the ACTION half of
    `text_duplicate_window_fraction`'s measurement: keep the document,
    excise every word covered by a corpus-duplicated
    TEXT_DUP_WINDOW-word window (the exact-substring dedup of Lee et al.
    2022, arXiv:2107.06499 — production pipelines trim the duplicated
    span rather than drop the doc), through `trim_spans`.

    Shape: the corpus collapses once to per-(doc, window-hash)
    multiplicities (map-side combinable — the same shuffle as
    duplicate_window_fraction); corpus occurrence counts re-aggregate
    from that collapsed frame; dup flags reach the per-word stream by
    re-deriving the (doc, position, hash) stream — MEASURED faster than
    carrying collect_list(position) through the collapse (interleaved
    best-of-5 at sf0.1: 1.97 s vs 2.17 s; the array payload on every
    collapsed row costs more than re-tokenizing). `occ` is one row per
    hash, so the inner join keeps one flagged row per window start, the
    invariant `trim_spans`' left join relies on."""
    docs = load_table(spark, sf_dir, "documents")
    # persisted: the tokenized frame feeds the window-hash stream (wins)
    # AND the per-word position stream in `trim_spans` — without the
    # cache each consumer re-scans the corpus and re-splits every
    # document (2× I/O + 2× tokenization at 100 TB for one narrow
    # (doc_id, words) projection, the _contamination_report precedent).
    base = fan_out(docs).select("doc_id", F.expr(f"{words('text')} AS ws")).persist()
    wins = base.select(
        "doc_id",
        F.expr(f"posexplode({shingles('ws', TEXT_DUP_WINDOW)}) AS (i, gm)"),
    ).select("doc_id", (F.col("i") + 1).alias("p"), F.md5("gm").alias("h"))
    per_doc_h = wins.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("m"))
    occ = per_doc_h.groupBy("h").agg(F.sum("m").alias("occ"))
    dup_starts = wins.join(occ.filter(F.col("occ") >= 2), "h").select("doc_id", "p")
    return trim_spans(base, dup_starts, TEXT_DUP_WINDOW)


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: what fraction of a doc's distinct
    trigrams appear in NO other document — the informativeness /
    memorization-risk signal the dedup literature reads next to duplicate
    fraction (a doc whose grams all recur elsewhere adds nothing the
    corpus doesn't already say; a high-novelty doc is unique content).
    Everything integer: counts plus a (1000·n_novel) div n_grams
    per-mille, so no float boundary moves a doc between engines.

    Scale shape: the standard global term-frequency pattern — one
    distinct-(doc, gram) explode, a map-side-combining groupBy(gram) for
    corpus gram frequencies (hot stop-grams collapse map-side, so the
    shuffle carries one row per distinct gram), one shuffle join of the
    two gram-keyed frames (co-partitioned on the join key by the groupBy
    exchange), then a groupBy(doc). No windows over the corpus, no
    collect, nothing quadratic; docs with <3 words have no trigrams and
    drop out of the report on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    # persisted: the distinct-(doc, gram) stream feeds the
    # global gram-frequency aggregate AND the join's probe side — without
    # the cache each consumer re-scans the corpus and re-tokenizes every
    # document (the lm_perplexity / duplicate_window_fraction discipline).
    sh = fan_out(docs).select(
        "doc_id",
        F.expr(f"explode(array_distinct({shingles(words('text'), 3)})) AS s"),
    ).persist()
    gcnt = sh.groupBy("s").agg(F.count(F.lit(1)).alias("n_docs_with"))
    per_doc = (
        sh.join(gcnt, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("n_docs_with") == 1).cast("bigint")).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.expr("(1000 * n_novel) div n_grams").cast("int").alias(
            "novelty_permille"
        ),
    )


#: Fixed-point scale for per-count logs in the entropy report — the
#: lm_perplexity device: scaling by 2^20 is an exact exponent shift, so
#: the only cross-engine hazard is ln's last-ulp wobble landing on a
#: floor boundary, and tests/test_r10_ops.py measures the distance for
#: every count in the committed corpora (ln(1) = 0.0 is exact in any
#: correct libm, so the c = 1 "boundary" is deterministic, not a hazard).
ENTROPY_SCALE = 1 << 20

#: Low-entropy gate: 1.5 nats/char in ENTROPY_SCALE fixed point (exact —
#: 1.5·2^20). Natural English text runs ~2.4–3.2 nats/char; a doc under
#: 1.5 is dominated by repeated characters/runs (the boilerplate /
#: gibberish / decompression-bomb signal). The flag is a pure integer
#: comparison (entropy_fp < gate·n), so it cannot flip across engines.
ENTROPY_LOW_FP = 3 << 19  # = 1.5 * ENTROPY_SCALE, exact


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal: per-document
    Shannon entropy of the character distribution, in nats — the cheap
    detector for repeated-run boilerplate, gibberish, and
    compression-bomb text that length/stopword heuristics
    (`text_quality_scores`), the hashed classifier, and the bigram-LM
    perplexity gate all miss in different ways (a megabyte of "aaaa…"
    has perfect word-shape features but ~0 entropy). Fourth rung of the
    quality ladder.

    Exact-integer form: H = ln(n) − (Σ c_i·ln(c_i))/n is emitted as
    ``entropy_fp = n·⌊ln(n)·2^20⌋ − Σ c_i·⌊ln(c_i)·2^20⌋`` — every term
    an exact BIGINT given the floors, and the floors sit measured
    margins away from ln's cross-engine last-ulp wobble (the
    lm_perplexity fixed-point discipline; ln(1) = 0 exactly, so
    single-occurrence characters contribute an exact 0). The
    ``low_entropy`` gate compares integers; ``entropy_nats`` re-derives
    from the integers by one exactly-determined division. A
    single-character-repeated doc scores exactly 0.

    Scale shape: one char explode (corpus chars) → map-side-combining
    (doc, char) count — a hot doc's rows spread across its ≤alphabet
    distinct keys — then a per-doc aggregate over ≤alphabet rows each.
    Two combinable exchanges, no window, no join. Empty documents have
    no characters and drop out on both engines.

    Char iteration is ONE ``split(text, '')`` pass: the
    original ``explode(sequence(1, length)) + substr(text, i, 1)`` form
    re-scanned the UTF8String from byte 0 on every call — O(len²) per
    doc, 24× slower at 80k chars and melting exactly on the megabyte
    "aaaa…" compression-bomb docs this op exists to catch. Spark's
    empty-regex split yields the code-point sequence (astral chars stay
    whole — Java regex boundaries never land inside a surrogate pair;
    pinned vs the substr form by
    tests/test_r11_ops.py::test_char_entropy_multibyte_equivalence); the
    ``!= ''`` filter guards the empty-string regex artifact some
    split implementations emit at the boundaries."""
    docs = load_table(spark, sf_dir, "documents")
    chars = (
        fan_out(docs)
        .filter(F.length("text") >= 1)
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    lq = F.floor(
        F.log(F.col("c").cast("double")) * F.lit(float(ENTROPY_SCALE))
    ).cast("bigint")
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
        F.sum(F.col("c") * lq).cast("bigint").alias("s"),
    )
    nq = F.floor(
        F.log(F.col("n_chars").cast("double")) * F.lit(float(ENTROPY_SCALE))
    ).cast("bigint")
    with_fp = per_doc.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        (F.col("n_chars") * nq - F.col("s")).alias("entropy_fp"),
    )
    return with_fp.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        "entropy_fp",
        (
            F.col("entropy_fp").cast("double")
            / (F.col("n_chars").cast("double") * float(ENTROPY_SCALE))
        ).alias("entropy_nats"),
        (F.col("entropy_fp") < F.lit(ENTROPY_LOW_FP) * F.col("n_chars")).alias(
            "low_entropy"
        ),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_quality_classifier": quality_classifier,
    "text_char_entropy": char_entropy,
    "text_ngram_novelty": ngram_novelty,
    "text_lm_perplexity": lm_perplexity,
    "text_duplicate_window_fraction": duplicate_window_fraction,
    "text_dedup_trim": dedup_trim,
    "text_quality_scores": quality_scores,
    "text_quality_filter": quality_filter,
    "text_language_id": language_id,
    "text_token_counts": token_counts,
    "text_fingerprint": fingerprint,
    "text_ngram_topk": ngram_topk,
    "text_repetition_filter": repetition_filter,
    "text_tfidf_topk": tfidf_topk,
    "text_pii_scrub": pii_scrub,
    "text_dedup_segments": dedup_segments,
    "text_dedup_scrub": dedup_scrub,
}

_MARKER_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in vocab) + "]"
    for lang, vocab in MARKERS.items()
}


def _score(lang: str) -> str:
    return f"len(list_filter(ws, w -> list_contains({_MARKER_SQL[lang]}, w)))"


#: DuckDB mirror of the hashed-bigram linear model (same md5 hash device
#: as sketches/training; weights recomputed from feature ids in SQL).
_QC_GRAMS_CTE = f"""
  grams AS (
    SELECT doc_id,
           unnest(list_transform(
             CASE WHEN len(ws) >= {QC_NGRAM} THEN range(len(ws)-{QC_NGRAM - 1})
                  ELSE [] END,
             i -> array_to_string(ws[i+1:i+{QC_NGRAM}], ' '))) AS g
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  ),
  feats AS (
    SELECT doc_id,
           ('0x'||substr(md5('qw:' || CAST(
              ('0x'||substr(md5('qf:'||g),1,8))::BIGINT % {QC_DIM} AS VARCHAR)
            ),1,8))::BIGINT % {QC_WEIGHT_MOD} - {QC_WEIGHT_SHIFT} AS w
    FROM grams
  ),
  margins AS (
    SELECT d.doc_id,
           CAST(COUNT(f.w) AS BIGINT) AS n_features,
           CAST(COALESCE(SUM(f.w), 0) AS BIGINT) AS margin
    FROM documents d LEFT JOIN feats f USING (doc_id)
    GROUP BY d.doc_id
  ),
  buckets AS (
    SELECT doc_id, n_features, margin,
           CAST(GREATEST(-{QC_BUCKET_CLAMP}, LEAST({QC_BUCKET_CLAMP},
                FLOOR(margin / {QC_BUCKET_SCALE}.0))) AS BIGINT)
             AS quality_bucket
    FROM margins
  )"""

ORACLE_SQL: dict[str, str] = {
    # deliberately a DIFFERENT char iterator than the Spark side:
    # the oracle keeps the per-position substr explode (fine at oracle
    # scale; independently pins the code-point semantics the Spark side
    # now gets from split(text, '')), then the same (doc, char) counts,
    # floor-quantized logs, integer entropy_fp, one exactly-determined
    # division for the nats view
    "text_char_entropy": f"""
        WITH chars AS (
          SELECT doc_id,
                 substr(text, CAST(i AS INT), 1) AS ch
          FROM (
            SELECT doc_id, text,
                   unnest(generate_series(
                     1, CAST(length(text) AS BIGINT))) AS i
            FROM documents WHERE length(text) >= 1
          )
        ),
        counts AS (
          SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
          FROM chars GROUP BY doc_id, ch
        ),
        per_doc AS (
          SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_chars,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
                 CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE))
                                         * {ENTROPY_SCALE}) AS BIGINT))
                      AS BIGINT) AS s
          FROM counts GROUP BY doc_id
        ),
        fp AS (
          SELECT doc_id, n_chars, n_distinct_chars,
                 CAST(n_chars * CAST(floor(ln(CAST(n_chars AS DOUBLE))
                                           * {ENTROPY_SCALE}) AS BIGINT)
                      - s AS BIGINT) AS entropy_fp
          FROM per_doc
        )
        SELECT doc_id, n_chars, n_distinct_chars, entropy_fp,
               CAST(entropy_fp AS DOUBLE)
                 / (CAST(n_chars AS DOUBLE) * {ENTROPY_SCALE}.0)
                 AS entropy_nats,
               entropy_fp < {ENTROPY_LOW_FP} * n_chars AS low_entropy
        FROM fp
    """,
    "text_quality_classifier": f"""
        WITH {_QC_GRAMS_CTE}
        SELECT doc_id, n_features, margin, quality_bucket FROM buckets
    """,
    "text_ngram_novelty": """
        WITH sh AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   CASE WHEN len(ws) >= 3 THEN range(len(ws)-2) ELSE [] END,
                   i -> array_to_string(ws[i+1:i+3], ' ')))) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        ),
        g AS (SELECT s, COUNT(*) AS n_docs_with FROM sh GROUP BY s)
        SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN g.n_docs_with = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST((1000 * SUM(CASE WHEN g.n_docs_with = 1 THEN 1 ELSE 0 END))
                    // COUNT(*) AS INT) AS novelty_permille
        FROM sh JOIN g USING (s)
        GROUP BY sh.doc_id
    """,
    # Bigram-LM perplexity: per-term log-probs quantized to LM_SCALE fixed
    # point (floor margin measured); everything downstream is integer
    # algebra, so the compare is bit-for-bit.
    "text_lm_perplexity": f"""
        WITH b0 AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        uni AS (
          SELECT COUNT(DISTINCT w) AS vsz
          FROM (SELECT unnest(ws) AS w FROM b0)
        ),
        big AS (
          SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM (
            SELECT doc_id,
                   unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS pr
            FROM b0
          )
        ),
        cb AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
        ch AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
        terms AS (
          SELECT big.doc_id,
                 CAST(floor(ln(CAST(cb.c2 + 1 AS DOUBLE)
                               / CAST(ch.c1 + uni.vsz AS DOUBLE))
                            * {LM_SCALE}.0) AS BIGINT) AS lq
          FROM big JOIN cb USING (w1, w2) JOIN ch USING (w1) CROSS JOIN uni
        ),
        agg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 CAST(SUM(lq) AS BIGINT) AS sq
          FROM terms GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(a.n_bigrams, 0) AS n_bigrams,
               COALESCE(CAST(-a.sq AS DOUBLE) / {LM_SCALE}.0 / a.n_bigrams,
                        0.0) AS avg_nll,
               CASE WHEN a.sq IS NOT NULL
                         AND -a.sq <= {LM_NLL_KEEP_FP} * a.n_bigrams
                    THEN 1 ELSE 0 END AS keep
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
    # Duplicate-window accounting: md5 window keys, per-(doc, hash)
    # multiplicities, corpus occurrence counts, flagged-count join-back —
    # the SQL mirror of the Spark chain stage for stage.
    "text_duplicate_window_fraction": f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        g AS (
          SELECT doc_id, md5(gm) AS h FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     CASE WHEN len(ws) >= {TEXT_DUP_WINDOW}
                          THEN range(len(ws) - {TEXT_DUP_WINDOW - 1})
                          ELSE [] END,
                     i -> array_to_string(
                            ws[i + 1 : i + {TEXT_DUP_WINDOW}], ' ')))
                     AS gm
            FROM t
          )
        ),
        ph AS (
          SELECT doc_id, h, CAST(COUNT(*) AS BIGINT) AS m
          FROM g GROUP BY doc_id, h
        ),
        occ AS (SELECT h, CAST(SUM(m) AS BIGINT) AS occ FROM ph GROUP BY h),
        pd AS (
          SELECT doc_id,
                 CAST(SUM(m) AS BIGINT) AS n_windows,
                 CAST(SUM(CASE WHEN occ >= 2 THEN m ELSE 0 END) AS BIGINT)
                   AS n_dup_windows
          FROM ph JOIN occ USING (h) GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(pd.n_windows, 0) AS n_windows,
               COALESCE(pd.n_dup_windows, 0) AS n_dup_windows,
               CASE WHEN pd.n_windows IS NOT NULL
                    THEN CAST(pd.n_dup_windows AS DOUBLE) / pd.n_windows
                    ELSE 0.0 END AS dup_fraction
        FROM documents d LEFT JOIN pd USING (doc_id)
    """,
    # member-level: the kept-text md5 pins the exact excised spans, not
    # just the counts (the text_pii_scrub scrubbed-hash pattern)
    "text_dedup_trim": f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        g AS (
          SELECT doc_id, i + 1 AS p,
                 md5(array_to_string(
                       ws[i + 1 : i + {TEXT_DUP_WINDOW}], ' ')) AS h
          FROM (
            SELECT doc_id, ws,
                   unnest(CASE WHEN len(ws) >= {TEXT_DUP_WINDOW}
                               THEN range(len(ws) - {TEXT_DUP_WINDOW - 1})
                               ELSE [] END) AS i
            FROM t
          )
        ),
        ph AS (
          SELECT doc_id, h, CAST(COUNT(*) AS BIGINT) AS m
          FROM g GROUP BY doc_id, h
        ),
        occ AS (SELECT h, CAST(SUM(m) AS BIGINT) AS occ FROM ph GROUP BY h),
        ds AS (
          SELECT DISTINCT g.doc_id, g.p
          FROM g JOIN occ USING (h) WHERE occ >= 2
        ),
        wpos AS (
          SELECT doc_id, generate_subscripts(ws, 1) AS p, unnest(ws) AS word
          FROM t
        ),
        mk AS (
          SELECT w.doc_id, w.p, w.word,
                 MAX(CASE WHEN d.p IS NOT NULL THEN 1 ELSE 0 END)
                   OVER (PARTITION BY w.doc_id ORDER BY w.p
                         ROWS BETWEEN {TEXT_DUP_WINDOW - 1} PRECEDING
                         AND CURRENT ROW) AS trim
          FROM wpos w LEFT JOIN ds d ON d.doc_id = w.doc_id AND d.p = w.p
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(COUNT(*) - SUM(trim) AS BIGINT) AS n_kept_words,
               CAST(SUM(trim) AS BIGINT) AS n_trimmed_words,
               CAST(COUNT(*) - SUM(trim) AS DOUBLE) / COUNT(*)
                 AS kept_fraction,
               md5(COALESCE(array_to_string(
                     list(word ORDER BY p) FILTER (WHERE trim = 0), ' '),
                     '')) AS kept_hash
        FROM mk GROUP BY doc_id
    """,
    "text_dedup_segments": f"""
        WITH segs AS (
          SELECT DISTINCT doc_id, seg FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     range(CAST(ceil(len(ws) / {SEG_WORDS}.0) AS BIGINT)),
                     i -> array_to_string(
                            ws[i * {SEG_WORDS} + 1 : i * {SEG_WORDS} + {SEG_WORDS}],
                            ' '))) AS seg
            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
          )
        ),
        cnt AS (SELECT seg, COUNT(*) AS n FROM segs GROUP BY seg)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared_segments
        FROM segs JOIN cnt USING (seg)
        GROUP BY doc_id ORDER BY doc_id
    """,
    # first-occurrence keeper = row_number 1 over (doc_id, seg_idx) — the
    # pair is unique, so this is the same total order as the Spark side's
    # min(struct(doc_id, seg_idx)).
    "text_dedup_scrub": f"""
        WITH occ AS (
          SELECT doc_id, u.seg_idx AS seg_idx, u.seg AS seg FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     range(CAST(ceil(len(ws) / {SEG_WORDS}.0) AS BIGINT)),
                     i -> struct_pack(
                            seg_idx := CAST(i AS BIGINT),
                            seg := array_to_string(
                              ws[i * {SEG_WORDS} + 1 : i * {SEG_WORDS} + {SEG_WORDS}],
                              ' ')))) AS u
            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
          )
        ),
        keep AS (
          SELECT doc_id, seg_idx, seg FROM (
            SELECT doc_id, seg_idx, seg,
                   row_number() OVER (PARTITION BY seg
                                      ORDER BY doc_id, seg_idx) AS rn
            FROM occ
          ) WHERE rn = 1
        ),
        perdoc AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_kept,
                 CAST(length(string_agg(seg, ' ' ORDER BY seg_idx)) AS BIGINT)
                   AS kept_chars,
                 md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS kept_hash
          FROM keep GROUP BY doc_id
        ),
        tot AS (
          SELECT doc_id,
                 CAST(CASE WHEN len(string_split(text, ' ')) > 0
                      THEN ceil(len(string_split(text, ' ')) / {SEG_WORDS}.0)
                      ELSE 0 END AS BIGINT) AS n_segments
          FROM documents
        )
        SELECT t.doc_id AS doc_id, t.n_segments AS n_segments,
               COALESCE(p.n_kept, 0) AS n_kept,
               COALESCE(p.kept_chars, 0) AS kept_chars,
               COALESCE(p.kept_hash, md5('')) AS kept_hash
        FROM tot t LEFT JOIN perdoc p USING (doc_id)
    """,
    "text_quality_scores": f"""
        WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
        SELECT doc_id,
               CAST(length(text) AS INT) AS n_chars_actual,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
                 / len(ws) AS avg_word_len,
               CAST(len(list_filter(ws, w -> list_contains(
                   {_MARKER_SQL['en']}, w))) AS DOUBLE) / len(ws) AS stopword_ratio,
               CAST(len(list_filter(ws, w -> length(w) > 6)) AS BIGINT)
                 AS n_long_words
        FROM t
    """,
    "text_quality_filter": f"""
        WITH t AS (SELECT source, text, string_split(text, ' ') AS ws FROM documents)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN length(text) >= 100 AND len(ws) >= 20
                             AND CAST(len(list_filter(ws, w -> list_contains(
                                 {_MARKER_SQL['en']}, w))) AS DOUBLE) / len(ws) >= 0.0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_passed
        FROM t GROUP BY source
    """,
    "text_language_id": f"""
        WITH t AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
        scored AS (
          SELECT lang,
                 {_score('de')} AS s_de, {_score('es')} AS s_es,
                 {_score('fr')} AS s_fr, {_score('en')} AS s_en
          FROM t
        )
        SELECT lang,
               CASE WHEN s_de > s_es AND s_de > s_fr AND s_de > s_en THEN 'de'
                    WHEN s_es > s_fr AND s_es > s_en THEN 'es'
                    WHEN s_fr > s_en THEN 'fr'
                    ELSE 'en' END AS pred_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM scored GROUP BY 1, 2
    """,
    "text_token_counts": """
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
               CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT)
                 AS regex_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    """,
    "text_fingerprint": f"""
        -- COALESCE: DuckDB yields NULL (not '') for the empty-gram branch
        -- of sub-{FP_NGRAM}-char docs; Spark's array_join gives '' — found
        -- by the randomized differential sweep (the fixed corpus has no
        -- short docs)
        SELECT doc_id,
               COALESCE(array_to_string(
                 list_sort(list_transform(
                   CASE WHEN length(text) >= {FP_NGRAM}
                        THEN range(length(text) - {FP_NGRAM - 1})
                        ELSE [] END,
                   i -> md5(substr(text, i + 1, {FP_NGRAM}))))[1:{FP_KEEP}], ''),
                 '') AS fingerprint
        FROM documents
    """,
    "text_repetition_filter": f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        m AS (
          SELECT doc_id,
                 CAST(len(ws) AS BIGINT) AS n_words,
                 CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
                 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
                   AS dup_frac,
                 CAST(list_max(list_transform(list_distinct(ws),
                      w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE)
                   / len(ws) AS top_frac
          FROM t
        )
        SELECT doc_id, n_words, n_distinct, dup_frac, top_frac,
               (dup_frac > {REP_DUP_FRAC} OR top_frac > {REP_TOP_FRAC})
                 AS flagged
        FROM m
    """,
    "text_pii_scrub": f"""
        WITH corpus AS (
          SELECT 'documents' AS corpus, doc_id, text FROM documents
          UNION ALL
          SELECT 'fixture' AS corpus, doc_id, text
          FROM read_parquet('{PII_FIXTURE}')
        ),
        s1 AS (
          SELECT corpus, doc_id, text AS t0,
                 regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
          FROM corpus
        ),
        s2 AS (
          SELECT *, regexp_replace(t1, '{PII_IP_RE}', '<IP>', 'g') AS t2
          FROM s1
        )
        SELECT corpus, doc_id,
               CAST(len(regexp_extract_all(t0, '{PII_EMAIL_RE}')) AS BIGINT)
                 AS n_emails,
               CAST(len(regexp_extract_all(t1, '{PII_IP_RE}')) AS BIGINT)
                 AS n_ips,
               CAST(len(regexp_extract_all(t2, '{PII_PHONE_RE}')) AS BIGINT)
                 AS n_phones,
               md5(regexp_replace(t2, '{PII_PHONE_RE}', '<PHONE>', 'g'))
                 AS scrubbed_hash
        FROM s2
    """,
    "text_tfidf_topk": """
        WITH pairs AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        tf AS (
          SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM pairs GROUP BY doc_id, term
        ),
        dfreq AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        scored AS (
          SELECT t.doc_id, t.term, t.tf, d.df,
                 t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) AS tfidf,
                 ROW_NUMBER() OVER (PARTITION BY t.doc_id
                   ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS rk
          FROM tf t JOIN dfreq d USING (term), n
        )
        SELECT doc_id, term, tf, df, tfidf FROM scored WHERE rk = 1
    """,
    "text_ngram_topk": f"""
        WITH g AS (
          SELECT unnest(list_transform(
            CASE WHEN len(ws) >= {NGRAM_STATS_N}
                 THEN range(len(ws) - {NGRAM_STATS_N - 1}) ELSE [] END,
            i -> array_to_string(ws[i + 1 : i + {NGRAM_STATS_N}], ' '))) AS gm
          FROM (SELECT string_split(text, ' ') AS ws FROM documents)
        )
        SELECT gm, CAST(COUNT(*) AS BIGINT) AS n
        FROM g GROUP BY gm
        ORDER BY n DESC, gm ASC LIMIT {NGRAM_STATS_K}
    """,
}
