"""Training-data pipeline operators beyond the reference surface: sequence
packing, deterministic train/test splitting, stratified sampling, and
column profiling — the remaining plumbing a 100 TB LLM data pipeline needs
around dedup/quality/similarity (which live in dedup.py/textops.py/
similarity.py).

Cross-engine determinism: random-like draws are md5-hex-prefix comparisons
(``substr(md5(key),1,2) < threshold``) — both engines produce identical
lowercase hex, so "sampling" is a pure function of the key, reproducible
and oracle-testable (same device as functions/text.py hashing).

Scale designs:
- ``pack_sequences``: the global token prefix-sum is computed as the classic
  two-phase distributed scan — per-shard window cumsum (parallel over
  shards) + a shard-offset cumsum over #shards rows (tiny) broadcast back.
  No global single-partition window over the data ever exists.
- ``split``/``stratified``: narrow map + groupBy on a handful of keys.
- ``profile_columns``: one scan, all aggregates in a single pass, then an
  inline-table unpivot of the 1-row result. Exact countDistinct per column
  triggers Spark's expand (×#distinct-aggs data volume) — at real scale
  swap in approx_count_distinct; the contract keeps exact for the oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions.sql import sql_string
from parquet_near_storage_compute_spark.functions.text import hash32, shingles, words
from parquet_near_storage_compute_spark.operators.textops import (
    QC_BUCKET_CLAMP as _QC_CLAMP,
    _QC_GRAMS_CTE,
    trim_spans,
)
from parquet_near_storage_compute_spark.plans.memo import PlanMemo
from parquet_near_storage_compute_spark.tables import (
    fan_out,
    load_table,
    local_literal_df,
)

#: Tokens per packed training sequence (contract-pinned).
PACK_CAPACITY = 2048

#: Docs per prefix-sum shard: tasks parallelize over shards; the driver-side
#: offset table is #docs/SHARD_SIZE rows.
SHARD_SIZE = 1000

#: md5-hex two-char thresholds: 'e6' = 230/256 ≈ 90% train split.
TRAIN_THRESHOLD = "e6"

#: Per-language sampling thresholds: downsample dominant 'en' to ~10%,
#: keep half of everything else. ('1a' = 26/256, '80' = 128/256.)
STRATA_THRESHOLDS = {"en": "1a"}
DEFAULT_THRESHOLD = "80"


def _ws_tokens(col: str = "text") -> F.Column:
    """Whitespace token count — same definition as textops token counting
    and DuckDB ``len(string_split(text, ' '))``."""
    return F.size(F.split(F.col(col), " ")).cast("long")


def _pack_bins(docs: DataFrame) -> DataFrame:
    """The distributed prefix-sum packing over a ``(doc_id, tokens)``
    frame — ONE implementation of the two-phase scan (per-shard window
    cumsum in parallel + a #shards-row offset cumsum broadcast back), the
    token definition supplied by the caller (`train_pack_sequences`:
    whitespace counts; `train_pack_bpe`: the trained tokenizer's)."""
    # integer `div`, not double division: exact past 2^53 and well-defined
    # at any id magnitude (the same device as the epoch-nanos rebuild in
    # tables.py)
    docs = docs.withColumn("shard", F.expr(f"doc_id div {SHARD_SIZE}"))

    in_shard = Window.partitionBy("shard").orderBy("doc_id")
    docs = docs.withColumn("cum_in_shard", F.sum("tokens").over(in_shard))

    shard_totals = docs.groupBy("shard").agg(F.sum("tokens").alias("shard_sum"))
    prev_shards = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = shard_totals.withColumn(
        "offset", F.coalesce(F.sum("shard_sum").over(prev_shards), F.lit(0))
    ).select("shard", "offset")

    packed = docs.join(F.broadcast(offsets), "shard").withColumn(
        "start_tok", F.col("offset") + F.col("cum_in_shard") - F.col("tokens")
    )
    return (
        packed.withColumn(
            "bin_id", F.expr(f"start_tok div {PACK_CAPACITY}")
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin_id")
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: documents in doc_id order are laid onto a
    token tape; a document belongs to the PACK_CAPACITY-sized bin where it
    starts. Emits per-bin document counts and token totals (the packing
    manifest a trainer's data loader consumes).

    Distributed prefix sum (no global-window scale-killer): cumsum within
    doc_id-range shards in parallel, then a tiny cumsum over per-shard
    totals broadcast-joined back as offsets.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _ws_tokens().alias("tokens")
    )
    return _pack_bins(docs)


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/10 train/test split keyed on md5(doc_id) — stable
    under re-runs, repartitioning, and engine choice (the property a real
    pipeline needs so examples never migrate between splits)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(bucket < F.lit(TRAIN_THRESHOLD), "train").otherwise("test")
    return (
        docs.select(split.alias("split"), _ws_tokens().alias("tokens"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
            F.avg("tokens").alias("avg_tokens"),
        )
        .orderBy("split")
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic downsampling: dominant-language documents
    are kept at ~10%, the rest at ~50% — the language-rebalancing step of a
    corpus mix. Emits per-language kept/total so the realized rates are the
    observable. Seeded separately from the split ('s:' prefix) so the two
    draws are independent."""
    docs = load_table(spark, sf_dir, "documents")
    draw = F.substring(
        F.md5(F.concat(F.lit("s:"), F.col("doc_id").cast("string"))), 1, 2
    )
    threshold = F.lit(DEFAULT_THRESHOLD)
    for lang, t in STRATA_THRESHOLDS.items():
        threshold = F.when(F.col("lang") == lang, F.lit(t)).otherwise(threshold)
    return (
        docs.select("lang", (draw < threshold).alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            (F.sum(F.col("kept").cast("long")) / F.count(F.lit(1))).alias(
                "kept_rate"
            ),
        )
        .orderBy("lang")
    )


#: Numeric lineitem columns the profile covers.
_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile (nulls / distinct / min / max per column)
    — the data-quality report a pipeline runs before training. One scan;
    the 1-row aggregate is unpivoted driver-free via inline structs."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return (
        one.select(F.explode(rows).alias("p"))
        .select("p.column", "p.n_nulls", "p.n_distinct", "p.min_val", "p.max_val")
        .orderBy("column")
    )


#: Context-window chunking: CHUNK_TOKENS-token windows every CHUNK_STRIDE
#: tokens (overlap = CHUNK_TOKENS - CHUNK_STRIDE). Sized to the fixture's
#: 10-99-token documents; a real pipeline uses 2048/1920 etc. — the plan
#: shape is identical.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24

#: Decontamination: documents with doc_id % EVAL_MOD == 0 stand in for the
#: held-out benchmark set; overlap is measured in CONTAM_NGRAM-word grams.
#: Grams present in more than CONTAM_MAX_DF eval documents are boilerplate
#: (license headers, navigation chrome) and are excluded — the frequency cap
#: is also the skew guard: no join key can fan out past MAX_DF on the eval
#: side, so the gram-join has bounded per-key volume at any corpus size.
EVAL_MOD = 20
CONTAM_NGRAM = 5
CONTAM_MAX_DF = 10


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window chunking with overlap — the context-window prep
    step between cleaning and packing: each document yields chunks starting
    every CHUNK_STRIDE tokens, each up to CHUNK_TOKENS long (the final
    chunk may be shorter). Pure generator expression (sequence → posexplode
    → slice), embarrassingly parallel, no shuffle at all; the chunk hash is
    the dedup/lineage key downstream stages join on."""
    from parquet_near_storage_compute_spark.tables import fan_out

    docs = load_table(spark, sf_dir, "documents")
    base = fan_out(docs).select("doc_id", F.split("text", " ").alias("ws"))
    starts = F.sequence(F.lit(0), F.size("ws") - 1, F.lit(CHUNK_STRIDE))
    ch = base.select(
        "doc_id", "ws", F.posexplode(starts).alias("chunk_idx", "start_tok")
    )
    chunk = F.slice(F.col("ws"), F.col("start_tok") + 1, F.lit(CHUNK_TOKENS))
    return ch.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.size(chunk).alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_idx")


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at least
    one rare CONTAM_NGRAM-gram with the eval set. One shingling pass over
    the corpus splits into train/eval gram streams; the frequency cap
    (CONTAM_MAX_DF, computed on the eval side only — #eval-grams rows) both
    removes boilerplate grams and bounds the join's per-key fan-out. The
    report is per-train-doc: distinct shared grams and distinct eval docs
    hit — the evidence a pipeline needs to quarantine a document."""
    from parquet_near_storage_compute_spark.tables import fan_out

    docs = load_table(spark, sf_dir, "documents")
    return _contamination_report(fan_out(docs))


def decontaminate_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level eval-set decontamination — the ACTION half of
    `train_contamination_check`: the report says WHICH train documents
    overlap the held-out set; this op EXCISES the overlapping spans (the
    industry decontamination recipe: drop the span, keep the document —
    `textops.trim_spans`, the trim `text_dedup_trim` runs, with the
    duplicated-window predicate swapped for eval-gram membership). A
    train-doc word is trimmed iff some CONTAM_NGRAM-word window covering
    it matches a gram that occurs ANYWHERE in the eval split
    (doc_id % EVAL_MOD == 0).

    No rare-gram cap here, by design: the check's CONTAM_MAX_DF bounds
    the per-key fan-out of reporting WHICH eval docs matched; trimming
    needs only EXISTENCE — a semi-join of train window hashes against
    the DISTINCT eval-gram frame, at most one flag per (doc, position)
    no matter how common the gram is on the eval side (boilerplate grams
    trim aggressively, which is the conservative direction for
    decontamination). Scale shape is `text_dedup_trim`'s: md5 window
    hashes as shuffle keys, then `trim_spans`' left join and rolling-max
    ROWS window. The left_semi keeps one row per window start, the
    invariant that join relies on (`tests/test_dedup_trim.py` pins it
    for this contract too). Output: train docs only, with before/after
    token accounting and the member-level kept-text md5."""
    from parquet_near_storage_compute_spark.tables import fan_out

    docs = load_table(spark, sf_dir, "documents")
    # persisted: three consumers (eval grams, train window hashes, train
    # word positions) otherwise each re-scan the corpus and re-split
    # every document — 3× I/O + 3× tokenization at 100 TB for one narrow
    # projection (the _contamination_report precedent).
    base = fan_out(docs).select(
        "doc_id",
        (F.col("doc_id") % EVAL_MOD == 0).alias("is_eval"),
        F.expr(f"{words('text')} AS ws"),
    ).persist()
    train = base.filter(~F.col("is_eval"))
    ev_grams = (
        base.filter("is_eval")
        .select(F.expr(f"explode({shingles('ws', CONTAM_NGRAM)}) AS gm"))
        .select(F.md5("gm").alias("h"))
        .distinct()
    )
    wins = train.select(
        "doc_id",
        F.expr(f"posexplode({shingles('ws', CONTAM_NGRAM)}) AS (i, gm)"),
    ).select("doc_id", (F.col("i") + 1).alias("p"), F.md5("gm").alias("h"))
    # No broadcast hint: under this operator's own eval definition
    # (doc_id % EVAL_MOD == 0, i.e. 5% of the corpus) the distinct
    # eval-gram frame grows LINEARLY with the corpus — forcing a
    # broadcast would OOM at scale exactly when the eval split is large.
    # AQE sizes the semi join at runtime: broadcast while the frame is
    # small (every tested SF), shuffled hash join when it is not.
    hit_starts = wins.join(ev_grams, "h", "left_semi").select("doc_id", "p")
    return trim_spans(train, hit_starts, CONTAM_NGRAM)


def _contamination_report(docs: DataFrame) -> DataFrame:
    """Core of contamination_check over an arbitrary (doc_id, text) frame —
    split out so adversarial tests can feed synthetic corpora."""
    # The gram frame feeds three consumers (tr, ev→rare, ev→ev_rare);
    # without the persist each one re-scans and re-shingles the corpus —
    # 3× I/O + 3× explode at 100 TB. One materialized narrow frame
    # (doc_id, bool, gram) trades that for a single shingle pass; Spark's
    # CacheManager dedups by plan, so repeated calls reuse the entry.
    grams = docs.select(
        "doc_id",
        (F.col("doc_id") % EVAL_MOD == 0).alias("is_eval"),
        F.expr(f"explode(array_distinct({shingles(words('text'), CONTAM_NGRAM)})) AS gm"),
    ).persist()
    ev = grams.filter("is_eval").select("gm", F.col("doc_id").alias("eval_doc"))
    rare = (
        ev.groupBy("gm")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONTAM_MAX_DF)
        .select("gm")
    )
    tr = grams.filter(~F.col("is_eval")).select("gm", "doc_id")
    # Join order is the skew guard: rare must prune the eval side BEFORE the
    # train⋈eval join, otherwise a boilerplate gram present in most eval docs
    # fans out unboundedly (10⁵ train × 10⁴ eval on one key) and only then
    # gets discarded. With ev_rare built first, every gm entering the big
    # join has ≤ CONTAM_MAX_DF eval rows — bounded per-key volume at any
    # corpus size (plan pinned in tests/test_contamination_plan.py).
    ev_rare = ev.join(rare, "gm")
    hits = tr.join(ev_rare, "gm")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("gm").alias("n_shared_grams"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
        .orderBy("doc_id")
    )


#: Mixture sampling: overall token budget as a fraction of the corpus, and
#: the temperature exponent (0.5 = sqrt flattening). Weights are
#: floor(sqrt(n)) — INTEGER — so the normalization sum is exact and the
#: keep-threshold is bit-identical across engines (a double Σ√n would be
#: summation-order-dependent and could flip a floor() by one ulp).
MIX_BUDGET_FRAC = 0.5


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing: downsample each source to a rate
    ∝ n^-0.5 so small sources are over-represented relative to their raw
    share (the standard multi-source rebalancing step before training).

    rate_s = min(1, budget·Σn·w_s / (Σw·n_s)) with w_s = ⌊√n_s⌋; a document
    is kept when its 32-bit md5 draw falls under ⌊rate·2³²⌋. The per-source
    stats frame is tiny (#sources rows), so the normalization constant is a
    broadcast — the corpus itself sees one narrow map + one groupBy. Fully
    deterministic: draws are md5-keyed, weights integer, the rate a single
    IEEE division of exactly-representable integers."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.floor(F.sqrt("n_docs")).cast("long")
    counts = counts.withColumn("w", w)
    totals = counts.agg(
        F.sum("n_docs").alias("sum_n"), F.sum("w").alias("sum_w")
    )
    rate = F.least(
        F.lit(1.0),
        ((F.lit(MIX_BUDGET_FRAC) * F.col("sum_n")) * F.col("w"))
        / (F.col("sum_w") * F.col("n_docs")),
    )
    rates = (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("target_rate", rate)
        .withColumn(
            "threshold",
            F.floor(F.col("target_rate") * F.lit(4294967296.0)).cast("long"),
        )
        .select("source", "target_rate", "threshold")
    )
    draw = F.expr(hash32(sql_string("m"), "doc_id"))
    kept = docs.join(F.broadcast(rates), "source").select(
        "source", "target_rate", (draw < F.col("threshold")).alias("kept")
    )
    return (
        kept.groupBy("source", "target_rate")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            (
                F.sum(F.col("kept").cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("realized_rate"),
        )
        .orderBy("source")
    )


#: Per-mille keep rates by quality bucket for the classifier-driven
#: resample: rate(b) = QR_BASE + (b + clamp)·QR_STEP ∈ [50, 1000]‰ —
#: the lowest-quality bucket keeps 5%, the highest keeps everything
#: (the standard classifier-filter + importance-resampling step of a
#: pre-training curation pipeline).
QR_BASE = 50
QR_STEP = 95


def quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling driven by the hashed-bigram
    linear model (`text_quality_classifier`): each document's keep
    probability is a function of its quality bucket, the keep decision an
    md5 draw against an integer per-mille threshold — the same
    deterministic-draw device as `train_mixture_sample`, keyed 'qr' so
    draws are independent of the mixture sampler's.

    Shape: the classifier's one-shuffle margin aggregate, then a pure
    per-row draw + threshold compare and a ≤(2·clamp+1)-group aggregate —
    at 100 TB the only data-volume cost is the classifier's single
    groupBy; the decision layer is a narrow map. All-integer outputs:
    per bucket, documents seen / kept and the threshold applied, so the
    realized rate is auditable against the target exactly."""
    from parquet_near_storage_compute_spark.operators.textops import (
        QC_BUCKET_CLAMP,
        quality_margins,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_margins(docs)
    threshold = (
        F.lit(QR_BASE)
        + (F.col("quality_bucket") + F.lit(QC_BUCKET_CLAMP)) * F.lit(QR_STEP)
    ).alias("keep_permille")
    draw = F.expr(hash32(sql_string("qr"), "doc_id"))
    decided = scored.select(
        "quality_bucket",
        threshold,
        ((draw % 1000) < F.col("keep_permille")).alias("kept"),
    )
    return (
        decided.groupBy("quality_bucket", "keep_permille")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
        )
        .orderBy("quality_bucket")
    )


#: Curriculum phases (easy→hard stages a scheduler feeds in order).
CURRICULUM_PHASES = 4


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule: an exact global easy→hard ordering of the
    corpus by difficulty (token count, doc_id tiebreak) plus a phase id —
    the deterministic feed order a curriculum-learning data loader
    consumes.

    Reuses ``windows.global_positions`` (range-shard two-phase ranking),
    so the total order costs one range exchange + a broadcast of per-shard
    counts — never a single-partition global sort. The phase is equal-range
    arithmetic on the position (integer `div`; exact past 2^53)."""
    from parquet_near_storage_compute_spark.operators.windows import (
        global_positions,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _ws_tokens().alias("tokens")
    )
    ranked = global_positions(docs, [F.col("tokens"), F.col("doc_id")])
    return ranked.select(
        "doc_id",
        "tokens",
        F.col("p").alias("position"),
        F.expr(f"CAST((p - 1) * {CURRICULUM_PHASES} DIV n_total + 1 AS INT)")
        .alias("phase"),
    ).orderBy("position")


#: Top-K adjacent character pairs reported by the BPE first-merge pass.
BPE_TOP_K = 20


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer induction, first merge round: the most frequent
    adjacent character pairs across the corpus, weighted by word frequency
    — exactly the statistic a BPE trainer maximizes at each merge step.

    Scale shape is the actual BPE trick: pair generation runs over the
    DISTINCT-WORD vocabulary with counts, not over the corpus — the corpus
    sees one word-count shuffle (map-side combined), and the per-character
    explode touches Σ|word| characters over the vocab, which is orders of
    magnitude smaller than the corpus at any scale. Top-K via one ordered
    limit on the #distinct-pairs frame (≤ alphabet², tiny). Ties break on
    the pair string so the cut is deterministic across engines."""
    from parquet_near_storage_compute_spark.tables import fan_out

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        fan_out(docs)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.length("word") >= 2)
    )
    pairs = vocab.select(
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.substring(F.col("word"), i, 2),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(BPE_TOP_K)
    )


#: Merge rounds the BPE trainer unrolls (contract-pinned; production runs
#: thousands of rounds with the identical per-round dataflow).
BPE_MERGE_ROUNDS = 6

#: Per-token wrappers inside the packed token-string representation
#: (``<a><b><c>``). Distinct open/close brackets matter: a shared
#: single separator (``|a|a|``) makes consecutive merges steal each
#:  other's boundary character — ``|a|a|a|a|`` would merge once, not
#: twice — while wrapped tokens never share characters, so literal
#: left-to-right replace IS BPE's greedy within-word merge. Neither
#: bracket is in the corpus alphabet; both engines strip them from words
#: defensively so the semantics stay total on arbitrary text.
BPE_L = "<"
BPE_R = ">"


def _bpe_pack(word_col: str = "word"):
    """word → bracket-wrapped token string (``abc`` → ``<a><b><c>``)."""
    # (?s): without DOTALL, Java regex skips \r/\n/\u2028... and RE2 skips
    # \n — the engines would wrap different characters (and an unwrapped
    # char breaks the brackets-never-shared invariant). Both engines
    # accept the inline flag.
    return F.regexp_replace(
        F.col(word_col), "(?s)(.)", BPE_L + r"$1" + BPE_R
    )


def _bpe_loop(toks: DataFrame) -> tuple[list[tuple], DataFrame]:
    """Run BPE_MERGE_ROUNDS greedy merge rounds over a packed vocab frame
    ``(word, n, t)``; returns (per-round best tuples
    ``(merge_round, l, r, n_occurrences)``, final frame).

    Each round's argmax is a global ``min(struct(-n, l, r))`` aggregate
    (n desc, then lexicographically smallest pair), whose fields are NULL
    once the vocabulary is fully merged — exhausted rounds are no-ops
    instead of emptying the frame, so the loop stays total.

    The argmax comes back as ONE collected row (a bounded statistics
    probe in the `_member_level_knn` / PQ-train class — 1 row regardless
    of corpus size) and the merge is applied as a LITERAL ``replace``
    projection, so each round costs exactly one eager job (the argmax
    aggregate) instead of two (argmax localCheckpoint + replace-crossJoin
    localCheckpoint): first-build construction fell from 8.5 to 4.9 s in
    a fresh session at sf0.1.
    The lazy replace chain grows by one linear projection per round over
    the vocab-sized frame — round r's argmax re-runs r−1 string replaces,
    cheap against the pair-explode aggregate it feeds — and one final
    ``localCheckpoint`` pins the trained vocabulary for the encode
    consumers exactly as before.

    The per-round bests come back as plain TUPLES, not 1-row
    DataFrames — `bpe_merges` (their only consumer) renders all rounds as
    ONE literal frame, not a 6-branch range(1) union whose every branch
    plans with 32 splits (192 near-empty tasks per run; isolated
    best-of-7 0.125 s for the union form against 0.0546 s)."""
    rounds: list[tuple] = []
    for rnd in range(1, BPE_MERGE_ROUNDS + 1):
        # token list: strip the outer brackets, split on the '><' joints
        # ('>' and '<' are not regex metacharacters, so the literal split
        # pattern is safe)
        parts = F.split(
            F.expr("substring(t, 2, length(t) - 2)"), BPE_R + BPE_L
        )
        prs = (
            toks.select("n", parts.alias("p"))
            .select(
                "n",
                F.explode(
                    F.arrays_zip(
                        F.slice("p", 1, F.size("p") - 1).alias("l"),
                        F.slice(F.col("p"), 2, F.size("p") - 1).alias("r"),
                    )
                ).alias("pr"),
            )
            .select("n", F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
        )
        b = (
            prs.groupBy("l", "r")
            .agg(F.sum("n").alias("n_occurrences"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col("n_occurrences")).alias("negn"), "l", "r"
                    )
                ).alias("b")
            )
            .select(
                F.col("b.l").alias("l"),
                F.col("b.r").alias("r"),
                (-F.col("b.negn")).alias("n_occurrences"),
            )
            .collect()[0]
        )
        rounds.append((rnd, b["l"], b["r"], b["n_occurrences"]))
        if b["l"] is not None:
            pat = BPE_L + b["l"] + BPE_R + BPE_L + b["r"] + BPE_R
            rep = BPE_L + b["l"] + b["r"] + BPE_R
            toks = toks.select(
                "word",
                "n",
                F.replace(F.col("t"), F.lit(pat), F.lit(rep)).alias("t"),
            )
    return rounds, toks.localCheckpoint()


#: The merge loop (two eager checkpoints per round) was rebuilt by FOUR
#: contracts — merges, encode, fertility, pack — at 3-4 s of construction
#: each. One memoized training pass now serves them all: (per-round best
#: frames, final vocab frame, persisted (doc_id, word) frame), over the
#: FULL length ≥ 1 vocabulary. bpe_merges historically trained on the
#: length ≥ 2 subset; the trajectories are identical because 1-char
#: words contribute no adjacent pairs (pinned independently of this code
#: path by
#: tests/test_bpe_lm_ivfpq.py::test_bpe_encode_trains_the_same_merges),
#: so sharing the ≥ 1 loop changes no output.
_BPE_MEMO = PlanMemo(tables=("documents",))


def _bpe_trained(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame, DataFrame]:
    """Memoized shared BPE training pass: (rounds, final, wordsf)."""
    from parquet_near_storage_compute_spark.tables import fan_out

    def build() -> tuple[list[DataFrame], DataFrame, DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        # persisted: feeds the vocabulary build AND the per-doc mapping
        wordsf = (
            fan_out(docs)
            .select("doc_id", F.explode(F.split("text", " ")).alias("raw"))
            .select(
                "doc_id",
                F.translate(F.col("raw"), BPE_L + BPE_R, "").alias("word"),
            )
            .filter(F.length("word") >= 1)
            .persist()
        )
        vocab = wordsf.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
        toks = vocab.select(
            "word", "n", _bpe_pack().alias("t")
        ).localCheckpoint()
        rounds, final = _bpe_loop(toks)
        return rounds, final, wordsf

    return _BPE_MEMO.get(spark, sf_dir, "bpe_trained", build)


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer induction, full merge loop: run
    BPE_MERGE_ROUNDS rounds of the byte-pair-encoding trainer and emit the
    merge table — per round the argmax adjacent token pair (weighted by
    word frequency, ties to the lexicographically smallest pair), the
    merged token, and its occurrence count. This is the artifact a real
    tokenizer trainer produces; ``train_bpe_pair_counts`` is its first
    round's statistic.

    Dataflow (the actual distributed-BPE shape): the corpus is touched
    ONCE — a single word-count shuffle builds the distinct-word vocabulary
    with counts; every merge round then runs over the vocab frame (orders
    of magnitude smaller than the corpus at any scale). Words are packed
    as wrapped token strings (``<a><b><c>``); a merge is a literal
    ``replace`` of ``<l><r>`` with ``<lr>`` — both engines scan
    left-to-right non-overlapping over non-sharing matches, which IS
    BPE's greedy within-word merge order (``<a><a><a><a>`` merging
    ``a a`` → ``<aa><aa>``; a shared-separator encoding gets this wrong,
    see BPE_L). The per-round argmax comes back as ONE collected row (a
    bounded statistics probe, constant in corpus size — see `_bpe_loop`
    for the job-count measurement) and is applied as a literal replace
    projection; the trained vocabulary is checkpointed once after the
    loop. At 100 TB: one corpus shuffle + R vocab-sized aggregations,
    the textbook distributed BPE recipe. The loop itself is the
    memoized `_bpe_trained` pass shared with encode/fertility/pack
    (trajectory-equivalence note there). The merge table is ONE literal
    frame over the collected rounds (single 1-partition task), not a
    per-round range(1) union that plans 32 splits per branch — 192
    tasks → 1 for the same 6 rows; exhausted rounds carry
    NULL pairs (the loop's total-function guard) and are dropped
    driver-side, the same "no merge happened" semantics the old
    in-plan filter applied."""
    rounds, _, _ = _bpe_trained(spark, sf_dir)
    kept = [r for r in rounds if r[1] is not None]
    out = local_literal_df(
        spark,
        kept,
        "merge_round int, l string, r string, n_occurrences bigint",
    )
    return out.select(
        "merge_round",
        F.col("l").alias("lhs"),
        F.col("r").alias("rhs"),
        F.concat("l", "r").alias("merged"),
        "n_occurrences",
    )


def _bpe_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc word and post-merge token counts under the trained BPE —
    the shared core of ``train_bpe_encode`` (formats it into the encode
    report) and ``train_pack_bpe`` (packs on it).

    The merges are re-derived with the identical loop over the full
    (length ≥ 1) vocabulary — 1-char words contribute no adjacent pairs,
    so the trajectory is exactly ``train_bpe_merges``'s (pinned by test) —
    and the encode itself is vocabulary-sized: tokens are counted per
    DISTINCT word once, then joined back to the corpus word frame (a hash
    join on the word key; at 100 TB the vocab is sublinear in the corpus,
    the corpus is touched twice through one persisted narrow projection).
    Exhausted merge rounds are no-ops (the loop skips the replace when the
    collected argmax row is NULL), so the contract is total on any
    corpus."""
    docs = load_table(spark, sf_dir, "documents")
    _, final, wordsf = _bpe_trained(spark, sf_dir)
    word_tokens = final.select(
        "word",
        F.size(
            F.split(F.expr("substring(t, 2, length(t) - 2)"), BPE_R + BPE_L)
        ).alias("word_tokens"),
    )
    per_doc = (
        wordsf.join(word_tokens, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_tokens").alias("n_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merge table to the corpus — the other half of
    the tokenizer loop (``train_bpe_merges`` trains it; this op measures
    what the tokenizer DOES to the data): per document, the word count,
    the post-merge token count, and the tokens-per-word ratio the packing
    and context-length planners consume. Core in `_bpe_doc_counts`."""
    c = _bpe_doc_counts(spark, sf_dir)
    return c.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.when(
            F.col("n_words") > 0,
            F.col("n_tokens").cast("double") / F.col("n_words").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("tokens_per_word"),
    )


def token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report: per (lang, source) corpus bucket,
    what the trained BPE DOES to that slice — docs, words, tokens, UTF-8
    bytes, tokens-per-word (fertility) and bytes-per-token (compression),
    both as exact integer per-mille. THE table a pipeline reads before
    committing a tokenizer to a data mixture: a language bucket whose
    fertility runs 2-3× the corpus median pays that multiple in context
    budget, and bytes-per-token is the effective compression the context
    window buys on that slice. Complements `train_bpe_encode` (per-doc
    view) with the per-bucket marginals mixture decisions are made on.

    Everything integer: bucket totals are exact sums; the two ratios are
    ``(1000·num) div den`` on bucket TOTALS (not averages of per-doc
    ratios — the totals ratio is the corpus-correct estimator and stays
    engine-exact). Buckets with zero words/tokens report -1 (absent
    denominators; both engines agree by the same CASE).

    Scale shape: `_bpe_doc_counts`'s vocabulary-sized encode (corpus
    touched twice through one persisted narrow projection), one 1:1
    doc_id join back to the (lang, source, bytes) projection, then a
    map-side-combining groupBy on a dimension-sized (lang × source) key.
    No new corpus-scale shuffle beyond the encode's own."""
    counts = _bpe_doc_counts(spark, sf_dir)
    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.octet_length("text").alias("n_bytes")
    )
    buckets = (
        counts.join(meta, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_bytes").cast("bigint").alias("n_bytes"),
        )
    )
    return buckets.select(
        "lang",
        "source",
        "n_docs",
        "n_words",
        "n_tokens",
        "n_bytes",
        F.expr(
            "CAST(CASE WHEN n_words > 0 THEN (1000 * n_tokens) div n_words "
            "ELSE -1 END AS BIGINT)"
        ).alias("fertility_permille"),
        F.expr(
            "CAST(CASE WHEN n_tokens > 0 THEN (1000 * n_bytes) div n_tokens "
            "ELSE -1 END AS BIGINT)"
        ).alias("bytes_per_token_milli"),
    ).orderBy("lang", "source")


#: Candidate context lengths for the fit report — spans the committed
#: corpora's token distribution (sf docs run ~tens to ~hundreds of words).
CONTEXT_LENGTHS = (128, 256, 512, 1024)


def context_length_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning table: for each candidate sequence
    length L, the exact cost of the two standard layouts —
    one-doc-per-sequence (truncate over-long docs, pad short ones) vs
    concat-and-chunk (no padding, but document boundaries get split).
    Columns per L: docs fitting whole, tokens lost to truncation, padding
    tokens paid by the fit-whole docs, and the per-mille utilization of
    the padded layout — the numbers that decide a training run's context
    length BEFORE paying for it. Uses whitespace tokens (the
    tokenizer-free baseline, same definition as `train_pack_sequences`);
    `train_token_fertility` supplies the BPE correction factor per
    bucket.

    All integer: per-doc min/max against L, summed; utilization is
    ``(1000·tokens_kept) div (L·n_docs)`` — the non-pad share of the
    one-sequence-per-doc layout over ALL docs (every doc occupies exactly
    one L-token window: fit-whole docs keep n_tokens of it, truncated
    docs fill all L), matching what both engines compute. Scale shape:
    ONE narrow projection aggregated in a single pass — per candidate L
    a bank of conditional sums (len(CONTEXT_LENGTHS)·5 integer
    aggregates, map-side combinable into ONE partial row per task),
    exploded to the 4 report rows AFTER the aggregate. Exploding the
    corpus ×4 BEFORE a groupBy(context_len) instead costs 4× the
    partial-aggregate input rows for the same 20 integers;
    interleaved fresh-plan A/B at sf0.1 measured best 0.33 → 0.22 s
    (every pair in favor), rows identical."""
    docs = load_table(spark, sf_dir, "documents").select(
        _ws_tokens().alias("n_tokens")
    )
    banks = []
    for length in CONTEXT_LENGTHS:
        fits = F.col("n_tokens") <= F.lit(length)
        banks.append(
            F.struct(
                F.lit(length).alias("context_len"),
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum(fits.cast("bigint")).alias("n_docs_fit"),
                F.sum(
                    F.when(fits, F.col("n_tokens")).otherwise(F.lit(length))
                ).cast("bigint").alias("tokens_kept"),
                F.sum(
                    F.when(fits, F.lit(0)).otherwise(
                        F.col("n_tokens") - F.lit(length)
                    )
                ).cast("bigint").alias("tokens_truncated"),
                F.sum(
                    F.when(
                        fits, F.lit(length) - F.col("n_tokens")
                    ).otherwise(F.lit(0))
                ).cast("bigint").alias("padding_tokens"),
            ).alias(f"_s{length}")
        )
    agg = (
        docs.agg(*banks)
        .select(
            F.explode(
                F.array(*[F.col(f"_s{length}") for length in CONTEXT_LENGTHS])
            ).alias("_s")
        )
        .select("_s.*")
    )
    return agg.select(
        F.col("context_len").cast("int").alias("context_len"),
        "n_docs",
        "n_docs_fit",
        "tokens_kept",
        "tokens_truncated",
        "padding_tokens",
        F.expr(
            "CAST((1000 * tokens_kept) div (context_len * n_docs) AS BIGINT)"
        ).alias("utilization_permille"),
    ).orderBy("context_len")


def pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on the REAL tokenizer's counts: the composition a
    production pipeline actually runs — `train_bpe_merges` trains the
    merge table, `_bpe_doc_counts` re-tokenizes the corpus with it, and
    `_pack_bins` lays the documents onto the PACK_CAPACITY token tape in
    doc_id order. `train_pack_sequences` (whitespace counts) remains as
    the tokenizer-free baseline; same bin algebra, different token
    definition — so the two manifests' divergence IS the whitespace-vs-BPE
    packing error a capacity planner needs to see. Word-less documents
    pack as 0-token entries (they consume no tape but keep their bin
    bookkeeping row), exactly as the oracle replays."""
    return _pack_bins(
        _bpe_doc_counts(spark, sf_dir).select(
            "doc_id", F.col("n_tokens").alias("tokens")
        )
    )


def _bpe_encode_ctes(rounds: int = BPE_MERGE_ROUNDS) -> str:
    """The unrolled encode chain's WITH body, through ``pd`` (per-doc
    n_words / n_tokens): the merge rounds over the full (length ≥ 1)
    vocabulary, each replace guarded by COALESCE over a scalar subquery so
    an exhausted round is a no-op (mirroring the Spark loop's guard), then
    the per-word token count joined back to the corpus word frame. Shared
    by the encode and pack-by-BPE oracles."""
    parts = [
        f"""
        WITH w1 AS (
          SELECT doc_id,
                 translate(unnest(string_split(text, ' ')),
                           '{BPE_L}{BPE_R}', '') AS word
          FROM documents
        ),
        w AS (SELECT doc_id, word FROM w1 WHERE length(word) >= 1),
        v AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY word
        ),
        e0 AS (
          SELECT word, n,
                 regexp_replace(word, '(?s)(.)', '{BPE_L}\\1{BPE_R}', 'g') AS t
          FROM v
        )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
        p{i} AS (
          SELECT n, pr[1] AS l, pr[2] AS r FROM (
            SELECT n,
                   unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)])) AS pr
            FROM (SELECT n,
                         string_split(substring(t, 2, length(t) - 2),
                                      '{BPE_R}{BPE_L}') AS tk
                  FROM e{i - 1})
          )
        ),
        b{i} AS (
          SELECT l, r, CAST(SUM(n) AS BIGINT) AS n_occurrences
          FROM p{i} GROUP BY l, r
          ORDER BY n_occurrences DESC, l, r LIMIT 1
        ),
        e{i} AS (
          SELECT word, n,
                 COALESCE(
                   replace(t,
                           (SELECT '{BPE_L}' || l || '{BPE_R}{BPE_L}' || r
                                   || '{BPE_R}' FROM b{i}),
                           (SELECT '{BPE_L}' || l || r || '{BPE_R}'
                            FROM b{i})),
                   t) AS t
          FROM e{i - 1}
        )"""
        )
    parts.append(
        f""",
        tok AS (
          SELECT word,
                 len(string_split(substring(t, 2, length(t) - 2),
                                  '{BPE_R}{BPE_L}')) AS word_tokens
          FROM e{rounds}
        ),
        pd AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                 CAST(SUM(word_tokens) AS BIGINT) AS n_tokens
          FROM w JOIN tok USING (word) GROUP BY doc_id
        )"""
    )
    return "".join(parts)


def _bpe_encode_oracle_sql(rounds: int = BPE_MERGE_ROUNDS) -> str:
    return (
        _bpe_encode_ctes(rounds)
        + """
        SELECT d.doc_id,
               COALESCE(pd.n_words, 0) AS n_words,
               COALESCE(pd.n_tokens, 0) AS n_tokens,
               CASE WHEN pd.n_words IS NOT NULL
                    THEN CAST(pd.n_tokens AS DOUBLE) / pd.n_words
                    ELSE 0.0 END AS tokens_per_word
        FROM documents d LEFT JOIN pd USING (doc_id)"""
    )


def _bpe_pack_oracle_sql(rounds: int = BPE_MERGE_ROUNDS) -> str:
    """The encode chain's per-doc token counts fed through the packing
    cumsum — the same bin algebra as train_pack_sequences' oracle.

    bin_id uses DuckDB integer division ``//`` (not double FLOOR) so the
    oracle shares the Spark side's exact-integer bin algebra past 2^53
    (double division could round differently at extreme cumulative
    token counts)."""
    return (
        _bpe_encode_ctes(rounds)
        + f""",
        tk2 AS (
          SELECT d.doc_id, CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS tokens
          FROM documents d LEFT JOIN pd USING (doc_id)
        ),
        c AS (
          SELECT doc_id, tokens,
                 SUM(tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM tk2
        )
        SELECT CAST((cum - tokens) // {PACK_CAPACITY} AS BIGINT)
                 AS bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tokens) AS BIGINT) AS total_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc,
               CAST(MAX(doc_id) AS BIGINT) AS last_doc
        FROM c GROUP BY 1 ORDER BY bin_id"""
    )


def _bpe_merges_oracle_sql(rounds: int = BPE_MERGE_ROUNDS) -> str:
    """Unroll the fixed-round BPE merge loop into one DuckDB query —
    mirrors ``bpe_merges`` stage for stage (same token-string packing,
    same greedy literal replace, same argmax tie-break)."""
    parts = [
        f"""
        WITH w AS (
          SELECT translate(unnest(string_split(text, ' ')),
                           '{BPE_L}{BPE_R}', '') AS word
          FROM documents
        ),
        v AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS n
          FROM w WHERE length(word) >= 2 GROUP BY word
        ),
        t0 AS (
          SELECT n, regexp_replace(word, '(?s)(.)', '{BPE_L}\\1{BPE_R}', 'g') AS t
          FROM v
        )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
        p{i} AS (
          SELECT n, pr[1] AS l, pr[2] AS r FROM (
            SELECT n,
                   unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)])) AS pr
            FROM (SELECT n,
                         string_split(substring(t, 2, length(t) - 2),
                                      '{BPE_R}{BPE_L}') AS tk
                  FROM t{i - 1})
          )
        ),
        b{i} AS (
          SELECT l, r, CAST(SUM(n) AS BIGINT) AS n_occurrences
          FROM p{i} GROUP BY l, r
          ORDER BY n_occurrences DESC, l, r LIMIT 1
        ),
        t{i} AS (
          SELECT tp.n,
                 replace(tp.t,
                         '{BPE_L}' || b.l || '{BPE_R}{BPE_L}' || b.r || '{BPE_R}',
                         '{BPE_L}' || b.l || b.r || '{BPE_R}') AS t
          FROM t{i - 1} tp, b{i} b
        )"""
        )
    selects = [
        f"SELECT {i} AS merge_round, l AS lhs, r AS rhs, l || r AS merged, "
        f"n_occurrences FROM b{i}"
        for i in range(1, rounds + 1)
    ]
    parts.append("\n        " + "\n        UNION ALL ".join(selects))
    return "".join(parts)


#: Rows kept by the fixed-SIZE deterministic sample (`train_uniform_sample`).
SAMPLE_N = 200


def uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE deterministic uniform sample: rank documents by
    md5('u:' || doc_id) and keep the SAMPLE_N smallest. The hash IS the
    random order, so the sample is a pure function of the keys — stable
    under re-runs, repartitioning, and engine choice (pinned by test) —
    and mergeable (the n smallest hashes of a union are computable from
    each part's n smallest: the KMV device). Complements the fixed-RATE
    draws (`train_test_split`, `train_stratified_sample`,
    `train_quality_resample`): rate sampling scales the output with the
    corpus, size sampling pins it — the eval-subset / debugging-slice op.

    At 100 TB this executes as TakeOrderedAndProject — a per-partition
    top-n heap plus a driver merge of n rows per partition — never a
    range-partitioned global sort."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("u:"), F.col("doc_id").cast("string")))
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            _ws_tokens().alias("tokens"),
            h.alias("draw"),
        )
        .orderBy("draw")
        .limit(SAMPLE_N)
    )


#: Shuffle seed baked into the shard hash — changing it is a full reshuffle.
SHUFFLE_SEED = 42


def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding — how a training pipeline
    randomizes 100 TB of documents without ever sorting them globally:
    ``shard = first hex char of md5(doc_id:seed)`` (16 shards here) is a
    pure hash partition, and reading shards in (shard, md5) order yields a
    reproducible pseudorandom permutation of the corpus. No global
    row_number, no sort of the full data — the only exchange is the
    hash partition the shard write needs anyway.

    The contract emits the per-shard manifest (doc count, total chars,
    id range) plus the shard's FIRST document under the md5 ordering
    (``min_by`` — proves the within-shard permutation itself is
    deterministic, not just the membership). Cross-engine: md5 of
    identical bytes is identical lowercase hex in both engines, so every
    column is exact."""
    docs = load_table(spark, sf_dir, "documents")
    sort_key = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{SHUFFLE_SEED}"))
    )
    shards = docs.select(
        "doc_id",
        "n_chars",
        sort_key.alias("sort_key"),
        F.substring(sort_key, 1, 1).alias("shard"),
    )
    return (
        shards.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.min_by("doc_id", F.col("sort_key")).alias("first_doc_id"),
        )
        .orderBy("shard")
    )


#: Per-source document cap — "domain capping", the web-curation rule
#: that bounds any one domain's contribution to the training mix (a few
#: boilerplate-heavy domains otherwise dominate a crawl). 15 binds at
#: every tested SF (sources are uniform 25–2500 docs), so the contract
#: exercises the capped branch everywhere.
SOURCE_CAP = 15
#: Salt width for the two-phase per-source k-min (the similarity-module
#: device): phase 1 ranks within (source, salt) so a mega-domain never
#: sorts in one task; phase 2 ranks the ≤ SALT·CAP survivors.
SOURCE_CAP_SALT = 4


def source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping: keep at most SOURCE_CAP documents per source,
    deterministically — the SOURCE_CAP smallest md5('c:' || doc_id) draws
    within each source (the `train_uniform_sample` k-min device applied
    per key, so the kept set is a pure function of the keys and mergeable
    across shards).

    Scale shape: the naive plan is one row_number window partitioned by
    source — which serializes a hot domain (a million-page boilerplate
    site) into a single task. Here the rank runs in TWO phases (the
    salted k-min of `similarity._value_groups`): phase 1 ranks within
    (source, salt % SOURCE_CAP_SALT) and keeps ≤ CAP per slice (any doc
    with true rank ≤ CAP has slice rank ≤ CAP), phase 2 ranks the
    ≤ SALT·CAP survivors per source — so no task ever sorts more than a
    bounded slice of any domain. Output: the kept docs with their final
    per-source rank (rows = Σ min(CAP, n_s))."""
    docs = load_table(spark, sf_dir, "documents")
    draw = F.md5(F.concat(F.lit("c:"), F.col("doc_id").cast("string")))
    d = docs.select("doc_id", "source", draw.alias("draw"))
    wl = Window.partitionBy(
        "source", F.pmod(F.hash("doc_id"), F.lit(SOURCE_CAP_SALT))
    ).orderBy("draw")
    wg = Window.partitionBy("source").orderBy("draw")
    return (
        d.withColumn("_l", F.row_number().over(wl))
        .filter(F.col("_l") <= SOURCE_CAP)
        .withColumn("rk", F.row_number().over(wg))
        .filter(F.col("rk") <= SOURCE_CAP)
        .select("doc_id", "source", F.col("rk").cast("int").alias("rk"))
    )


#: Stride-schedule quantization: virtual fire times (2k−1)/(2w) are
#: floor-scaled to integer ticks of 1/(2^20·2w) stride units, so the
#: schedule key is exact int64 algebra in both engines. Magnitudes:
#: (2k)·2^20 stays under 2^63 to ~4×10^12 docs per source.
STRIDE_SCALE = 1 << 20


def interleave_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture interleave: the global training order a data
    loader feeds when mixing sources by weight (HF ``interleave_datasets``
    / stride scheduling). Each source is shuffled (md5 draw), its k-th
    document fires at virtual time (2k−1)/(2w_s) — the low-discrepancy
    stride schedule, so a weight-w source occupies ~w of every Σw
    consecutive slots and no source ever bursts — and the corpus is
    ordered by fire time. Weights are the temperature weights
    ``train_mixture_sample`` uses (w_s = ⌊√n_s⌋), derived from the same
    tiny per-source counts frame.

    Scale shape: per-source shuffled ordinals come from ONE
    ``global_positions`` pass over (source, draw, doc_id) — positions of
    a source are contiguous in that order, so ordinal = p − min_s(p) + 1
    via a broadcast of the sources-sized min frame; a hot source never
    serializes into a single ranking task (the source_cap rationale). The
    final order is a second ``global_positions`` over the schedule key.
    Total: two range exchanges + two tiny broadcasts — never a
    single-partition sort, never a per-source window over the corpus.

    Engine-exactness: md5-hex ordering, integer √n weights, and the
    floor-scaled schedule key ``((2k−1)·2^20) div (2w)`` (non-negative,
    so div is exact floor) with (key, source, ordinal) ties — every
    column and comparison is integer/string-exact in both engines."""
    from parquet_near_storage_compute_spark.operators.windows import (
        global_positions,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    draw = F.md5(F.concat(F.lit("il:"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", "source", draw.alias("draw"))
    ranked = global_positions(
        keyed, [F.col("source"), F.col("draw"), F.col("doc_id")]
    ).drop("n_total")
    base = ranked.groupBy("source").agg(
        F.min("p").alias("p0"), F.count(F.lit(1)).alias("n_docs")
    )
    base = base.select(
        "source", "p0", F.floor(F.sqrt("n_docs")).cast("long").alias("w")
    )
    sched = (
        ranked.join(F.broadcast(base), "source")
        .select(
            "doc_id",
            "source",
            (F.col("p") - F.col("p0") + 1).alias("src_ord"),
            "w",
        )
        .withColumn(
            "sched_key",
            F.expr(f"((2 * src_ord - 1) * {STRIDE_SCALE}) div (2 * w)"),
        )
        .drop("w")
    )
    final = global_positions(
        sched, [F.col("sched_key"), F.col("source"), F.col("src_ord")]
    )
    return final.select(
        "doc_id",
        "source",
        "src_ord",
        "sched_key",
        F.col("p").alias("position"),
    ).orderBy("position")


#: DSIR (Xie et al. 2023, arXiv:2302.03169) hashed-feature space: unigram
#: tokens hash into DSIR_DIM buckets (the paper's hashed n-gram device at
#: unigram order); the target distribution is the corpus' own
#: DSIR_TARGET_LANG slice (the "high-quality target set" stand-in the
#: synthetic tables afford).
DSIR_DIM = 1024
DSIR_TARGET_LANG = "en"
#: Fixed-point fractional bits of the log2 importance weights — the
#: shared exact shift-and-square device (functions/intmath.py): every
#: λ_b and every document score is an exact int64, no transcendental
#: libm calls on either engine, so the oracle comparison is bit-exact.
from parquet_near_storage_compute_spark.functions.intmath import (  # noqa: E402
    LOG2_FRAC_BITS as DSIR_FRAC_BITS,
    ilog2fp_ctes as _ilog2fp_ctes,
    with_ilog2fp as _with_ilog2fp,
)

#: Report size: the top-K highest-importance documents.
DSIR_TOPK = 100


def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling for data selection (DSIR, Xie et al. 2023,
    arXiv:2302.03169), exact-integer end to end: tokens hash into
    DSIR_DIM buckets; per-bucket importance λ_b is the Laplace-smoothed
    log-likelihood ratio of the target distribution (the corpus'
    DSIR_TARGET_LANG slice) against the raw distribution,

        λ_b = lg(t_b+1) − lg(T+D) − lg(r_b+1) + lg(R+D)

    with lg = floor(log2(·)·2^DSIR_FRAC_BITS) computed by the exact
    shift-and-square loop (`_with_ilog2fp` — no libm, bit-identical in
    DuckDB); a document's score is Σ_tokens λ_bucket(token) and the top
    DSIR_TOPK by (score desc, doc_id) are reported. The paper samples
    proportionally to exp(score); ranking by score is the deterministic
    top-k form of the same ordering.

    Scale shape: ONE corpus pass builds the DSIR_DIM-row bucket count
    table (map-side combinable groupBy); the λ table derives from it in
    tiny-frame arithmetic (the count table is localCheckpointed once so
    its corpus lineage isn't re-executed by the totals branch); ONE more
    corpus pass scores documents via a broadcast join against the
    1024-row λ table (no shuffle of the token stream — the per-doc sum
    shuffles doc-keyed partial aggregates only); the result is a
    TakeOrderedAndProject at K=100. Nothing driver-side ever exceeds the
    bucket table."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "lang",
        "source",
        F.expr(f"explode({words('text')}) AS w"),
    ).withColumn("b", F.expr(f"{hash32(sql_string('dsir'), 'w')} % {DSIR_DIM}"))
    counts = (
        toks.groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("r"),
            F.sum(
                (F.col("lang") == DSIR_TARGET_LANG).cast("long")
            ).alias("t"),
        )
        .localCheckpoint()
    )
    totals = counts.agg(
        (F.sum("r") + DSIR_DIM).cast("long").alias("rt"),
        (F.sum("t") + DSIR_DIM).cast("long").alias("tt"),
    )
    # Plan size: running the lg chain over a 4-way UNION of (b, kind,
    # val) rows, re-assembled with a groupBy(b) + a filter-aggregate,
    # costs two exchanges and a 4-branch plan for arithmetic over
    # DSIR_DIM+2 rows. lg(x) is a pure per-row
    # integer function, so the two per-bucket chains run directly ON the
    # checkpointed counts frame and the two totals chains on the 1-row
    # totals frame: identical integers, zero new exchanges.
    lg_b = counts.withColumn(
        "val_t", (F.col("t") + 1).cast("long")
    ).withColumn("val_r", (F.col("r") + 1).cast("long"))
    lg_b = _with_ilog2fp(lg_b, "val_t", "lg_t")
    lg_b = _with_ilog2fp(lg_b, "val_r", "lg_r")
    lg_t = _with_ilog2fp(totals, "rt", "lg_rt")
    lg_t = _with_ilog2fp(lg_t, "tt", "lg_tt")
    lam = lg_b.crossJoin(F.broadcast(lg_t)).select(
        "b",
        (F.col("lg_t") - F.col("lg_r") + F.col("lg_rt") - F.col("lg_tt"))
        .cast("long")
        .alias("lam"),
    )
    scores = (
        toks.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lam").cast("long").alias("score_fp"),
        )
    )
    return scores.orderBy(
        F.col("score_fp").desc(), F.col("doc_id")
    ).limit(DSIR_TOPK)


#: PSI drift report: fixed-width doc-length buckets (schema-level, not
#: data-derived edges, so the bucketing is stable across snapshots).
PSI_BUCKETS = 10
PSI_BUCKET_WIDTH = 100
#: Proportions are integers scaled by PSI_SCALE (parts-per-million).
PSI_SCALE = 10**6


def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift report between the target slice
    (lang = DSIR_TARGET_LANG, the DSIR reference distribution) and the
    remainder of the corpus, over fixed-width document-length buckets —
    the standard "did the distribution shift" monitor run between any
    two corpus slices or snapshots before retraining a selection model.

    Exact integer end to end on the shared fixed-point log2 lattice
    (functions/intmath.py): per bucket i with Laplace-smoothed counts,

        d_i  = (ref_i+1)·S // (R+B) − (cur_i+1)·S // (C+B)   (ppm)
        lr_i = lg(ref_i+1) − lg(R+B) − lg(cur_i+1) + lg(C+B) (log2 fp)
        psi_term_i = d_i · lr_i,   psi_total = Σ psi_term_i

    — PSI in (ppm · 2^-20 · log2) units; multiply by ln 2 for nats.
    |d| ≤ 10^6 and |lr| < 64·2^20, so every product fits int64.

    Scale shape: ONE corpus pass builds the ≤ PSI_BUCKETS-row count
    table (map-side combinable; localCheckpointed so the totals branch
    and the final join don't re-run the corpus lineage); everything
    after is dimension-sized arithmetic — the single log2 chain runs
    over ≤ 2·B+2 rows, the 1-row constant attach is the whitelisted
    scalar cross, and the output is B rows in bucket order."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.least(
        F.expr(f"CAST(length(text) AS BIGINT) div {PSI_BUCKET_WIDTH}"),
        F.lit(PSI_BUCKETS - 1),
    ).cast("long")
    is_ref = (F.col("lang") == DSIR_TARGET_LANG).cast("long")
    counts = (
        docs.select(bucket.alias("bucket"), is_ref.alias("is_ref"))
        .groupBy("bucket")
        .agg(
            F.sum("is_ref").cast("long").alias("n_ref"),
            (F.count(F.lit(1)) - F.sum("is_ref")).cast("long").alias("n_cur"),
        )
        .localCheckpoint()
    )
    # The 4-way UNION + groupBy(b) λ-assembly below LOOKS wasteful (a
    # 4-branch plan and 16 Exchanges for ≤ 2·B+2 rows), and the
    # "obvious" fix was tried — run the lg chains directly on the counts/totals
    # frames (6 Exchanges). The interleaved A/B at sf0.1 measured the
    # direct-chain form consistently SLOWER (old best 1.32 s vs new
    # 1.69 s over 5 alternating fresh-plan noop runs): this query's timed
    # region is pure stage-scheduling over tiny frames, and the union's
    # independent branches schedule in parallel while the chained form
    # serializes two ilog2fp projections behind a broadcast build.
    # Measured form kept (guide §1: plan shape is not the whole story).
    # The sibling dsir_resample KEEPS the direct chains — its timed path
    # is dominated by the corpus scoring pass, and its A/B read parity
    # (2.23 vs 2.13 best).
    totals = counts.agg(
        (F.sum("n_ref") + PSI_BUCKETS).cast("long").alias("rt"),
        (F.sum("n_cur") + PSI_BUCKETS).cast("long").alias("ct"),
    )
    vals = (
        counts.select(
            F.col("bucket").alias("b"),
            F.lit("r").alias("kind"),
            (F.col("n_ref") + 1).cast("long").alias("val"),
        )
        .unionByName(
            counts.select(
                F.col("bucket").alias("b"),
                F.lit("c").alias("kind"),
                (F.col("n_cur") + 1).cast("long").alias("val"),
            )
        )
        .unionByName(
            totals.select(
                F.lit(None).cast("long").alias("b"),
                F.lit("R").alias("kind"),
                F.col("rt").alias("val"),
            )
        )
        .unionByName(
            totals.select(
                F.lit(None).cast("long").alias("b"),
                F.lit("C").alias("kind"),
                F.col("ct").alias("val"),
            )
        )
    )
    lg = _with_ilog2fp(vals, "val", "lg")
    lam = (
        lg.filter(F.col("kind").isin("r", "c"))
        .groupBy("b")
        .agg(
            F.sum(
                F.when(F.col("kind") == "r", F.col("lg")).otherwise(
                    -F.col("lg")
                )
            ).alias("lr_base")
        )
    )
    cons = lg.filter(F.col("kind").isin("R", "C")).agg(
        F.sum(
            F.when(F.col("kind") == "C", F.col("lg")).otherwise(-F.col("lg"))
        ).alias("c")
    )
    terms = (
        counts.crossJoin(F.broadcast(totals))
        .join(F.broadcast(lam), F.col("bucket") == F.col("b"))
        .crossJoin(F.broadcast(cons))
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            (
                F.expr(f"((n_ref + 1) * {PSI_SCALE}) div rt")
                - F.expr(f"((n_cur + 1) * {PSI_SCALE}) div ct")
            )
            .cast("long")
            .alias("d_scaled"),
            (F.col("lr_base") + F.col("c")).cast("long").alias("lr_fp"),
        )
        .withColumn(
            "psi_term", (F.col("d_scaled") * F.col("lr_fp")).cast("long")
        )
    )
    from pyspark.sql import Window as _W

    return (
        terms.withColumn(
            "psi_total",
            F.sum("psi_term").over(_W.partitionBy(F.lit(1))).cast("long"),
        )
        .orderBy("bucket")
    )


def _drift_psi_oracle_sql() -> str:
    from parquet_near_storage_compute_spark.functions.intmath import (
        ilog2fp_ctes,
    )

    return f"""
        WITH bkt AS (
          SELECT LEAST(length(text) // {PSI_BUCKET_WIDTH},
                       {PSI_BUCKETS - 1}) AS bucket,
                 CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END
                   AS is_ref
          FROM documents
        ),
        cnt AS (
          SELECT bucket, CAST(SUM(is_ref) AS BIGINT) AS n_ref,
                 CAST(COUNT(*) - SUM(is_ref) AS BIGINT) AS n_cur
          FROM bkt GROUP BY bucket
        ),
        tot AS (
          SELECT CAST(SUM(n_ref) + {PSI_BUCKETS} AS BIGINT) AS rt,
                 CAST(SUM(n_cur) + {PSI_BUCKETS} AS BIGINT) AS ct
          FROM cnt
        ),
        vals AS (
          SELECT bucket AS b, 'r' AS kind,
                 CAST(n_ref + 1 AS BIGINT) AS val FROM cnt
          UNION ALL
          SELECT bucket AS b, 'c' AS kind,
                 CAST(n_cur + 1 AS BIGINT) AS val FROM cnt
          UNION ALL
          SELECT CAST(NULL AS BIGINT) AS b, 'R' AS kind, rt AS val FROM tot
          UNION ALL
          SELECT CAST(NULL AS BIGINT) AS b, 'C' AS kind, ct AS val FROM tot
        ),
        {ilog2fp_ctes("vals")},
        lam AS (
          SELECT b AS bucket,
                 SUM(CASE WHEN kind = 'r' THEN lg ELSE -lg END) AS lr_base
          FROM lgt WHERE kind IN ('r', 'c') GROUP BY b
        ),
        cons AS (
          SELECT SUM(CASE WHEN kind = 'C' THEN lg ELSE -lg END) AS c
          FROM lgt WHERE kind IN ('R', 'C')
        ),
        terms AS (
          SELECT c.bucket, c.n_ref, c.n_cur,
                 CAST(((c.n_ref + 1) * {PSI_SCALE}) // t.rt
                      - ((c.n_cur + 1) * {PSI_SCALE}) // t.ct
                      AS BIGINT) AS d_scaled,
                 CAST(l.lr_base + (SELECT cc.c FROM cons cc) AS BIGINT)
                   AS lr_fp
          FROM cnt c CROSS JOIN tot t
          JOIN lam l ON l.bucket = c.bucket
        )
        SELECT bucket, n_ref, n_cur, d_scaled, lr_fp,
               CAST(d_scaled * lr_fp AS BIGINT) AS psi_term,
               CAST(SUM(d_scaled * lr_fp) OVER () AS BIGINT) AS psi_total
        FROM terms ORDER BY bucket
    """


def _dsir_oracle_sql() -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS w
          FROM documents
        ),
        bt AS (
          SELECT doc_id, lang, source,
                 ('0x' || substr(md5('dsir:' || w), 1, 8))::BIGINT
                   % {DSIR_DIM} AS b
          FROM toks
        ),
        cnt AS (
          SELECT b, CAST(COUNT(*) AS BIGINT) AS r,
                 CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                          THEN 1 ELSE 0 END) AS BIGINT) AS t
          FROM bt GROUP BY b
        ),
        tot AS (
          SELECT CAST(SUM(r) + {DSIR_DIM} AS BIGINT) AS rt,
                 CAST(SUM(t) + {DSIR_DIM} AS BIGINT) AS tt
          FROM cnt
        ),
        vals AS (
          SELECT b, 't' AS kind, CAST(t + 1 AS BIGINT) AS val FROM cnt
          UNION ALL
          SELECT b, 'r' AS kind, CAST(r + 1 AS BIGINT) AS val FROM cnt
          UNION ALL
          SELECT CAST(NULL AS BIGINT) AS b, 'T' AS kind, tt AS val FROM tot
          UNION ALL
          SELECT CAST(NULL AS BIGINT) AS b, 'R' AS kind, rt AS val FROM tot
        ),
        {_ilog2fp_ctes("vals")},
        lamb AS (
          SELECT b,
                 SUM(CASE WHEN kind = 't' THEN lg ELSE -lg END) AS base
          FROM lgt WHERE kind IN ('t', 'r') GROUP BY b
        ),
        cons AS (
          SELECT SUM(CASE WHEN kind = 'R' THEN lg ELSE -lg END) AS c
          FROM lgt WHERE kind IN ('R', 'T')
        ),
        lam AS (
          SELECT b, CAST(base + (SELECT c FROM cons) AS BIGINT) AS lam
          FROM lamb
        )
        SELECT doc_id, lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(lam) AS BIGINT) AS score_fp
        FROM bt JOIN lam USING (b)
        GROUP BY doc_id, lang, source
        ORDER BY score_fp DESC, doc_id
        LIMIT {DSIR_TOPK}
    """


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "train_source_cap": source_cap,
    "train_interleave_datasets": interleave_datasets,
    "train_pack_sequences": pack_sequences,
    "train_global_shuffle": global_shuffle,
    "train_test_split": train_test_split,
    "train_stratified_sample": stratified_sample,
    "train_profile_columns": profile_columns,
    "train_chunk_documents": chunk_documents,
    "train_contamination_check": contamination_check,
    "train_decontaminate_trim": decontaminate_trim,
    "train_mixture_sample": mixture_sample,
    "train_curriculum_order": curriculum_order,
    "train_bpe_pair_counts": bpe_pair_counts,
    "train_bpe_merges": bpe_merges,
    "train_bpe_encode": bpe_encode,
    "train_token_fertility": token_fertility,
    "train_context_length_fit": context_length_fit,
    "train_pack_bpe": pack_bpe,
    "train_uniform_sample": uniform_sample,
    "train_quality_resample": quality_resample,
    "train_dsir_resample": dsir_resample,
    "train_drift_psi": drift_psi,
}

ORACLE_SQL: dict[str, str] = {
    # mirrored op-for-op (see interleave_datasets): per-source md5-shuffled
    # ordinals, ⌊√n⌋ weights, floor-scaled stride keys, (key, source, k)
    # total order
    "train_interleave_datasets": f"""
        WITH counts AS (
          SELECT source, CAST(floor(sqrt(COUNT(*))) AS BIGINT) AS w
          FROM documents GROUP BY source
        ),
        ord AS (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('il:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS src_ord
          FROM documents
        ),
        keyed AS (
          SELECT o.doc_id, o.source, o.src_ord,
                 ((2 * o.src_ord - 1) * {STRIDE_SCALE}) // (2 * c.w)
                   AS sched_key
          FROM ord o JOIN counts c USING (source)
        )
        SELECT doc_id, source,
               CAST(src_ord AS BIGINT) AS src_ord,
               CAST(sched_key AS BIGINT) AS sched_key,
               CAST(ROW_NUMBER() OVER (ORDER BY sched_key, source, src_ord)
                    AS BIGINT) AS position
        FROM keyed ORDER BY position
    """,
    "train_source_cap": f"""
        SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('c:' || CAST(doc_id AS VARCHAR))) AS rk
          FROM documents
        ) WHERE rk <= {SOURCE_CAP}
    """,
    # Fixed-round BPE merge loop unrolls into plain SQL — see
    # _bpe_merges_oracle_sql.
    "train_bpe_merges": _bpe_merges_oracle_sql(),
    # Encode chain: the same rounds over the full vocab with
    # exhaustion-guarded replaces, then per-doc token accounting.
    "train_bpe_encode": _bpe_encode_oracle_sql(),
    # Encode chain + the packing cumsum: pack on the tokenizer's counts.
    "train_pack_bpe": _bpe_pack_oracle_sql(),
    # Encode chain + (lang, source) bucket totals; ratios on TOTALS via
    # integer //; strlen = UTF-8 bytes (Spark octet_length).
    "train_token_fertility": _bpe_encode_ctes() + """,
        meta AS (
          SELECT d.doc_id, d.lang, d.source,
                 CAST(strlen(d.text) AS BIGINT) AS n_bytes,
                 CAST(COALESCE(pd.n_words, 0) AS BIGINT) AS n_words,
                 CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens
          FROM documents d LEFT JOIN pd USING (doc_id)
        ),
        b AS (
          SELECT lang, source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_words) AS BIGINT) AS n_words,
                 CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                 CAST(SUM(n_bytes) AS BIGINT) AS n_bytes
          FROM meta GROUP BY lang, source
        )
        SELECT lang, source, n_docs, n_words, n_tokens, n_bytes,
               CAST(CASE WHEN n_words > 0
                         THEN (1000 * n_tokens) // n_words
                         ELSE -1 END AS BIGINT) AS fertility_permille,
               CAST(CASE WHEN n_tokens > 0
                         THEN (1000 * n_bytes) // n_tokens
                         ELSE -1 END AS BIGINT) AS bytes_per_token_milli
        FROM b ORDER BY lang, source
    """,
    # Per-L truncation/padding algebra over whitespace token counts;
    # unnest fans each doc to len(CONTEXT_LENGTHS) rows like the Spark
    # explode.
    "train_context_length_fit": f"""
        WITH t AS (
          SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 unnest([{", ".join(map(str, CONTEXT_LENGTHS))}])
                   AS context_len
          FROM documents
        ),
        a AS (
          SELECT context_len,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN n_tokens <= context_len
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_fit,
                 CAST(SUM(CASE WHEN n_tokens <= context_len
                               THEN n_tokens ELSE context_len END)
                      AS BIGINT) AS tokens_kept,
                 CAST(SUM(CASE WHEN n_tokens <= context_len
                               THEN 0 ELSE n_tokens - context_len END)
                      AS BIGINT) AS tokens_truncated,
                 CAST(SUM(CASE WHEN n_tokens <= context_len
                               THEN context_len - n_tokens ELSE 0 END)
                      AS BIGINT) AS padding_tokens
          FROM t GROUP BY context_len
        )
        SELECT CAST(context_len AS INT) AS context_len, n_docs, n_docs_fit,
               tokens_kept, tokens_truncated, padding_tokens,
               CAST((1000 * tokens_kept) // (context_len * n_docs)
                    AS BIGINT) AS utilization_permille
        FROM a ORDER BY context_len
    """,
    # Fixed-size deterministic sample: hash ranking, n smallest draws.
    "train_uniform_sample": f"""
        SELECT doc_id, lang, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
               md5('u:' || CAST(doc_id AS VARCHAR)) AS draw
        FROM documents
        ORDER BY draw LIMIT {SAMPLE_N}
    """,
    "train_quality_resample": f"""
        WITH {_QC_GRAMS_CTE},
        decided AS (
          SELECT quality_bucket,
                 CAST({QR_BASE} + (quality_bucket + {_QC_CLAMP}) * {QR_STEP}
                      AS BIGINT) AS keep_permille,
                 (('0x'||substr(md5('qr:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT
                    % 1000)
                   < ({QR_BASE} + (quality_bucket + {_QC_CLAMP}) * {QR_STEP})
                   AS kept
          FROM buckets
        )
        SELECT quality_bucket, keep_permille,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM decided GROUP BY quality_bucket, keep_permille
        ORDER BY quality_bucket
    """,
    "train_global_shuffle": f"""
        WITH s AS (
          SELECT doc_id, n_chars,
                 md5(CAST(doc_id AS VARCHAR) || ':{SHUFFLE_SEED}') AS sort_key
          FROM documents
        )
        SELECT substr(sort_key, 1, 1) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
               CAST(min_by(doc_id, sort_key) AS BIGINT) AS first_doc_id
        FROM s GROUP BY shard ORDER BY shard
    """,
    "train_bpe_pair_counts": f"""
        WITH w AS (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ),
        v AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS n
          FROM w GROUP BY word HAVING length(word) >= 2
        ),
        p AS (
          SELECT n, unnest(list_transform(range(1, length(word)),
                                          i -> word[i : i + 1])) AS pair
          FROM v
        )
        SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
        FROM p GROUP BY pair
        ORDER BY n_occurrences DESC, pair
        LIMIT {BPE_TOP_K}
    """,
    "train_pack_sequences": f"""
        WITH t AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
          FROM documents
        ),
        c AS (
          SELECT doc_id, tokens,
                 SUM(tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t
        )
        SELECT CAST((cum - tokens) // {PACK_CAPACITY} AS BIGINT)
                 AS bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tokens) AS BIGINT) AS total_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc,
               CAST(MAX(doc_id) AS BIGINT) AS last_doc
        FROM c GROUP BY 1 ORDER BY bin_id
    """,
    "train_test_split": f"""
        WITH t AS (
          SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                        < '{TRAIN_THRESHOLD}'
                      THEN 'train' ELSE 'test' END AS split,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
          FROM documents
        )
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
        FROM t GROUP BY split ORDER BY split
    """,
    "train_stratified_sample": f"""
        WITH t AS (
          SELECT lang,
                 substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 2)
                   < CASE WHEN lang = 'en' THEN '{STRATA_THRESHOLDS["en"]}'
                          ELSE '{DEFAULT_THRESHOLD}' END AS kept
          FROM documents
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                 AS kept_rate
        FROM t GROUP BY lang ORDER BY lang
    """,
    "train_chunk_documents": f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        c AS (
          SELECT doc_id, ws,
                 unnest(range(0, len(ws), {CHUNK_STRIDE})) AS start_tok
          FROM t
        )
        SELECT doc_id,
               CAST(start_tok // {CHUNK_STRIDE} AS INT) AS chunk_idx,
               CAST(start_tok AS INT) AS start_tok,
               CAST(len(ws[start_tok + 1 : start_tok + {CHUNK_TOKENS}]) AS INT)
                 AS chunk_len,
               md5(array_to_string(
                 ws[start_tok + 1 : start_tok + {CHUNK_TOKENS}], ' '))
                 AS chunk_hash
        FROM c ORDER BY doc_id, chunk_idx
    """,
    # span-level decontamination: text_dedup_trim's trim algebra with the
    # dup predicate swapped for eval-gram membership (existence semi-join —
    # no fan-out, no rare cap; see the operator docstring)
    "train_decontaminate_trim": f"""
        WITH t AS (
          SELECT doc_id, doc_id % {EVAL_MOD} = 0 AS is_eval,
                 string_split(text, ' ') AS ws
          FROM documents
        ),
        evg AS (
          SELECT DISTINCT md5(gm) AS h FROM (
            SELECT unnest(list_transform(
                     CASE WHEN len(ws) >= {CONTAM_NGRAM}
                          THEN range(len(ws) - {CONTAM_NGRAM - 1}) ELSE [] END,
                     i -> array_to_string(
                            ws[i + 1 : i + {CONTAM_NGRAM}], ' '))) AS gm
            FROM t WHERE is_eval
          )
        ),
        g AS (
          SELECT doc_id, i + 1 AS p,
                 md5(array_to_string(
                       ws[i + 1 : i + {CONTAM_NGRAM}], ' ')) AS h
          FROM (
            SELECT doc_id, ws,
                   unnest(CASE WHEN len(ws) >= {CONTAM_NGRAM}
                               THEN range(len(ws) - {CONTAM_NGRAM - 1})
                               ELSE [] END) AS i
            FROM t WHERE NOT is_eval
          )
        ),
        ds AS (
          SELECT DISTINCT g.doc_id, g.p FROM g
          WHERE EXISTS (SELECT 1 FROM evg WHERE evg.h = g.h)
        ),
        wpos AS (
          SELECT doc_id, generate_subscripts(ws, 1) AS p, unnest(ws) AS word
          FROM t WHERE NOT is_eval
        ),
        mk AS (
          SELECT w.doc_id, w.p, w.word,
                 MAX(CASE WHEN d.p IS NOT NULL THEN 1 ELSE 0 END)
                   OVER (PARTITION BY w.doc_id ORDER BY w.p
                         ROWS BETWEEN {CONTAM_NGRAM - 1} PRECEDING
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
    "train_contamination_check": f"""
        WITH g AS (
          SELECT doc_id, doc_id % {EVAL_MOD} = 0 AS is_eval,
                 unnest(list_distinct(list_transform(
                   CASE WHEN len(ws) >= {CONTAM_NGRAM}
                        THEN range(len(ws) - {CONTAM_NGRAM - 1}) ELSE [] END,
                   i -> array_to_string(
                          ws[i + 1 : i + {CONTAM_NGRAM}], ' ')))) AS gm
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        ),
        ev AS (SELECT gm, doc_id AS eval_doc FROM g WHERE is_eval),
        rare AS (
          SELECT gm FROM ev GROUP BY gm HAVING COUNT(*) <= {CONTAM_MAX_DF}
        ),
        tr AS (SELECT gm, doc_id FROM g WHERE NOT is_eval)
        SELECT tr.doc_id,
               CAST(COUNT(DISTINCT tr.gm) AS BIGINT) AS n_shared_grams,
               CAST(COUNT(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs
        FROM tr JOIN ev USING (gm) JOIN rare USING (gm)
        GROUP BY tr.doc_id ORDER BY tr.doc_id
    """,
    "train_mixture_sample": f"""
        WITH counts AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(FLOOR(SQRT(CAST(COUNT(*) AS BIGINT))) AS BIGINT) AS w
          FROM documents GROUP BY source
        ),
        totals AS (
          SELECT CAST(SUM(n_docs) AS BIGINT) AS sum_n,
                 CAST(SUM(w) AS BIGINT) AS sum_w
          FROM counts
        ),
        rates AS (
          SELECT source,
                 LEAST(CAST(1.0 AS DOUBLE),
                       ((CAST({MIX_BUDGET_FRAC} AS DOUBLE) * sum_n) * w)
                         / (sum_w * n_docs)) AS target_rate
          FROM counts, totals
        ),
        marked AS (
          SELECT d.source, r.target_rate,
                 CAST(CAST('0x' || substr(
                     md5('m:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                   AS UBIGINT) AS BIGINT)
                 < CAST(FLOOR(r.target_rate * 4294967296.0) AS BIGINT) AS kept
          FROM documents d JOIN rates r USING (source)
        )
        SELECT source, target_rate,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                 AS realized_rate
        FROM marked GROUP BY source, target_rate ORDER BY source
    """,
    "train_curriculum_order": f"""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
          FROM documents
        ),
        r AS (
          SELECT doc_id, tokens,
                 CAST(ROW_NUMBER() OVER (ORDER BY tokens, doc_id) AS BIGINT)
                   AS position,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n_total
          FROM t
        )
        SELECT doc_id, tokens, position,
               CAST((position - 1) * {CURRICULUM_PHASES} // n_total + 1
                    AS INT) AS phase
        FROM r ORDER BY position
    """,
    "train_profile_columns": """
        SELECT * FROM (
          SELECT 'l_quantity' AS "column",
                 CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_nulls,
                 CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
                 CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
                 CAST(MAX(l_quantity) AS DOUBLE) AS max_val
          FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice',
                 CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT),
                 CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
                 CAST(MIN(l_extendedprice) AS DOUBLE),
                 CAST(MAX(l_extendedprice) AS DOUBLE)
          FROM lineitem
          UNION ALL
          SELECT 'l_discount',
                 CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT),
                 CAST(COUNT(DISTINCT l_discount) AS BIGINT),
                 CAST(MIN(l_discount) AS DOUBLE),
                 CAST(MAX(l_discount) AS DOUBLE)
          FROM lineitem
          UNION ALL
          SELECT 'l_tax',
                 CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT),
                 CAST(COUNT(DISTINCT l_tax) AS BIGINT),
                 CAST(MIN(l_tax) AS DOUBLE),
                 CAST(MAX(l_tax) AS DOUBLE)
          FROM lineitem
        ) ORDER BY "column"
    """,
    # DSIR importance resampling: the shift-and-square fixed-point log2
    # chain is generated by _ilog2fp_ctes — the same loop _with_ilog2fp
    # runs on the Spark side, so scores compare bit-exact.
    "train_dsir_resample": _dsir_oracle_sql(),
    # PSI drift report: same shared fixed-point log2 CTE chain.
    "train_drift_psi": _drift_psi_oracle_sql(),
}
