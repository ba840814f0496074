"""Deduplication operators over ``documents`` (north-star, BASELINE.json).

Five dedup families, all expressed as shuffle-bounded DataFrame plans:

- exact:        hash-groupBy on md5(text) — one shuffle on the 16-byte hash.
- key-based:    min-per-group dedup on (lang, source).
- MinHash+LSH:  shingle → k-mins signature → banded buckets with the
                hot-bucket guard: pairwise work is O(Σ min(bucket,
                cap)²), over-cap buckets route to overflow accounting /
                cluster-level dedup instead of cap² pair explosion — the
                standard 100 TB near-dup pattern with a hard per-task
                ceiling (the full similarity join never materializes).
- exact verify: ``_verified`` joins both sides' shingle sets onto the
                LSH candidates and measures |A∩B| and |A∪B| once; the
                Jaccard, threshold-curve, calibration, band-tuning,
                containment and blocked-Jaccard reports read those counts
                (``_JACCARD``, ``_DECILE``), and so does the composite
                ``pipeline.training_data_pipeline``.
- blocked Jaccard: MinHash-LSH candidates INSIDE (lang, source) blocks
                — never quadratic in a natural-key block.
- SimHash:      16-bit fingerprint via per-token bit votes; duplicates =
                fingerprint collisions (groupBy, no pairwise step at all).
- embedding:    cosine-threshold pairs, blocked by sign-LSH bucket.
- decisions:    ``minhash_dedup_decisions`` — candidates + overflow →
                per-doc keep/drop with reasons (the actionable step).
- clusters:     ``dedup_connected_components`` — candidate pairs → duplicate
                clusters via distributed min-label propagation (transitive
                closure pair-level dedup misses; recursive-CTE oracle).

Cross-engine determinism: every hash is md5-derived (functions/text.py), so
the DuckDB oracles reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions.sql import sql_double
from parquet_near_storage_compute_spark.functions.text import (
    attach_minhash,
    band_hash,
    minhash_aggs,
    shingles,
    words,
)
from parquet_near_storage_compute_spark.functions.vectors import dot, lsh_bucket
from parquet_near_storage_compute_spark.plans.memo import PlanMemo
from parquet_near_storage_compute_spark.tables import fan_out, load_table

MINHASH_K = 8
LSH_BANDS = 4
LSH_ROWS = 2  # MINHASH_K = LSH_BANDS * LSH_ROWS

#: Hot-bucket guard (cf. v1's pruning economy, v1/src/main.rs:626-685 —
#: never enumerate what you can exclude cheaply). Buckets above the cap
#: produce NO candidate pairs (cap² pair explosion is never the right
#: answer — a mega-bucket of boilerplate is a duplicate CLUSTER, not a pair
#: list); they surface through the overflow-accounting side output instead.
#: 100 comfortably exceeds every observed bucket at tested SFs (max 12 at
#: sf0.1 for shingle-MinHash, 79 for word-MinHash blocks), so small-SF
#: outputs are identical to the uncapped form; at 100 TB it bounds per-task
#: pair volume to cap² per bucket.
LSH_BUCKET_CAP = 100
#: Salt width for the two-level bucket merge. Level-1 groups hold
#: ~bucket_size/SALT doc_ids before the cap+1 slice trims them, so raise
#: this with cluster size (≥ #executor-cores at 100 TB) to keep partial
#: aggregation rows small even for adversarial mega-buckets. 4 at bench
#: scale: the salt machinery costs ~(SALT/4)× extra aggregation state on
#: EVERY bucket, and measured sf0.1 time for the LSH pipeline goes
#: 1.8s (salt 16 + level-1 sort) → 1.3s (salt 4, level-2 sort only) —
#: parity with an unbounded single-level groupBy, with the row-size bound
#: (≤ SALT×(CAP+1) ids) intact.
LSH_MERGE_SALT = 4


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical doc per content hash (keep min doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.expr("md5(text) AS content_hash")).agg(
        F.expr("min(doc_id) AS keep_doc_id"), F.expr("count(1) AS n_copies")
    )


def key_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based dedup (dropDuplicates semantics made deterministic): first
    doc per (lang, source)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs")
    )


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sset): each document's distinct 3-word shingle array,
    UNFILTERED — shingle-less documents (< 3 words) carry an empty array.

    The ``size(sset) > 0`` restriction that reproduces the old explode +
    groupBy row set is applied ABOVE the persisted frame in
    `_shingle_features`, not here: a filter below the projection gets
    pushed under it by Catalyst, substituting the sset expression into
    the predicate, and the tokenize+shingle+distinct chain is then
    evaluated TWICE per row while the cache materializes (Filter and
    Project are separate codegen operators; subexpression elimination
    does not span them). Interleaved A/B at sf0.1 (persist + count,
    fresh plans): filter-below best 3.60 s vs filter-above-cache best
    1.11 s, every pair in favor — and the filter drops zero rows on
    this corpus, so the extra cached rows are free."""
    return fan_out(docs).selectExpr(
        "doc_id", f"array_distinct({shingles(words('text'), 3)}) AS sset"
    )


def _minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → k MinHash values over distinct 3-word shingles.

    Hashes are computed inline in the partial aggregate (map-side min per
    doc): one narrow pass, no extra shuffle.  Two alternatives were
    measured SLOWER here (interleaved A/B at sf0.1, fresh plans under
    the noop sink): (a) the narrow attach_minhash projection — array_min
    over transformed digest arrays — removes the SortAggregate pair from
    the plan but loses 0.94 → 2.22 s end-to-end on the LSH pipeline,
    because higher-order functions evaluate OUTSIDE whole-stage codegen
    (interpreted per-row lambdas + 10 boxed array traversals per doc)
    while explode + min(substring(md5)) compiles into the scan stage; the
    plan's extra Sort nodes are cheaper than the interpreted projection.
    (b) a distinct-shingle+broadcast variant — JVM md5 on short strings
    is cheaper than the extra exchange it saves.  The attach form remains
    right where its output is PERSISTED for several consumers
    (`_shingle_features`), where build cost is paid once."""
    sh = fan_out(docs).selectExpr(
        "doc_id", f"explode(array_distinct({shingles(words('text'), 3)})) AS s"
    )
    return sh.groupBy("doc_id").agg(
        *[F.expr(agg) for agg in minhash_aggs("s", MINHASH_K)]
    )


def _bands(sig: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Signature → (doc_id, extra…, band, bh) stream via posexplode of a
    band array (a per-band unionAll would re-run the shingle+minhash
    pipeline per band). ``extra`` carries blocking keys alongside."""
    mh_cols = [f"mh{j}" for j in range(MINHASH_K)]
    band_arr = ", ".join(band_hash(mh_cols, b, LSH_ROWS) for b in range(LSH_BANDS))
    return sig.selectExpr(
        "doc_id", *extra, f"posexplode(array({band_arr})) AS (band, bh)"
    )


def _banded_buckets(bands: DataFrame, keys: list[str]) -> DataFrame:
    """Bucket materialization with a hot-bucket guard: two-level salted
    aggregation so no task ever holds an unbounded bucket row.

    Level 1 groups on (keys…, salt) and emits the bucket-slice trimmed to
    CAP+1 doc_ids (the true per-salt count and min are taken BEFORE the
    slice, so over-cap buckets still report exactly). Level 2 merges the
    ≤ SALT slices per bucket — a row is at most SALT×(CAP+1) ids no
    matter how hot the bucket. Compare the naive
    ``groupBy(band, bh).agg(collect_list(doc_id))``: one boilerplate
    mega-bucket materializes as one giant row in one task → OOM at 100 TB.
    Single pass over the bands stream (a count-then-join alternative would
    execute the signature pipeline twice).

    The ONLY sort is at level 2 (sorting every level-1 slice as well
    would pay for the pathological case on every bucket). For
    in-cap buckets every salt-slice is untrimmed (bucket ≤ CAP ⇒ each salt
    group ≤ CAP < CAP+1), so ``ds`` is still the exact sorted member list.
    For over-cap buckets the slice keeps an arbitrary CAP+1 ids per salt —
    ``ds`` is then partial scratch (consumers must not read it; they get
    zero pairs and use ``min_id``) while ``n_docs``/``min_id`` stay exact
    via the dedicated aggregates.

    Output: (keys…, n_docs exact, min_id exact, ds = sorted member ids,
    exact and complete iff n_docs ≤ CAP)."""
    part = bands.groupBy(
        *keys, F.expr(f"pmod(hash(doc_id), {LSH_MERGE_SALT}) AS _salt")
    ).agg(
        F.expr("count(1) AS _n_part"),
        F.expr("min(doc_id) AS _min_part"),
        F.expr(f"slice(collect_list(doc_id), 1, {LSH_BUCKET_CAP + 1}) AS _ds_part"),
    )
    return part.groupBy(*keys).agg(
        F.expr("sum(_n_part) AS n_docs"),
        F.expr("min(_min_part) AS min_id"),
        F.expr("sort_array(flatten(collect_list(_ds_part))) AS ds"),
    )


def _bucket_pairs(buckets: DataFrame) -> DataFrame:
    """In-cap buckets → candidate pairs (a < b), distinct across bands.

    Buckets above LSH_BUCKET_CAP contribute NO pairs (cap² explosion is
    never the right answer for a mega-bucket); they are visible through
    ``lsh_overflow`` instead. Pairwise work stays O(Σ min(bucket, cap)²) —
    the whole point of LSH, now with a hard per-task ceiling."""
    kept = buckets.where(f"(n_docs > 1) AND (n_docs <= {LSH_BUCKET_CAP})")
    pairs = kept.selectExpr(
        "explode(filter(flatten(transform(ds, _x -> transform(ds, "
        "_y -> struct(_x AS doc_a, _y AS doc_b)))), _p -> _p.doc_a < _p.doc_b)) AS p"
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def _lsh_candidates(sig: DataFrame) -> DataFrame:
    """Banded LSH candidate pairs with the hot-bucket guard."""
    return _bucket_pairs(_banded_buckets(_bands(sig), ["band", "bh"]))


def _shingle_features(docs: DataFrame) -> DataFrame:
    """ONE corpus pass for the candidates-plus-exact-verify family
    (ngram_jaccard / threshold_curve / calibration / band_tuning /
    containment): (doc_id, sset, mh0..mh7), persisted.

    Project before the exchange, and cache what several consumers read:
    built separately, each of these queries would tokenize and md5-hash
    the corpus TWICE — once inside
    ``_lsh_candidates(_minhash_signatures(docs))`` and again for its
    verify-side shingle sets.  The signature columns are a narrow
    function of the shingle array (attach_minhash), so one frame serves
    both: the banded candidate generation reads the mh columns, the
    exact verify join (`_verified`) reads sset.  Persisted because it
    feeds 2-3 consumers per query (candidates + both join sides); at
    100 TB this cache IS the
    signature/shingle side-table a production near-dup pipeline
    materializes next to the corpus.

    The ``size(sset) > 0`` row-set restriction (the explode form's
    semantics — callers of attach_minhash must pre-filter empty arrays)
    sits ABOVE the persist: filtering below it would be pushed under
    the projection and double-evaluate the shingle chain during cache
    materialization (see `_shingle_sets`). On the cached frame the
    predicate reads a materialized array's size — no recompute."""
    full = attach_minhash(_shingle_sets(docs), "sset", MINHASH_K).persist()
    return full.filter(F.size("sset") > 0)


def _verified(cand: DataFrame, feats: DataFrame, *carry: str) -> DataFrame:
    """The exact verify step of the candidates-then-verify family: the
    candidate pairs (doc_a, doc_b) joined to both sides' rows of
    ``feats`` (doc_id, sset, …), with each side's set as ``asset`` /
    ``bsset``, each ``carry`` column as ``a<col>`` / ``b<col>``, and the
    exact ``n_inter`` = |A∩B| and ``n_union`` = |A∪B| as BIGINT. Two
    equi-joins onto the capped candidate set: linear in candidates, never
    all-pairs; AQE sizes both joins (no corpus-coupled broadcast hint)."""

    def side(s: str) -> DataFrame:
        cols = [f"{c} AS {s}{c}" for c in ("sset", *carry)]
        return feats.selectExpr(f"doc_id AS doc_{s}", *cols)

    return (
        cand.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .selectExpr(
            "*",
            "CAST(size(array_intersect(asset, bsset)) AS BIGINT) AS n_inter",
            "CAST(size(array_union(asset, bsset)) AS BIGINT) AS n_union",
        )
    )


#: Exact Jaccard of a `_verified` pair, as a double ratio.
_JACCARD = "CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)"
#: Jaccard decile of a `_verified` pair: (10·|A∩B|) div |A∪B| is INTEGER
#: division, so no float boundary can flip a pair between engines.
_DECILE = "CAST((n_inter * 10) div n_union AS INT)"


def minhash_dedup_decisions(docs: DataFrame) -> DataFrame:
    """Candidates → per-document keep/drop decisions, the step a real
    pipeline runs after LSH: (a) within-cap candidate pairs drop the
    higher doc_id of each pair (union-by-min is enough for near-dup
    removal — exact clustering isn't needed to pick survivors); (b)
    over-cap buckets are treated as duplicate CLUSTERS — every member
    except the bucket's smallest doc_id drops, with no pairwise work at
    all. This is where ``lsh_overflow``'s accounting becomes an action:
    a 1M-doc boilerplate bucket costs one broadcast equi-join, not
    5·10¹¹ pairs.

    The trimmed bucket arrays cannot enumerate a mega-bucket, so overflow
    membership comes from joining the bands stream against the over-cap
    bucket KEYS — broadcast, because pathological buckets are few by
    nature; the bands side stays narrow. The bands subtree feeds two
    consumers (buckets + membership), so it is persisted:
    without the cache each consumer re-scans the corpus and recomputes
    the MinHash signatures — 2× I/O + 2× hashing at 100 TB for one
    narrow (doc_id, band, bh) frame.

    Output: (doc_id, keep, reason) for every input document — reason ∈
    {'unique', 'pair_survivor', 'near_dup', 'overflow_survivor',
    'overflow_cluster'}. Registered as ``minhash_dedup_decisions``
    (full-logic DuckDB oracle); the adversarial overflow branches are
    additionally exercised by tests/test_lsh_hot_bucket.py."""
    sig = _minhash_signatures(docs)
    bands = _bands(sig).persist()
    buckets = _banded_buckets(bands, ["band", "bh"])
    pairs = _bucket_pairs(buckets)
    pair_losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    pair_winners = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .join(pair_losers, "doc_id", "left_anti")
    )
    over_keys = buckets.filter(F.col("n_docs") > LSH_BUCKET_CAP).select(
        "band", "bh", F.col("min_id").alias("keep_id")
    )
    over_members = bands.join(F.broadcast(over_keys), ["band", "bh"])
    over_losers = (
        over_members.filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
        .distinct()
    )
    over_keepers = (
        over_members.filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id")
        .distinct()
    )
    flag = lambda df, c: df.withColumn(c, F.lit(True))
    out = (
        docs.select("doc_id")
        .join(flag(over_losers, "_oc"), "doc_id", "left")
        .join(flag(pair_losers, "_nd"), "doc_id", "left")
        .join(flag(over_keepers, "_os"), "doc_id", "left")
        .join(flag(pair_winners, "_pw"), "doc_id", "left")
    )
    return out.select(
        "doc_id",
        (F.col("_oc").isNull() & F.col("_nd").isNull()).alias("keep"),
        F.when(F.col("_oc").isNotNull(), F.lit("overflow_cluster"))
        .when(F.col("_nd").isNotNull(), F.lit("near_dup"))
        .when(F.col("_os").isNotNull(), F.lit("overflow_survivor"))
        .when(F.col("_pw").isNotNull(), F.lit("pair_survivor"))
        .otherwise(F.lit("unique"))
        .alias("reason"),
    )


def minhash_decisions_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized registered form of `minhash_dedup_decisions` over the
    corpus table — shared between the registered contract and
    `pipeline_modality_dedup_report`'s text branch (the decisions tree
    costs ~3 s of construction, which the composite would otherwise
    re-pay on every build). The narrow corpus projection is persisted
    INSIDE the memoized build: the decisions tree consumes the corpus twice
    (signature subtree + the final per-doc mapping), and the composite
    single-scan discipline (test_pipeline_single_scan) requires every
    consumer to read the one cached frame, not re-scan parquet."""

    def build() -> DataFrame:
        docs = fan_out(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ).persist()
        return minhash_dedup_decisions(docs)

    return _CC_MEMO.get(spark, sf_dir, "minhash_decisions", build)


#: Convergence bound for min-label propagation. Label propagation needs
#: O(component diameter) rounds; near-dup clusters are dense (every member
#: shares a band bucket with many others), so diameters stay small. 50 is a
#: safety net, not an expected count — tested graphs converge in ≤ 5.
CC_MAX_ITERS = 50


def propagate_min_labels(edges: DataFrame) -> DataFrame:
    """Connected components by min-label propagation over an undirected
    edge list ``(doc_a, doc_b)``: every node ends up labelled with the
    smallest doc_id in its component.

    Each round is two distributed ops — join labels onto edges, then a
    min-aggregate per neighbour — and the frame is ``localCheckpoint``ed so
    lineage stays O(1) per round (the kmeans device, scalar_funcs.py). The
    convergence check is a count action on a frame of #nodes rows, never
    data on the driver. At 100 TB the same loop runs with the edge list
    persisted; for adversarial long-chain graphs the alternating
    large-star/small-star variant (Kiveris et al., "Connected Components in
    MapReduce and Beyond") converges in O(log² n) rounds — near-dup
    candidate graphs are dense clusters, where plain propagation already
    terminates in a handful of rounds.

    Returns (doc_id, cluster_rep) for every node incident to an edge."""
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    sym = sym.localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(CC_MAX_ITERS):
        nbr_min = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
                ).alias("lbl"),
                (F.col("nbr_lbl") < F.col("lbl")).alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    else:  # pragma: no cover - CC_MAX_ITERS is far above any real diameter
        raise RuntimeError(f"label propagation did not converge in {CC_MAX_ITERS}")
    return labels.select("doc_id", F.col("lbl").alias("cluster_rep"))


#: The candidate graph + its propagated labels are rebuilt identically by
#: three registered contracts (connected_components, cluster_size_histogram,
#: keep_best) — and building them is EAGER work (the edge checkpoint plus
#: one count() per propagation round), 3-4 s of plan construction per
#: query. Memoized per (session, corpus) so consumers share one
#: propagation.
_CC_MEMO = PlanMemo(tables=("documents",))


def _component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, cluster_rep) labels over the LSH candidate graph.

    Deterministic (min-label fixpoint over a deterministic edge list), so
    sharing the frame across consumers is observationally pure; the result
    is checkpoint-backed (propagate_min_labels' own per-round truncation),
    so each consumer's remaining plan is flat."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        edges = _lsh_candidates(_minhash_signatures(docs)).localCheckpoint()
        return propagate_min_labels(edges)

    return _CC_MEMO.get(spark, sf_dir, "component_labels", build)


def connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation: the step between candidate pairs and
    per-doc actions. LSH candidate pairs form an undirected graph; its
    connected components are the duplicate clusters (A~B and B~C put A,C in
    one cluster even when LSH never paired them directly — exactly what
    pair-level dedup misses). Output: one row per clustered document with
    its component representative (min doc_id) and the component size.

    Cluster sizes come from a groupBy over the #clustered-docs label frame;
    the join back carries NO broadcast hint: the sizes frame
    has one row per duplicate CLUSTER, and on a heavily-duplicated web
    corpus — the exact workload this operator exists for — clusters number
    in the tens of millions, so forcing a broadcast removes AQE's size
    guard and OOMs the executors.  AQE sizes the plain equi-join at
    runtime: it broadcasts when the measured frame is small (every tested
    SF) and falls back to a shuffle join when duplication is dense.  The
    output is a per-doc SET keyed by doc_id (consumers join it; the
    contract compare is order-insensitive): no terminal sort — at 100 TB
    that would be a global range-partitioned sort over every clustered doc
    for presentation only."""
    comp = _component_labels(spark, sf_dir)
    sizes = comp.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "cluster_rep").select(
        "doc_id", "cluster_rep", "cluster_size"
    )


def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: the dedup audit artifact
    the literature plots before committing a dedup policy — per cluster
    size: how many clusters, how many documents they hold, and how many
    documents a keep-one-per-cluster pass removes. Web corpora show a
    power-law here; a histogram dominated by one giant component usually
    means the LSH threshold (not the corpus) is wrong — this table is how
    that's caught BEFORE deleting 30% of the corpus. Size-1 row =
    documents in no candidate pair (clusters of one), computed as
    total − clustered so the histogram partitions the corpus exactly:
    Σ n_docs == |documents|.

    Scale shape: `propagate_min_labels`'s bounded label rounds (shared
    with dedup_connected_components), then two tiny aggregates — clusters
    (one row per duplicate cluster) and the histogram (one row per
    DISTINCT SIZE, ≤ log-ish many under a power law). The singleton count
    is a 1×1 cross join of two scalar aggregates — no corpus-scale
    sort, no new shuffle beyond the components' own."""
    docs = load_table(spark, sf_dir, "documents")
    comp = _component_labels(spark, sf_dir)
    clusters = comp.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    singleton = (
        docs.agg(F.count(F.lit(1)).alias("n_total"))
        .crossJoin(comp.agg(F.count(F.lit(1)).alias("n_clustered")))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("n_total") - F.col("n_clustered"))
            .cast("bigint")
            .alias("n_clusters"),
        )
    )
    return (
        hist.select(F.col("cluster_size").cast("bigint"), "n_clusters")
        .unionByName(singleton)
        .filter(F.col("n_clusters") > 0)
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs_removed"),
        )
        .orderBy("cluster_size")
    )


def keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level canonical selection: `dedup_connected_components`
    says WHICH documents form a duplicate cluster; this op decides WHICH
    MEMBER SURVIVES. Production pipelines keep the best-QUALITY member of
    each near-dup cluster — not the arbitrary smallest id — so the corpus
    keeps the longest/cleanest copy of every duplicated document. Quality
    here is the table's n_chars (ties to the smallest doc_id — total
    order, deterministic on both engines).

    Shape: the same LSH-candidate graph and min-label propagation as
    connected components (bounded rounds, no driver-side graph); the
    winner per cluster is one max_by aggregate over the #clustered-docs
    label frame, joined back WITHOUT a broadcast hint (the best frame
    is one row per duplicate cluster — tens of millions on a
    30-50%-duplicated web corpus, the operator's own target
    workload — so an unconditional hint trades AQE's size guard for an
    OOM exactly when duplication is dense; AQE broadcasts it when it
    measures small and shuffles otherwise).  Output is a per-doc SET
    keyed by doc_id (no terminal sort — the contract compare is
    order-insensitive)."""
    docs = load_table(spark, sf_dir, "documents")
    comp = _component_labels(spark, sf_dir)
    q = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    best = q.groupBy("cluster_rep").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("n_chars").alias("q"), (-F.col("doc_id")).alias("nd")),
        ).alias("best_doc"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return q.join(best, "cluster_rep").select(
        "doc_id",
        "cluster_rep",
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        "best_doc",
        (F.col("doc_id") == F.col("best_doc")).cast("int").alias("keep"),
    )


def lsh_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overflow accounting for the hot-bucket guard: one row per over-cap
    bucket (band, bh, exact n_docs, smallest member id — carried as a
    dedicated min aggregate, immune to the slice trimming). Empty
    at every tested SF; at 100 TB this is the report a pipeline operator
    reads to route mega-buckets to cluster-level dedup instead of pairs.
    Not a registered contract (nothing to hash at small SF) — exercised by
    tests/test_lsh_hot_bucket.py with an adversarial fixture."""
    docs = load_table(spark, sf_dir, "documents")
    buckets = _banded_buckets(_bands(_minhash_signatures(docs)), ["band", "bh"])
    return buckets.filter(F.col("n_docs") > LSH_BUCKET_CAP).select(
        "band",
        "bh",
        "n_docs",
        F.col("min_id").alias("keep_doc_id"),
    )


def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return _lsh_candidates(_minhash_signatures(docs)).orderBy("doc_a", "doc_b")


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard verification of the LSH candidates: true
    near-dups at J ≥ 0.5. This is the canonical two-phase near-dup pipeline
    (cheap candidate generation → exact verify on candidates only)."""
    feats = _shingle_features(load_table(spark, sf_dir, "documents"))
    return (
        _verified(_lsh_candidates(feats), feats)
        .selectExpr("doc_a", "doc_b", f"{_JACCARD} AS jaccard")
        .where(f"jaccard >= {sql_double(0.5)}")
        .orderBy("doc_a", "doc_b")
    )


def threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold operating curve: the report an operator reads
    to PICK the near-dup threshold — for each Jaccard decile, how many
    candidate pairs sit there and how many would be flagged at-or-above
    it. One pass over the LSH candidates (the same cheap-candidates →
    exact-verify shape as `dedup_ngram_jaccard`), bucketed by the exact
    INTEGER decile (10·|A∩B|) div |A∪B| — integer division, so no float
    boundary can flip a pair between engines. The cumulative column is a
    window over ≤ 11 decile rows (dimension-sized by construction — the
    declared-global-sort class, like the other report outputs).

    At 100 TB this is the one-extra-aggregation answer to "what would
    lowering the threshold cost": the expensive verify join runs ONCE and
    every threshold's duplicate volume falls out of the bucketed counts —
    instead of re-running the pipeline per candidate threshold."""
    feats = _shingle_features(load_table(spark, sf_dir, "documents"))
    g = (
        _verified(_lsh_candidates(feats), feats)
        .selectExpr(f"{_DECILE} AS jaccard_decile")
        .groupBy("jaccard_decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    w = (
        Window.orderBy(F.col("jaccard_decile").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return g.select(
        "jaccard_decile",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("n_pairs_at_or_above"),
    )


#: The signature columns `_verified` carries for the agreement reports.
_MH_COLS = tuple(f"mh{j}" for j in range(MINHASH_K))


def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: the table an operator reads to
    TRUST (or re-size) the signature before acting on it — for each
    (signature-agreement count k of MINHASH_K, exact Jaccard decile) cell,
    how many LSH candidate pairs land there. k/MINHASH_K is the unbiased
    MinHash estimate of Jaccard, so off-diagonal mass IS the estimator
    error at the committed signature width; reading this table answers
    "do 8 hashes suffice for our threshold, or do near-misses leak
    through the bands" without re-running the pipeline at another width.

    Everything integer: the agreement count is a sum of hash-equality
    indicators, the decile is the same (10·|A∩B|) div |A∪B| integer
    division as ``dedup_threshold_curve`` — no float can flip a cell.

    Scale shape: ONE corpus pass — the shared `_shingle_features`
    frame carries the k minhashes AND the shingle set out of one narrow
    projection (no explode, no aggregate); the banded candidate
    generation and both verify-join sides read that persisted frame —
    then the two `_verified` joins onto the capped candidate pairs
    (linear in candidates, never all-pairs)."""
    feats = _shingle_features(load_table(spark, sf_dir, "documents"))
    agree = " + ".join(f"CAST(a{c} = b{c} AS INT)" for c in _MH_COLS)
    return (
        _verified(_lsh_candidates(feats), feats, *_MH_COLS)
        .selectExpr(f"{agree} AS sig_agree", f"{_DECILE} AS jaccard_decile")
        .groupBy("sig_agree", "jaccard_decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


#: Band configs evaluable by TIGHTENING the committed (LSH_BANDS × LSH_ROWS)
#: banding: (bands, rows_per_band) with rows·bands = MINHASH_K whose bands
#: are unions of committed bands, so their candidate sets are SUBSETS of
#: the committed candidates and can be evaluated from the one materialized
#: candidate set. Loosening (e.g. 8×1) admits pairs the committed banding
#: never materializes and would need a full re-banding pass — that cost
#: asymmetry is itself the operational point the table documents.
BAND_CONFIGS = ((4, 2), (2, 4), (1, 8))

# The exact-integer S-curve in minhash_band_tuning (and its oracle) is a
# CASE hardcoded per rows_per_band arm (WHEN 2 / WHEN 4 / ELSE = 8, each
# assuming r·b = MINHASH_K = 8): editing BAND_CONFIGS without rewriting
# BOTH CASE expressions would silently route a new config through the
# wrong arm and emit a wrong theoretical curve with no failure — fail at
# import instead.
assert all(r * b == MINHASH_K for b, r in BAND_CONFIGS), BAND_CONFIGS
assert {r for _, r in BAND_CONFIGS} == {2, 4, 8}, (
    "BAND_CONFIGS rows_per_band set changed — rewrite the S-curve CASE "
    "arms in minhash_band_tuning AND its ORACLE_SQL to match",
    BAND_CONFIGS,
)


def minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-config selection: the S-curve table that
    turns `dedup_minhash_calibration`'s "is the signature trustworthy"
    into "which banding should we run". For each tightening config
    (4×2 committed, 2×4, 1×8) and each exact-Jaccard decile: the observed
    candidate-pair count under that config, next to the theoretical MMDS
    S-curve value P(candidate | j = d/10) = 1 − (1 − j^r)^b evaluated in
    EXACT integer arithmetic at 1e-8 scale (r·b = 8 for every config, so
    10^8·P = 10^8 − (10^r − d^r)^b with all terms < 2^53 — no pow(), no
    float, bit-identical across engines). Reading a row answers: at our
    duplicate threshold, how many candidates (= verify-join cost) does a
    stricter banding drop, and does the S-curve say they were noise or
    signal.

    A config is applied to a pair via its signature agreement PATTERN
    (which of the MINHASH_K positions agree), computed in the same verify
    join the calibration pays — a config's bands are position runs, so
    candidacy is an AND/OR over the per-position equality bits. Only
    TIGHTENING configs are table rows (see BAND_CONFIGS): their candidate
    sets are provably subsets of the committed one; evaluating a LOOSER
    banding would require re-materializing candidates.

    Scale shape: identical to `dedup_minhash_calibration` — the capped
    LSH candidate set bounds the verify join, the output is ≤
    len(BAND_CONFIGS)·11 rows (dimension-sized; final sort declared)."""
    feats = _shingle_features(load_table(spark, sf_dir, "documents"))
    configs = ", ".join(
        f"struct({bands} AS bands, {rows} AS rows_per_band, "
        f"({_config_candidate(bands, rows)}) AS is_cand)"
        for bands, rows in BAND_CONFIGS
    )
    cells = (
        _verified(_lsh_candidates(feats), feats, *_MH_COLS)
        .selectExpr(
            f"{_DECILE} AS jaccard_decile", f"explode(array({configs})) AS c"
        )
        .where("c.is_cand")
        .select("c.bands", "c.rows_per_band", "jaccard_decile")
    )
    # the exact-integer S-curve at the decile lower bound j = d/10:
    # 10^8·P = 10^8 − (10^r − d^r)^b (r·b = 8 for every config)
    p = F.expr(
        "CAST(CASE rows_per_band "
        "WHEN 2 THEN 100000000 - ((100 - jaccard_decile * jaccard_decile) "
        "  * (100 - jaccard_decile * jaccard_decile)) "
        "  * ((100 - jaccard_decile * jaccard_decile) "
        "  * (100 - jaccard_decile * jaccard_decile)) "
        "WHEN 4 THEN 100000000 - "
        "  (10000 - jaccard_decile * jaccard_decile "
        "         * jaccard_decile * jaccard_decile) "
        "  * (10000 - jaccard_decile * jaccard_decile "
        "         * jaccard_decile * jaccard_decile) "
        "ELSE (jaccard_decile * jaccard_decile "
        "      * jaccard_decile * jaccard_decile) "
        "  * (jaccard_decile * jaccard_decile "
        "      * jaccard_decile * jaccard_decile) "
        "END AS BIGINT)"
    )
    return (
        cells.groupBy("bands", "rows_per_band", "jaccard_decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            F.col("bands").cast("int").alias("bands"),
            F.col("rows_per_band").cast("int").alias("rows_per_band"),
            "jaccard_decile",
            "n_pairs",
            p.alias("p_candidate_1e8"),
        )
        .orderBy("rows_per_band", "jaccard_decile")
    )


def _config_candidate(bands: int, rows: int) -> str:
    """SQL text: candidacy of a `_verified` pair (carrying ``_MH_COLS``)
    under a (bands × rows) banding — OR over bands of AND over each
    band's run of signature-position equalities."""
    runs = (range(i * rows, (i + 1) * rows) for i in range(bands))
    return " OR ".join(
        "(" + " AND ".join(f"amh{j} = bmh{j}" for j in run) + ")" for run in runs
    )


#: Containment threshold as an exact integer ratio (7/10): the cut is an
#: integer comparison (10·|A∩B| ≥ 7·min|A|,|B|), so no float division can
#: flip a pair between engines.
CONTAINMENT_NUM = 7
CONTAINMENT_DEN = 10


def shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication: containment |A∩B| / min(|A|,|B|)
    over the LSH candidate pairs — the quote/inclusion detector Jaccard
    misses when sizes differ (a paragraph wholly copied into a 100× longer
    document has tiny Jaccard but containment ≈ 1). Same two-phase shape
    as ngram_jaccard: capped LSH candidates, exact verify on candidates
    only; the threshold compares integers so the cut is engine-exact."""
    feats = _shingle_features(load_table(spark, sf_dir, "documents"))
    pairs = _verified(_lsh_candidates(feats), feats).selectExpr(
        "doc_a",
        "doc_b",
        "n_inter AS n_shared",
        "CAST(least(size(asset), size(bsset)) AS BIGINT) AS min_size",
    )
    return (
        pairs.selectExpr("*", "CAST(n_shared AS DOUBLE) / min_size AS containment")
        .where(
            f"min_size > 0 AND "
            f"n_shared * {CONTAINMENT_DEN} >= min_size * {CONTAINMENT_NUM}"
        )
        .orderBy("doc_a", "doc_b")
    )


def blocked_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard within (lang, source) blocks, candidates generated
    by MinHash-LSH INSIDE each block (an in-block all-pairs join would be
    quadratic in block size, and at 100 TB an (en, web) block is the
    whole corpus). Buckets key on (lang, source, band, bh), so
    pair volume is O(Σ min(bucket, cap)²) regardless of block size; the
    exact-Jaccard verify runs only on candidates. At J ≥ 0.9 the 4×2 band
    scheme misses a true pair with p = (1−0.9²)⁴ ≈ 0.13% — the standard
    LSH recall trade, encoded identically in the DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    # The in-block signatures are the same narrow attach_minhash map as
    # `_minhash_signatures` (the word-set array already exists here), with
    # no explode + SortAggregate groupBy; the frame feeds the banded
    # candidates AND both verify-join sides, so it is persisted — one
    # corpus pass instead of three. The word set is named sset for
    # `_verified`; a NULL-text doc has a NULL set (size filter drops it),
    # the explode form's row set.
    base = fan_out(docs).selectExpr(
        "doc_id", "lang", "source", f"array_distinct({words('text')}) AS sset"
    ).filter(F.size("sset") > 0)
    feats = attach_minhash(base, "sset", MINHASH_K).persist()
    pairs = _bucket_pairs(
        _banded_buckets(
            _bands(feats, extra=("lang", "source")),
            ["lang", "source", "band", "bh"],
        )
    )
    return (
        _verified(pairs, feats, "lang")
        .selectExpr("doc_a", "doc_b", "alang AS lang", f"{_JACCARD} AS jaccard")
        .where(f"jaccard >= {sql_double(0.9)}")
    )


SIMHASH_BITS = 16


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints: per-token ±1 votes per bit over distinct tokens,
    packed to a 16-bit int; output fingerprint groups (collision = near-dup
    cluster). GroupBy-only — no pairwise join anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    toks = fan_out(docs).select(
        "doc_id", F.expr(f"explode(array_distinct({words('text')})) AS tok")
    )
    # ONE md5 per (doc, token): bit b's vote is the parity of hex char b+1
    # of md5(tok) — md5's hex chars are independent enough for simhash, and
    # this is 16× fewer digests than a per-bit seeded hash. Votes are 16
    # SCALAR columns (not an array) so the per-doc sums run as an ordinary
    # partial→final HashAggregate: map-side combine collapses the shuffle
    # to #docs×#tasks rows — the property that holds at 100 TB. Measured at
    # sf0.1 best-of-3: per-bit-md5 + array fold 1.57s → single-md5 + array
    # fold 1.22s → this form 0.91s. (A collect_list-based array fold has no
    # map-side combine; a (doc,bit)-row-grained aggregate shuffles 16× the
    # rows — both measured slower.)
    votes = [
        ((F.ascii(F.col("h").substr(F.lit(b + 1), F.lit(1))) % 2) * 2 - 1).alias(
            f"v{b}"
        )
        for b in range(SIMHASH_BITS)
    ]
    summed = (
        toks.select("doc_id", F.md5("tok").alias("h"))
        .select("doc_id", *votes)
        .groupBy("doc_id")
        .agg(*[F.sum(f"v{b}").alias(f"s{b}") for b in range(SIMHASH_BITS)])
    )
    # pack sign bits little-endian: Σ 2^bit where sums[bit] > 0
    fp_expr = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        fp_expr = fp_expr + F.when(
            F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    fp = summed.select("doc_id", fp_expr.alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs")
    )


def _embedding_pairs(v: DataFrame, block: str | None = None) -> DataFrame:
    """Pairs vec_a < vec_b of `similarity._vectors` rows with cosine ≥ 0.4,
    in (vec_a, vec_b) order; equi-joined on the column `block` when one is
    given. Norms come precomputed per vector (O(n)), not per pair (O(n²))."""

    def side(s: str) -> DataFrame:
        cols = [f"vec_id AS vec_{s}", f"v AS v{s}", f"nrm AS n{s}"]
        return v.selectExpr(*cols, *([f"{block} AS b{s}"] if block else []))

    on = "vec_a < vec_b" if block is None else "(ba = bb) AND (vec_a < vec_b)"
    return (
        side("a")
        .join(side("b"), F.expr(on))
        .selectExpr("vec_a", "vec_b", f"({dot('va', 'vb')} / (na * nb)) AS cos_sim")
        .where(f"cos_sim >= {sql_double(0.4)}")
        .orderBy("vec_a", "vec_b")
    )


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine ≥ 0.4 pairs. Small-scale: all pairs; the
    scale path is the sign-LSH blocked variant below (same cosine kernel)."""
    from parquet_near_storage_compute_spark.operators.similarity import _vectors

    return _embedding_pairs(_vectors(spark, sf_dir))


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: sign-LSH bucket equi-join instead
    of all pairs — candidate volume drops ~2^n_planes at the cost of recall
    (near-dups straddling a hyperplane are missed; more bands would recover
    them). Same cosine kernel and threshold as dedup_embedding."""
    from parquet_near_storage_compute_spark.operators.similarity import (
        _PLANES,
        _vectors,
    )

    v = _vectors(spark, sf_dir).selectExpr(
        "*", f"{lsh_bucket('v', _PLANES)} AS bucket"
    )
    return _embedding_pairs(v, "bucket")


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: new batch vs existing corpus.

    The daily-pipeline form of exact dedup — `dedup_exact` dedups a corpus
    against itself; this dedups an incoming BATCH (odd doc_ids) against an
    already-ingested CORPUS (even doc_ids) and then within itself:
    survivors are batch docs whose md5(text) is absent from the corpus,
    min-doc_id per signature within the batch.

    100 TB shape: the corpus contributes only its 16-byte signature column
    (column-pruned scan, or a signature side-table maintained at ingest),
    the anti-join shuffles on the signature hash, and the within-batch
    dedup reuses the same partitioning (one effective shuffle of the small
    batch side). `sketch_bloom_membership` is the constant-space pre-filter
    for this exact join: at scale only Bloom-positive batch rows (a few %)
    need to touch the corpus signatures at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus_sigs = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("sig"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", F.md5("text").alias("sig")
    )
    fresh = batch.join(corpus_sigs, "sig", "left_anti")
    return (
        fresh.groupBy("sig")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("source", "doc_id").alias("source"),
        )
        .select("doc_id", "source")
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": exact_dedup,
    "dedup_embedding_lsh": embedding_neardup_lsh,
    "dedup_key": key_dedup,
    "dedup_minhash_lsh": minhash_lsh,
    "dedup_ngram_jaccard": ngram_jaccard,
    "dedup_threshold_curve": threshold_curve,
    "dedup_minhash_calibration": minhash_calibration,
    "dedup_minhash_band_tuning": minhash_band_tuning,
    "dedup_shingle_containment": shingle_containment,
    "dedup_blocked_jaccard": blocked_jaccard,
    "dedup_simhash": simhash,
    "dedup_connected_components": connected_components,
    "dedup_cluster_size_histogram": cluster_size_histogram,
    "dedup_keep_best": keep_best,
    "dedup_incremental": incremental_dedup,
    "minhash_dedup_decisions": lambda spark, sf_dir: (
        minhash_decisions_cached(spark, sf_dir).orderBy("doc_id")
    ),
    # dedup_embedding (all-pairs baseline) is deliberately NOT registered:
    # its theta join is O(n²) compare volume, a scale-killer as a contract
    # query. It stays as the exactness baseline for the LSH variant in
    # tests/test_dedup_baselines.py; the registered scale path is
    # dedup_embedding_lsh.
}

# Shared oracle CTEs for shingles/minhash (DuckDB). The bucket-size guard
# mirrors LSH_BUCKET_CAP: over-cap buckets contribute no candidate pairs.
_SHINGLE_CTE = f"""
  sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             CASE WHEN len(ws) >= 3 THEN range(len(ws)-2) ELSE [] END,
             i -> array_to_string(ws[i+1:i+3], ' ')))) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  ),
  mh AS (
    -- 8 MinHash functions = 8-hex-char slices of two seeded md5s
    -- (mirrors functions/text.py minhash_slice)
    SELECT doc_id,
           min(substr(md5('0:'||s),  1, 8)) AS mh0,
           min(substr(md5('0:'||s),  9, 8)) AS mh1,
           min(substr(md5('0:'||s), 17, 8)) AS mh2,
           min(substr(md5('0:'||s), 25, 8)) AS mh3,
           min(substr(md5('1:'||s),  1, 8)) AS mh4,
           min(substr(md5('1:'||s),  9, 8)) AS mh5,
           min(substr(md5('1:'||s), 17, 8)) AS mh6,
           min(substr(md5('1:'||s), 25, 8)) AS mh7
    FROM sh GROUP BY doc_id
  ),
  bands AS (
    SELECT doc_id, 0 AS band, md5(mh0||'|'||mh1) AS bh FROM mh UNION ALL
    SELECT doc_id, 1, md5(mh2||'|'||mh3) FROM mh UNION ALL
    SELECT doc_id, 2, md5(mh4||'|'||mh5) FROM mh UNION ALL
    SELECT doc_id, 3, md5(mh6||'|'||mh7) FROM mh
  ),
  bsz AS (
    SELECT band, bh, count(*) AS n FROM bands GROUP BY band, bh
  ),
  cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    JOIN bsz s ON a.band = s.band AND a.bh = s.bh
    WHERE s.n <= {LSH_BUCKET_CAP}
  )
"""

#: Shared connected-components oracle CTEs (DuckDB recursive reachability
#: over the capped LSH candidate graph) — used by the
#: dedup_connected_components and dedup_cluster_size_histogram oracles.
_CC_ORACLE_CTES = f"""
        WITH RECURSIVE {_SHINGLE_CTE},
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM cand
          UNION ALL
          SELECT doc_b, doc_a FROM cand
        ),
        reach AS (
          SELECT src AS node, src AS lbl FROM edges
          UNION
          SELECT e.dst AS node, r.lbl
          FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS (
          SELECT node AS doc_id, MIN(lbl) AS cluster_rep
          FROM reach GROUP BY node
        )"""

ORACLE_SQL: dict[str, str] = {
    "dedup_incremental": """
        WITH corpus AS (
          SELECT DISTINCT md5(text) AS sig FROM documents WHERE doc_id % 2 = 0
        ),
        batch AS (
          SELECT doc_id, source, md5(text) AS sig
          FROM documents WHERE doc_id % 2 = 1
        ),
        fresh AS (
          SELECT b.* FROM batch b
          WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.sig = b.sig)
        )
        SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
               min_by(source, doc_id) AS source
        FROM fresh GROUP BY sig
    """,
    "dedup_exact": """
        SELECT md5(text) AS content_hash,
               CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "dedup_key": """
        SELECT lang, source,
               CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang, source
    """,
    "dedup_minhash_lsh": f"""
        WITH {_SHINGLE_CTE}
        SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b
    """,
    "dedup_shingle_containment": f"""
        WITH {_SHINGLE_CTE},
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   CASE WHEN len(ws) >= 3 THEN range(len(ws)-2) ELSE [] END,
                   i -> array_to_string(ws[i+1:i+3], ' '))) AS sset
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        )
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(a.sset, b.sset)) AS BIGINT) AS n_shared,
               CAST(least(len(a.sset), len(b.sset)) AS BIGINT) AS min_size,
               CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
                 / least(len(a.sset), len(b.sset)) AS containment
        FROM cand c
        JOIN sets a ON c.doc_a = a.doc_id
        JOIN sets b ON c.doc_b = b.doc_id
        WHERE least(len(a.sset), len(b.sset)) > 0
          AND {CONTAINMENT_DEN} * len(list_intersect(a.sset, b.sset))
              >= {CONTAINMENT_NUM} * least(len(a.sset), len(b.sset))
        ORDER BY c.doc_a, c.doc_b
    """,
    "dedup_threshold_curve": f"""
        WITH {_SHINGLE_CTE},
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   CASE WHEN len(ws) >= 3 THEN range(len(ws)-2) ELSE [] END,
                   i -> array_to_string(ws[i+1:i+3], ' '))) AS sset
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        ),
        j AS (
          SELECT (10 * len(list_intersect(a.sset, b.sset)))
                   // len(list_distinct(list_concat(a.sset, b.sset)))
                   AS jaccard_decile
          FROM cand c
          JOIN sets a ON c.doc_a = a.doc_id
          JOIN sets b ON c.doc_b = b.doc_id
        ),
        g AS (
          SELECT jaccard_decile, COUNT(*) AS n_pairs
          FROM j GROUP BY jaccard_decile
        )
        SELECT CAST(jaccard_decile AS INT) AS jaccard_decile,
               CAST(n_pairs AS BIGINT) AS n_pairs,
               CAST(SUM(n_pairs) OVER (
                 ORDER BY jaccard_decile DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_pairs_at_or_above
        FROM g
    """,
    "dedup_minhash_calibration": f"""
        WITH {_SHINGLE_CTE},
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   CASE WHEN len(ws) >= 3 THEN range(len(ws)-2) ELSE [] END,
                   i -> array_to_string(ws[i+1:i+3], ' '))) AS sset
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        ),
        cells AS (
          SELECT (CASE WHEN ma.mh0 = mb.mh0 THEN 1 ELSE 0 END
                + CASE WHEN ma.mh1 = mb.mh1 THEN 1 ELSE 0 END
                + CASE WHEN ma.mh2 = mb.mh2 THEN 1 ELSE 0 END
                + CASE WHEN ma.mh3 = mb.mh3 THEN 1 ELSE 0 END
                + CASE WHEN ma.mh4 = mb.mh4 THEN 1 ELSE 0 END
                + CASE WHEN ma.mh5 = mb.mh5 THEN 1 ELSE 0 END
                + CASE WHEN ma.mh6 = mb.mh6 THEN 1 ELSE 0 END
                + CASE WHEN ma.mh7 = mb.mh7 THEN 1 ELSE 0 END)
                   AS sig_agree,
                 (10 * len(list_intersect(sa.sset, sb.sset)))
                   // len(list_distinct(list_concat(sa.sset, sb.sset)))
                   AS jaccard_decile
          FROM cand c
          JOIN mh ma ON c.doc_a = ma.doc_id
          JOIN mh mb ON c.doc_b = mb.doc_id
          JOIN sets sa ON c.doc_a = sa.doc_id
          JOIN sets sb ON c.doc_b = sb.doc_id
        )
        SELECT CAST(sig_agree AS INT) AS sig_agree,
               CAST(jaccard_decile AS INT) AS jaccard_decile,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM cells GROUP BY sig_agree, jaccard_decile
    """,
    # mirrored op-for-op (see minhash_band_tuning): per-position equality
    # bits → config candidacy (AND/OR over band runs), exact-integer
    # S-curve 10^8 − (10^r − d^r)^b at the decile lower bound
    "dedup_minhash_band_tuning": f"""
        WITH {_SHINGLE_CTE},
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   CASE WHEN len(ws) >= 3 THEN range(len(ws)-2) ELSE [] END,
                   i -> array_to_string(ws[i+1:i+3], ' '))) AS sset
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        ),
        bits AS (
          SELECT (10 * len(list_intersect(sa.sset, sb.sset)))
                   // len(list_distinct(list_concat(sa.sset, sb.sset)))
                   AS d,
                 ma.mh0 = mb.mh0 AS e0, ma.mh1 = mb.mh1 AS e1,
                 ma.mh2 = mb.mh2 AS e2, ma.mh3 = mb.mh3 AS e3,
                 ma.mh4 = mb.mh4 AS e4, ma.mh5 = mb.mh5 AS e5,
                 ma.mh6 = mb.mh6 AS e6, ma.mh7 = mb.mh7 AS e7
          FROM cand c
          JOIN mh ma ON c.doc_a = ma.doc_id
          JOIN mh mb ON c.doc_b = mb.doc_id
          JOIN sets sa ON c.doc_a = sa.doc_id
          JOIN sets sb ON c.doc_b = sb.doc_id
        ),
        cfg AS (
          SELECT 4 AS bands, 2 AS rows_per_band, d FROM bits
          WHERE (e0 AND e1) OR (e2 AND e3) OR (e4 AND e5) OR (e6 AND e7)
          UNION ALL
          SELECT 2, 4, d FROM bits
          WHERE (e0 AND e1 AND e2 AND e3) OR (e4 AND e5 AND e6 AND e7)
          UNION ALL
          SELECT 1, 8, d FROM bits
          WHERE e0 AND e1 AND e2 AND e3 AND e4 AND e5 AND e6 AND e7
        )
        SELECT CAST(bands AS INT) AS bands,
               CAST(rows_per_band AS INT) AS rows_per_band,
               CAST(d AS INT) AS jaccard_decile,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(CASE rows_per_band
                 WHEN 2 THEN 100000000
                   - ((100 - d*d) * (100 - d*d)) * ((100 - d*d) * (100 - d*d))
                 WHEN 4 THEN 100000000
                   - (10000 - d*d*d*d) * (10000 - d*d*d*d)
                 ELSE (d*d*d*d) * (d*d*d*d)
               END AS BIGINT) AS p_candidate_1e8
        FROM cfg GROUP BY bands, rows_per_band, d
        ORDER BY rows_per_band, jaccard_decile
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLE_CTE},
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   CASE WHEN len(ws) >= 3 THEN range(len(ws)-2) ELSE [] END,
                   i -> array_to_string(ws[i+1:i+3], ' '))) AS sset
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        )
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sset, b.sset))) AS jaccard
        FROM cand c
        JOIN sets a ON c.doc_a = a.doc_id
        JOIN sets b ON c.doc_b = b.doc_id
        WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sset, b.sset))) >= 0.5
        ORDER BY c.doc_a, c.doc_b
    """,
    "dedup_blocked_jaccard": f"""
        WITH wsets AS (
          SELECT doc_id, lang, source,
                 list_distinct(string_split(text, ' ')) AS wset
          FROM documents
        ),
        wtok AS (
          SELECT doc_id, lang, source, unnest(wset) AS s FROM wsets
        ),
        mh AS (
          SELECT doc_id, lang, source,
                 min(substr(md5('0:'||s),  1, 8)) AS mh0,
                 min(substr(md5('0:'||s),  9, 8)) AS mh1,
                 min(substr(md5('0:'||s), 17, 8)) AS mh2,
                 min(substr(md5('0:'||s), 25, 8)) AS mh3,
                 min(substr(md5('1:'||s),  1, 8)) AS mh4,
                 min(substr(md5('1:'||s),  9, 8)) AS mh5,
                 min(substr(md5('1:'||s), 17, 8)) AS mh6,
                 min(substr(md5('1:'||s), 25, 8)) AS mh7
          FROM wtok GROUP BY doc_id, lang, source
        ),
        bands AS (
          SELECT doc_id, lang, source, 0 AS band, md5(mh0||'|'||mh1) AS bh
          FROM mh UNION ALL
          SELECT doc_id, lang, source, 1, md5(mh2||'|'||mh3) FROM mh UNION ALL
          SELECT doc_id, lang, source, 2, md5(mh4||'|'||mh5) FROM mh UNION ALL
          SELECT doc_id, lang, source, 3, md5(mh6||'|'||mh7) FROM mh
        ),
        bsz AS (
          SELECT lang, source, band, bh, count(*) AS n
          FROM bands GROUP BY lang, source, band, bh
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a
          JOIN bands b ON a.lang = b.lang AND a.source = b.source
                      AND a.band = b.band AND a.bh = b.bh
                      AND a.doc_id < b.doc_id
          JOIN bsz s ON a.lang = s.lang AND a.source = s.source
                    AND a.band = s.band AND a.bh = s.bh
          WHERE s.n <= {LSH_BUCKET_CAP}
        )
        SELECT c.doc_a, c.doc_b, a.lang AS lang,
               CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.wset, b.wset))) AS jaccard
        FROM cand c
        JOIN wsets a ON c.doc_a = a.doc_id
        JOIN wsets b ON c.doc_b = b.doc_id
        WHERE CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.wset, b.wset))) >= 0.9
    """,
    "dedup_simhash": """
        WITH toks AS (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents
        ),
        votes AS (
          SELECT doc_id, bit,
                 SUM((ascii(substr(md5(tok), bit + 1, 1)) % 2) * 2 - 1) AS s
          FROM toks, (SELECT unnest(range(16)) AS bit)
          GROUP BY doc_id, bit
        ),
        fp AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN s > 0 THEN pow(2.0, bit) ELSE 0 END) AS BIGINT)
                   AS fingerprint
          FROM votes GROUP BY doc_id
        )
        SELECT fingerprint,
               CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM fp GROUP BY fingerprint
    """,
    # The recursive CTE computes, per node, the set of labels that can
    # reach it; the component representative is the min. Same fixpoint the
    # Spark loop converges to — both sides are pure functions of the edge
    # set, so the hash gate is exact.
    "minhash_dedup_decisions": f"""
        WITH {_SHINGLE_CTE},
        pair_losers AS (SELECT DISTINCT doc_b AS doc_id FROM cand),
        pair_winners AS (
          SELECT DISTINCT doc_a AS doc_id FROM cand
          WHERE doc_a NOT IN (SELECT doc_id FROM pair_losers)
        ),
        over_keys AS (SELECT band, bh FROM bsz WHERE n > {LSH_BUCKET_CAP}),
        over_members AS (
          SELECT DISTINCT b.doc_id, b.band, b.bh
          FROM bands b JOIN over_keys USING (band, bh)
        ),
        over_min AS (
          SELECT band, bh, MIN(doc_id) AS keep_id
          FROM over_members GROUP BY band, bh
        ),
        over_losers AS (
          SELECT DISTINCT m.doc_id FROM over_members m
          JOIN over_min USING (band, bh) WHERE m.doc_id <> keep_id
        ),
        over_keepers AS (
          SELECT DISTINCT m.doc_id FROM over_members m
          JOIN over_min USING (band, bh) WHERE m.doc_id = keep_id
        )
        SELECT d.doc_id,
               (oc.doc_id IS NULL AND nd.doc_id IS NULL) AS keep,
               CASE WHEN oc.doc_id IS NOT NULL THEN 'overflow_cluster'
                    WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
                    WHEN os.doc_id IS NOT NULL THEN 'overflow_survivor'
                    WHEN pw.doc_id IS NOT NULL THEN 'pair_survivor'
                    ELSE 'unique' END AS reason
        FROM documents d
        LEFT JOIN over_losers oc ON d.doc_id = oc.doc_id
        LEFT JOIN pair_losers nd ON d.doc_id = nd.doc_id
        LEFT JOIN over_keepers os ON d.doc_id = os.doc_id
        LEFT JOIN pair_winners pw ON d.doc_id = pw.doc_id
        ORDER BY d.doc_id
    """,
    # keep-best: the CC oracle's recursive reach + a quality argmax per
    # component (n_chars desc, doc_id asc) — member-level keep flags
    "dedup_keep_best": f"""
        WITH RECURSIVE {_SHINGLE_CTE},
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM cand
          UNION ALL
          SELECT doc_b, doc_a FROM cand
        ),
        reach AS (
          SELECT src AS node, src AS lbl FROM edges
          UNION
          SELECT e.dst AS node, r.lbl
          FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS (
          SELECT node AS doc_id, MIN(lbl) AS cluster_rep
          FROM reach GROUP BY node
        ),
        q AS (
          SELECT c.doc_id, c.cluster_rep, d.n_chars
          FROM comp c JOIN documents d USING (doc_id)
        ),
        best AS (
          SELECT cluster_rep, doc_id AS best_doc FROM (
            SELECT cluster_rep, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY cluster_rep
                                      ORDER BY n_chars DESC, doc_id ASC) AS rk
            FROM q
          ) WHERE rk = 1
        ),
        sizes AS (
          SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM q GROUP BY cluster_rep
        )
        SELECT q.doc_id, q.cluster_rep, s.cluster_size, b.best_doc,
               CAST(CASE WHEN q.doc_id = b.best_doc THEN 1 ELSE 0 END AS INT)
                 AS keep
        FROM q JOIN best b USING (cluster_rep) JOIN sizes s USING (cluster_rep)
    """,
    "dedup_connected_components": _CC_ORACLE_CTES + """
        SELECT c.doc_id, c.cluster_rep,
               CAST(s.n AS BIGINT) AS cluster_size
        FROM comp c
        JOIN (SELECT cluster_rep, COUNT(*) AS n FROM comp GROUP BY cluster_rep) s
          USING (cluster_rep)
        ORDER BY c.doc_id
    """,
    # components → per-cluster sizes → per-size histogram; the size-1 row
    # is total − clustered, so Σ n_docs partitions the corpus exactly
    "dedup_cluster_size_histogram": _CC_ORACLE_CTES + """,
        cl AS (
          SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY cluster_rep
        ),
        h AS (
          SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
          FROM cl GROUP BY cluster_size
          UNION ALL
          SELECT 1,
                 (SELECT COUNT(*) FROM documents)
                   - (SELECT COUNT(*) FROM comp)
        )
        SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters,
               CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
               CAST((cluster_size - 1) * n_clusters AS BIGINT)
                 AS n_docs_removed
        FROM h WHERE n_clusters > 0 ORDER BY cluster_size
    """,
    # dedup_embedding_lsh oracle is assigned at module end (it needs the
    # hyperplane literals from operators.similarity)
}

#: Oracle for the demoted all-pairs baseline — used only by
#: tests/test_dedup_baselines.py, never registered as a contract.
EMBEDDING_ALLPAIRS_ORACLE = """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
             AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
          >= 0.4
    ORDER BY vec_a, vec_b
"""


def _embedding_lsh_oracle() -> str:
    from parquet_near_storage_compute_spark.operators.similarity import (
        _bucket_expr,
    )

    cos = (
        "list_dot_product(a.v, b.v)"
        " / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {_bucket_expr("embedding::DOUBLE[]")} AS bucket
          FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos_sim
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {cos} >= 0.4
        ORDER BY vec_a, vec_b
    """


ORACLE_SQL["dedup_embedding_lsh"] = _embedding_lsh_oracle()
