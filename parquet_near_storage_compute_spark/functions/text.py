"""Text primitives for the training-data-pipeline operators.

Everything here is built from native higher-order functions
(``transform``/``filter``/``aggregate`` — JVM-side, codegen'd, zero Python in
the hot path) so the dedup/text operators scale per-row with no UDF overhead.

Each helper takes and returns Spark SQL text (``functions/sql.py``): its
operands are column names or SQL expressions, and the caller wraps each
output column in one ``F.expr`` / ``selectExpr``. The text analyzes to the
plan the equivalent ``Column`` tree gave (``tests/test_sql_helpers.py``);
it crosses the Python↔JVM boundary once instead of several times per node.

Cross-engine determinism: all hashing is ``md5(seed || token)`` — bitwise
identical in Spark and DuckDB — which is what makes MinHash/SimHash
fingerprints oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from parquet_near_storage_compute_spark.functions.sql import sql_string

#: The typed empty array the shingle helpers return for too-short input.
_EMPTY_STRINGS = "CAST(array() AS ARRAY<STRING>)"


def words(text: str) -> str:
    """Whitespace tokenization (single-space; matches DuckDB string_split)."""
    return f"split({text}, ' ')"


def shingles(ws: str, n: int = 3) -> str:
    """Word n-gram shingles as an array; empty when the doc has < n words.

    Spark: ``transform(sequence(0, size-n), i -> concat_ws(' ', slice(ws,i+1,n)))``
    mirrors DuckDB ``list_transform(range(len-n+1), i -> array_to_string(ws[i+1:i+n], ' '))``.
    """
    return (
        f"CASE WHEN size({ws}) >= {n} THEN transform(sequence(0, size({ws}) - {n}), "
        f"_i -> concat_ws(' ', slice({ws}, _i + 1, {n}))) ELSE {_EMPTY_STRINGS} END"
    )


def seeded_hash(seed: int, token: str) -> str:
    """Deterministic per-seed hash: md5('<seed>:' || token), hex string.

    String-min over these behaves as an independent-ish permutation per seed
    (the standard k-mins MinHash construction)."""
    return f"md5(concat({sql_string(f'{seed}:')}, {token}))"


def hash32(seed: str, key: str) -> str:
    """Deterministic 32-bit hash as a non-negative BIGINT: the first 8 hex
    chars of md5('<seed>:<key>'), both operands cast to STRING. The
    cross-engine hash device of the sketches, the quality classifier and
    the training draws; DuckDB spells the same value
    ``('0x' || substr(md5(seed || ':' || key), 1, 8))::BIGINT``."""
    return (
        f"CAST(conv(substring(md5(concat(CAST({seed} AS STRING), ':', "
        f"CAST({key} AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )


#: Hex chars per MinHash slice: 8 hex = 32 bits per hash function.
MINHASH_SLICE = 8
#: Slices carved from one md5 (32 hex chars / 8).
_SLICES_PER_MD5 = 4


def _slice_offset(j: int) -> int:
    """1-based start of MinHash function j's slice within its digest."""
    return (j % _SLICES_PER_MD5) * MINHASH_SLICE + 1


def minhash_slice(j: int, token: str) -> str:
    """MinHash function j: an 8-hex-char slice of md5('<j//4>:' || token).

    One md5 yields four independent 32-bit slices, so k functions cost
    ⌈k/4⌉ digests per token instead of k — Spark's subexpression
    elimination shares the md5 across the k min-aggregates (measured 1.76s
    → 1.09s for the sf0.1 LSH pipeline). String-min over fixed-width hex ≡
    numeric min over the 32-bit values, so this is still the standard
    k-mins construction."""
    digest = seeded_hash(j // _SLICES_PER_MD5, token)
    return f"substring({digest}, {_slice_offset(j)}, {MINHASH_SLICE})"


def minhash_aggs(token_col: str, k: int) -> list[str]:
    """k MinHash aggregate expressions over an exploded token column."""
    return [f"min({minhash_slice(j, token_col)}) AS mh{j}" for j in range(k)]


def attach_minhash(df: DataFrame, sset_col: str, k: int) -> DataFrame:
    """Attach the k MinHash columns ``mh0..mh{k-1}`` as a NARROW map over a
    distinct-token ARRAY column — no explode, no aggregate, no exchange.

    Use ONLY to build frames that are PERSISTED for several consumers
    (`_shingle_features`, `blocked_jaccard`): the per-row form keeps the
    shingle array and its signatures in ONE cached row, so the banded
    candidate generation and both exact-verify join sides share a single
    materialization.  It is NOT a general replacement for the explode +
    ``groupBy(doc_id).agg(min(substring(md5)))`` signature aggregate: the
    r12 interleaved A/B at sf0.1 measured the projection form 0.94 →
    2.22 s SLOWER end-to-end on the uncached LSH pipeline, because
    higher-order functions (``transform``/``array_min``) evaluate outside
    whole-stage codegen — interpreted per-row lambdas and ~k+⌈k/4⌉ boxed
    array traversals per document — while the explode form's md5 +
    ``min`` compile into the scan stage (its SortAggregate pair is
    cheaper than the interpreted projection).  Plan shape is not the
    whole story; measure (guide §1).

    Value equivalence to the aggregate form is exact: ``min`` and
    ``array_min`` both take the UTF8 lexicographic minimum of the identical
    ``minhash_slice`` strings and both ignore nulls (md5 of a non-null
    token is never null).  Callers must pre-filter empty arrays
    (``size(sset) > 0``) to reproduce the explode form's row set — explode
    emitted no row for a shingle-less document, array_min would emit NULL.

    One md5 digest array per seed group is materialized as a named column
    and shared by its four 8-hex-char slice minima (the
    ``minhash_slice`` layout), so the digest count per token is unchanged
    (⌈k/4⌉)."""
    groups = (k + _SLICES_PER_MD5 - 1) // _SLICES_PER_MD5
    digests = [
        f"transform({sset_col}, _s -> {seeded_hash(g, '_s')}) AS _mhd{g}"
        for g in range(groups)
    ]
    slices = [
        f"array_min(transform(_mhd{j // _SLICES_PER_MD5}, "
        f"_x -> substring(_x, {_slice_offset(j)}, {MINHASH_SLICE}))) AS mh{j}"
        for j in range(k)
    ]
    return (
        df.selectExpr("*", *digests)
        .selectExpr("*", *slices)
        .drop(*[f"_mhd{g}" for g in range(groups)])
    )


def band_hash(minhash_cols: list[str], band: int, rows_per_band: int) -> str:
    """LSH banding: hash the band's minhash slice into one bucket key."""
    parts = minhash_cols[band * rows_per_band : (band + 1) * rows_per_band]
    return f"md5(concat_ws('|', {', '.join(parts)}))"


def char_ngrams(text: str, n: int = 8) -> str:
    """Character n-grams (for winnowing-style fingerprints)."""
    return (
        f"CASE WHEN length({text}) >= {n} THEN transform(sequence(0, length({text}) - {n}), "
        f"_i -> substring({text}, _i + 1, {n})) ELSE {_EMPTY_STRINGS} END"
    )


#: Tiny public stopword sets used by the language-ID heuristic and quality
#: scores. Deliberately small: the point is the operator plumbing, not NLP
#: accuracy.
STOPWORDS_EN = ("the", "a", "of", "and", "to", "is", "in")
MARKERS = {
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "los", "las", "que", "por", "una"),
    "fr": ("le", "les", "et", "est", "une", "dans"),
    "en": STOPWORDS_EN,
}


def count_in(ws: str, vocab: tuple[str, ...]) -> str:
    """Occurrences of vocabulary words in a token array (JVM-side filter)."""
    vocab_arr = f"array({', '.join(sql_string(w) for w in vocab)})"
    return f"size(filter({ws}, _w -> array_contains({vocab_arr}, _w)))"
