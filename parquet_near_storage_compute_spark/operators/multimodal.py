"""Multimodal-column plumbing (north-star extension).

Images/audio/video are opaque ``binary`` columns with typed metadata; the
decode/feature kernels run as Arrow-batched ``mapInPandas`` (the image/audio
libraries are not in this container, so the real decoders are clearly-marked
stubs behind ``NotImplementedError`` — the Spark-side plumbing (schema,
batch iteration, UDF signatures, partitioning) is real and tested with a
deterministic fake "decoder").

The binary payload here is the UTF-8 encoding of ``documents.text`` — a
stand-in with the same storage/partitioning shape as an image blob column.

Scale notes: mapInPandas streams Arrow batches (no per-row Python overhead);
with ``spark.sql.execution.arrow.maxRecordsPerBatch`` tuned, a 1000-executor
decode job is bounded by Python worker throughput per core, and the metadata
aggregations stay fully JVM-side.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.operators.similarity import _group_decisions
from parquet_near_storage_compute_spark.plans.memo import PlanMemo
from parquet_near_storage_compute_spark.tables import (
    ensure_engine_confs,
    fan_out,
    load_table,
)

N_FEATURES = 4

_FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, feature array<double>"
)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary column + typed metadata struct."""
    return docs.select(
        "doc_id",
        "source",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.length(F.encode("text", "UTF-8")).alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def decode_image(payload: bytes):
    """Real image decode for binary netpbm payloads — pure numpy, no image
    library needed (P6 RGB, P5 grayscale and 16-bit maxval; compressed
    formats — PNG/JPEG — genuinely need PIL/opencv
    and raise). Parses the header (magic, dims, maxval, each terminated
    by single whitespace per the netpbm spec) and returns the pixel block
    as a (height, width, 3) or (height, width) array — uint8 for
    maxval ≤ 255, uint16 (big-endian samples per the spec) above."""
    if payload[:2] not in (b"P6", b"P5"):
        raise NotImplementedError(
            "only binary netpbm (P5/P6) decodes without an image library; "
            "PNG/JPEG need PIL/opencv"
        )
    import numpy as np

    channels = 3 if payload[:2] == b"P6" else 1
    fields: list[bytes] = []
    pos = 2
    end = len(payload)
    while len(fields) < 3:
        while pos < end and payload[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < end and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start or pos >= end:
            raise ValueError("truncated netpbm header")
        fields.append(payload[start:pos])
    pos += 1  # single whitespace after maxval, then raw samples
    w, h, maxval = (int(f) for f in fields)
    if not 0 < maxval < 65536:
        raise ValueError(f"invalid netpbm maxval {maxval}")
    dtype = np.dtype("u1") if maxval <= 255 else np.dtype(">u2")
    n_samples = w * h * channels
    if end - pos < n_samples * dtype.itemsize:
        raise ValueError("truncated netpbm pixel block")
    img = np.frombuffer(payload, dtype=dtype, count=n_samples, offset=pos)
    shape = (h, w, 3) if channels == 3 else (h, w)
    return img.reshape(shape)


def decode_audio(payload: bytes):
    """Real audio decode for WAV (RIFF/PCM) payloads — stdlib ``wave`` +
    numpy, no audio library needed (lossy codecs — mp3/ogg/flac —
    need soundfile/librosa and raise). Returns
    ``(n_channels, sample_rate, samples)`` where ``samples`` is a
    (n_frames, n_channels) int16 array. Raises ValueError on truncated or
    malformed payloads (a bad clip must fail its task, not wedge it)."""
    import io
    import wave

    import numpy as np

    if not payload.startswith(b"RIFF"):
        raise NotImplementedError(
            "only RIFF/WAV decodes without an audio library; "
            "mp3/ogg/flac need soundfile/librosa"
        )
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            n_channels = w.getnchannels()
            sample_width = w.getsampwidth()
            sample_rate = w.getframerate()
            n_frames = w.getnframes()
            raw = w.readframes(n_frames)
    except (wave.Error, EOFError) as e:
        raise ValueError(f"malformed WAV payload: {e}") from e
    if sample_width != 2:
        raise NotImplementedError("only 16-bit PCM supported")
    if len(raw) < n_frames * n_channels * 2:
        raise ValueError("truncated WAV data chunk")
    samples = np.frombuffer(
        raw, dtype="<i2", count=n_frames * n_channels
    ).reshape(n_frames, n_channels)
    return n_channels, sample_rate, samples


def fake_features(payload: bytes) -> list[float]:
    """Deterministic fake 'decoder': first N byte values as doubles. Stands
    in for an image-embedding kernel with identical batch shape."""
    return [float(b) for b in payload[:N_FEATURES]]


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["payload"].map(len),
                "feature": pdf["payload"].map(fake_features),
            }
        )


def feature_extract_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over the binary column
    (mapInPandas — the multimodal decode execution pattern). Returns the
    feature as ``array<double>`` — the shape downstream ANN/dedup consume."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    payloads = with_binary_payload(docs).select("doc_id", "payload")
    return payloads.mapInPandas(_feature_batches, _FEATURE_SCHEMA)


def feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract form of ``feature_extract_raw``: the fixed-width feature
    vector flattened to one double column per dimension — an array column
    is unhashable by the driver's pandas canonicalizer, and per-dimension
    doubles avoid float→string formatting drift between engines."""
    raw = feature_extract_raw(spark, sf_dir)
    return raw.select(
        "doc_id",
        "n_bytes",
        *[
            F.element_at("feature", i + 1).alias(f"f{i}")
            for i in range(N_FEATURES)
        ],
    )


def binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-JVM metadata aggregation over the binary column (no decode):
    bytes per source — the cheap pre-decode accounting pass."""
    docs = load_table(spark, sf_dir, "documents")
    b = with_binary_payload(docs)
    return b.groupBy("source").agg(
        F.sum(F.col("meta.n_bytes").cast("long")).alias("total_bytes"),
        F.max(F.col("meta.n_bytes").cast("long")).alias("max_bytes"),
        F.count(F.lit(1)).alias("n_payloads"),
    )


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Frame sampling' shape: slice every k-th byte of the payload (stands
    in for video frame extraction — same stride-sample plumbing), then
    aggregate sampled sizes."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    payloads = with_binary_payload(docs)
    stride = 16

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": pdf["payload"].map(
                        lambda p: len(p[::stride])
                    ),
                }
            )

    sampled = payloads.select("doc_id", "payload").mapInPandas(
        sample, "doc_id bigint, n_frames bigint"
    )
    return sampled.agg(
        F.sum("n_frames").alias("total_frames"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Resize' shape: treat the payload as a square byte image of side
    floor(sqrt(len)) and 2× downsample by striding rows and columns — the
    exact plumbing of an image-resize kernel (2D indexing over the blob,
    new dims + content checksum out), deterministic so the oracle can
    recompute it."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    payloads = with_binary_payload(docs).select("doc_id", "payload")

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        def kernel(p: bytes) -> tuple[int, int, int]:
            # Vectorized per payload — this file is the template for real
            # decode kernels, and the pattern to copy is numpy stride ops
            # over the buffer, never per-byte Python loops. The slice stops
            # at 2*new_side so odd sides don't pick up a ragged extra
            # row/column.
            side = int(math.isqrt(len(p)))
            new_side = side // 2
            img = np.frombuffer(p, dtype=np.uint8, count=side * side)
            sampled = img.reshape(side, side)[: 2 * new_side : 2, : 2 * new_side : 2]
            return side, new_side, int(sampled.sum(dtype=np.int64))

        for pdf in batches:
            dims = pdf["payload"].map(kernel)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_side": dims.map(lambda d: d[0]),
                    "new_side": dims.map(lambda d: d[1]),
                    "checksum": dims.map(lambda d: d[2]),
                }
            )

    return payloads.mapInPandas(
        do_resize, "doc_id bigint, orig_side int, new_side int, checksum bigint"
    )


import os as _os

IMAGE_FIXTURE = _os.path.join(
    _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    ),
    "fixtures",
    "images.parquet",
)


def image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode through the mapInPandas template: binary PPM
    payloads from the committed ``fixtures/images.parquet`` (generator in
    tools/make_image_fixture.py; the driver corpus has no image column)
    decode to pixel arrays via ``decode_image`` and reduce to integer
    per-channel statistics. The emitted dims come from the DECODED array —
    the fixture's metadata columns are deliberately ignored, so the driver
    hash fails if the decoder misparses a header or drops a byte. The
    DuckDB oracle re-reads the same payload bytes hex-wise; all outputs are
    integers, so there is no float drift surface. At 100 TB this is the
    image-corpus profile pass: mapInPandas streams Arrow batches, one
    Python worker per core, metadata joins stay JVM-side."""
    ensure_engine_confs(spark)
    imgs = fan_out(spark.read.parquet(IMAGE_FIXTURE))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def stats(p: bytes) -> tuple[int, int, int, int, int, int]:
            img = decode_image(p)
            h, w, _ = img.shape
            sums = img.sum(axis=(0, 1), dtype=np.int64)
            return w, h, int(sums[0]), int(sums[1]), int(sums[2])

        for pdf in batches:
            s = pdf["payload"].map(stats)
            yield pd.DataFrame(
                {
                    "img_id": pdf["img_id"],
                    "width": s.map(lambda t: t[0]),
                    "height": s.map(lambda t: t[1]),
                    "n_pixels": s.map(lambda t: t[0] * t[1]),
                    "sum_r": s.map(lambda t: t[2]),
                    "sum_g": s.map(lambda t: t[3]),
                    "sum_b": s.map(lambda t: t[4]),
                    "checksum": s.map(lambda t: t[2] + t[3] + t[4]),
                }
            )

    return imgs.select("img_id", "payload").mapInPandas(
        decode,
        "img_id bigint, width int, height int, n_pixels bigint, "
        "sum_r bigint, sum_g bigint, sum_b bigint, checksum bigint",
    )


AUDIO_FIXTURE = _os.path.join(
    _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    ),
    "fixtures",
    "audio.parquet",
)

#: Canonical RIFF/PCM16 header length — pinned at fixture-build time
#: (tools/make_audio_fixture.py asserts the 'data' marker position), so
#: the hex-wise oracle can use a fixed data offset.
WAV_DATA_OFFSET = 44


def audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode through the mapInPandas template: WAV payloads
    from the committed ``fixtures/audio.parquet`` (generator in
    tools/make_audio_fixture.py; the driver corpus has no audio column)
    decode to int16 PCM via ``decode_audio`` and reduce to integer
    statistics. The emitted channel/rate/frame counts come from the
    DECODED header and the sums from the decoded samples — the fixture's
    metadata columns are deliberately ignored, so the driver hash fails
    if the decoder misparses a header or drops a sample. The DuckDB
    oracle re-reads the same payload bytes hex-wise (little-endian int16
    from the fixed 44-byte data offset); all outputs are integers, so
    there is no float drift surface. At 100 TB this is the audio-corpus
    profile pass: mapInPandas streams Arrow batches, one Python worker
    per core."""
    ensure_engine_confs(spark)
    clips = fan_out(spark.read.parquet(AUDIO_FIXTURE))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def stats(p: bytes) -> tuple[int, int, int, int, int, int]:
            n_ch, rate, samples = decode_audio(p)
            return (
                n_ch,
                rate,
                samples.shape[0],
                int(samples.sum(dtype="int64")),
                int(samples.min()) if samples.size else 0,
                int(samples.max()) if samples.size else 0,
            )

        for pdf in batches:
            s = pdf["payload"].map(stats)
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "n_channels": s.map(lambda t: t[0]),
                    "sample_rate": s.map(lambda t: t[1]),
                    "n_frames": s.map(lambda t: t[2]),
                    "sum_pcm": s.map(lambda t: t[3]),
                    "min_pcm": s.map(lambda t: t[4]),
                    "max_pcm": s.map(lambda t: t[5]),
                }
            )

    return clips.select("clip_id", "payload").mapInPandas(
        decode,
        "clip_id bigint, n_channels int, sample_rate int, n_frames bigint, "
        "sum_pcm bigint, min_pcm int, max_pcm int",
    )


IMG_DEDUP_FIXTURE = _os.path.join(
    _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    ),
    "fixtures",
    "images_dedup.parquet",
)

#: Pinned geometry of the dedup fixture (tools/make_image_dedup_fixture.py
#: asserts the header length at build): every payload is a 64×64 P6 with a
#: 13-byte header, so the hex-wise oracle uses fixed offsets, exactly like
#: WAV_DATA_OFFSET for the audio contract.
IMG_DEDUP_HEADER = 13
IMG_DEDUP_SIDE = 64
#: pHash geometry: 64×64 luma → 2×2 area-resize → 32×32 → DCT-II → top-left
#: 8×8 block → 63 AC coefficients thresholded on their lower median.
PHASH_RESIZED = 32
PHASH_BLOCK = 8
#: Near-duplicate decision threshold: ≤ PHASH_HAMMING differing bits out of
#: 63. Structured perturbations (noise/brightness/requantization) measure
#: 0–4 bits on the fixture; unrelated images center near 31 — the widest
#: gap is at ~10.
PHASH_HAMMING = 10
#: Banded candidate generation: 4 bands × 16 bits (band 3 carries 15). Two
#: hashes within PHASH_HAMMING share a clean band unless their differing
#: bits spread across all 4 bands — the standard LSH banding trade, and the
#: oracle mirrors the banding so recall semantics stay externally checked.
PHASH_BANDS = 4


def phash64(img) -> int:
    """DCT-based 63-bit perceptual hash of a decoded (H, W, 3) uint8 array.

    Integer luma numerators (299R+587G+114B — no division, no rounding
    surface), integer 2×2 area sums to 32×32, then an orthonormal DCT-II
    (the only float stage); bits are AC > lower-median-of-63. The DuckDB
    oracle recomputes the identical pipeline from the payload hex; the
    float stage is drift-safe because AC-to-median gaps are ~O(1e2) against
    ~1e-13 cross-engine noise (asserted per-image by
    tests/test_image_phash_dedup.py's margin check)."""
    import numpy as np

    px = img.astype(np.int64)
    luma = 299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
    n = PHASH_RESIZED
    p = luma.reshape(n, 2, n, 2).sum(axis=(1, 3)).astype(np.float64)
    a = np.arange(PHASH_BLOCK)[:, None]
    y = np.arange(n)[None, :]
    c = np.cos(np.pi * (2 * y + 1) * a / (2 * n)) * np.where(
        a == 0, np.sqrt(1.0 / n), np.sqrt(2.0 / n)
    )
    block = c @ p @ c.T  # (8, 8): H[a][b] = Σ_y Σ_x C[a,y]·P[y,x]·C[b,x]
    ac = block.flatten()[1:]
    med = np.sort(ac)[(len(ac) - 1) // 2]  # lower median of 63
    return int(sum(1 << i for i, v in enumerate(ac) if v > med))


def phash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel of the image hashing pass: (img_id, payload)
    batches in, (img_id, phash) out (`dedup_image_phash`,
    `stream_phash_ingest`)."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "img_id": pdf["img_id"],
                "phash": pdf["payload"].map(lambda p: phash64(decode_image(p))),
            }
        )


def hash_bands(hash_cols: list[str]) -> str:
    """SQL text of a row's (band, key) candidate keys, an array of structs
    to ``inline``: the PHASH_BANDS 16-bit bands of each 63-bit perceptual
    hash column. Band ids are PHASH_BANDS·component + 0..PHASH_BANDS-1,
    so the bands of different components never cross-match. Two hashes
    within the Hamming threshold share a clean band unless their
    differing bits spread across every band."""
    keys = (
        f"named_struct('band', {PHASH_BANDS * f + b}, "
        f"'key', shiftright({hc}, {16 * b}) & 65535)"
        for f, hc in enumerate(hash_cols)
        for b in range(PHASH_BANDS)
    )
    return f"array({', '.join(keys)})"


def hamming_near(a_cols: list[str], b_cols: list[str], hamming_max: int) -> str:
    """SQL text of the exact verify: every aligned pair of hash columns
    differs in at most `hamming_max` bits."""
    dists = [f"bit_count({a} ^ {b})" for a, b in zip(a_cols, b_cols)]
    worst = dists[0] if len(dists) == 1 else f"greatest({', '.join(dists)})"
    return f"{worst} <= {hamming_max}"


def _sig_neardup_decisions(
    hashed: DataFrame, id_col: str, hash_cols: list[str], hamming_max: int
) -> DataFrame:
    """Shared near-dup decision algebra over any SIGNATURE of 63-bit
    perceptual hashes — one hash for images/audio, a temporally-ordered
    sequence of sampled-frame hashes for video — the modality-independent
    half of perceptual dedup (the ``sim_dedup_decisions`` group algebra
    applied to hash space). Similarity = per-component Hamming distance
    ≤ ``hamming_max`` for EVERY component (max-criterion); with one
    component this is exactly the classic single-hash relation, and with
    frame components it is aligned-sequence similarity (a reversed clip
    is NOT a near-dup of its source — pinned by the video fixture's
    temporal decoy):

    1. value collapse: one row per DISTINCT signature (rep = min id, m =
       multiplicity) — pair volume is bounded by distinct-signature
       density and invariant under duplication (a million re-crawls of
       one asset add zero pairs);
    2. 4×16-bit bands PER COMPONENT (`hash_bands`) → equi-join
       candidates (never all pairs); recall is per-component: two
       signatures within the threshold have ≤ ``hamming_max`` flipped
       bits in EVERY component, so every component independently offers
       a clean-band chance;
    3. exact per-component Hamming verification (`hamming_near`), max ≤
       ``hamming_max``;
    4. exact member-level reconstruction through
       `similarity._group_decisions`: n_partners = (m−1) + Σ
       similar-group m'; keep ⇔ the member is its group's rep AND no
       similar group has a smaller rep.

    Output: (id, *hash_cols, n_partners BIGINT, keep BOOLEAN) for every
    input row.  The per-modality contracts pair this with brute
    member-level DuckDB oracles, proving the collapse semantics-
    preserving.

    Plan shape: the hash frame is persisted — it feeds the group
    aggregation AND the final member mapping, and without the cache the
    decode+hash pass (the dominant cost at scale: it touches every
    payload byte) executes twice.  The group frame is persisted for its
    four consumers (both band-join sides, partner sums, member mapping).
    The symmetric partner view is ONE explode over the pair frame, not a
    two-select union — a union re-executes the band join per branch."""
    hashed = hashed.persist()
    groups = (
        hashed.groupBy(*hash_cols)
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("m"))
        .persist()
    )
    bands = groups.selectExpr(
        *hash_cols, "rep_id", "m", f"inline({hash_bands(hash_cols)}) AS (band, key)"
    )

    def side(p: str) -> DataFrame:
        return bands.selectExpr(
            f"band AS band_{p}",
            f"key AS key_{p}",
            f"rep_id AS rep_{p}",
            f"m AS m_{p}",
            *(f"{hc} AS {hc}__{p}" for hc in hash_cols),
        )

    a_cols = [f"{hc}__a" for hc in hash_cols]
    b_cols = [f"{hc}__b" for hc in hash_cols]
    pairs = (
        side("a")
        .join(side("b"), F.expr("band_a = band_b AND key_a = key_b AND rep_a < rep_b"))
        .select("rep_a", "m_a", "rep_b", "m_b", *a_cols, *b_cols)
        .distinct()  # a close pair can share several bands
        .where(hamming_near(a_cols, b_cols, hamming_max))
    )
    partners = pairs.selectExpr(
        "explode(array("
        "named_struct('rep_id', rep_a, 'partner_m', m_b, 'partner_rep', rep_b), "
        "named_struct('rep_id', rep_b, 'partner_m', m_a, 'partner_rep', rep_a))) AS s"
    ).select("s.*")
    return _group_decisions(hashed, groups, hash_cols, id_col, partners).select(
        id_col, *hash_cols, "n_partners", "keep"
    )


#: Decision-frame memos: the three modality dedup contracts are
#: re-composed by `pipeline_modality_dedup_report`, paying ~1 s of plan
#: construction each per composite build. Each memo is keyed on its
#: committed fixture file alone (the contract's ONLY input — sf_dir is
#: never read), so every corpus shares one frame and a regenerated
#: fixture invalidates.
_IMG_DEDUP_MEMO = PlanMemo(tables=(), extra_paths=(IMG_DEDUP_FIXTURE,))


@_IMG_DEDUP_MEMO.memoized("image_phash_dedup")
def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate dedup across the image modality — the
    multimodal × dedup bridge: text has MinHash, embeddings
    have sign-LSH; images get DCT pHash over the committed near-dup fixture
    (fixtures/images_dedup.parquet — base images plus noise / brightness /
    requantization variants; generator in tools/make_image_dedup_fixture.py).

    Per-image hashes run as one Arrow-batched mapInPandas pass (numpy DCT,
    no image library — the netpbm path of `decode_image`). Everything after
    is the embedding-dedup group algebra (`sim_dedup_decisions`,
    similarity.py): images collapse to one row per DISTINCT hash before any
    pair work — the ≤PHASH_HAMMING relation is constant on equal-hash
    groups, so member answers are exact group algebra (n_partners =
    (m−1) + Σ similar-group m'; keep ⇔ min of own ∪ similar groups) and
    pair volume is bounded by distinct-hash density, invariant under
    duplication (a million re-crawls of one image add zero pairs).
    Candidates come from 4×16-bit hash bands (one explode + equi-join on
    (band, key) — never an all-pairs product), verified by exact Hamming
    distance. The DuckDB oracle stays the brute member-level definition —
    header-offset hex decode, the same integer luma/resize, the same DCT
    as embedded float literals, banding, pairs — proving the collapse
    semantics-preserving. Output per image: (img_id, phash, n_partners,
    keep), all integers/booleans — no float output surface.

    At 100 TB: the hash pass is embarrassingly parallel; the pair stage
    sees one row per distinct hash, banded — a hot band key (near-solid
    frames) bounds at distinct-density like the knn pilot cap, with the
    minhash overflow-cluster route (`dedup.py`) as the documented escape
    for adversarial distinct-density; at fixture scale no guard binds."""
    ensure_engine_confs(spark)
    imgs = fan_out(spark.read.parquet(IMG_DEDUP_FIXTURE))

    ph = imgs.select("img_id", "payload").mapInPandas(
        phash_batch, "img_id bigint, phash bigint"
    )
    return _sig_neardup_decisions(ph, "img_id", ["phash"], PHASH_HAMMING)


AUDIO_DEDUP_FIXTURE = _os.path.join(
    _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    ),
    "fixtures",
    "audio_dedup.parquet",
)

#: Pinned geometry of the audio-dedup fixture (tools/
#: make_audio_dedup_fixture.py asserts at build): mono PCM16, 4000 Hz,
#: exactly 2000 samples behind the canonical 44-byte header.
AUDIO_FP_RATE = 4000
AUDIO_FP_SAMPLES = 2000
#: Fingerprint grid: 8 non-overlapping 250-sample frames × 9 spectral
#: bands at 250+150·m Hz (250–1450, inside the 2 kHz Nyquist).
AUDIO_FP_FRAMES = 8
AUDIO_FP_FRAME_LEN = 250
AUDIO_FP_BANDS = 9
#: Near-duplicate threshold: ≤ AUDIO_FP_HAMMING of 63 bits. Measured on
#: the fixture: gain/noise/requantization variants land 0–4 bits from
#: their base; unrelated clips ≥ 20 (mean ~31).
AUDIO_FP_HAMMING = 10


def audio_fingerprint63(samples) -> int:
    """Haitsma–Kalker-style 63-bit spectral fingerprint of 2000 mono PCM16
    samples: per (frame, band) single-bin energies E[n][m] = c²+s² (c, s =
    frame · cos/sin at the band frequency), then sign bits of the
    band-energy DIFFERENTIALS — row 0 contributes E[0][m] > E[0][m+1]
    (7 bits), rows 1-7 the time-and-band second difference
    (E[n][m]−E[n][m+1]) − (E[n−1][m]−E[n−1][m+1]) (56 bits).
    Differentials make the bits invariant to uniform gain (g² scales every
    E) and robust to additive noise — exactly the re-master/re-encode
    perturbations audio near-dup must survive.  Float stage is drift-safe:
    min |differential| on the fixture ≈ 9.6e4 against ~0.35 worst-case
    cross-engine summation drift (margin-asserted per clip in
    tests/test_audio_fingerprint_dedup.py).  The trig weights are written
    as ((2π·f)·t)/rate so the DuckDB oracle's literal expression computes
    bit-identical cos/sin inputs."""
    import numpy as np

    fr = (
        np.asarray(samples, dtype=np.float64)[:AUDIO_FP_SAMPLES]
        .reshape(AUDIO_FP_FRAMES, AUDIO_FP_FRAME_LEN)
    )
    tt = np.arange(AUDIO_FP_FRAME_LEN, dtype=np.float64)
    cw = np.empty((AUDIO_FP_BANDS, AUDIO_FP_FRAME_LEN))
    sw = np.empty((AUDIO_FP_BANDS, AUDIO_FP_FRAME_LEN))
    for m in range(AUDIO_FP_BANDS):
        arg = (2 * np.pi * (250 + 150 * m) * tt) / AUDIO_FP_RATE
        cw[m] = np.cos(arg)
        sw[m] = np.sin(arg)
    c = fr @ cw.T
    s = fr @ sw.T
    e = c * c + s * s  # (frames, bands)
    bits = []
    for m in range(AUDIO_FP_BANDS - 2):
        bits.append(e[0][m] > e[0][m + 1])
    for n in range(1, AUDIO_FP_FRAMES):
        for m in range(AUDIO_FP_BANDS - 1):
            bits.append(
                (e[n][m] - e[n][m + 1]) - (e[n - 1][m] - e[n - 1][m + 1]) > 0
            )
    return int(sum(1 << i for i, b in enumerate(bits) if b))


_AUDIO_DEDUP_MEMO = PlanMemo(tables=(), extra_paths=(AUDIO_DEDUP_FIXTURE,))


@_AUDIO_DEDUP_MEMO.memoized("audio_fingerprint_dedup")
def audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-fingerprint near-duplicate dedup across the audio modality
    — completing the per-modality near-dup matrix (text MinHash /
    embedding sign-LSH / image pHash / THIS), over the committed near-dup
    fixture (fixtures/audio_dedup.parquet: sinusoid-mixture bases plus
    gain / noise / requantization variants; generator in
    tools/make_audio_dedup_fixture.py).

    Per-clip fingerprints run as one Arrow-batched mapInPandas pass
    (stdlib WAV decode via `decode_audio` + numpy band energies); then
    the shared `_sig_neardup_decisions` algebra: distinct-fingerprint
    value collapse → 4×16-bit banded candidates → exact Hamming ≤
    AUDIO_FP_HAMMING → exact member-level reconstruction.  The DuckDB
    oracle is the brute member-level definition — hex → nibble-list PCM16
    decode at the pinned 44-byte offset, the same band energies via
    runtime cos()/sin() weights and `list_dot_product`, the same bit
    law, banding and Hamming — proving the collapse semantics-preserving.
    Output per clip: (clip_id, fp, n_partners, keep) — integer/boolean
    only, no float output surface.  Scale shape identical to
    `dedup_image_phash` (the shared algebra's docstring carries the
    100 TB analysis)."""
    ensure_engine_confs(spark)
    clips = fan_out(spark.read.parquet(AUDIO_DEDUP_FIXTURE))

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fp(payload: bytes) -> int:
            _, _, samples = decode_audio(payload)
            return audio_fingerprint63(samples[:, 0])

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "fp": pdf["payload"].map(fp),
                }
            )

    hashed = clips.select("clip_id", "payload").mapInPandas(
        hash_batch, "clip_id bigint, fp bigint"
    )
    return _sig_neardup_decisions(hashed, "clip_id", ["fp"], AUDIO_FP_HAMMING)


VID_DEDUP_FIXTURE = _os.path.join(
    _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    ),
    "fixtures",
    "video_dedup.parquet",
)

#: Pinned geometry of the video-dedup fixture (tools/
#: make_video_dedup_fixture.py asserts at build): "RV01\n64 64 8\n" header
#: (13 bytes) + 8 raw 64×64 RGB frames, frame-major. Frame side equals
#: IMG_DEDUP_SIDE so the per-frame pHash pipeline (and its oracle SQL
#: helpers) is reused verbatim.
VID_DEDUP_HEADER = 13
VID_FRAMES = 8
VID_FRAME_BYTES = IMG_DEDUP_SIDE * IMG_DEDUP_SIDE * 3
#: Temporal sampling: every second frame — 4 sampled frames per clip, a
#: fixed fraction like a production keyframe sampler (sampling cost and
#: signature width stay constant per second of video, not per encode).
VID_SAMPLE_STRIDE = 2
VID_SAMPLED = VID_FRAMES // VID_SAMPLE_STRIDE
#: Near-dup criterion: EVERY aligned sampled frame within PHASH_HAMMING
#: bits (max-criterion) — re-encode/brightness/noise variants perturb all
#: frames a little; a different clip (or the same frames re-ordered)
#: diverges on at least one alignment slot.
VID_FRAME_HAMMING = PHASH_HAMMING


def decode_video(payload: bytes):
    """Decode the RV01 raw-frame container to (n_frames, H, W, 3) uint8.

    Format (defined by tools/make_video_dedup_fixture.py): ASCII header
    ``RV01\\n<w> <h> <nframes>\\n`` + nframes raw 24-bit RGB rasters.
    Real codecs (H.264 etc.) need libraries absent in this container —
    the raw-frame path keeps every byte oracle-checkable while the Spark
    plumbing (binary column, Arrow batches, per-frame kernels) is the
    real thing."""
    import numpy as np

    if payload[:5] != b"RV01\n":
        raise NotImplementedError(
            "only the RV01 raw-frame container is supported without a "
            "video library (H.264/VP9/AV1 need PyAV/ffmpeg, absent here)"
        )
    nl = payload.index(b"\n", 5)
    w, h, n = (int(t) for t in payload[5:nl].split())
    data = np.frombuffer(payload, np.uint8, count=n * h * w * 3, offset=nl + 1)
    return data.reshape(n, h, w, 3)


def video_phash_sig(payload: bytes) -> list[int]:
    """Per-clip perceptual signature: pHash of each stride-sampled frame,
    in temporal order. The signature is a SEQUENCE, not a bag — aligned
    comparison is what makes a reversed clip distinct from its source."""
    frames = decode_video(payload)
    return [
        phash64(frames[i]) for i in range(0, VID_FRAMES, VID_SAMPLE_STRIDE)
    ]


_VID_DEDUP_MEMO = PlanMemo(tables=(), extra_paths=(VID_DEDUP_FIXTURE,))


@_VID_DEDUP_MEMO.memoized("video_fingerprint_dedup")
def video_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-frame perceptual near-duplicate dedup across the video
    modality — the fifth and final modality of the near-dup matrix (text
    MinHash / embedding sign-LSH / image pHash / audio fingerprint /
    THIS), over the committed near-dup fixture (fixtures/
    video_dedup.parquet: animated clips plus per-frame noise / brightness
    / requantization variants, exact copies, and a reversed-order
    temporal decoy; generator in tools/make_video_dedup_fixture.py).

    One Arrow-batched mapInPandas pass decodes each clip and hashes its
    4 stride-sampled frames (the image pHash kernel per frame); then the
    shared `_sig_neardup_decisions` algebra generalized to signatures:
    distinct-signature value collapse → 4×16-bit bands per frame (16
    banding keys) → exact per-frame Hamming, max ≤ VID_FRAME_HAMMING →
    exact member-level reconstruction. The DuckDB oracle is the brute
    member-level definition — per sampled frame, hex-substring the frame
    raster at its pinned offset, nibble-decode, and re-run the image
    oracle's integer luma / area-resize / DCT / median-bit pipeline, then
    aligned max-Hamming pairs — proving both the collapse and the
    signature banding semantics-preserving. Output per clip: (vid_id,
    ph0..ph3, n_partners, keep) — integer/boolean only.

    At 100 TB: decode+hash is embarrassingly parallel and touches each
    payload byte once; pair work runs over DISTINCT signatures (re-crawled
    copies of one asset add zero pairs) with banded candidates — the
    scale analysis of `_sig_neardup_decisions` applies with 4× the band
    streams of the single-hash modalities."""
    ensure_engine_confs(spark)
    vids = fan_out(spark.read.parquet(VID_DEDUP_FIXTURE))
    cols = [f"ph{i}" for i in range(VID_SAMPLED)]

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = pdf["payload"].map(video_phash_sig)
            out = {"vid_id": pdf["vid_id"]}
            for i, c in enumerate(cols):
                out[c] = sigs.map(lambda s, i=i: s[i])
            yield pd.DataFrame(out)

    hashed = vids.select("vid_id", "payload").mapInPandas(
        hash_batch,
        "vid_id bigint, " + ", ".join(f"{c} bigint" for c in cols),
    )
    return _sig_neardup_decisions(hashed, "vid_id", cols, VID_FRAME_HAMMING)


#: Ids whose payloads get corrupt derivatives in `decode_quarantine`.
QUARANTINE_SEED_IDS = (0, 1, 2, 3)
QUARANTINE_TRUNC_LEN = 100  # bytes — inside the pixel block, after the header


def decode_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode with quarantine — the ingest-robustness contract: at 100 TB
    some payloads WILL be truncated uploads or mislabeled formats, and a
    production decode pass must quarantine them per-row, never fail the
    task (one bad file killing a 10 000-task stage is the naive failure
    mode). The corrupt rows are DERIVED deterministically from the
    committed fixture inside the plan (binary substring/concat — no
    corrupt fixture needed): per seed id, one payload truncated mid-pixel
    -block and one with its magic byte zeroed.

    The decode kernel maps `decode_image`'s exception surface to a
    status column: NotImplementedError (unknown magic) →
    'unsupported_format', ValueError (truncated block) → 'corrupt', else
    'ok' with the decoded pixel count. The DuckDB oracle re-derives the
    status from the payload bytes (magic nibbles + octet length) and the
    pixel count from the pinned geometry — integer/string outputs only."""
    ensure_engine_confs(spark)
    imgs = fan_out(spark.read.parquet(IMG_DEDUP_FIXTURE)).select(
        "img_id", "payload"
    )
    seeds = imgs.filter(F.col("img_id").isin(*QUARANTINE_SEED_IDS))
    truncated = seeds.select(
        (F.col("img_id") + 2000).alias("img_id"),
        F.substring("payload", 1, QUARANTINE_TRUNC_LEN).alias("payload"),
    )
    bad_magic = seeds.select(
        (F.col("img_id") + 3000).alias("img_id"),
        F.concat(
            F.lit(bytes([0])),
            F.substring("payload", 2, IMG_DEDUP_HEADER + 3 * IMG_DEDUP_SIDE**2),
        ).alias("payload"),
    )
    corpus = imgs.unionByName(truncated).unionByName(bad_magic)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def row(p: bytes) -> tuple[str, int]:
            try:
                img = decode_image(p)
            except NotImplementedError:
                return "unsupported_format", -1
            except ValueError:
                return "corrupt", -1
            return "ok", int(img.shape[0] * img.shape[1])

        for pdf in batches:
            out = pdf["payload"].map(row)
            yield pd.DataFrame(
                {
                    "img_id": pdf["img_id"],
                    "status": out.map(lambda t: t[0]),
                    "n_pixels": out.map(lambda t: t[1]),
                }
            )

    return corpus.mapInPandas(
        decode, "img_id bigint, status string, n_pixels int"
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "mm_feature_extract": feature_extract,
    "mm_binary_metadata": binary_metadata,
    "mm_frame_sample": frame_sample,
    "mm_resize": resize,
    "mm_image_decode": image_decode,
    "mm_audio_decode": audio_decode,
    "dedup_image_phash": image_phash_dedup,
    "dedup_audio_fingerprint": audio_fingerprint_dedup,
    "dedup_video_fingerprint": video_fingerprint_dedup,
    "mm_decode_quarantine": decode_quarantine,
}

def _hexbyte(k: str) -> str:
    """DuckDB expr: value of 0-based byte ``k`` of the hex string ``hx``."""
    return (
        f"((strpos('0123456789abcdef', hx[2*{k}+1 : 2*{k}+1]) - 1) * 16"
        f" + (strpos('0123456789abcdef', hx[2*{k}+2 : 2*{k}+2]) - 1))"
    )


_PCM_U16 = f"({_hexbyte('(44 + 2*j)')} + 256 * {_hexbyte('(45 + 2*j)')})"
_PCM_I16 = (
    f"CASE WHEN {_PCM_U16} >= 32768 THEN {_PCM_U16} - 65536 ELSE {_PCM_U16} END"
)

ORACLE_SQL: dict[str, str] = {
    # Re-reads the SAME payload bytes the Spark kernel decodes: hex() the
    # blob, skip the canonical 44-byte RIFF/PCM16 header (marker position
    # asserted at fixture build), fold hex pairs to little-endian signed
    # int16 — an independent per-sample re-decode, not a regeneration
    # from the sample law.
    "mm_audio_decode": f"""
        WITH raw AS (
          SELECT clip_id, n_channels, sample_rate, n_frames,
                 lower(hex(payload)) AS hx
          FROM read_parquet('{{AUDIO_FIXTURE}}')
        ),
        pcm AS (
          SELECT clip_id, n_channels, sample_rate, n_frames,
                 list_transform(range(n_frames * n_channels),
                                j -> {_PCM_I16}) AS vals
          FROM raw
        )
        SELECT clip_id,
               CAST(n_channels AS INT) AS n_channels,
               CAST(sample_rate AS INT) AS sample_rate,
               CAST(n_frames AS BIGINT) AS n_frames,
               CAST(list_sum(vals) AS BIGINT) AS sum_pcm,
               CAST(list_min(vals) AS INT) AS min_pcm,
               CAST(list_max(vals) AS INT) AS max_pcm
        FROM pcm
    """.replace("{AUDIO_FIXTURE}", AUDIO_FIXTURE),
    "mm_feature_extract": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(ascii(substr(text, 1, 1)) AS DOUBLE) AS f0,
               CAST(ascii(substr(text, 2, 1)) AS DOUBLE) AS f1,
               CAST(ascii(substr(text, 3, 1)) AS DOUBLE) AS f2,
               CAST(ascii(substr(text, 4, 1)) AS DOUBLE) AS f3
        FROM documents
    """,
    "mm_binary_metadata": """
        SELECT source,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes,
               CAST(COUNT(*) AS BIGINT) AS n_payloads
        FROM documents GROUP BY source
    """,
    "mm_resize": """
        WITH dims AS (
          SELECT doc_id, text,
                 CAST(floor(sqrt(octet_length(encode(text)))) AS INT) AS side
          FROM documents
        )
        SELECT doc_id,
               side AS orig_side,
               CAST(side // 2 AS INT) AS new_side,
               CAST(list_sum(flatten(list_transform(range(side // 2),
                 r -> list_transform(range(side // 2),
                   c -> ascii(substr(text, (2*r) * side + (2*c) + 1, 1))))))
                 AS BIGINT) AS checksum
        FROM dims
    """,
    "mm_frame_sample": """
        -- ceil(len/16) sampled 'frames' per payload
        SELECT CAST(SUM(CAST(ceil(octet_length(encode(text)) / 16.0) AS BIGINT))
                    AS BIGINT) AS total_frames,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents
    """,
    # Re-reads the SAME payload bytes the Spark kernel decodes: hex() the
    # blob, skip the P6 header (9 + digits of the dim strings), and fold
    # hex pairs back to byte values — an independent per-byte re-decode,
    # not a regeneration from the pixel law.
    "mm_image_decode": f"""
        WITH raw AS (
          SELECT img_id, width, height, lower(hex(payload)) AS hx,
                 9 + length(CAST(width AS VARCHAR))
                   + length(CAST(height AS VARCHAR)) AS hdr
          FROM read_parquet('{IMAGE_FIXTURE}')
        ),
        px AS (
          SELECT img_id, width, height,
                 list_transform(range(width * height * 3), j ->
                   (strpos('0123456789abcdef',
                           hx[2*(hdr+j)+1 : 2*(hdr+j)+1]) - 1) * 16
                   + (strpos('0123456789abcdef',
                             hx[2*(hdr+j)+2 : 2*(hdr+j)+2]) - 1)) AS bs
          FROM raw
        )
        SELECT img_id,
               CAST(width AS INT) AS width,
               CAST(height AS INT) AS height,
               CAST(width * height AS BIGINT) AS n_pixels,
               CAST(list_sum(list_transform(range(width * height),
                    p -> bs[3*p + 1])) AS BIGINT) AS sum_r,
               CAST(list_sum(list_transform(range(width * height),
                    p -> bs[3*p + 2])) AS BIGINT) AS sum_g,
               CAST(list_sum(list_transform(range(width * height),
                    p -> bs[3*p + 3])) AS BIGINT) AS sum_b,
               CAST(list_sum(bs) AS BIGINT) AS checksum
        FROM px
    """,
    "dedup_image_phash": None,  # filled below (needs the DCT literal)
}


def _phash_dct_literal() -> str:
    """The 8×32 orthonormal DCT-II matrix as a DuckDB list literal — repr()
    round-trips doubles exactly, so both engines threshold the identical
    coefficient values (modulo summation order, covered by the margin
    test)."""
    import numpy as np

    n = PHASH_RESIZED
    a = np.arange(PHASH_BLOCK)[:, None]
    y = np.arange(n)[None, :]
    c = np.cos(np.pi * (2 * y + 1) * a / (2 * n)) * np.where(
        a == 0, np.sqrt(1.0 / n), np.sqrt(2.0 / n)
    )
    return (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(v)) for v in row) + "]" for row in c
        )
        + "]"
    )


def _phash_pv_term(dy: int, dx: int) -> str:
    """Integer luma numerator of source pixel (2·(j mod 32)+dy, 2·(j÷32)+dx)
    as a DuckDB expression over the per-image byte list ``bs``.  ``j``
    indexes the resized matrix COLUMN-major (j = 32·x + y) so the DCT
    stages can slice contiguous columns for ``list_dot_product``."""
    o = (
        f"(3*({IMG_DEDUP_SIDE}*(2*(j%{PHASH_RESIZED})+{dy})"
        f" + (2*(j//{PHASH_RESIZED})+{dx})))"
    )
    return f"(299*bs[{o}+1] + 587*bs[{o}+2] + 114*bs[{o}+3])"


# Brute MEMBER-LEVEL re-derivation from the payload bytes: hex-decode at the
# pinned 13-byte header offset, the same integer luma + 2×2 area sums, the
# same DCT (embedded literal matrix), the same median threshold / banding /
# Hamming verification — but with no value collapse and no group algebra,
# proving the Spark side's distinct-hash collapse semantics-preserving.
# The image-hash CTE chain (hex → nibbles → bytes → luma area sums → DCT →
# median bits), shared by the batch image-dedup oracle and the streaming
# perceptual-ingest oracle (streaming/stream_ops.py) — ends in
# ``hsh(img_id, phash)``.
PHASH_HSH_CTES = f"""
    -- hex → nibble list FIRST (small-value lambdas; a lambda over the
    -- whole 24 KB hex varchar re-captures the string per element and is
    -- ~30× slower), then pair nibbles into bytes by position
    raw AS (
      SELECT img_id,
             list_transform(
               regexp_split_to_array(lower(hex(payload)), ''),
               c -> strpos('0123456789abcdef', c) - 1) AS nib
      FROM read_parquet('{IMG_DEDUP_FIXTURE}')
    ),
    bytes AS (
      SELECT img_id,
             list_transform(range({IMG_DEDUP_SIDE * IMG_DEDUP_SIDE * 3}), j ->
               nib[2*({IMG_DEDUP_HEADER}+j)+1] * 16
               + nib[2*({IMG_DEDUP_HEADER}+j)+2]) AS bs
      FROM raw
    ),
    cmat AS (SELECT {_phash_dct_literal()} AS cm),
    -- pv is the 32×32 integer area-sum matrix, COLUMN-major (j = 32·x + y),
    -- so each DCT stage is 32-element list_dot_product over a contiguous
    -- slice (native vector op) instead of nested per-element lambdas
    pmat AS (
      SELECT img_id,
             list_transform(range({PHASH_RESIZED * PHASH_RESIZED}), j -> CAST(
               {_phash_pv_term(0, 0)} + {_phash_pv_term(1, 0)}
               + {_phash_pv_term(0, 1)} + {_phash_pv_term(1, 1)} AS DOUBLE)) AS pv
      FROM bytes
    ),
    -- rd flattened 8×32 row-major: rd[32a + x + 1] = Σ_y C[a][y]·P[y][x]
    rowdct AS (
      SELECT img_id, list_transform(range({PHASH_BLOCK * PHASH_RESIZED}), i ->
        list_dot_product(
          cm[(i//{PHASH_RESIZED})+1],
          pv[{PHASH_RESIZED}*(i%{PHASH_RESIZED})+1
             : {PHASH_RESIZED}*(i%{PHASH_RESIZED})+{PHASH_RESIZED}])) AS rd
      FROM pmat, cmat
    ),
    -- hc flattened 8×8 row-major: hc[8a + b + 1] = Σ_x C[b][x]·rd[a][x]
    blockc AS (
      SELECT img_id, list_transform(range({PHASH_BLOCK * PHASH_BLOCK}), i ->
        list_dot_product(
          cm[(i%{PHASH_BLOCK})+1],
          rd[{PHASH_RESIZED}*(i//{PHASH_BLOCK})+1
             : {PHASH_RESIZED}*(i//{PHASH_BLOCK})+{PHASH_RESIZED}])) AS hc
      FROM rowdct, cmat
    ),
    med AS (
      SELECT img_id, hc[2:{PHASH_BLOCK * PHASH_BLOCK}] AS ac,
             list_sort(hc[2:{PHASH_BLOCK * PHASH_BLOCK}])[32] AS m
      FROM blockc
    ),
    hsh AS (
      SELECT img_id, CAST(list_sum(list_transform(range(63), i ->
         CASE WHEN ac[i+1] > m THEN (CAST(1 AS BIGINT) << i)
              ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
      FROM med
    )
"""

ORACLE_SQL["dedup_image_phash"] = f"""
    WITH {PHASH_HSH_CTES},
    bands AS (
      SELECT img_id, phash, t.band, (phash >> (16*t.band)) & 65535 AS key
      FROM hsh, range({PHASH_BANDS}) t(band)
    ),
    cand AS (
      SELECT DISTINCT a.img_id AS ia, a.phash AS ha, b.img_id AS ib, b.phash AS hb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.img_id < b.img_id
    ),
    pairs AS (
      SELECT ia, ib FROM cand WHERE bit_count(xor(ha, hb)) <= {PHASH_HAMMING}
    ),
    partners AS (
      SELECT img_id, COUNT(*) AS n FROM (
        SELECT ia AS img_id FROM pairs UNION ALL SELECT ib FROM pairs
      ) GROUP BY img_id
    ),
    losers AS (SELECT DISTINCT ib AS img_id FROM pairs)
    SELECT h.img_id, h.phash,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_partners,
           (l.img_id IS NULL) AS keep
    FROM hsh h
    LEFT JOIN partners p USING (img_id)
    LEFT JOIN losers l USING (img_id)
"""

# Brute MEMBER-LEVEL re-derivation of the audio fingerprint from the
# payload bytes: hex → nibble list → little-endian PCM16 at the pinned
# 44-byte offset, per-(frame, band) single-bin energies via runtime
# cos()/sin() weight lists + list_dot_product (the trig argument is
# spelled ((2π·f)·t)/rate exactly like the numpy side so both engines
# feed cos/sin identical doubles), then the identical differential bit
# law, banding and Hamming verification — no value collapse, no group
# algebra, proving the Spark side's collapse semantics-preserving.
_A_FRAME = "250*(i//9)"  # start sample of frame i//9 (flattened 8×9 grid)
_A_PCM_U16 = "(nib[2*(44+2*j)+1]*16 + nib[2*(44+2*j)+2]" \
    " + 256*(nib[2*(45+2*j)+1]*16 + nib[2*(45+2*j)+2]))"

ORACLE_SQL["dedup_audio_fingerprint"] = f"""
    WITH raw AS (
      SELECT clip_id,
             list_transform(
               regexp_split_to_array(lower(hex(payload)), ''),
               c -> strpos('0123456789abcdef', c) - 1) AS nib
      FROM read_parquet('{AUDIO_DEDUP_FIXTURE}')
    ),
    pcm AS (
      SELECT clip_id,
             list_transform(range({AUDIO_FP_SAMPLES}), j -> CAST(
               CASE WHEN {_A_PCM_U16} >= 32768
                    THEN {_A_PCM_U16} - 65536
                    ELSE {_A_PCM_U16} END AS DOUBLE)) AS s
      FROM raw
    ),
    w AS (
      SELECT
        list_transform(range({AUDIO_FP_BANDS}), m ->
          list_transform(range({AUDIO_FP_FRAME_LEN}), t ->
            cos((2*pi()*(250+150*m)*t)/{AUDIO_FP_RATE}))) AS cw,
        list_transform(range({AUDIO_FP_BANDS}), m ->
          list_transform(range({AUDIO_FP_FRAME_LEN}), t ->
            sin((2*pi()*(250+150*m)*t)/{AUDIO_FP_RATE}))) AS sw
    ),
    -- e flattened 8×9 row-major: e[9n + m + 1] = E[n][m]
    eng AS (
      SELECT clip_id, list_transform(range({AUDIO_FP_FRAMES * AUDIO_FP_BANDS}), i ->
        pow(list_dot_product(
              s[{_A_FRAME}+1 : {_A_FRAME}+{AUDIO_FP_FRAME_LEN}], cw[(i%9)+1]), 2)
      + pow(list_dot_product(
              s[{_A_FRAME}+1 : {_A_FRAME}+{AUDIO_FP_FRAME_LEN}], sw[(i%9)+1]), 2)) AS e
      FROM pcm, w
    ),
    fp AS (
      SELECT clip_id, CAST(list_sum(list_transform(range(63), i ->
        CASE WHEN i < 7 THEN
          CASE WHEN e[i+1] > e[i+2]
               THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END
        ELSE
          CASE WHEN (e[9*((i-7)//8 + 1) + ((i-7)%8) + 1]
                     - e[9*((i-7)//8 + 1) + ((i-7)%8) + 2])
                  - (e[9*((i-7)//8) + ((i-7)%8) + 1]
                     - e[9*((i-7)//8) + ((i-7)%8) + 2]) > 0
               THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END
        END)) AS BIGINT) AS fp
      FROM eng
    ),
    bands AS (
      SELECT clip_id, fp, t.band, (fp >> (16*t.band)) & 65535 AS key
      FROM fp, range({PHASH_BANDS}) t(band)
    ),
    cand AS (
      SELECT DISTINCT a.clip_id AS ia, a.fp AS ha, b.clip_id AS ib, b.fp AS hb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.clip_id < b.clip_id
    ),
    pairs AS (
      SELECT ia, ib FROM cand WHERE bit_count(xor(ha, hb)) <= {AUDIO_FP_HAMMING}
    ),
    partners AS (
      SELECT clip_id, COUNT(*) AS n FROM (
        SELECT ia AS clip_id FROM pairs UNION ALL SELECT ib FROM pairs
      ) GROUP BY clip_id
    ),
    losers AS (SELECT DISTINCT ib AS clip_id FROM pairs)
    SELECT h.clip_id, h.fp,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_partners,
           (l.clip_id IS NULL) AS keep
    FROM fp h
    LEFT JOIN partners p USING (clip_id)
    LEFT JOIN losers l USING (clip_id)
"""

# Brute MEMBER-LEVEL re-derivation of the video signature from the payload
# bytes: per sampled frame, substring the frame's raster out of the hex
# (offset = header + frame_bytes · source_frame, all pinned constants),
# nibble-decode, and re-run the image oracle's integer luma / 2×2 area
# resize / DCT / median-bit pipeline keyed by (vid_id, fidx); candidates
# from 4×16-bit bands per frame, verified by ALIGNED per-frame Hamming
# with a MAX ≤ VID_FRAME_HAMMING criterion — no value collapse, no group
# algebra, proving the Spark side's signature collapse and per-component
# banding semantics-preserving.
ORACLE_SQL["dedup_video_fingerprint"] = f"""
    WITH raw AS (
      SELECT vid_id, lower(hex(payload)) AS hx
      FROM read_parquet('{VID_DEDUP_FIXTURE}')
    ),
    -- one row per (clip, sampled frame): slice the frame's raster out of
    -- the hex FIRST (the nibble lambda over a full-clip varchar would
    -- re-capture ~600 KB per element), then nibble-decode per frame
    frames AS (
      SELECT vid_id, t.fidx,
             list_transform(
               regexp_split_to_array(
                 hx[2*({VID_DEDUP_HEADER}
                        + {VID_FRAME_BYTES}*({VID_SAMPLE_STRIDE}*t.fidx))+1
                    : 2*({VID_DEDUP_HEADER}
                         + {VID_FRAME_BYTES}*({VID_SAMPLE_STRIDE}*t.fidx
                                              + 1))],
                 ''),
               c -> strpos('0123456789abcdef', c) - 1) AS nib
      FROM raw, range({VID_SAMPLED}) t(fidx)
    ),
    bytes AS (
      SELECT vid_id, fidx,
             list_transform(range({VID_FRAME_BYTES}), j ->
               nib[2*j+1] * 16 + nib[2*j+2]) AS bs
      FROM frames
    ),
    cmat AS (SELECT {_phash_dct_literal()} AS cm),
    -- from here the per-frame pipeline is the image oracle's, keyed by
    -- (vid_id, fidx): pv column-major 32×32 integer area sums, two DCT
    -- stages as contiguous-slice list_dot_products, lower-median bits
    pmat AS (
      SELECT vid_id, fidx,
             list_transform(range({PHASH_RESIZED * PHASH_RESIZED}), j -> CAST(
               {_phash_pv_term(0, 0)} + {_phash_pv_term(1, 0)}
               + {_phash_pv_term(0, 1)} + {_phash_pv_term(1, 1)} AS DOUBLE)) AS pv
      FROM bytes
    ),
    rowdct AS (
      SELECT vid_id, fidx,
             list_transform(range({PHASH_BLOCK * PHASH_RESIZED}), i ->
        list_dot_product(
          cm[(i//{PHASH_RESIZED})+1],
          pv[{PHASH_RESIZED}*(i%{PHASH_RESIZED})+1
             : {PHASH_RESIZED}*(i%{PHASH_RESIZED})+{PHASH_RESIZED}])) AS rd
      FROM pmat, cmat
    ),
    blockc AS (
      SELECT vid_id, fidx,
             list_transform(range({PHASH_BLOCK * PHASH_BLOCK}), i ->
        list_dot_product(
          cm[(i%{PHASH_BLOCK})+1],
          rd[{PHASH_RESIZED}*(i//{PHASH_BLOCK})+1
             : {PHASH_RESIZED}*(i//{PHASH_BLOCK})+{PHASH_RESIZED}])) AS hc
      FROM rowdct, cmat
    ),
    med AS (
      SELECT vid_id, fidx, hc[2:{PHASH_BLOCK * PHASH_BLOCK}] AS ac,
             list_sort(hc[2:{PHASH_BLOCK * PHASH_BLOCK}])[32] AS m
      FROM blockc
    ),
    hsh AS (
      SELECT vid_id, fidx, CAST(list_sum(list_transform(range(63), i ->
         CASE WHEN ac[i+1] > m THEN (CAST(1 AS BIGINT) << i)
              ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
      FROM med
    ),
    sig AS (
      SELECT vid_id,
             MAX(CASE WHEN fidx = 0 THEN phash END) AS ph0,
             MAX(CASE WHEN fidx = 1 THEN phash END) AS ph1,
             MAX(CASE WHEN fidx = 2 THEN phash END) AS ph2,
             MAX(CASE WHEN fidx = 3 THEN phash END) AS ph3
      FROM hsh GROUP BY vid_id
    ),
    bands AS (
      SELECT vid_id, {PHASH_BANDS}*fidx + t.band AS band,
             (phash >> (16*t.band)) & 65535 AS key
      FROM hsh, range({PHASH_BANDS}) t(band)
    ),
    cand AS (
      SELECT DISTINCT a.vid_id AS ia, b.vid_id AS ib
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.vid_id < b.vid_id
    ),
    pairs AS (
      SELECT c.ia, c.ib
      FROM cand c
      JOIN hsh a ON a.vid_id = c.ia
      JOIN hsh b ON b.vid_id = c.ib AND b.fidx = a.fidx
      GROUP BY c.ia, c.ib
      HAVING MAX(bit_count(xor(a.phash, b.phash))) <= {VID_FRAME_HAMMING}
    ),
    partners AS (
      SELECT vid_id, COUNT(*) AS n FROM (
        SELECT ia AS vid_id FROM pairs UNION ALL SELECT ib FROM pairs
      ) GROUP BY vid_id
    ),
    losers AS (SELECT DISTINCT ib AS vid_id FROM pairs)
    SELECT s.vid_id, s.ph0, s.ph1, s.ph2, s.ph3,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_partners,
           (l.vid_id IS NULL) AS keep
    FROM sig s
    LEFT JOIN partners p USING (vid_id)
    LEFT JOIN losers l USING (vid_id)
"""

# Quarantine oracle: the corrupt derivations are replayed in HEX space
# (DuckDB 1.0 has no BLOB slicing) — truncation = hex prefix, magic zeroing
# = '00' + hex tail — then every corpus row is classified from its bytes
# exactly as decode_image's exception surface does: unknown magic first,
# then short pixel block, else ok with the pinned pixel count.
_Q_FULL = IMG_DEDUP_HEADER + 3 * IMG_DEDUP_SIDE * IMG_DEDUP_SIDE
_Q_IDS = ", ".join(map(str, QUARANTINE_SEED_IDS))
ORACLE_SQL["mm_decode_quarantine"] = f"""
    WITH raw AS (
      SELECT img_id, lower(hex(payload)) AS hx
      FROM read_parquet('{IMG_DEDUP_FIXTURE}')
    ),
    corpus AS (
      SELECT img_id, hx FROM raw
      UNION ALL
      SELECT img_id + 2000, substr(hx, 1, 2*{QUARANTINE_TRUNC_LEN})
      FROM raw WHERE img_id IN ({_Q_IDS})
      UNION ALL
      SELECT img_id + 3000, '00' || substr(hx, 3, 2*{_Q_FULL} - 2)
      FROM raw WHERE img_id IN ({_Q_IDS})
    )
    SELECT img_id,
           CASE WHEN substr(hx, 1, 4) NOT IN ('5036', '5035')
                  THEN 'unsupported_format'
                WHEN length(hx) // 2 < {_Q_FULL} THEN 'corrupt'
                ELSE 'ok' END AS status,
           CAST(CASE WHEN substr(hx, 1, 4) IN ('5036', '5035')
                      AND length(hx) // 2 >= {_Q_FULL}
                     THEN {IMG_DEDUP_SIDE * IMG_DEDUP_SIDE}
                     ELSE -1 END AS INT) AS n_pixels
    FROM corpus
"""
