"""Multimodal columns: images/audio/video as opaque ``binary`` payloads with a
typed metadata struct, processed via Arrow-batched ``mapInPandas``
(SURVEY.md §2.8).

The Spark-side plumbing — schemas, batch iteration, partition-preserving
transforms — is real and tested. The decode step is PLUGGABLE: ``decode=``
accepts any codec callable. Shipped codecs: ``png_image_decode`` (REAL
bytes — the vendored stdlib-zlib PNG codec in functions/png_codec.py, r9
VERDICT item 5) and the deterministic ``fake_image_decode`` for plumbing
tests. Audio/video codecs (ffmpeg/librosa) are not in this container, so
those kinds still require a user callable; passing ``decode=None`` raises
``NotImplementedError`` at call time, loudly, per the build contract.

Scale notes: ``mapInPandas`` streams Arrow record batches through one Python
worker per core, preserving partitioning (no shuffle). Media blobs stay in
executor memory one batch at a time; ``spark.sql.execution.arrow
.maxRecordsPerBatch`` bounds batch size for fat blobs.
"""

from __future__ import annotations

import struct as _struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from ..caching import tracked_persist

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("content_type", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def _local_media_df(spark, rows: list[tuple]) -> DataFrame:
    """MEDIA_SCHEMA frame from local (id, kind, payload, meta-tuple) rows
    via the pandas→Arrow path.

    ``createDataFrame(list_of_rows)`` builds a PICKLED Python RDD: every
    action on the frame re-runs a Python worker per partition just to
    deserialize the rows (measured r13: 0.7-1.6 s PER ACTION for a
    48-row table at local[32] — pure fixed overhead multiplied into
    every query over these tables). A pandas input takes the Arrow local
    relation instead (same 48 rows: 0.1 s/action, no Python tasks). The
    meta struct is assembled Spark-side from flat Arrow columns because
    pandas→Arrow struct inference on tuples is not supported."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "media_id": pd.array([r[0] for r in rows], dtype="int64"),
            "kind": [r[1] for r in rows],
            "payload": [r[2] for r in rows],
            "width": pd.array([r[3][0] for r in rows], dtype="Int32"),
            "height": pd.array([r[3][1] for r in rows], dtype="Int32"),
            "sample_rate": pd.array([r[3][2] for r in rows], dtype="Int32"),
            "n_frames": pd.array([r[3][3] for r in rows], dtype="Int32"),
            "content_type": [r[3][4] for r in rows],
        }
    )
    flat_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("kind", T.StringType(), True),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField("content_type", T.StringType(), True),
        ]
    )
    # Forced-Arrow conversion: on a plain session (the external driver's
    # shape) the non-Arrow fallback both re-introduces the pickled-RDD
    # overhead this path exists to remove AND rejects the nullable-Int32
    # NA cells outright (r13 plain-session re-drive).
    from ..session import ARROW_CONF, scoped_conf

    with scoped_conf(spark, ARROW_CONF, "true"):
        flat = spark.createDataFrame(pdf, schema=flat_schema)
    return flat.select(
        "media_id",
        "kind",
        "payload",
        F.struct(
            "width", "height", "sample_rate", "n_frames", "content_type"
        ).alias("meta"),
    )


def synthetic_media_df(spark, n: int = 64, kind: str = "image") -> DataFrame:
    """Deterministic fake media table for tests: payload = packed bytes of a
    seeded RNG; metadata populated as a real ingest would."""
    rows = []
    for i in range(n):
        rng = np.random.RandomState(i)
        payload = rng.bytes(256)
        rows.append((i, kind, payload, (16, 16, None, None, "application/x-fake")))
    return _local_media_df(spark, rows)


def _black_frame(meta: dict) -> np.ndarray:
    """The nullable-payload contract, in ONE place: null/empty payloads
    decode to a metadata-sized black frame instead of crashing the whole
    mapInPandas task. Every shipped codec delegates here so the contract
    cannot silently diverge between decoders."""
    w = int(meta.get("width") or 16)
    h = int(meta.get("height") or 16)
    return np.zeros((h, w), dtype=np.uint8)


def fake_image_decode(payload: bytes, meta: dict) -> np.ndarray:
    """Deterministic stand-in for a real image decode: reinterpret the payload
    bytes as a (h, w) uint8 array per the metadata dims."""
    if not payload:
        return _black_frame(meta)
    w = int(meta.get("width") or 16)
    h = int(meta.get("height") or 16)
    need = w * h
    buf = (payload * ((need // max(len(payload), 1)) + 1))[:need]
    return np.frombuffer(buf, dtype=np.uint8).reshape(h, w)


def png_image_decode(payload: bytes, meta: dict) -> np.ndarray:
    """REAL image decode: parse the payload as PNG bytes via the vendored
    stdlib-zlib codec (functions/png_codec.py — signature, chunk CRCs,
    inflate, scanline unfilter). Returns (h, w) uint8 for grayscale,
    (h, w, c) for RGB/RGBA; downstream feature/resize stages collapse
    channels themselves. Null/empty payloads decode to a black frame per
    the nullable-payload contract (same as fake_image_decode)."""
    from ..functions.png_codec import png_decode

    if not payload:
        return _black_frame(meta)
    return png_decode(bytes(payload))


def synthetic_png_media_df(spark, n: int = 64, w: int = 16, h: int = 16) -> DataFrame:
    """Deterministic REAL-bytes media table: seeded random pixel arrays
    encoded as actual PNG payloads (content_type image/png), so golden
    tests and registered queries exercise the full decode path end-to-end
    rather than the byte-reinterpret stub."""
    from ..functions.png_codec import png_encode

    rows = []
    for i in range(n):
        rng = np.random.RandomState(i)
        arr = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        rows.append((i, "image", png_encode(arr), (w, h, None, None, "image/png")))
    return _local_media_df(spark, rows)


def _stat_features(arr: np.ndarray, n_features: int) -> np.ndarray:
    """Summary statistics of the decoded array (mean/std/min/max/quartiles)."""
    qs = np.quantile(arr, [0.25, 0.5, 0.75]) if arr.size else np.zeros(3)
    return np.array(
        [arr.mean() if arr.size else 0.0, arr.std() if arr.size else 0.0,
         arr.min() if arr.size else 0.0, arr.max() if arr.size else 0.0,
         *qs, float(arr.size)],
        dtype="float32",
    )[:n_features]


def block_features(arr: np.ndarray, n_features: int) -> np.ndarray:
    """CENTERED block means — the blockhash/pHash-style perceptual signature.

    Split the decoded array into n equal blocks and subtract the global mean
    from each block mean: unrelated content gives near-orthogonal
    fluctuation vectors (cosine ≈ 0) while re-encodes/minor corruption move
    one block slightly (cosine ≈ 1). Plain UNcentered statistics are
    useless for dedup — every asset's stats concentrate near one direction
    and everything looks like a near-dup (measured: 1077 of 1431 possible
    pairs at cosine ≥ 0.999 on random payloads).
    """
    if arr.size == 0:
        return np.zeros(n_features, dtype="float32")
    flat = arr.ravel().astype("float64")
    blocks = np.array_split(flat, n_features)
    means = np.array([b.mean() if b.size else 0.0 for b in blocks])
    return (means - flat.mean()).astype("float32")


def extract_features(
    media: DataFrame,
    decode: Callable[[bytes, dict], np.ndarray] | None = fake_image_decode,
    n_features: int = 8,
    feature_fn: Callable[[np.ndarray, int], np.ndarray] = _stat_features,
) -> DataFrame:
    """Decode + feature-extract media rows via ``mapInPandas``.

    ``feature_fn`` maps (decoded array, n_features) -> float32 vector:
    default summary statistics (the contract a real embedding model slots
    into); ``block_features`` for perceptual dedup. Partitioning is
    preserved; one Arrow batch in flight per worker.
    """
    if decode is None:
        raise NotImplementedError(
            "No media codec available in this environment; pass a decode callable "
            "(e.g. Pillow-based) or use fake_image_decode for plumbing tests."
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, nbytes = [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                meta_d = dict(meta) if meta is not None else {}
                arr = decode(bytes(payload) if payload is not None else b"", meta_d).astype("float64")
                vec = feature_fn(arr, n_features)
                feats.append(vec.tolist())
                nbytes.append(len(payload) if payload is not None else 0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.Series(nbytes, dtype="int32"),
                    "features": feats,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plumbing*: expands each video row into sampled
    frame rows (frame index + byte offsets) without decoding — pure Catalyst,
    then a real decoder plugs into ``extract_features`` downstream."""
    # coalesce guards null but not zero/negative frame counts — sequence(0,
    # -1, +n) is an illegal-boundaries runtime error, so clamp to >= 1
    n_frames = F.greatest(F.coalesce(F.col("meta.n_frames"), F.lit(1)), F.lit(1))
    idx = F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
    return media.select(
        "media_id",
        "kind",
        F.explode(idx).alias("frame_idx"),
        F.octet_length("payload").alias("payload_bytes"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("out_width", T.IntegerType(), True),
        T.StructField("out_height", T.IntegerType(), True),
        T.StructField("pixels", T.ArrayType(T.FloatType()), True),
    ]
)


def block_mean_resize(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-average (block-mean) downsample of a 2-D array to (out_h, out_w).

    Real math, no codec: each output pixel is the mean of its source block
    (edge blocks absorb the remainder rows/cols), i.e. the box filter every
    image library applies for area interpolation. Deterministic, so resized
    outputs are testable byte-for-byte.
    """
    if arr.ndim == 3:
        # real codecs return (h, w, channels) — collapse to luminance-style
        # channel mean so the block math stays 2-D
        arr = arr.mean(axis=2)
    h, w = arr.shape
    out_h, out_w = min(out_h, h), min(out_w, w)
    ys = np.linspace(0, h, out_h + 1).astype(int)
    xs = np.linspace(0, w, out_w + 1).astype(int)
    out = np.empty((out_h, out_w), dtype="float32")
    a = arr.astype("float64")
    for i in range(out_h):
        rows = a[ys[i]:ys[i + 1]]
        for j in range(out_w):
            out[i, j] = rows[:, xs[j]:xs[j + 1]].mean()
    return out


def resize_media(
    media: DataFrame,
    out_h: int = 8,
    out_w: int = 8,
    decode: Callable[[bytes, dict], np.ndarray] | None = fake_image_decode,
) -> DataFrame:
    """Decode + block-mean resize via ``mapInPandas`` — the §2.8 "resize"
    stage. The decode is the pluggable (stubbed-by-contract) step; the
    resize itself is real area-average math on the decoded array, so the
    Spark-side plumbing AND the transform are fully tested. Partitioning is
    preserved (no shuffle); output pixels are row-major float32.
    """
    if decode is None:
        raise NotImplementedError(
            "No media codec available in this environment; pass a decode callable "
            "(e.g. Pillow-based) or use fake_image_decode for plumbing tests."
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pix, ws, hs = [], [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                meta_d = dict(meta) if meta is not None else {}
                arr = decode(bytes(payload) if payload is not None else b"", meta_d)
                small = block_mean_resize(np.atleast_2d(arr), out_h, out_w)
                hs.append(small.shape[0])
                ws.append(small.shape[1])
                pix.append(small.ravel().tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "out_width": pd.Series(ws, dtype="int32"),
                    "out_height": pd.Series(hs, dtype="int32"),
                    "pixels": pix,
                }
            )

    return media.mapInPandas(run, RESIZED_SCHEMA)


def media_near_duplicates(
    media: DataFrame,
    decode: Callable[[bytes, dict], np.ndarray] | None = fake_image_decode,
    threshold: float = 0.999,
    n_features: int = 8,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Perceptual near-dup pairs over media payloads: decode → feature
    vector → the SAME corpus-adaptive SRP-LSH + exact-cosine-verify path the
    embedding tier uses (operators/similarity.py).

    This is the multimodal bridge into the dedup tier: re-encoded or
    slightly-corrupted copies of an asset keep near-identical decoded
    statistics even when their BYTES differ entirely (so exact payload
    hashing misses them). The decode stays a pluggable Arrow stage; at
    100 TB the features table is the only thing the pair search touches.
    Returns (id_a, id_b, cosine) with cosine >= threshold.

    ``n_rows_hint``: forwarded to the SRP pair search — a caller that
    knows the media row count by construction skips the eager sizing
    ``count()``, which would otherwise run the whole decode pass once
    more before the real computation (r13: one full extra action per
    call on this chain). The hint must be exact: the adaptive SRP
    parameters derive from it.
    """
    from .similarity import cosine_near_duplicate_pairs

    # The pair search consumes the feature table four times (size count for
    # the adaptive SRP parameters, banding, both verify sides) — persist so
    # the decode/mapInPandas pass runs once, not four times.
    # The id column is the MEDIA_SCHEMA contract's "media_id" — the
    # extract_features output schema is fixed, so an id_col parameter here
    # would be non-functional (rename upstream if your table differs).
    feats = tracked_persist(
        extract_features(media, decode, n_features, feature_fn=block_features)
        .select(F.col("media_id"), F.col("features"))
    )
    return cosine_near_duplicate_pairs(
        feats,
        threshold=threshold,
        id_col="media_id",
        vec_col="features",
        dim=n_features,
        n_rows_hint=n_rows_hint,
    )
