"""Multimodal-column plumbing (north-star; SURVEY.md §7.6).

Design: media lives in opaque ``BinaryType`` columns with typed
metadata beside it.  Heavy per-item work (decode, resize, feature
extraction, frame sampling) runs as Arrow-batched ``mapInPandas`` —
one Python process per partition, columnar transfer, never per-row
UDF calls.

The actual codec step is STUBBED (image/audio libraries are not in
this container): ``decode_image`` raises ``NotImplementedError`` and
``extract_metadata`` derives deterministic fake dimensions from the
payload digest.  The Spark-side plumbing — schema, partitioning, UDF
signature, Arrow batch shape — is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.registry import ensure_parallelism

METADATA_SCHEMA = (
    "doc_id bigint, n_bytes bigint, payload_md5 string, width int, height int"
)


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Materialize an opaque binary payload column.

    In production this is the raw image/audio bytes read from object
    storage (spark.read.format('binaryFile') or a manifest join); here
    the payload is the UTF-8 encoding of the text column so tests are
    hermetic.  Rows with a NULL id or NULL text carry no payload and
    are dropped here (a missing object at scale must not kill the
    decode job).  Output: doc_id, payload (binary).
    """
    return (
        ensure_parallelism(df)
        .filter(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.encode(F.col(text_col), "UTF-8").alias("payload"),
        )
    )


def encode_bmp(pixels_rgb) -> bytes:
    """Encode an H×W×3 uint8 RGB array as an uncompressed 24-bit BMP
    (BITMAPFILEHEADER + BITMAPINFOHEADER, BI_RGB, bottom-up rows, BGR
    byte order, rows padded to 4 bytes) — the format every viewer
    reads, built with nothing but struct + numpy."""
    import struct

    import numpy as np

    px = np.asarray(pixels_rgb, dtype=np.uint8)
    h, w, _ = px.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    rows = np.zeros((h, row_size), dtype=np.uint8)
    # BGR byte order, bottom row stored first
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + img_size, 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    return header + rows.tobytes()


def decode_image(payload: bytes):
    """Decode an image payload to an H×W×3 uint8 RGB numpy array.

    REAL decoder for uncompressed 24-bit BMP (the dependency-free
    format; handles both bottom-up and top-down row order, BGR→RGB,
    and 4-byte row padding).  Other formats (PNG/JPEG) still need a
    codec library not present in this container and raise
    NotImplementedError — wire Pillow/torchvision there in production.
    """
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise NotImplementedError(
            "only uncompressed 24-bit BMP decodes without a codec library"
        )
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h_signed, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"unsupported BMP variant (bpp={bpp}, compression={compression})"
        )
    h = abs(h_signed)
    row_size = (w * 3 + 3) & ~3
    body = np.frombuffer(payload, dtype=np.uint8, count=row_size * h, offset=data_offset)
    rows = body.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up storage (the common case)
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


def _fake_dims(digest_hex: str) -> tuple[int, int]:
    """Deterministic stand-in for decoded dimensions: derived from the
    payload digest so every engine (and the oracle) agrees."""
    h = int(digest_hex[:15], 16)  # 60-bit prefix, same as functions.hashing
    return 64 + h % 960, 64 + (h // 960) % 960


def extract_metadata(df: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over binary payloads.

    mapInPandas streams columnar batches; per batch the work is
    vectorized pandas.  This is exactly where a real decode/resize/
    feature step plugs in (swap _fake_dims for decode_image output).
    Input: doc_id, payload.  Output: METADATA_SCHEMA.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["payload"].notna()]  # NULL payload: no metadata
            digests = pdf["payload"].map(lambda b: hashlib.md5(bytes(b)).hexdigest())
            dims = digests.map(_fake_dims)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "payload_md5": digests,
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                }
            )

    return df.mapInPandas(batches, METADATA_SCHEMA)


DECODE_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, n_bytes bigint, "
    "top_left_r int, top_left_g int, top_left_b int, "
    "mean_r double, mean_g double, mean_b double, pixel_sum bigint"
)


def decode_stats(df: DataFrame) -> DataFrame:
    """REAL image decode over binary payloads: parse each BMP with
    ``decode_image`` (header, row padding, BGR→RGB, bottom-up order)
    and report per-image stats from the DECODED pixel array.  Arrow-
    batched mapInPandas — the production shape for any per-item codec
    work.  ``top_left_*`` is the decoded top-left pixel, which in BMP
    file order is the LAST stored row — it catches row-order bugs that
    byte-level stats would miss.

    Input: doc_id, payload.  Output: DECODE_SCHEMA.
    """
    return df.mapInPandas(_decode_stats_batches, DECODE_SCHEMA)


def _decode_row(d, payload, rows: list) -> None:
    """Decode ONE payload and append its stat tuple to ``rows``.

    The per-image reductions are integer sums computed directly on the
    uint8 array (``sum(dtype=int64)``) instead of the earlier
    ``astype(float64).mean`` / ``astype(int64).sum`` pair — two full-
    image temporary allocations per row gone (guide §4.2: vectorized
    native work inside the batch).  Values are bit-identical: every
    per-channel sum is an exact integer < 2^53, so float64
    ``sum / n`` equals numpy's mean to the last bit, and the pixel
    total is the same exact integer.
    """
    import numpy as np

    px = decode_image(bytes(payload))
    h, w, c = px.shape
    sums = px.sum(axis=(0, 1), dtype=np.int64)
    n_px = float(h * w)
    rows.append(
        (
            int(d), w, h, c, len(payload),
            int(px[0, 0, 0]), int(px[0, 0, 1]), int(px[0, 0, 2]),
            float(sums[0] / n_px), float(sums[1] / n_px),
            float(sums[2] / n_px),
            int(sums[0] + sums[1] + sums[2]),
        )
    )


_DECODE_COLUMNS = [
    "doc_id", "width", "height", "channels", "n_bytes",
    "top_left_r", "top_left_g", "top_left_b",
    "mean_r", "mean_g", "mean_b", "pixel_sum",
]

_DECODE_DTYPES = {
    "doc_id": "int64", "width": "int32", "height": "int32",
    "channels": "int32", "n_bytes": "int64",
    "top_left_r": "int32", "top_left_g": "int32",
    "top_left_b": "int32", "pixel_sum": "int64",
    "mean_r": "float64", "mean_g": "float64", "mean_b": "float64",
}


def _decode_stats_batches(
    it: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows: list = []
        for d, payload in zip(
            pdf["doc_id"].to_numpy(), pdf["payload"].to_numpy()
        ):
            if payload is None:  # NULL payload: nothing to decode
                continue
            _decode_row(d, payload, rows)
        yield pd.DataFrame(rows, columns=_DECODE_COLUMNS).astype(
            _DECODE_DTYPES
        )


def synth_decode_stats(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic real-BMP fixture images, encoded and decoded in ONE
    Arrow pass.  Each doc gets a two-band image (top half one color,
    bottom half another) whose dims/colors are closed-form functions of
    doc_id, so an oracle can verify the DECODED stats analytically
    while the Spark side works only from the encoded bytes.  Fusing
    encode and decode row-wise keeps the BMP bytes from crossing the
    JVM↔Python boundary at all (guide §8: move heavy opaque bytes as
    few times as possible; §4.1: you control how many columns cross).
    ``decode_stats`` is the entry point for REAL payload columns read
    from storage.

    Input: any frame with ``id_col``.  Output: DECODE_SCHEMA.
    """
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list = []
            for d in pdf["doc_id"].to_numpy():
                d = int(d)
                w = 5 + d % 28  # odd widths exercise 4-byte row padding
                hh = 2 + d % 14
                px = np.empty((2 * hh, w, 3), dtype=np.uint8)
                px[:hh] = [d % 256, (3 * d + 1) % 256, (5 * d + 2) % 256]
                px[hh:] = [
                    (7 * d + 3) % 256,
                    (11 * d + 4) % 256,
                    (13 * d + 5) % 256,
                ]
                _decode_row(d, encode_bmp(px), rows)
            yield pd.DataFrame(rows, columns=_DECODE_COLUMNS).astype(
                _DECODE_DTYPES
            )

    return (
        ensure_parallelism(df)
        .filter(F.col(id_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"))
        .mapInPandas(batches, DECODE_SCHEMA)
    )


def resize_payload(df: DataFrame, max_dim: int = 256) -> DataFrame:
    """Resize plumbing over decoded dimensions: scale each item so its
    longer side is ≤ max_dim (aspect preserved), reporting the new
    dims and projected byte size.  The arithmetic is the real resize
    contract; the pixel work is where ``decode_image`` + an image lib
    plug in (stubbed per container limits — dims come from
    extract_metadata's deterministic fake).

    Input: doc_id, payload.  Output: doc_id, width, height, new_width,
    new_height, est_bytes.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["payload"].notna()]  # NULL payload: nothing to resize
            digests = pdf["payload"].map(lambda b: hashlib.md5(bytes(b)).hexdigest())
            dims = digests.map(_fake_dims)
            w = dims.map(lambda d: d[0]).astype("int32")
            h = dims.map(lambda d: d[1]).astype("int32")
            longer = pd.concat([w, h], axis=1).max(axis=1)
            scale = (max_dim / longer).clip(upper=1.0)
            nw = (w * scale).astype("int32").clip(lower=1)
            nh = (h * scale).astype("int32").clip(lower=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "new_width": nw,
                    "new_height": nh,
                    "est_bytes": (nw.astype("int64") * nh.astype("int64") * 3),
                }
            )

    return df.mapInPandas(
        batches,
        "doc_id bigint, width int, height int, new_width int, new_height int,"
        " est_bytes bigint",
    )


def sample_frames(df: DataFrame, every_n_bytes: int = 1024) -> DataFrame:
    """Frame-sampling plumbing: emit one row per sampled offset of each
    payload (video frame-sample shape without the codec).  Demonstrates
    a fan-out mapInPandas (input row → N output rows).
    Output: doc_id, frame_index, frame_offset.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # NULL payload: no frames
                    continue
                n = max(1, len(payload) // every_n_bytes + 1)
                for i in range(n):
                    rows.append((doc_id, i, i * every_n_bytes))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_index", "frame_offset"]
            ).astype({"doc_id": "int64", "frame_index": "int32", "frame_offset": "int64"})

    return df.mapInPandas(batches, "doc_id bigint, frame_index int, frame_offset bigint")


FEATURES_BINS = 8
FEATURES_SCHEMA = "doc_id bigint, n_bytes bigint, " + ", ".join(
    f"f{k} double" for k in range(FEATURES_BINS)
)


def extract_features(df: DataFrame) -> DataFrame:
    """REAL (non-stub) vectorized feature extraction over binary
    payloads: an L2-normalized byte-value histogram (byte % 8 bins) —
    the classic cheap content signature, and the exact plumbing shape
    of a neural feature extractor (payload bytes in, fixed-width float
    vector out, Arrow-batched, numpy-vectorized per batch).

    Rounding uses decimal HALF_UP (not numpy's half-even) so the
    published 6dp values match Spark's ``round()`` and the DuckDB
    oracle bit-for-bit.

    Input: doc_id, payload.  Output: FEATURES_SCHEMA.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    q = Decimal("0.000001")

    def r6(x: float) -> float:
        return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["payload"].notna()]  # NULL payload: no features
            if len(pdf) == 0:  # np.stack requires >= 1 array
                yield pd.DataFrame(
                    {c: [] for c in ["doc_id", "n_bytes"]
                     + [f"f{k}" for k in range(FEATURES_BINS)]}
                )
                continue
            out = {"doc_id": pdf["doc_id"], "n_bytes": pdf["payload"].map(len).astype("int64")}
            counts = np.stack(
                [
                    np.bincount(
                        np.frombuffer(bytes(b), dtype=np.uint8) % FEATURES_BINS,
                        minlength=FEATURES_BINS,
                    )
                    for b in pdf["payload"]
                ]
            ).astype("int64")
            norms = np.sqrt((counts * counts).sum(axis=1))
            with np.errstate(invalid="ignore"):
                feats = counts / norms[:, None]
            for k in range(FEATURES_BINS):
                # zero-byte payload -> norm 0 -> NULL features, matching
                # SQL division-by-zero semantics (DuckDB 0/0 = NULL)
                out[f"f{k}"] = [
                    None if n == 0 else r6(v)
                    for v, n in zip(feats[:, k], norms)
                ]
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, FEATURES_SCHEMA)
