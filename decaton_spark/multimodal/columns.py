"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side contract for a 100 TB media pipeline:

- payload is a ``binary`` column (or a (path, range) pointer for blobs
  too large to inline), never decoded until the last possible stage;
- typed metadata travels in a struct column so pruning/filtering
  happens on the scan (reject by mime/size/dims without touching bytes);
- decode / feature-extract / frame-sample run as Arrow-batched
  ``mapInPandas`` stages — the batch shape, schema, and partitioning
  are real and tested, and the BMP path (``decode_images_bmp`` /
  ``resize_images_bmp`` / ``extract_features_bmp``) is a REAL codec:
  a dependency-free 24-bit BMP encoder/decoder + numpy nearest-
  neighbor resampling operating on actual pixel data. ``decode_images``
  / ``resize_images`` are deterministic digest-seeded stand-ins for
  formats that need an external codec (JPEG/PNG/video).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha1", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def attach_media_meta(df: DataFrame, payload_col: str = "payload", mime: str = "application/octet-stream") -> DataFrame:
    """Cheap, expression-only metadata (no decode): size + digest.
    Width/height/duration are decode-time fields, left null here."""
    p = F.col(payload_col)
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.octet_length(p).cast("long").alias("n_bytes"),
            F.sha1(p).alias("sha1"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ),
    )


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for an image decoder: derive (w, h) from
    the content digest so tests are stable."""
    h = hashlib.sha1(payload).digest()
    return 16 + h[0] % 64, 16 + h[1] % 64


def decode_images(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decode stage: (id, width, height, ok). Arrow-batched mapInPandas —
    one python worker call per ~10k-row batch, not per row."""
    out_schema = f"{id_col} long, width int, height int, ok boolean"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [_fake_decode(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                    "ok": True,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    dim: int = 8,
) -> DataFrame:
    """Feature-extraction stage: deterministic pseudo-embedding from the
    payload digest (the real model call swaps into the same batch loop)."""
    out_schema = f"{id_col} long, features array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf[payload_col]:
                digest = hashlib.sha256(bytes(p)).digest()
                feats.append([digest[i] / 255.0 for i in range(dim)])
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"), "features": feats})

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    every_n_bytes: int = 64,
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sampling stage shape: one output row per sampled frame
    (video decode stubbed as byte-strided slices)."""
    out_schema = f"{id_col} long, frame_idx int, frame binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(p)
                for j in range(min(max_frames, max(1, len(raw) // every_n_bytes))):
                    ids.append(int(i))
                    idxs.append(j)
                    frames.append(raw[j * every_n_bytes : (j + 1) * every_n_bytes])
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame": frames})

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def resize_images(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    target_w: int = 224,
    target_h: int = 224,
) -> DataFrame:
    """Resize stage: (id, width, height, payload) at the target size.

    Real pipelines drop a PIL/libvips call into the batch loop; this
    stand-in emits a deterministic payload (digest-seeded, length
    ∝ target area) so downstream schema/partitioning logic is testable.
    Output partitioning mirrors the input — no shuffle is introduced;
    at 100 TB this stage is pure map work whose cost is the codec, not
    the engine.
    """
    out_schema = f"{id_col} long, width int, height int, payload binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for p in pdf[payload_col]:
                digest = hashlib.sha1(bytes(p)).digest()
                # deterministic fake pixel buffer: digest tiled to area/64
                reps = max(1, (target_w * target_h) // (64 * len(digest)))
                payloads.append(digest * reps)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "width": target_w,
                    "height": target_h,
                    "payload": payloads,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Real codec: BMP (24-bit uncompressed), dependency-free.
#
# The container has no PIL/libvips/ffmpeg, but BMP's format is simple
# enough to implement directly with struct + numpy — so the decode /
# resize / feature stages below are REAL image operations, not stubs:
# ``decode_images_bmp`` / ``resize_images_bmp`` parse actual pixel data
# and nearest-neighbor-resample it. A JPEG/PNG codec drops into the same
# batch loops.
# ---------------------------------------------------------------------------


def encode_bmp(pixels) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a 24-bit BI_RGB BMP
    (bottom-up rows, 4-byte row padding). Pure struct/numpy."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    img_size = stride * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = []
    pad = b"\x00" * (stride - w * 3)
    for y in range(h - 1, -1, -1):  # bottom-up
        rows.append(arr[y, :, ::-1].tobytes() + pad)  # RGB -> BGR
    return header + info + b"".join(rows)


def decode_bmp(payload: bytes):
    """Decode a 24-bit BI_RGB BMP to (width, height, (H, W, 3) uint8
    RGB array). Raises ValueError on anything else."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", payload, 10)[0]
    size, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if size < 40 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
        raise ValueError("unsupported BMP variant")
    flipped = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    if off + stride * h > len(payload):
        raise ValueError("truncated pixel array")
    buf = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
    rows = buf.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if flipped:
        rows = rows[::-1]
    return w, h, rows[:, :, ::-1].copy()  # BGR -> RGB


def _nearest_resize(arr, tw: int, th: int):
    """Nearest-neighbor resample of (H, W, 3) to (th, tw, 3) — index
    arithmetic only, the numpy analog of a codec's fast path."""
    import numpy as np

    h, w, _ = arr.shape
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return arr[ys][:, xs]


def decode_images_bmp(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Real decode stage: parse BMP headers + pixel data. Invalid or
    non-BMP payloads yield ok=false with null dims (corrupt media must
    never fail the job at 100 TB — it gets filtered, not thrown)."""
    out_schema = f"{id_col} long, width int, height int, ok boolean"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, oks = [], [], [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                ids.append(int(i))
                try:
                    w, h, _ = decode_bmp(bytes(p))
                    ws.append(w), hs.append(h), oks.append(True)
                except Exception:
                    ws.append(None), hs.append(None), oks.append(False)
            yield pd.DataFrame(
                {id_col: ids, "width": pd.array(ws, dtype="Int32"),
                 "height": pd.array(hs, dtype="Int32"), "ok": oks}
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def resize_images_bmp(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    target_w: int = 224,
    target_h: int = 224,
) -> DataFrame:
    """Real resize stage: decode BMP, nearest-neighbor resample, re-encode.
    Undecodable payloads are dropped (ok=false rows belong to the decode
    stage's report, not the resized corpus)."""
    out_schema = f"{id_col} long, width int, height int, payload binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    _, _, arr = decode_bmp(bytes(p))
                except Exception:
                    continue
                ids.append(int(i))
                payloads.append(encode_bmp(_nearest_resize(arr, target_w, target_h)))
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "width": target_w,
                        "height": target_h,
                        "payload": payloads,
                    }
                )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def extract_features_bmp(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Real feature stage: 8-dim pixel statistics (per-channel mean and
    std over the decoded image, plus normalized dims) — the shape a
    CLIP-style embedding call slots into, computed from actual pixels."""
    out_schema = f"{id_col} long, features array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, feats = [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    w, h, arr = decode_bmp(bytes(p))
                except Exception:
                    continue
                f = arr.reshape(-1, 3).astype(np.float64)
                ids.append(int(i))
                feats.append(
                    [float(x) for x in (*(f.mean(axis=0) / 255.0),
                                        *(f.std(axis=0) / 255.0))]
                    + [min(w, 4096) / 4096.0, min(h, 4096) / 4096.0]
                )
            if ids:  # an all-corrupt batch yields nothing (an empty
                # frame's default float64 columns break Arrow's cast
                # to list<float>/binary)
                yield pd.DataFrame({id_col: ids, "features": feats})

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def image_dhash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perceptual difference-hash (dHash) over REAL decoded pixels:
    grayscale → 9×8 nearest resample → 64 horizontal-gradient bits —
    the standard near-duplicate image fingerprint (robust to resize
    and mild recompression; visually similar images land within a few
    Hamming bits). Arrow-batched mapInPandas; undecodable payloads
    report ok=false rather than failing the job. Returns
    (id, dhash bigint, ok)."""
    out_schema = f"{id_col} long, dhash long, ok boolean"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, hashes, oks = [], [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                ids.append(int(i))
                try:
                    _, _, arr = decode_bmp(bytes(p))
                    gray = arr.astype(np.uint32).sum(axis=2)  # 3×luma proxy
                    h, w = gray.shape
                    ys = (np.arange(8) * h) // 8
                    xs = (np.arange(9) * w) // 9
                    g = gray[ys][:, xs]
                    bits = (g[:, 1:] > g[:, :-1]).flatten()
                    v = 0
                    for b in bits:
                        v = (v << 1) | int(b)
                    if v >= 1 << 63:  # store as signed 64-bit
                        v -= 1 << 64
                    hashes.append(v)
                    oks.append(True)
                except Exception:
                    hashes.append(None)
                    oks.append(False)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "dhash": pd.array(hashes, dtype="Int64"),
                    "ok": oks,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def image_near_dup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate image pairs: dHash → 4×16-bit band buckets →
    equi-join candidates → exact Hamming verify. The image analog of
    the MinHash-LSH text pipeline, with the same no-all-pairs scale
    contract: candidate cost is Σ bucket², never |corpus|², and by
    pigeonhole a pair within ``max_hamming`` ≤ 3 bits shares at least
    one of the 4 bands exactly, so banding loses nothing.

    Only the dHash stage runs in Python (it touches pixels); banding,
    the joins, and ``bit_count(XOR)`` verification are all JVM-side
    expressions. Returns (id_a, id_b, hamming)."""
    if max_hamming > 3:
        # 4 bands over 64 bits guarantee recall only to 3 differing
        # bits (pigeonhole); beyond that a qualifying pair can differ
        # in every band and be silently missed — refuse rather than
        # under-report (self-review r7)
        raise ValueError(
            "image_near_dup_pairs: 4x16-bit banding is complete only "
            f"for max_hamming <= 3 (got {max_hamming}); use more bands "
            "or a different candidate scheme for looser thresholds"
        )
    hashes = (
        image_dhash(df, payload_col, id_col)
        .filter(F.col("ok"))
        .select(F.col(id_col).alias("id"), "dhash")
    )
    bands = hashes.select(
        "id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("dhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("id", "dhash", "b.band", "b.val")
    left = bands.select(
        F.col("id").alias("id_a"), F.col("dhash").alias("ha"), "band", "val"
    )
    right = bands.select(
        F.col("id").alias("id_b"), F.col("dhash").alias("hb"), "band", "val"
    )
    pairs = (
        left.join(right, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        pairs.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
