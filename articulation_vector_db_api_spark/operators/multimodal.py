"""Multimodal column handling (north star).

The reference's corpus is binary PDFs on disk read by a per-file Python
loop (/root/reference/main.py:106-115, 268); the engine treats any
modality as an opaque ``binary`` column with a typed metadata struct,
processed by Arrow-batched ``mapInPandas`` — the schema, partitioning,
UDF signature and batch shape are real and tested. Dimension decode is
REAL for every common container (BMP/PGM/PPM pixel headers; PNG IHDR,
GIF screen descriptor, JPEG SOF marker scan — all plain header fields
before any compressed data), with per-row fault isolation. Full PIXEL
decode is REAL too for the stdlib-expressible formats — PNG (zlib
inflate + all five scanline unfilters), uncompressed BMP, binary
netpbm, and GIF including its LZW compression and interlacing
(functions/pixels.py, used by ``extract_pixel_stats``); only DCT/VP8
codec formats (JPEG, lossy WebP) still null their rows until
deployment swaps in an imaging library.

Scale shape: binary payloads stay columnar (parquet keeps them
page-compressed); decode/feature-extract runs where the data lives as
a narrow map over Arrow batches; metadata-only queries never touch the
payload bytes thanks to column pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest_prefix", T.StringType()),
        T.StructField("fake_width", T.LongType()),
        T.StructField("fake_height", T.LongType()),
    ]
)


def doc_map(df: DataFrame, schema: T.StructType, row) -> DataFrame:
    """The per-document Arrow map: ``row(*values)`` is called once per
    input row, with the values in ``df.columns`` order, and returns one
    tuple in ``schema`` order. The batch loop is written here once; a
    map whose per-partition state is expensive, or whose batch emits
    other than one row per input row, keeps its own ``mapInPandas``."""
    names = schema.fieldNames()

    def doc_rows(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = [pdf[c] for c in pdf.columns]
            yield pd.DataFrame([row(*v) for v in zip(*cols)], columns=names)

    return df.mapInPandas(doc_rows, schema)


def by_doc(df: DataFrame) -> DataFrame:
    """Sort a map's per-doc output by ``doc_id`` behind a
    ``hashpartitioning(doc_id)`` shuffle barrier. ``orderBy`` first
    runs a range-sampling job over its input; without the barrier that
    job re-runs the Python map, so the map would run twice. With it,
    the sampling job reads the barrier's shuffle files and the map runs
    once (r16). Only the map's small output rows are shuffled.

    Use as ``df.transform(by_doc)``."""
    return df.repartition("doc_id").orderBy("doc_id")


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Model a multimodal table: payload as ``binary`` + typed metadata
    struct (the engine's analog of the reference's metadata triple,
    main.py:165-169). The fixture payload is the UTF-8 text bytes —
    production replaces it with image/audio bytes from binaryFile."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        "*",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(payload).alias("n_bytes"),
        ).alias("media_meta"),
    )


def decode_image(payload: bytes) -> tuple[int, int]:
    """REAL dimension decode with no codec library — magic sniff,
    header parse, dimensions out, for every common container:
    uncompressed BMP (any DIB header) and binary PGM/PPM read their
    pixel headers; PNG (IHDR), GIF (logical screen descriptor), JPEG
    (SOF marker scan), WebP (VP8/VP8L/VP8X chunk headers), TIFF (IFD
    dimension tags, both endians) and the ISOBMFF family — AVIF/HEIF
    ispe, MP4/MOV tkhd — carry their dimensions in plain header
    fields BEFORE any compressed data, so the metadata stage of a
    100 TB pipeline (dimension/aspect filtering, resize budgeting)
    never needs a codec at all. Full PIXEL decode of compressed
    formats needs an imaging library and raises — deployment swaps it
    in here; everything around this function (Arrow batching, schema,
    partitioning) is production-shaped either way."""
    b = bytes(payload)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
        # first chunk is IHDR by spec: width/height big-endian @16/@20
        return (
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
        )
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        # logical screen descriptor: uint16 LE width @6, height @8
        return (
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
        )
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP" and len(b) >= 16:
        # all three WebP flavors carry dimensions in fixed header
        # fields of their first chunk (chunk fourcc @12, payload @20)
        fourcc = b[12:16]
        if fourcc == b"VP8X" and len(b) >= 30:
            # extended: 24-bit LE canvas size - 1
            return (
                int.from_bytes(b[24:27], "little") + 1,
                int.from_bytes(b[27:30], "little") + 1,
            )
        if fourcc == b"VP8L" and len(b) >= 25:
            # lossless: two packed 14-bit fields - 1
            if b[20:21] != b"\x2f":
                raise ValueError("bad VP8L signature byte")
            bits = int.from_bytes(b[21:25], "little")
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        if fourcc == b"VP8 " and len(b) >= 30:
            # lossy: uint16 LE (low 14 bits) past the keyframe code
            if b[23:26] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 keyframe start code")
            return (
                int.from_bytes(b[26:28], "little") & 0x3FFF,
                int.from_bytes(b[28:30], "little") & 0x3FFF,
            )
        raise ValueError(f"truncated or unknown WebP chunk {fourcc!r}")
    if b[:2] == b"\xff\xd8":
        # JPEG: walk the marker stream to the first SOFn frame header
        # (C0-CF minus C4/C8/CC which are not frames); its payload is
        # length(2) precision(1) height(2) width(2), big-endian
        i = 2
        while i + 9 <= len(b):
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone marker, no length field
                continue
            seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                return (
                    int.from_bytes(b[i + 7 : i + 9], "big"),
                    int.from_bytes(b[i + 5 : i + 7], "big"),
                )
            if marker == 0xDA:  # start-of-scan: no SOF seen, give up
                break
            i += 2 + seg_len
        raise ValueError("JPEG stream has no SOF frame header")
    if b[:2] == b"BM" and len(b) >= 26:
        # dispatch on the DIB header size @14: BITMAPCOREHEADER (12)
        # stores uint16 width@18 height@20; INFO and its V2-V5
        # extensions (40/52/56/108/124) store int32 width@18 height@22
        # (negative height = top-down rows; dimension is the magnitude).
        # Guessing int32 on a core-header file would fuse width|height
        # into one garbage number — decode only what the header declares
        dib = int.from_bytes(b[14:18], "little")
        if dib == 12:
            return (
                int.from_bytes(b[18:20], "little"),
                int.from_bytes(b[20:22], "little"),
            )
        if dib in (40, 52, 56, 108, 124):
            width = int.from_bytes(b[18:22], "little", signed=True)
            height = int.from_bytes(b[22:26], "little", signed=True)
            return abs(width), abs(height)
        raise ValueError(f"unknown BMP DIB header size {dib}")
    if len(b) >= 12 and b[4:8] == b"ftyp":
        # ISOBMFF family (AVIF/HEIF stills, MP4/MOV video): walk the
        # box tree to the ispe property / tkhd track header — pure
        # container structure, no codec (functions/isobmff.py). Parse
        # failures on truncated trees surface as ValueError so the
        # _safe per-row isolation contract holds.
        import struct as _struct

        from ..functions.isobmff import avif_dimensions, parse_mp4_meta

        try:
            brand = b[8:12]
            if brand in (b"avif", b"heic", b"heix", b"mif1"):
                return avif_dimensions(b)
            meta = parse_mp4_meta(b)
        except (_struct.error, IndexError) as exc:
            raise ValueError(f"corrupt ISOBMFF stream: {exc}") from exc
        for t in meta["tracks"]:
            if t["width"] and t["height"]:
                return t["width"], t["height"]
        raise ValueError("ISOBMFF stream has no visual track dimensions")
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        # TIFF: endian-tagged IFD walk to the dimension tags — also
        # the container of EXIF blocks (functions/isobmff.py)
        import struct as _struct

        from ..functions.isobmff import tiff_dimensions

        try:
            return tiff_dimensions(b)
        except (_struct.error, IndexError) as exc:
            raise ValueError(f"corrupt TIFF stream: {exc}") from exc
    if b[:2] in (b"P5", b"P6"):
        # netpbm: magic, then whitespace-separated width height maxval,
        # with '#' comment lines allowed between tokens
        tokens: list[int] = []
        i = 2
        while len(tokens) < 2 and i < len(b):
            c = b[i : i + 1]
            if c == b"#":
                i = b.index(b"\n", i)
            elif c.isspace():
                i += 1
            else:
                j = i
                while j < len(b) and not b[j : j + 1].isspace():
                    j += 1
                tokens.append(int(b[i:j]))
                i = j
        if len(tokens) == 2:
            return tokens[0], tokens[1]
        raise ValueError("truncated netpbm header")
    raise NotImplementedError(
        "pixel decode of this format requires an imaging library not "
        "present in this build (BMP/PGM/PPM decode natively; "
        "PNG/GIF/JPEG/WebP dimensions parse natively from headers)"
    )


def extract_binary_features(df: DataFrame, deterministic_stub: bool = True) -> DataFrame:
    """mapInPandas feature extraction over the binary payload.

    With ``deterministic_stub`` the 'decode' emits reproducible fake
    dimensions derived from the byte length (so the operator is
    oracle-checkable end-to-end); otherwise it calls ``decode_image``.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            payloads = pdf["payload"]
            n_bytes = payloads.map(len)
            if deterministic_stub:
                width = n_bytes % 640
                height = (n_bytes * 7) % 480
            else:
                # per-row fault isolation (the reference's O7 shape,
                # main.py:175-176): one undecodable payload nulls its
                # row, never fails the task
                def _safe(b):
                    try:
                        return decode_image(b)
                    except (NotImplementedError, ValueError):
                        return (None, None)

                dims = payloads.map(_safe)
                width = dims.map(lambda d: d[0])
                height = dims.map(lambda d: d[1])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int64"),
                    "digest_prefix": payloads.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()[:16]
                    ),
                    # pandas NULLABLE Int64: decode failures are nulls
                    "fake_width": width.astype("Int64"),
                    "fake_height": height.astype("Int64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, FEATURE_SCHEMA)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_min", T.LongType()),
        T.StructField("px_max", T.LongType()),
    ]
)


def _pixel_stats_map(df: DataFrame, transform) -> DataFrame:
    """Shared body of the pixel operators: map ``transform`` (payload
    bytes → uint8 pixel array) over Arrow batches with the reference's
    per-row fault isolation (main.py:175-176) — a codec-needing format
    or corrupt/ineligible stream nulls its row, never fails the task
    (decode_pixels' exception contract guarantees only
    NotImplementedError/ValueError escape). One narrow map where the
    payload bytes live; pixels never leave the executor, only the
    fixed-width stats row does."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    px = transform(payload)
                    rows.append(
                        (
                            doc_id,
                            px.shape[1],
                            px.shape[0],
                            px.shape[2],
                            int(px.sum()),
                            int(px.min()),
                            int(px.max()),
                        )
                    )
                except (NotImplementedError, ValueError):
                    rows.append((doc_id, None, None, None, None, None, None))
            out = pd.DataFrame(
                rows, columns=[f.name for f in PIXEL_STATS_SCHEMA.fields]
            )
            for c in out.columns[1:]:
                out[c] = out[c].astype("Int64")
            yield out

    return df.select("doc_id", "payload").mapInPandas(
        batches, PIXEL_STATS_SCHEMA
    )


def extract_pixel_stats(df: DataFrame) -> DataFrame:
    """REAL pixel decode over the binary payload — no imaging library.

    functions/pixels.py decodes PNG (all five scanline filters, via
    stdlib zlib), uncompressed BMP, binary netpbm, and GIF to full
    uint8 pixel arrays. Emits integer pixel statistics — the dedup/QA
    signals (constant-image detection, exposure bounds) a vision
    corpus computes before any model touches it."""

    def transform(payload):
        from ..functions.pixels import decode_pixels

        return decode_pixels(payload)

    return _pixel_stats_map(df, transform)


def resize_pixels_batch(df: DataFrame, factor: int = 2) -> DataFrame:
    """REAL resize over decoded pixels: decode (functions/pixels.py),
    exact integer box-filter downscale by ``factor``, integer stats of
    the RESIZED image — the antialiased downsample step of a vision
    ingest, end-to-end real. Payloads whose dimensions aren't
    divisible by the factor null their rows like any other
    per-row failure."""

    def transform(payload):
        from ..functions.pixels import decode_pixels, downscale_box

        return downscale_box(decode_pixels(payload), factor)

    return _pixel_stats_map(df, transform)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_width", T.LongType()),
        T.StructField("src_height", T.LongType()),
        T.StructField("out_width", T.LongType()),
        T.StructField("out_height", T.LongType()),
        T.StructField("out_bytes", T.LongType()),
    ]
)


def resize_batch(df: DataFrame, target: int = 224) -> DataFrame:
    """Aspect-preserving resize plan over the decoded dimensions —
    the preprocessing step every vision pipeline runs before feature
    extraction. The arithmetic is pure integer (floor of w*target/m),
    so the stub path is bit-reproducible in any engine; a real
    deployment swaps the dimension source for the codec decode and
    emits resized pixel buffers instead of the dimension plan.

    Scale shape: identical to extract_binary_features — one narrow
    Arrow-batched map where the data lives, no shuffle; the decoded
    dims never leave the executor."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n_bytes = pdf["payload"].map(len)
            width = n_bytes % 640
            height = (n_bytes * 7) % 480
            m = pd.concat([width, height], axis=1).max(axis=1).clip(lower=1)
            out_w = (width * target) // m
            out_h = (height * target) // m
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "src_width": width.astype("int64"),
                    "src_height": height.astype("int64"),
                    "out_width": out_w.astype("int64"),
                    "out_height": out_h.astype("int64"),
                    # 3-channel byte budget of the resized buffer
                    "out_bytes": (out_w * out_h * 3).astype("int64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, RESIZE_SCHEMA)
